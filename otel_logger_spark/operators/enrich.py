"""Enrichment stage: tiny static lookups as literal map expressions.

Replaces the reference's severity switch (logLevelToSeverity,
/root/reference/main.go:311-328) and the graft's tool-registry lookup.

Both lookups are CONSTANT and tiny, so each is a literal-map expression
(`element_at(map(...), key)`) inside whole-stage codegen — zero extra
operators. A broadcast join measured, on 24.6M wide rows (attrs MapType +
raw/message strings), ~20s/32 cores PER lookup — not the hash probe, but
the UnsafeRow conversion and copy of the wide fact row through the extra
operator. Lesson: never route a big map/string-bearing row through a join
operator to attach a constant."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from otel_logger_spark.schemas import (
    DEFAULT_SEVERITY,
    SEVERITY_ROWS,
    TOOL_REGISTRY_ROWS,
)


# built lazily: F.lit needs an active SparkContext, which doesn't exist at
# import time on executors / in spark-submit --py-files cold starts
def _lit_map(pairs) -> Column:
    return F.create_map(*[F.lit(x) for pair in pairs for x in pair])


def enrich_severity(df: DataFrame) -> DataFrame:
    """Severity lookup on lowercased level; misses -> 9 (info), matching
    the switch default (main.go:325-326). Literal-map expression — stays
    in whole-stage codegen."""
    return df.withColumn(
        "severity_num",
        F.coalesce(
            F.try_element_at(_lit_map(SEVERITY_ROWS), F.lower(df["level"])),
            F.lit(DEFAULT_SEVERITY),
        ),
    )


def enrich_tool(df: DataFrame) -> DataFrame:
    """Tool-registry lookup; unknown tools keep NULL category (still routed
    to the tool_call sink — presence of ``tool`` drives routing, not
    registry membership)."""
    category = _lit_map((name, cat) for name, cat, _ in TOOL_REGISTRY_ROWS)
    privileged = _lit_map((name, priv) for name, _, priv in TOOL_REGISTRY_ROWS)
    return df.withColumn(
        "tool_category", F.try_element_at(category, df["tool"])
    ).withColumn("is_privileged", F.try_element_at(privileged, df["tool"]))
