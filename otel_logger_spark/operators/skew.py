"""Skew handling: salted two-phase aggregation for hot conversations.

The north rule requires salted keys for skewed hot conversations (a few
conv_ids carry 100-1000x the median turn count — FIXTURES.md §1). AQE's
skew-join splitting covers joins; for aggregations whose partial state is
small (counts/min/max/sum), Catalyst's map-side partial aggregation already
neutralizes skew. The salted path below exists for aggregations with
LARGE per-key state (collect_list in the multiline coalescer, exact
distincts), where one hot conv would otherwise pin a single task:

phase 1 groups by (conv_id, salt) — salt = pmod(hash(turn_idx), S), so a
hot conversation fans out over S tasks; phase 2 merges the S partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otel_logger_spark.operators.rollups import metric_merges, metric_partials


def with_salt(df: DataFrame, buckets: int = 16, order_col: str = "turn_idx") -> DataFrame:
    return df.withColumn("_salt", F.pmod(F.hash(order_col), F.lit(buckets)))


def conversation_metrics_salted(routed: DataFrame, buckets: int = 16) -> DataFrame:
    """Two-phase (salted) variant of rollups.conversation_metrics — same
    output, hot conversations spread over ``buckets`` tasks in phase 1."""
    return (
        with_salt(routed, buckets)
        .groupBy("conv_id", "_salt")
        .agg(*metric_partials())
        .groupBy("conv_id")
        .agg(*metric_merges())
    )
