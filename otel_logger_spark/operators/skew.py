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


def with_salt(df: DataFrame, buckets: int = 16, order_col: str = "turn_idx") -> DataFrame:
    return df.withColumn("_salt", F.pmod(F.hash(order_col), F.lit(buckets)))


def conversation_metrics_salted(routed: DataFrame, buckets: int = 16) -> DataFrame:
    """Two-phase (salted) variant of rollups.conversation_metrics — same
    output, hot conversations spread over ``buckets`` tasks in phase 1."""
    partial = (
        with_salt(routed, buckets)
        .groupBy("conv_id", "_salt")
        .agg(
            F.count("*").alias("n_entries"),
            F.max("turn_idx").alias("last_turn_idx"),
            F.sum(F.col("is_error").cast("long")).alias("n_errors"),
            F.sum(F.col("is_tool_call").cast("long")).alias("n_tool_calls"),
            F.sum(F.col("json_ok").cast("long")).alias("n_json"),
            F.min("event_ts").alias("first_ts"),
            F.max("event_ts").alias("last_ts"),
            F.max(F.when(F.col("severity_num") >= 21, 1).otherwise(0)).alias("exit_code"),
        )
    )
    return partial.groupBy("conv_id").agg(
        F.sum("n_entries").alias("n_entries"),
        F.max("last_turn_idx").alias("last_turn_idx"),
        F.sum("n_errors").alias("n_errors"),
        F.sum("n_tool_calls").alias("n_tool_calls"),
        F.sum("n_json").alias("n_json"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
        F.max("exit_code").alias("exit_code"),
    )

