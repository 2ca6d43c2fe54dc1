"""Per-conversation rollups and window-function analytics.

A4 terminal summary record (executeCommand exit entry,
/root/reference/main.go:577-591) generalizes to one summary row per
conversation; the north rule adds per-conversation turn rollups via window
functions over (conv_id, turn_idx).

groupBy aggregates are preferred (Catalyst does partial+final, map-side
combine); windows are used only where per-row context must survive
(gap detection, ranking).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _metric_aggs() -> list[tuple[str, Column, Callable[[str], Column]]]:
    """conversation_metrics' eight aggregates, declared once as (column,
    partial over log rows, merge over partials). The merges re-aggregate
    partials of ANY split of a conversation's rows (salted buckets,
    streaming micro-batches) into the single-pass value: each is a
    sum/min/max of the same."""
    return [
        ("n_entries", F.count("*"), F.sum),
        ("last_turn_idx", F.max("turn_idx"), F.max),
        ("n_errors", F.sum(F.col("is_error").cast("long")), F.sum),
        ("n_tool_calls", F.sum(F.col("is_tool_call").cast("long")), F.sum),
        ("n_json", F.sum(F.col("json_ok").cast("long")), F.sum),
        ("first_ts", F.min("event_ts"), F.min),
        ("last_ts", F.max("event_ts"), F.max),
        # exit_code analogue: conversations with any fatal get 1
        ("exit_code",
         F.max(F.when(F.col("severity_num") >= 21, 1).otherwise(0)), F.max),
    ]


def metric_partials() -> list[Column]:
    """conversation_metrics' aggregates over log rows."""
    return [partial.alias(name) for name, partial, _ in _metric_aggs()]


def metric_merges() -> list[Column]:
    """conversation_metrics' aggregates over rows of metric_partials()."""
    return [merge(name).alias(name) for name, _, merge in _metric_aggs()]


def conversation_metrics(df: DataFrame) -> DataFrame:
    """One summary row per conversation — the exit-record analogue
    (fields mirror command/exit_code/exit_status, main.go:582-586)."""
    return df.groupBy("conv_id").agg(*metric_partials())


def summary_rows(df: DataFrame) -> DataFrame:
    """The synthetic terminal entries themselves, shaped like log rows so
    they union into the stream (main.go:577-591: level=info, stream=system,
    message='Command completed with exit code %d', raw='Command exit: %d')."""
    m = conversation_metrics(df)
    return m.select(
        "conv_id",
        (F.col("last_turn_idx") + F.lit(1)).alias("turn_idx"),
        F.lit("system").alias("role"),
        F.concat(F.lit("Command exit: "), F.col("exit_code")).alias("raw"),
        F.concat(
            F.lit("Command completed with exit code "), F.col("exit_code")
        ).alias("message"),
        F.lit("info").alias("level"),
        F.lit(9).alias("severity_num"),
        F.col("last_ts").alias("event_ts"),
    )


def with_turn_windows(df: DataFrame) -> DataFrame:
    """Per-row window context over (conv_id, turn_idx): sequence number,
    previous-turn gap (ts delta), and turn-index gap detection."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        df.withColumn("seq", F.row_number().over(w))
        .withColumn("prev_ts", F.lag("event_ts").over(w))
        .withColumn(
            "gap_sec",
            F.when(
                F.col("prev_ts").isNotNull(),
                F.col("event_ts").cast("double") - F.col("prev_ts").cast("double"),
            ),
        )
        .withColumn(
            "turn_gap", F.col("turn_idx") - F.lag("turn_idx").over(w) - F.lit(1)
        )
    )


def top_k_noisy(df: DataFrame, k: int = 10) -> DataFrame:
    """Top-K conversations by error count (dense_rank so ties are kept);
    feeds the metrics sink (SURVEY.md §2.5)."""
    m = conversation_metrics(df)
    w = Window.orderBy(F.desc("n_errors"), F.asc("conv_id"))
    return (
        m.withColumn("rank", F.dense_rank().over(w))
        .filter(F.col("rank") <= k)
        .select("conv_id", "n_errors", "n_entries", "rank")
    )


def median_gap_us(df: DataFrame) -> DataFrame:
    """Per-conversation MEDIAN inter-turn gap in microseconds (floored) and
    turn count. Spark's ``median`` is exact (linear interpolation, as
    DuckDB's quantile_cont in the oracle), so the whole rollup is one
    builtin groupBy; the gap comes from a window over (conv_id, turn_idx).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ts = F.col("ts").cast("timestamp")
    gaps = df.withColumn(
        "_gap_us", F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w))
    )
    return gaps.groupBy("conv_id").agg(
        F.floor(F.median("_gap_us")).cast("long").alias("p50_gap_us"),
        F.count("*").alias("n_turns"),
    )


def flush_window_counts(df: DataFrame, interval: str = "5 seconds") -> DataFrame:
    """Event-time tumbling-window counts mirroring the forwarder's
    FlushInterval batching (main.go:38,354-358): how many records each 5s
    export window would carry."""
    return (
        df.groupBy(F.window("event_ts", interval).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "n")
    )
