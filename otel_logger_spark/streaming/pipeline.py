"""Structured Streaming variant of the pipeline, and the one micro-batch
fan-out every streaming query shares.

The reference is a true streaming program with batch+interval flushing and
no event-time windowing (SURVEY.md §2.8; BatchProcessor
/root/reference/main.go:354-358). Mapping:

- unbounded source  -> file-source readStream over the input dir
  (read_stream; kafka at production scale — same plan after the source swap)
- batch/flush       -> micro-batch trigger (processingTime ~ FlushInterval,
  maxFilesPerTrigger ~ BatchSize) or availableNow for drain-then-exit
- ForceFlush at EOF -> trigger(availableNow=True) + awaitTermination
- multi-sink fan-out-> start_batch_sinks / write_batch_sinks: a streaming
  query is a SINK BUILDER, a function from the micro-batch frame to
  {sink_name: DataFrame} (operators/sinks.routed_sinks, the batch
  pipeline's own four sinks, or the analytics builders in
  streaming/analytics.py). Each sink lands in a batchId-keyed
  subdirectory with overwrite, so a retried micro-batch (failure between
  sink writes) rewrites instead of double-appending: exactly-once per
  (sink, batchId) on top of the streaming checkpoint's at-least-once
  redelivery
- flush-interval metrics -> watermarked 5s tumbling-window counts

Multiline coalescing: ``coalesce=True`` routes the stream through the
conv_id-keyed stateful coalescer (streaming/multiline_state.py), so an
entry whose continuation lines arrive in a LATER micro-batch still
coalesces — the reference's iterator never splits an entry
(/root/reference/main.go:395-455). Default False treats each turn as one
entry (no coalescing), for line-structured inputs that need none.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from otel_logger_spark.functions.parse import with_parsed
from otel_logger_spark.operators.sinks import routed_sinks
from otel_logger_spark.pipeline import parse_enrich_route
from otel_logger_spark.schemas import TRANSCRIPT_SCHEMA


def install_graceful_shutdown(query, signals=None):
    """K5 analogue — signal forwarding (/root/reference/main.go:544-559):
    the reference relays SIGINT/SIGTERM to the wrapped process so it can
    exit cleanly while the logger force-flushes (main.go:652-655). The
    streaming analogue: on SIGINT/SIGTERM, ``query.stop()`` — Structured
    Streaming completes the IN-FLIGHT micro-batch first (foreachBatch
    finishes all four sink writes and the checkpoint commit), so a
    signalled run drains rather than drops; the batchId-idempotent sink
    layout makes any batch that was mid-write safe to retry on restart.

    Returns {signum: previous_handler} so callers (tests, embedding apps)
    can restore. Installable only from the main thread (Python signal
    rule); the CLI/driver path is."""
    import signal as _signal
    import threading as _threading

    if signals is None:
        signals = (_signal.SIGINT, _signal.SIGTERM)

    def _handler(signum, frame):
        # stop() from a SEPARATE thread: the handler runs on the main
        # thread, which is blocked inside awaitTermination's py4j call —
        # a re-entrant gateway call from the handler would corrupt that
        # connection ("Received empty command"); a fresh thread gets its
        # own py4j connection and awaitTermination returns once stopped
        _threading.Thread(target=query.stop, daemon=True).start()

    return {s: _signal.signal(s, _handler) for s in signals}


def read_stream(
    spark: SparkSession,
    input_dir: str,
    schema: StructType | str = TRANSCRIPT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet file-source stream over ``input_dir`` (transcripts by
    default; the document analytics pass analytics.DOCUMENTS_SCHEMA)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def build_streaming_routed(
    stream: DataFrame,
    coalesce: bool = False,
    idle_flush_ms: int = 10_000,
) -> DataFrame:
    """parse -> enrich -> route over a stream; ``coalesce=True`` first runs
    the conv_id-keyed stateful multiline coalescer so entries spanning
    micro-batches still merge (iterator parity, main.go:395-455)."""
    if coalesce:
        from otel_logger_spark.streaming.multiline_state import (
            coalesce_entries_stream,
        )

        src = coalesce_entries_stream(stream, idle_flush_ms=idle_flush_ms).drop(
            "n_lines"
        )
    else:
        src = stream.filter(F.length("text") > 0)
    return parse_enrich_route(src)


def write_batch_sinks(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    sinks: Callable[[DataFrame], dict[str, DataFrame]],
) -> None:
    """One micro-batch's fan-out: write every frame of ``sinks(batch_df)``
    to ``out_dir/<sink>/batchid=<batch_id>``.

    Exactly-once per (sink, batchId): each micro-batch lands in its own
    batchid=<id> partition with overwrite, so a retried batch (failure
    between sink writes) rewrites its partitions instead of
    double-appending — idempotent on top of the streaming checkpoint's
    at-least-once redelivery.

    The batch is persisted only when more than one sink reads it, so its
    source is computed once per micro-batch either way. The sink frames
    are built before persist(): their writes still plan over the cached
    relation, because cache substitution happens when each write is
    planned."""
    frames = sinks(batch_df)
    shared = len(frames) > 1
    if shared:
        batch_df.persist()
    try:
        for sink, df in frames.items():
            df.write.mode("overwrite").parquet(
                os.path.join(out_dir, sink, f"batchid={batch_id}")
            )
    finally:
        if shared:
            batch_df.unpersist()


def start_batch_sinks(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    sinks: Callable[[DataFrame], dict[str, DataFrame]],
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Start ``stream`` with write_batch_sinks as its foreachBatch;
    returns the started query.

    availableNow=True drains everything then stops (the ForceFlush-at-EOF
    semantics, main.go:652-655); processing_time mirrors FlushInterval for
    continuous mode."""

    def write_batch(batch_df: DataFrame, batch_id: int):
        write_batch_sinks(batch_df, batch_id, out_dir, sinks)

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def read_conversation_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Finalize the streaming conversation_metrics sink: merge the
    per-batch partials into one row per conversation — field-for-field the
    batch pipeline's conversation_metrics (tests assert equality). The
    merge is a pure re-aggregation (sum/min/max), safe whatever the
    batch boundaries were."""
    parts = spark.read.parquet(os.path.join(out_dir, "conversation_metrics"))
    return parts.groupBy("conv_id").agg(
        F.sum("n_entries").alias("n_entries"),
        F.max("last_turn_idx").alias("last_turn_idx"),
        F.sum("n_errors").alias("n_errors"),
        F.sum("n_tool_calls").alias("n_tool_calls"),
        F.sum("n_json").alias("n_json"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
        F.max("exit_code").alias("exit_code"),
    )


def run_streaming_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
    coalesce: bool = False,
    idle_flush_ms: int = 10_000,
    max_files_per_trigger: int | None = None,
    dedup: str | None = None,
    dedup_horizon: str = "30 seconds",
):
    """The streaming pipeline: the batch pipeline's routed_sinks over the
    transcript stream, started by start_batch_sinks (same trigger
    semantics); returns the started query. conversation_metrics lands as
    per-batch partials that read_conversation_metrics finalizes.
    ``coalesce=True`` enables the cross-batch stateful multiline coalescer
    (entries flush on close or after ``idle_flush_ms`` of conversation
    idleness — the ForceFlush analogue).

    ``dedup`` composes the ingest-time redelivery guard (streaming/dedup.py)
    in FRONT of parse/coalesce, so duplicates die before any downstream
    state sees them:
    - ``"exact"``: same (conv_id, turn_idx) redelivered within
      ``dedup_horizon`` is dropped — at-least-once upstream becomes
      exactly-once rows in all four sinks;
    - ``"content"``: state keyed by sha2(text) — corpus-ingest semantics
      (identical text dropped even under fresh ids)."""
    stream = read_stream(spark, input_dir, max_files_per_trigger=max_files_per_trigger)
    if dedup == "exact":
        from otel_logger_spark.streaming.dedup import dedup_stream_exact

        stream = dedup_stream_exact(
            stream, ("conv_id", "turn_idx"), ts_col="ts", horizon=dedup_horizon
        )
    elif dedup == "content":
        from otel_logger_spark.streaming.dedup import dedup_stream_by_content

        stream = dedup_stream_by_content(
            stream, text_col="text", ts_col="ts", horizon=dedup_horizon
        )
    elif dedup is not None:
        raise ValueError(f"dedup must be None, 'exact' or 'content': {dedup!r}")
    routed = build_streaming_routed(
        stream,
        coalesce=coalesce,
        idle_flush_ms=idle_flush_ms,
    )
    return start_batch_sinks(
        routed, out_dir, checkpoint_dir, routed_sinks, available_now, processing_time
    )


def streaming_session_stats(
    stream: DataFrame, gap: str = "5 minutes", watermark: str = "30 seconds"
) -> DataFrame:
    """Streaming sessionization — the idle-gap analytics the batch
    operator (operators/sessionize.py) provides, on an unbounded stream:
    Spark's native ``session_window`` merges a conversation's events into
    sessions that CLOSE when the gap passes, with state bounded by the
    watermark (a session can only grow while late data may still arrive).
    Emits one row per closed (conv_id, session): bounds + turn count.

    Batch parity: session_window evaluates identically on a static frame,
    and the availableNow drain must equal it row-for-row
    (tests/test_streaming.py)."""
    parsed = with_parsed(stream.filter(F.length("text") > 0))
    return (
        parsed.withWatermark("event_ts", watermark)
        .groupBy(
            F.col("conv_id"),
            F.session_window("event_ts", gap).alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns",
        )
    )


def streaming_flush_window_counts(
    stream: DataFrame, interval: str = "5 seconds", watermark: str = "30 seconds"
) -> DataFrame:
    """Watermarked tumbling-window counts — the FlushInterval batching
    mirror (A2) with a late-data bound the reference never needed (arrival
    order == event order for a single process; not true on a cluster)."""
    parsed = with_parsed(stream.filter(F.length("text") > 0))
    return (
        parsed.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", interval).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "n")
    )
