"""Structured Streaming variant of the pipeline.

The reference is a true streaming program with batch+interval flushing and
no event-time windowing (SURVEY.md §2.8; BatchProcessor
/root/reference/main.go:354-358). Mapping:

- unbounded source  -> file-source readStream over the transcripts dir
  (kafka at production scale — same plan after the source swap)
- batch/flush       -> micro-batch trigger (processingTime ~ FlushInterval,
  maxFilesPerTrigger ~ BatchSize) or availableNow for drain-then-exit
- ForceFlush at EOF -> trigger(availableNow=True) + awaitTermination
- multi-sink fan-out-> foreachBatch: persist the parsed micro-batch once,
  one filtered write per sink into a batchId-keyed subdirectory — skipped
  when already committed, so a retried micro-batch (failure between sink
  writes) never double-appends: exactly-once per (sink, batchId) on top of
  the streaming checkpoint's at-least-once redelivery
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otel_logger_spark.functions.parse import with_parsed
from otel_logger_spark.operators.enrich import enrich_severity, enrich_tool
from otel_logger_spark.operators.route import with_routing
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


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
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
    from otel_logger_spark.config import PipelineConfig

    # same adopted attrs storage format as the batch pipeline
    # (BENCH/AB_attrs_format.md)
    parsed = with_parsed(src, attrs_format=PipelineConfig.attrs_format)
    return with_routing(enrich_tool(enrich_severity(parsed)))


STREAM_OUT_COLS = [
    "conv_id", "turn_idx", "role", "tool", "event_ts", "level",
    "severity_num", "message", "attrs", "raw",
]


def write_streaming_batch(batch_df: DataFrame, batch_id: int, out_dir: str):
    """One micro-batch's fan-out: the SAME FOUR sinks as the batch pipeline
    (logs / error / tool_call / conversation_metrics — A4 parity with
    executeCommand's terminal record, /root/reference/main.go:577-591).

    Exactly-once per (sink, batchId): each micro-batch lands in its own
    batchid=<id> partition with overwrite, so a retried batch (failure
    between sink writes) rewrites its partitions instead of
    double-appending — idempotent on top of the streaming checkpoint's
    at-least-once redelivery.

    conversation_metrics is written as PER-BATCH PARTIALS: every metric
    field is a decomposable aggregate (sums / mins / maxes), so
    read_conversation_metrics re-aggregates the partials into exactly the
    batch pipeline's per-conversation rollup — a conversation spanning
    many micro-batches still finalizes correctly, without any unbounded
    streaming state."""
    from otel_logger_spark.operators.rollups import conversation_metrics

    batch_df = batch_df.persist()
    try:
        base = batch_df.select(*STREAM_OUT_COLS)
        for sink, flt in (
            ("logs", None),
            ("error", batch_df["is_error"]),
            ("tool_call", batch_df["is_tool_call"]),
        ):
            df = base if flt is None else base.filter(flt)
            df.write.mode("overwrite").parquet(
                os.path.join(out_dir, sink, f"batchid={batch_id}")
            )
        conversation_metrics(batch_df).write.mode("overwrite").parquet(
            os.path.join(out_dir, "conversation_metrics", f"batchid={batch_id}")
        )
    finally:
        batch_df.unpersist()


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
    """Fan-out streaming write via foreachBatch; returns the started query.

    availableNow=True drains everything then stops (the ForceFlush-at-EOF
    semantics, main.go:652-655); processing_time mirrors FlushInterval for
    continuous mode. ``coalesce=True`` enables the cross-batch stateful
    multiline coalescer (entries flush on close or after ``idle_flush_ms``
    of conversation idleness — the ForceFlush analogue).

    ``dedup`` composes the ingest-time redelivery guard (streaming/dedup.py)
    in FRONT of parse/coalesce, so duplicates die before any downstream
    state sees them:
    - ``"exact"``: same (conv_id, turn_idx) redelivered within
      ``dedup_horizon`` is dropped — at-least-once upstream becomes
      exactly-once rows in all four sinks;
    - ``"content"``: state keyed by sha2(text) — corpus-ingest semantics
      (identical text dropped even under fresh ids)."""
    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
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

    def write_batch(batch_df: DataFrame, batch_id: int):
        write_streaming_batch(batch_df, batch_id, out_dir)

    writer = routed.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


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
