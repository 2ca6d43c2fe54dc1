"""Cross-micro-batch multiline coalescing: an entry whose continuation
lines arrive in a LATER micro-batch must still coalesce (state keyed by
conv_id), and closed entries must match the batch coalescer exactly."""

import os
import time
from datetime import datetime

import pandas as pd

from otel_logger_spark.operators.multiline import coalesce_entries
from otel_logger_spark.streaming.multiline_state import coalesce_entries_stream
from otel_logger_spark.schemas import TRANSCRIPT_SCHEMA

TS = datetime(2024, 1, 15, 10, 30, 0)

BATCH_1 = [  # ends mid-entry: the ERROR entry is still open
    ("c1", 0, "assistant", "2024-01-15T10:30:00Z INFO start", None, TS),
    ("c1", 1, "assistant", "2024-01-15T10:30:05Z ERROR boom", None, TS),
    ("c1", 2, "assistant", "  at Frame.one(File.java:1)", None, TS),
]
BATCH_2 = [  # continuation of the open entry arrives in a new file/batch
    ("c1", 3, "assistant", "  at Frame.two(File.java:2)", None, TS),
    ("c1", 4, "assistant", "2024-01-15T10:30:09Z INFO done", None, TS),
    ("c2", 0, "assistant", "  orphan in new conv", None, TS),
    ("c2", 1, "assistant", "2024-01-15T10:30:10Z WARN w", None, TS),
]


def _write_batch(d, name, rows):
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).astype({"turn_idx": "int32", "ts": "datetime64[us]", "tool": "string"})
    pdf.to_parquet(os.path.join(d, name), index=False)


def test_cross_batch_multiline(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    out_name = "ml_out"
    # Both files exist BEFORE start(): maxFilesPerTrigger=1 then splits them
    # into two micro-batches deterministically (no wall-clock poll-then-write
    # race — round-1 flake was the idle timeout firing while the test slept
    # between writing the files).
    _write_batch(in_dir, "b1.parquet", BATCH_1)
    _write_batch(in_dir, "b2.parquet", BATCH_2)

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    # idle_flush_ms must exceed any plausible gap between consecutive
    # triggers (both files are already listed, so the gap is ~1 trigger).
    entries = coalesce_entries_stream(stream, idle_flush_ms=15_000)
    q = (
        entries.writeStream.outputMode("append")
        .format("memory")
        .queryName(out_name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # wait for batch 2 + idle-timeout flush of the final open entries
        expected_texts = {
            "2024-01-15T10:30:00Z INFO start",
            "2024-01-15T10:30:05Z ERROR boom\n  at Frame.one(File.java:1)\n  at Frame.two(File.java:2)",
            "2024-01-15T10:30:09Z INFO done",
            "2024-01-15T10:30:10Z WARN w",
        }
        got = set()
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            got = {
                r["text"] for r in spark.sql(f"SELECT * FROM {out_name}").collect()
            }
            if got == expected_texts:
                break
            time.sleep(2)
        assert got == expected_texts
    finally:
        q.stop()

    # and the closed-entry set matches the batch coalescer on the same data
    batch_df = spark.read.parquet(in_dir)
    batch_entries = {r["text"] for r in coalesce_entries(batch_df).collect()}
    assert got == batch_entries


def test_composed_streaming_runner_coalesces(spark, tmp_path):
    """End-to-end: run_streaming_pipeline(coalesce=True) over multiline
    input split across micro-batches must produce exactly the batch
    pipeline's routed rows (closed-entry parity through the composed
    runner, not just the bare operator)."""
    from pyspark.sql import functions as F

    from otel_logger_spark.pipeline import build_parsed
    from otel_logger_spark.streaming.pipeline import run_streaming_pipeline

    in_dir = str(tmp_path / "cin")
    os.makedirs(in_dir)
    _write_batch(in_dir, "b1.parquet", BATCH_1)
    _write_batch(in_dir, "b2.parquet", BATCH_2)
    out = str(tmp_path / "cout")

    batch_routed = build_parsed(spark.read.parquet(in_dir))
    expected = {
        (r["conv_id"], r["raw"], r["severity_num"])
        for r in batch_routed.collect()
    }

    q = run_streaming_pipeline(
        spark,
        in_dir,
        out,
        str(tmp_path / "cckpt"),
        available_now=False,
        processing_time="1 second",
        coalesce=True,
        idle_flush_ms=15_000,
        max_files_per_trigger=1,  # forces the entry to span micro-batches
    )
    try:
        got = set()
        deadline = time.monotonic() + 180
        while time.monotonic() < deadline:
            try:
                got = {
                    (r["conv_id"], r["raw"], r["severity_num"])
                    for r in spark.read.parquet(os.path.join(out, "logs")).collect()
                }
            except Exception:
                got = set()
            if got == expected:
                break
            time.sleep(2)
        assert got == expected
        # the coalesced stack-trace entry must arrive as ONE row
        assert any("\n  at Frame.two" in raw for _, raw, _sev in got)
        # error-sink routing matches the batch pipeline's routing
        err = spark.read.parquet(os.path.join(out, "error"))
        batch_err = {
            (r["conv_id"], r["raw"]) for r in batch_routed.filter("is_error").collect()
        }
        assert {(r["conv_id"], r["raw"]) for r in err.collect()} == batch_err
    finally:
        q.stop()


def test_coalesce_plus_metrics_four_sink_equality(spark, tmp_path):
    """COMPOSED mode: the stateful coalescer AND the conversation_metrics
    partial sink active together, across >= 3 micro-batches. The coalescer
    changes entry counts (continuations merge into their head entry), so
    the per-batch metric partials see different rows than a no-coalesce
    run — they must still finalize to exactly the batch pipeline's
    conversation_metrics, and all four sinks must match the batch run."""
    from pyspark.sql import functions as F

    from otel_logger_spark.operators.rollups import conversation_metrics
    from otel_logger_spark.pipeline import build_parsed
    from otel_logger_spark.streaming.pipeline import (
        read_conversation_metrics,
        run_streaming_pipeline,
    )
    from otel_logger_spark.synth import synthesize_pandas

    in_dir = str(tmp_path / "min")
    os.makedirs(in_dir)
    pdf = synthesize_pandas(24, seed=31)
    # contiguous thirds: conversations (and some multiline entries) span
    # the file boundaries, so with maxFilesPerTrigger=1 the coalescer must
    # carry open entries across >= 3 micro-batches
    third = len(pdf) // 3
    for i, chunk in enumerate((pdf[:third], pdf[third : 2 * third], pdf[2 * third :])):
        _write_batch(in_dir, f"b{i}.parquet", list(chunk.itertuples(index=False)))
    out = str(tmp_path / "mout")

    batch_routed = build_parsed(spark.read.parquet(in_dir))  # coalesce=True default
    exp_logs = {
        (r["conv_id"], r["turn_idx"], r["raw"]) for r in batch_routed.collect()
    }
    exp_err = {
        (r["conv_id"], r["turn_idx"]) for r in batch_routed.filter("is_error").collect()
    }
    exp_tool = {
        (r["conv_id"], r["turn_idx"])
        for r in batch_routed.filter("is_tool_call").collect()
    }
    assert exp_err and exp_tool, "fixture must exercise every sink"

    q = run_streaming_pipeline(
        spark,
        in_dir,
        out,
        str(tmp_path / "mckpt"),
        available_now=False,
        processing_time="1 second",
        coalesce=True,
        idle_flush_ms=15_000,
        max_files_per_trigger=1,
    )
    try:
        got_logs = set()
        deadline = time.monotonic() + 240
        while time.monotonic() < deadline:
            try:
                got_logs = {
                    (r["conv_id"], r["turn_idx"], r["raw"])
                    for r in spark.read.parquet(os.path.join(out, "logs")).collect()
                }
            except Exception:
                got_logs = set()
            if got_logs == exp_logs:
                break
            time.sleep(2)
        assert got_logs == exp_logs
        n_batches = len(
            [d for d in os.listdir(os.path.join(out, "logs")) if d.startswith("batchid=")]
        )
        assert n_batches >= 3, "input must have spanned >= 3 micro-batches"
        got_err = {
            (r["conv_id"], r["turn_idx"])
            for r in spark.read.parquet(os.path.join(out, "error")).collect()
        }
        got_tool = {
            (r["conv_id"], r["turn_idx"])
            for r in spark.read.parquet(os.path.join(out, "tool_call")).collect()
        }
        assert got_err == exp_err
        assert got_tool == exp_tool
        # the 4th sink: partials re-aggregate to the batch rollup exactly
        final = read_conversation_metrics(spark, out)
        expected = conversation_metrics(batch_routed)
        assert final.count() == expected.count()
        assert final.exceptAll(expected).count() == 0
        assert expected.exceptAll(final).count() == 0
    finally:
        q.stop()


def test_batchid_writes_are_idempotent(spark, tmp_path):
    """A retried micro-batch must not double-append: each batch overwrites
    its own batchid=<id> partition, so rewriting it leaves counts fixed."""
    from otel_logger_spark.streaming.pipeline import run_streaming_pipeline

    in_dir = str(tmp_path / "iin")
    os.makedirs(in_dir)
    _write_batch(in_dir, "b1.parquet", BATCH_1)
    out = str(tmp_path / "iout")
    q = run_streaming_pipeline(
        spark, in_dir, out, str(tmp_path / "ickpt"), available_now=True
    )
    q.awaitTermination(120)
    logs = os.path.join(out, "logs")
    n1 = spark.read.parquet(logs).count()
    # simulate the retry: rewrite batch 0's partition with the same rows
    # (roundtrip through a temp copy — can't overwrite a path being read)
    b0 = os.path.join(logs, "batchid=0")
    tmp = str(tmp_path / "b0copy")
    spark.read.parquet(b0).write.parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(b0)
    assert spark.read.parquet(logs).count() == n1


def test_stream_matches_batch_on_every_golden_case(spark, tmp_path):
    """One start rule for batch and stream: every golden multiline case,
    one conversation each, split over two micro-batches, flushes exactly
    the entries the batch coalescer builds from the same rows."""
    from test_multiline import CASES

    in_dir = str(tmp_path / "gin")
    os.makedirs(in_dir)
    halves = ([], [])
    for name, (lines, _expected) in sorted(CASES.items()):
        rows = [(name, i, "assistant", line, None, TS) for i, line in enumerate(lines)]
        # every case keeps a non-empty line in the second half, so no open
        # entry can time out between the two micro-batches
        cut = len(rows) // 2
        halves[0].extend(rows[:cut])
        halves[1].extend(rows[cut:])
    now = time.time()
    for i, rows in enumerate(halves):
        _write_batch(in_dir, f"g{i}.parquet", rows)
        # the file source takes the oldest file first
        os.utime(os.path.join(in_dir, f"g{i}.parquet"), (now - 60 + i, now - 60 + i))

    def key(r):
        return (r["conv_id"], r["turn_idx"], r["text"], r["n_lines"])

    want = sorted(key(r) for r in coalesce_entries(spark.read.parquet(in_dir)).collect())
    assert len({k[0] for k in want}) > 1

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out_name = "golden_stream"
    q = (
        coalesce_entries_stream(stream, idle_flush_ms=2_000)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(out_name)
        .option("checkpointLocation", str(tmp_path / "gckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        got = []
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            got = sorted(key(r) for r in spark.sql(f"SELECT * FROM {out_name}").collect())
            if got == want:
                break
            time.sleep(2)
    finally:
        q.stop()
    assert got == want
