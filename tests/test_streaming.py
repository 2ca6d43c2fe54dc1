"""Streaming pipeline tests: availableNow drain must produce exactly the
batch pipeline's routed rows (stream/batch parity), and the windowed flush
counts must match the batch flush windows."""

import os

import pytest
from pyspark.sql import functions as F

from otel_logger_spark.functions.parse import with_parsed
from otel_logger_spark.operators.enrich import enrich_severity, enrich_tool
from otel_logger_spark.operators.route import with_routing
from otel_logger_spark.operators.sinks import routed_sinks
from otel_logger_spark.streaming.analytics import DOCUMENTS_SCHEMA, diversity_sinks
from otel_logger_spark.streaming.pipeline import (
    read_stream,
    run_streaming_pipeline,
    streaming_flush_window_counts,
    write_batch_sinks,
)
from otel_logger_spark.synth import synthesize_pandas


def _write_input(tmp_path, n_convs=30):
    d = str(tmp_path / "stream_in")
    os.makedirs(d, exist_ok=True)
    pdf = synthesize_pandas(n_convs, seed=7)
    # several files so the file source produces real micro-batches
    for i in range(4):
        pdf[pdf.index % 4 == i].to_parquet(os.path.join(d, f"part-{i}.parquet"), index=False)
    return d, pdf


def test_streaming_matches_batch(spark, tmp_path):
    in_dir, pdf = _write_input(tmp_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = run_streaming_pipeline(spark, in_dir, out, ckpt, available_now=True)
    q.awaitTermination(300)

    # batch reference over the same input (same ops, no coalescer in either)
    batch = spark.read.parquet(in_dir).filter(F.length("text") > 0)
    routed = with_routing(enrich_tool(enrich_severity(with_parsed(batch))))

    got_logs = spark.read.parquet(os.path.join(out, "logs"))
    assert got_logs.count() == routed.count()
    assert (
        spark.read.parquet(os.path.join(out, "error")).count()
        == routed.filter("is_error").count()
    )
    assert (
        spark.read.parquet(os.path.join(out, "tool_call")).count()
        == routed.filter("is_tool_call").count()
    )
    # routed-row-set equality on the logs sink (per-turn text fidelity)
    diff = (
        got_logs.select("conv_id", "turn_idx", "raw")
        .exceptAll(routed.select("conv_id", "turn_idx", "raw"))
        .count()
    )
    assert diff == 0


def test_stream_and_batch_sink_schemas_match(spark, tmp_path):
    """The streaming and batch pipelines write the same columns, with the
    same types, to each of the four sinks (the stream adds only its
    batchid partition column)."""
    from otel_logger_spark.pipeline import run_pipeline

    in_dir, _ = _write_input(tmp_path, n_convs=8)
    s_out, b_out = str(tmp_path / "s_out"), str(tmp_path / "b_out")
    q = run_streaming_pipeline(spark, in_dir, s_out, str(tmp_path / "s_ckpt"))
    q.awaitTermination(300)
    run_pipeline(spark, in_dir, b_out, run_id="schemas")
    for sink in ("logs", "error", "tool_call", "conversation_metrics"):
        got = spark.read.parquet(os.path.join(s_out, sink)).drop("batchid")
        want = spark.read.parquet(os.path.join(b_out, sink))
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ], sink


def test_streaming_flush_windows(spark, tmp_path):
    in_dir, _ = _write_input(tmp_path)
    stream = read_stream(spark, in_dir)
    agg = streaming_flush_window_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("flushwin")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["w_start"], r["n"]) for r in spark.sql("SELECT * FROM flushwin").collect()
    }
    batch = spark.read.parquet(in_dir).filter(F.length("text") > 0)
    from otel_logger_spark.operators.rollups import flush_window_counts

    exp = {
        (r["w_start"], r["n"])
        for r in flush_window_counts(with_parsed(batch), "5 seconds").collect()
    }
    assert got == exp


def test_streaming_session_stats_matches_batch(spark, tmp_path):
    """Streaming sessionization parity: the availableNow drain of the
    session_window aggregate equals the identical aggregate evaluated on
    the static frame — one row per (conv_id, idle-gap session)."""
    from otel_logger_spark.streaming.pipeline import streaming_session_stats

    in_dir, _ = _write_input(tmp_path)
    stream = read_stream(spark, in_dir)
    q = (
        streaming_session_stats(stream, gap="5 minutes")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sesswin")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["conv_id"], r["session_start"], r["session_end"], r["n_turns"])
        for r in spark.sql("SELECT * FROM sesswin").collect()
    }
    batch = with_parsed(
        spark.read.parquet(in_dir).filter(F.length("text") > 0)
    )
    exp = {
        (r["conv_id"], r["session_start"], r["session_end"], r["n_turns"])
        for r in batch.groupBy(
            "conv_id", F.session_window("event_ts", "5 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns",
        )
        .collect()
    }
    assert got == exp and len(got) > 0
    # sessions actually split (gap semantics, not one blob per conv)
    convs = {c for c, *_ in got}
    assert len(got) >= len(convs)


def test_streaming_conversation_metrics_matches_batch(spark, tmp_path):
    """A4 parity in streaming mode: the conversation_metrics sink must
    finalize to exactly the batch pipeline's per-conversation rollup, even
    when conversations span micro-batches (maxFilesPerTrigger=1 over
    index-striped files guarantees they do)."""
    from otel_logger_spark.operators.rollups import conversation_metrics
    from otel_logger_spark.streaming.pipeline import read_conversation_metrics

    in_dir, _ = _write_input(tmp_path)
    out = str(tmp_path / "out_m")
    ckpt = str(tmp_path / "ckpt_m")
    q = run_streaming_pipeline(
        spark, in_dir, out, ckpt, available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    batch_dirs = [
        d for d in os.listdir(os.path.join(out, "conversation_metrics"))
        if d.startswith("batchid=")
    ]
    assert len(batch_dirs) >= 2, "input must span several micro-batches"

    final = read_conversation_metrics(spark, out)
    batch = spark.read.parquet(in_dir).filter(F.length("text") > 0)
    routed = with_routing(enrich_tool(enrich_severity(with_parsed(batch))))
    expected = conversation_metrics(routed)
    assert final.count() == expected.count()
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0


def test_streaming_batch_retry_idempotent(spark, tmp_path):
    """A retried micro-batch (same batchId redelivered after a failure
    between sink writes) must rewrite its partitions, not double-append —
    for all FOUR sinks including conversation_metrics."""
    in_dir, _ = _write_input(tmp_path, n_convs=10)
    out = str(tmp_path / "out_r")
    batch = spark.read.parquet(in_dir).filter(F.length("text") > 0)
    routed = with_routing(enrich_tool(enrich_severity(with_parsed(batch))))

    write_batch_sinks(routed, 0, out, routed_sinks)
    counts1 = {
        s: spark.read.parquet(os.path.join(out, s)).count()
        for s in ("logs", "error", "tool_call", "conversation_metrics")
    }
    write_batch_sinks(routed, 0, out, routed_sinks)  # the retry
    counts2 = {
        s: spark.read.parquet(os.path.join(out, s)).count()
        for s in ("logs", "error", "tool_call", "conversation_metrics")
    }
    assert counts1 == counts2
    assert counts1["logs"] > 0 and counts1["conversation_metrics"] > 0


@pytest.mark.parametrize("builder", ["routed", "diversity"])
def test_batch_sinks_compute_source_once(spark, tmp_path, builder):
    """A micro-batch that feeds several sinks computes its source once: a
    counting Python-UDF filter on the batch frame sees each row once, not
    once per sink that reads it."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def counted(_):
        acc.add(1)
        return True

    if builder == "routed":
        in_dir, _ = _write_input(tmp_path, n_convs=10)
        src = spark.read.parquet(in_dir).filter(F.length("text") > 0)
        batch = with_routing(enrich_tool(enrich_severity(with_parsed(src))))
        sinks = routed_sinks
    else:
        batch = spark.createDataFrame(
            [(i, f"s{i % 3}", "en", f"w{i % 5} w{i % 7} w{i % 4} x") for i in range(60)],
            DOCUMENTS_SCHEMA,
        )
        sinks = diversity_sinks
    n_rows = batch.count()
    batch = batch.filter(counted(F.col(batch.columns[0])))
    write_batch_sinks(batch, 0, str(tmp_path / "out"), sinks)
    assert len(sinks(batch)) > 1
    assert acc.value == n_rows > 0


def test_sigterm_graceful_drain(tmp_path):
    """K5 parity (signal forwarding, main.go:544-559): SIGTERM to a running
    continuous-trigger streaming pipeline must drain the in-flight
    micro-batch and exit cleanly — every input row present in the logs
    sink, clean interpreter exit."""
    import signal
    import subprocess
    import sys
    import time as _time

    in_dir, pdf = _write_input(tmp_path, n_convs=8)
    n_nonempty = int((pdf["text"].str.len() > 0).sum())
    out = str(tmp_path / "out_sig")
    ckpt = str(tmp_path / "ckpt_sig")
    script = tmp_path / "runner.py"
    script.write_text(
        f"""
import sys
sys.path.insert(0, "/root/repo")
from otel_logger_spark.session import get_spark
from otel_logger_spark.streaming.pipeline import (
    install_graceful_shutdown, run_streaming_pipeline)
spark = get_spark("sig-drain", cores=2, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
q = run_streaming_pipeline(
    spark, {in_dir!r}, {out!r}, {ckpt!r},
    available_now=False, processing_time="1 seconds")
install_graceful_shutdown(q)
print("READY", flush=True)
q.awaitTermination()
print("STOPPED_CLEAN", flush=True)
spark.stop()
"""
    )
    proc = subprocess.Popen(
        [sys.executable, str(script)], stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, cwd="/root/repo",
        env=dict(os.environ, PYTHONPATH="/root/repo"),
    )
    try:
        # wait for the sink to contain every input row, then signal
        deadline = _time.monotonic() + 240
        import glob

        def logs_rows():
            import pyarrow.parquet as pq

            files = glob.glob(os.path.join(out, "logs", "batchid=*", "*.parquet"))
            return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

        while _time.monotonic() < deadline and logs_rows() < n_nonempty:
            _time.sleep(1)
        assert logs_rows() >= n_nonempty, "stream never drained the input"
        proc.send_signal(signal.SIGTERM)
        stdout, stderr = proc.communicate(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert proc.returncode == 0, stderr[-2000:]
    assert "READY" in stdout and "STOPPED_CLEAN" in stdout
