"""Streaming ingest dedup: redelivered rows (same keys / same content, a
later micro-batch) must be dropped while state stays watermark-bounded."""

import os
from datetime import datetime

import pandas as pd

from otel_logger_spark.schemas import TRANSCRIPT_SCHEMA
from otel_logger_spark.streaming.dedup import (
    dedup_stream_by_content,
    dedup_stream_exact,
)

T0 = datetime(2024, 1, 15, 10, 30, 0)


def _write(d, name, rows):
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).astype({"turn_idx": "int32", "ts": "datetime64[us]", "tool": "string"})
    pdf.to_parquet(os.path.join(d, name), index=False)


def _drain(spark, df, tmp_path, name):
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_stream_dedup_exact_drops_cross_batch_redelivery(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # batch 1: three rows; batch 2 redelivers two of them (same keys,
    # within the horizon) plus one genuinely new row
    _write(in_dir, "b1.parquet", [
        ("c1", 0, "user", "hello", None, T0),
        ("c1", 1, "assistant", "hi", None, T0),
        ("c2", 0, "user", "x", None, T0),
    ])
    _write(in_dir, "b2.parquet", [
        ("c1", 0, "user", "hello", None, T0),          # redelivered
        ("c2", 0, "user", "x", None, T0),              # redelivered
        ("c2", 1, "assistant", "y", None, T0),         # new
    ])
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    rows = _drain(
        spark, dedup_stream_exact(stream, horizon="10 minutes"), tmp_path, "sde"
    )
    got = sorted((r["conv_id"], r["turn_idx"]) for r in rows)
    assert got == [("c1", 0), ("c1", 1), ("c2", 0), ("c2", 1)]


def test_stream_dedup_by_content_keys_on_digest(spark, tmp_path):
    in_dir = str(tmp_path / "cin")
    os.makedirs(in_dir)
    _write(in_dir, "b1.parquet", [
        ("c1", 0, "user", "same text", None, T0),
        ("c1", 1, "user", "unique a", None, T0),
    ])
    _write(in_dir, "b2.parquet", [
        ("c9", 7, "tool", "same text", None, T0),  # different keys, same text
        ("c9", 8, "tool", "unique b", None, T0),
    ])
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    rows = _drain(
        spark,
        dedup_stream_by_content(stream, horizon="10 minutes"),
        tmp_path,
        "sdc",
    )
    texts = sorted(r["text"] for r in rows)
    assert texts == ["same text", "unique a", "unique b"]
    assert "_content_sha" not in rows[0].asDict()  # helper column dropped


def test_streaming_pipeline_with_dedup_four_sink_parity(spark, tmp_path):
    """COMPOSED: the exact dedup guard in front of the streaming pipeline's
    stages (read_stream -> dedup_stream_exact -> build_streaming_routed ->
    routed_sinks) under redelivery (a later file re-sends a whole earlier file) must produce
    EXACTLY the batch pipeline's four sinks on the clean input — logs /
    error / tool_call row sets and the finalized conversation_metrics
    rollup. At-least-once upstream becomes exactly-once sink rows."""
    import shutil

    from pyspark.sql import functions as F

    from otel_logger_spark.functions.parse import with_parsed
    from otel_logger_spark.operators.enrich import enrich_severity, enrich_tool
    from otel_logger_spark.operators.rollups import conversation_metrics
    from otel_logger_spark.operators.route import with_routing
    from otel_logger_spark.operators.sinks import routed_sinks
    from otel_logger_spark.streaming.pipeline import (
        build_streaming_routed,
        read_conversation_metrics,
        read_stream,
        start_batch_sinks,
    )
    from otel_logger_spark.synth import synthesize_pandas

    in_dir = str(tmp_path / "din")
    os.makedirs(in_dir)
    pdf = synthesize_pandas(12, seed=11)[
        ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ]
    for i in range(3):
        pdf[pdf.index % 3 == i].to_parquet(
            os.path.join(in_dir, f"part-{i}.parquet"), index=False
        )
    # redelivery: file 0 arrives again, byte-identical, as a later file
    shutil.copy(
        os.path.join(in_dir, "part-0.parquet"),
        os.path.join(in_dir, "part-redelivered.parquet"),
    )

    out = str(tmp_path / "dout")
    # max_files_per_trigger=1: the redelivery lands in a LATER batch
    stream = read_stream(spark, in_dir, max_files_per_trigger=1)
    q = start_batch_sinks(
        build_streaming_routed(dedup_stream_exact(stream, horizon="365 days")),
        out,
        str(tmp_path / "dckpt"),
        routed_sinks,
    )
    q.awaitTermination(300)

    clean = spark.read.parquet(
        *[os.path.join(in_dir, f"part-{i}.parquet") for i in range(3)]
    ).filter(F.length("text") > 0)
    routed = with_routing(enrich_tool(enrich_severity(with_parsed(clean))))
    got_logs = spark.read.parquet(os.path.join(out, "logs"))
    assert got_logs.count() == routed.count()
    assert (
        got_logs.select("conv_id", "turn_idx", "raw")
        .exceptAll(routed.select("conv_id", "turn_idx", "raw"))
        .count()
        == 0
    )
    assert (
        spark.read.parquet(os.path.join(out, "error")).count()
        == routed.filter("is_error").count()
    )
    assert (
        spark.read.parquet(os.path.join(out, "tool_call")).count()
        == routed.filter("is_tool_call").count()
    )
    final = read_conversation_metrics(spark, out)
    expected = conversation_metrics(routed)
    assert final.count() == expected.count()
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0


def test_stream_dedup_matches_batch_dedup_on_synth(spark, tmp_path):
    """Streaming-vs-batch parity: the drained streaming dedup equals
    dropDuplicates on the same (duplicated) input."""
    from otel_logger_spark.synth import synthesize_pandas

    in_dir = str(tmp_path / "pin")
    os.makedirs(in_dir)
    pdf = synthesize_pandas(10, seed=3)
    _write_cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    pdf = pdf[_write_cols]
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(os.path.join(in_dir, "b1.parquet"), index=False)
    # second file redelivers an overlapping slice
    pdf.iloc[half // 2 :].to_parquet(os.path.join(in_dir, "b2.parquet"), index=False)

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    rows = _drain(
        spark, dedup_stream_exact(stream, horizon="365 days"), tmp_path, "sdp"
    )
    got = sorted((r["conv_id"], r["turn_idx"]) for r in rows)
    exp = sorted(
        (r["conv_id"], r["turn_idx"])
        for r in spark.read.parquet(in_dir)
        .dropDuplicates(["conv_id", "turn_idx"])
        .collect()
    )
    assert got == exp
