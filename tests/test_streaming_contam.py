"""Streaming contamination-profile parity (round 8): per-doc
contamination partials written per micro-batch finalize to EXACTLY the
batch operator's decile histogram, across >= 3 micro-batches, with the
batchid-overwrite idempotence the other analytics sinks use."""

import glob
import os
import shutil

from pyspark.sql import functions as F

from otel_logger_spark.functions.decontam import contamination_profile
from otel_logger_spark.streaming.analytics import (
    CONTAM_SINK,
    DOCUMENTS_SCHEMA,
    contam_sinks,
    read_contamination_profile,
)
from otel_logger_spark.streaming.pipeline import (
    read_stream,
    start_batch_sinks,
    write_batch_sinks,
)

SF = "/root/testdata/sf0.001"
N = 5  # short benchmark grams so the tiny test corpus actually overlaps


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "lang", "text"
    )


def _write_files(spark, df, d, n_files=4):
    os.makedirs(d, exist_ok=True)
    df.withColumn("_f", F.col("doc_id") % n_files).repartition(
        n_files, "_f"
    ).drop("_f").write.mode("overwrite").parquet(f"{d}/stage")
    for i, f in enumerate(sorted(glob.glob(f"{d}/stage/part-*.parquet"))):
        shutil.move(f, f"{d}/part-{i}.parquet")
    shutil.rmtree(f"{d}/stage")
    return len(glob.glob(f"{d}/part-*.parquet"))


def test_streaming_contam_matches_batch(spark, tmp_path):
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)

    in_dir = str(tmp_path / "docs_in")
    n_files = _write_files(spark, train, in_dir)
    assert n_files >= 3

    out = str(tmp_path / "contam_out")
    ckpt = str(tmp_path / "ckpt")
    q = start_batch_sinks(
        read_stream(spark, in_dir, DOCUMENTS_SCHEMA, max_files_per_trigger=1),
        out, ckpt, lambda b: contam_sinks(b, bench, n=N),
    )
    q.awaitTermination(300)

    batch_ids = os.listdir(os.path.join(out, CONTAM_SINK))
    assert len([b for b in batch_ids if b.startswith("batchid=")]) >= 3

    got = {
        (r["source"], r["decile"], r["n_docs"])
        for r in read_contamination_profile(spark, out).collect()
    }
    exp = {
        (r["source"], r["decile"], r["n_docs"])
        for r in contamination_profile(train, bench, n=N).collect()
    }
    assert got == exp
    # a real profile, not an empty or single-bucket degenerate one
    assert len({d for _, d, _ in exp}) >= 2


def test_contam_batch_retry_is_idempotent(spark, tmp_path):
    """Redelivery of the same batchId overwrites its own directory —
    finalized histogram unchanged."""
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0).limit(40)

    out = str(tmp_path / "contam_out")

    def sinks(b):
        return contam_sinks(b, bench, n=N)

    write_batch_sinks(train, 0, out, sinks)
    first = {
        tuple(r) for r in read_contamination_profile(spark, out).collect()
    }
    write_batch_sinks(train, 0, out, sinks)  # redelivery
    second = {
        tuple(r) for r in read_contamination_profile(spark, out).collect()
    }
    assert first == second
