"""Streaming n-gram diversity parity (round 8): the exact-distinct
decomposition — per-batch summable counts + batch-DISTINCT digest sets,
finalize to EXACTLY the batch diversity_report across >= 3 micro-batches,
plus batchid-overwrite redelivery idempotence. This is the third
streaming hygiene op and the first whose metric is NOT a sum of
partials: distinct-of-union == distinct is the load-bearing identity."""

import glob
import os
import shutil

from pyspark.sql import functions as F

from otel_logger_spark.functions.diversity import (
    diversity_finalize,
    diversity_partials,
    diversity_report,
)
from otel_logger_spark.streaming.analytics import (
    DIVERSITY_COUNTS_SINK,
    DIVERSITY_DIGESTS_SINK,
    DOCUMENTS_SCHEMA,
    diversity_sinks,
    read_diversity_report,
)
from otel_logger_spark.streaming.pipeline import (
    read_stream,
    start_batch_sinks,
    write_batch_sinks,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "lang", "text"
    )


def _write_files(spark, df, d, n_files=4):
    # block split, NOT doc_id % n: the synthetic source is a function of
    # doc_id % 20, so a modulo split would put each source wholly in one
    # batch and the cross-batch distinct identity would be vacuous
    os.makedirs(d, exist_ok=True)
    df.withColumn("_f", (F.col("doc_id") / 125).cast("int") % n_files).repartition(
        n_files, "_f"
    ).drop("_f").write.mode("overwrite").parquet(f"{d}/stage")
    for i, f in enumerate(sorted(glob.glob(f"{d}/stage/part-*.parquet"))):
        shutil.move(f, f"{d}/part-{i}.parquet")
    shutil.rmtree(f"{d}/stage")
    return len(glob.glob(f"{d}/part-*.parquet"))


def test_partials_finalize_equals_batch_report(spark):
    """Pure-batch check of the decomposition: split the corpus in two
    halves, finalize the unioned partials, compare to the one-shot
    report."""
    docs = _docs(spark)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    ca, da = diversity_partials(a)
    cb, db = diversity_partials(b)
    got = {
        tuple(r)
        for r in diversity_finalize(
            ca.unionByName(cb), da.unionByName(db)
        ).collect()
    }
    exp = {tuple(r) for r in diversity_report(docs).collect()}
    assert got == exp and len(exp) >= 2


def test_streaming_diversity_matches_batch(spark, tmp_path):
    docs = _docs(spark)
    in_dir = str(tmp_path / "docs_in")
    n_files = _write_files(spark, docs, in_dir)
    assert n_files >= 3

    out = str(tmp_path / "div_out")
    ckpt = str(tmp_path / "ckpt")
    q = start_batch_sinks(
        read_stream(spark, in_dir, DOCUMENTS_SCHEMA, max_files_per_trigger=1),
        out, ckpt, diversity_sinks,
    )
    q.awaitTermination(300)

    for sink in (DIVERSITY_COUNTS_SINK, DIVERSITY_DIGESTS_SINK):
        batch_ids = os.listdir(os.path.join(out, sink))
        assert len([b for b in batch_ids if b.startswith("batchid=")]) >= 3

    got = {tuple(r) for r in read_diversity_report(spark, out).collect()}
    exp = {tuple(r) for r in diversity_report(docs).collect()}
    assert got == exp
    # the identity is non-trivial: tokens repeat ACROSS batches, so the
    # naive sum of per-batch distincts would overcount
    counts = spark.read.parquet(os.path.join(out, DIVERSITY_COUNTS_SINK))
    digests = spark.read.parquet(os.path.join(out, DIVERSITY_DIGESTS_SINK))
    naive = (
        digests.filter(F.col("kind") == "tok")
        .groupBy("source")
        .count()
        .collect()
    )
    true = {r[0]: r[3] for r in exp}  # distinct_tokens by source
    assert any(r["count"] > true[r["source"]] for r in naive)


def test_diversity_batch_retry_is_idempotent(spark, tmp_path):
    docs = _docs(spark).limit(40)
    out = str(tmp_path / "div_out")
    write_batch_sinks(docs, 0, out, diversity_sinks)
    first = {tuple(r) for r in read_diversity_report(spark, out).collect()}
    write_batch_sinks(docs, 0, out, diversity_sinks)  # redelivery
    second = {tuple(r) for r in read_diversity_report(spark, out).collect()}
    assert first == second
