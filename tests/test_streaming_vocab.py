"""Streaming OOV-coverage parity (round 8): per-doc OOV partials
against a PINNED vocabulary, written per micro-batch, finalize to
EXACTLY the batch oov_report with the same vocab, across >= 3
micro-batches, plus batchid-overwrite redelivery idempotence. The
pinned-vocab contract is the production monitoring shape: a tokenizer
vocabulary is a build-time artifact; what streams is the corpus."""

import glob
import os
import shutil

from pyspark.sql import functions as F

from otel_logger_spark.functions.vocab import (
    oov_from_per_doc,
    vocab_topk,
    with_oov_stats,
)
from otel_logger_spark.streaming.analytics import (
    DOCUMENTS_SCHEMA,
    OOV_SINK,
    oov_sinks,
    read_oov_report,
)
from otel_logger_spark.streaming.pipeline import (
    read_stream,
    start_batch_sinks,
    write_batch_sinks,
)

SF = "/root/testdata/sf0.001"
K = 20  # far below the corpus vocabulary so real OOV mass exists


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


def test_streaming_oov_matches_batch(spark, tmp_path):
    docs = _docs(spark)
    # the pinned vocab: derived ONCE from the full corpus in batch,
    # then held fixed for both paths (same-vocab parity is the claim)
    vocab = vocab_topk(docs, K)
    vocab.cache().count()

    in_dir = str(tmp_path / "docs_in")
    n_files = _write_files(spark, docs, in_dir)
    assert n_files >= 3

    out = str(tmp_path / "oov_out")
    ckpt = str(tmp_path / "ckpt")
    q = start_batch_sinks(
        read_stream(spark, in_dir, DOCUMENTS_SCHEMA, max_files_per_trigger=1),
        out, ckpt, lambda b: oov_sinks(b, vocab),
    )
    q.awaitTermination(300)

    batch_ids = os.listdir(os.path.join(out, OOV_SINK))
    assert len([b for b in batch_ids if b.startswith("batchid=")]) >= 3

    got = {tuple(r) for r in read_oov_report(spark, out).collect()}
    exp = {
        tuple(r)
        for r in oov_from_per_doc(
            with_oov_stats(docs, vocab, carry_cols=("lang",)), "lang"
        ).collect()
    }
    assert got == exp
    # a real report: some OOV mass, more than one group
    assert len(exp) >= 2
    assert any(r[3] > 0 for r in exp)  # sum_oov
    vocab.unpersist()


def test_oov_batch_retry_is_idempotent(spark, tmp_path):
    docs = _docs(spark).limit(40)
    vocab = vocab_topk(docs, K)

    out = str(tmp_path / "oov_out")

    def sinks(b):
        return oov_sinks(b, vocab)

    write_batch_sinks(docs, 0, out, sinks)
    first = {tuple(r) for r in read_oov_report(spark, out).collect()}
    write_batch_sinks(docs, 0, out, sinks)  # redelivery
    second = {tuple(r) for r in read_oov_report(spark, out).collect()}
    assert first == second
