"""Streaming hygiene-manifest parity (round 8, fourth streaming op):
per-doc manifest partials against PINNED rule parameters, written per
micro-batch, finalize to EXACTLY the batch hygiene_report with the same
parameters, across >= 3 micro-batches, plus batchid-overwrite
redelivery idempotence."""

import glob
import os
import shutil

from pyspark.sql import functions as F

from otel_logger_spark.functions.hygiene import hygiene_report
from otel_logger_spark.functions.lmscore import nll_table, reference_counts
from otel_logger_spark.streaming.analytics import (
    DOCUMENTS_SCHEMA,
    HYGIENE_SINK,
    hygiene_sinks,
    read_hygiene_report,
)
from otel_logger_spark.streaming.pipeline import (
    read_stream,
    start_batch_sinks,
    write_batch_sinks,
)

SF = "/root/testdata/sf0.001"
QMIN, NMAX = 650, 5_600_000
REP_THR = {"dup_line_milli": 300, "top_bigram_milli": 90, "dup_5gram_milli": 150}


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "lang", "text"
    )


def _write_files(spark, df, d, n_files=4):
    os.makedirs(d, exist_ok=True)
    df.withColumn(
        "_f", (F.col("doc_id") / 125).cast("int") % n_files
    ).repartition(n_files, "_f").drop("_f").write.mode("overwrite").parquet(
        f"{d}/stage"
    )
    for i, f in enumerate(sorted(glob.glob(f"{d}/stage/part-*.parquet"))):
        shutil.move(f, f"{d}/part-{i}.parquet")
    shutil.rmtree(f"{d}/stage")
    return len(glob.glob(f"{d}/part-*.parquet"))


def _pinned_tables(spark):
    docs = _docs(spark)
    # pinned build-time artifact: reference tables from the FULL corpus
    return nll_table(
        reference_counts(docs.filter(F.col("lang") == "en"), 16)
    )


def test_streaming_hygiene_matches_batch(spark, tmp_path):
    docs = _docs(spark)
    tab, oov = _pinned_tables(spark)

    in_dir = str(tmp_path / "docs_in")
    assert _write_files(spark, docs, in_dir) >= 3

    out = str(tmp_path / "hyg_out")
    ckpt = str(tmp_path / "ckpt")
    q = start_batch_sinks(
        read_stream(spark, in_dir, DOCUMENTS_SCHEMA, max_files_per_trigger=1),
        out, ckpt, lambda b: hygiene_sinks(b, tab, oov, QMIN, NMAX, REP_THR),
    )
    q.awaitTermination(300)

    batch_ids = os.listdir(os.path.join(out, HYGIENE_SINK))
    assert len([b for b in batch_ids if b.startswith("batchid=")]) >= 3

    got = {tuple(r) for r in read_hygiene_report(spark, out).collect()}
    exp = {
        tuple(r)
        for r in hygiene_report(
            docs, tab, oov, QMIN, NMAX, REP_THR
        ).collect()
    }
    assert got == exp
    # real accounting: every rule fires somewhere, survivors everywhere
    assert any(t[2] > 0 for t in exp) and any(t[3] > 0 for t in exp)
    assert all(t[5] > 0 for t in exp)


def test_hygiene_batch_retry_is_idempotent(spark, tmp_path):
    docs = _docs(spark).limit(40)
    tab, oov = _pinned_tables(spark)
    out = str(tmp_path / "hyg_out")

    def sinks(b):
        return hygiene_sinks(b, tab, oov, QMIN, NMAX, REP_THR)

    write_batch_sinks(docs, 0, out, sinks)
    first = {tuple(r) for r in read_hygiene_report(spark, out).collect()}
    write_batch_sinks(docs, 0, out, sinks)
    second = {tuple(r) for r in read_hygiene_report(spark, out).collect()}
    assert first == second
