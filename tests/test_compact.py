"""Compaction: no rows lost, file counts shrink, already-compact dirs are
left alone, crash windows recover, failed verifies leave the source
untouched."""

import os

import pytest
from pyspark.sql import functions as F

from otel_logger_spark.fsio import HadoopFS, join_path
from otel_logger_spark.operators.compact import (
    TMP_SUFFIX,
    compact_parquet_dir,
    recover_compaction,
)


def _fragmented(spark, path, n_rows=10_000, n_files=40):
    spark.range(0, n_rows).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartition(n_files).write.parquet(path)


def test_compact_preserves_rows_and_shrinks_files(spark, tmp_path):
    path = str(tmp_path / "frag")
    _fragmented(spark, path)
    res = compact_parquet_dir(spark, path, target_file_bytes=512 * 1024 * 1024)
    assert res["n_rows"] == 10_000
    assert res["files_before"] == 40
    assert res["files_after"] < 40
    df = spark.read.parquet(path)
    assert df.count() == 10_000
    # values intact, not just counts
    assert df.agg(F.sum("k")).collect()[0][0] == sum(range(10_000))
    assert not os.path.exists(path + TMP_SUFFIX)


def test_compact_noop_when_already_compact(spark, tmp_path):
    path = str(tmp_path / "ok")
    spark.range(0, 100).repartition(1).write.parquet(path)
    before = sorted(os.listdir(path))
    res = compact_parquet_dir(spark, path)
    assert res["files_before"] == res["files_after"] == 1
    assert sorted(os.listdir(path)) == before  # untouched, no rewrite


def test_compact_recovers_interrupted_swap(spark, tmp_path):
    """Crash between delete and rename leaves a verified tmp and no
    target; the next compaction (or recover_compaction) must finish the
    rename with zero row loss."""
    path = str(tmp_path / "crash")
    _fragmented(spark, path, n_rows=500, n_files=4)
    fs = HadoopFS(spark, path)
    # simulate: a completed rewrite sits in tmp, the target was deleted
    spark.read.parquet(path).repartition(1).write.parquet(path + TMP_SUFFIX)
    fs._fs.delete(fs._p(path), True)
    assert recover_compaction(spark, path) is True
    assert spark.read.parquet(path).count() == 500
    # and a stale tmp next to an INTACT target is just removed
    spark.read.parquet(path).write.parquet(path + TMP_SUFFIX)
    assert recover_compaction(spark, path) is False
    assert not fs.exists(path + TMP_SUFFIX)
    assert spark.read.parquet(path).count() == 500


def test_compact_failed_verify_leaves_source(spark, tmp_path, monkeypatch):
    """If the rewrite's footer count disagrees with the rows it wrote, the
    source must be left byte-for-byte intact and the bad tmp removed. The
    rewrite goes through the sinks' counted write, so the footer check
    that trips is the sinks' lineage check."""
    import otel_logger_spark.operators.sinks as S

    path = str(tmp_path / "badverify")
    _fragmented(spark, path, n_rows=1000, n_files=8)

    real = S.parquet_partition_lineage
    calls = {"n": 0}

    def lying(spark_, p):
        parts = real(spark_, p)
        calls["n"] += 1
        if p.endswith(TMP_SUFFIX):  # corrupt the tmp's count only
            parts = parts[:-1]
        return parts

    monkeypatch.setattr(S, "parquet_partition_lineage", lying)
    with pytest.raises(RuntimeError, match="lineage mismatch"):
        compact_parquet_dir(spark, path, target_file_bytes=512 * 1024 * 1024)
    monkeypatch.undo()
    assert calls["n"] == 1
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.exists(path + TMP_SUFFIX)


def test_compact_aborts_on_concurrent_writer(spark, tmp_path, monkeypatch):
    """A part file that appears between the rewrite's scan and the swap
    must abort the compaction: source (including the late file) intact,
    tmp removed, loud error. Round-4 silently dropped such rows."""
    import shutil

    import otel_logger_spark.operators.sinks as S

    path = str(tmp_path / "racy")
    _fragmented(spark, path, n_rows=1000, n_files=8)
    donor = str(tmp_path / "donor")
    spark.range(0, 7).select(F.col("id").alias("k"), F.lit(0).alias("v")).coalesce(
        1
    ).write.parquet(donor)
    late_src = next(
        os.path.join(donor, f) for f in os.listdir(donor) if f.endswith(".parquet")
    )

    real = S.parquet_partition_lineage  # the rewrite's tmp footer read

    def racing(spark_, p):
        parts = real(spark_, p)
        if p.endswith(TMP_SUFFIX):
            # a concurrent writer lands a file while the tmp verify runs
            shutil.copy(late_src, os.path.join(path, "part-late-writer.parquet"))
        return parts

    monkeypatch.setattr(S, "parquet_partition_lineage", racing)
    with pytest.raises(RuntimeError, match="concurrent writer"):
        compact_parquet_dir(spark, path, target_file_bytes=512 * 1024 * 1024)
    monkeypatch.undo()
    assert not os.path.exists(path + TMP_SUFFIX)
    assert spark.read.parquet(path).count() == 1007  # nothing lost, late row kept


def test_compact_scale_rehearsal_5000_files(spark, tmp_path, monkeypatch):
    """The docstring's motivating case at real fan-out: ~5,000 micro-batch
    files compact in ONE rewrite with a bounded number of Spark jobs
    (lineage + rewrite + planning — never O(n_files) jobs), no serial
    driver footer read of any source file, and no row loss. Timings land
    in BENCH/compact_scale.md."""
    import shutil
    import time

    path = str(tmp_path / "many")
    donor = str(tmp_path / "donor5k")
    spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    ).coalesce(1).write.parquet(donor)
    src = next(
        os.path.join(donor, f) for f in os.listdir(donor) if f.endswith(".parquet")
    )
    os.makedirs(path)
    n_files = 5000
    for i in range(n_files):
        shutil.copy(src, os.path.join(path, f"part-{i:05d}-c000.snappy.parquet"))

    footer_reads = []
    real_prc = HadoopFS.parquet_row_count
    monkeypatch.setattr(
        HadoopFS, "parquet_row_count",
        lambda self, p: footer_reads.append(p) or real_prc(self, p),
    )
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "compact-5k")
    t0 = time.monotonic()
    try:
        res = compact_parquet_dir(spark, path, target_file_bytes=512 * 1024 * 1024)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    wall = time.monotonic() - t0
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("compact-5k"))
    assert res["n_rows"] == 10 * n_files
    assert res["files_before"] == n_files
    assert res["files_after"] == 1
    assert spark.read.parquet(path).count() == 10 * n_files
    assert n_jobs <= 8, f"compaction must not scale jobs with file count: {n_jobs}"
    # the one-file rewrite's verify may read its footer; no source file's
    source_reads = [p for p in footer_reads if TMP_SUFFIX not in p]
    assert source_reads == [], f"{len(source_reads)} serial source footer reads"
    print(f"\ncompact 5k files: {wall:.1f}s wall, {n_jobs} jobs")


def test_compact_streaming_sink_collapses_batch_dirs(spark, tmp_path):
    """The real streaming layout: many batchid=<id> partitions collapse to
    few files; batchid survives as a column with identical per-batch
    counts."""
    out = str(tmp_path / "sink_out")
    base = spark.range(0, 900).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("batch")
    )
    for b in range(9):
        base.filter(F.col("k") % 9 == b).drop("batch").repartition(3).write.parquet(
            os.path.join(out, "logs", f"batchid={b}")
        )
    before = spark.read.parquet(os.path.join(out, "logs"))
    per_batch_before = {
        r["batchid"]: r["n"]
        for r in before.groupBy("batchid").agg(F.count("*").alias("n")).collect()
    }
    res = compact_parquet_dir(spark, join_path(out, "logs"))
    assert res["n_rows"] == 900
    assert res["files_after"] < res["files_before"]
    after = spark.read.parquet(os.path.join(out, "logs"))
    assert "batchid" in after.columns
    per_batch_after = {
        r["batchid"]: r["n"]
        for r in after.groupBy("batchid").agg(F.count("*").alias("n")).collect()
    }
    assert per_batch_after == per_batch_before


def test_maintenance_cli_compact_sink(spark, tmp_path, capsys):
    """``compact PATH --sink NAME`` compacts the sink directory PATH/NAME."""
    import json

    from otel_logger_spark.maintenance import main

    out = str(tmp_path / "m_out")
    _fragmented(spark, os.path.join(out, "logs"), n_rows=2000, n_files=16)
    assert main(["compact", out, "--sink", "logs"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_rows"] == 2000 and rep["files_after"] < rep["files_before"]
    assert spark.read.parquet(os.path.join(out, "logs")).count() == 2000


def test_maintenance_cli_compact_and_expire(spark, tmp_path, capsys):
    """The maintenance CLI wires both operators and prints the JSON audit
    report (in-process: get_spark reuses the session fixture)."""
    import json

    from otel_logger_spark.maintenance import main

    path = str(tmp_path / "m_frag")
    _fragmented(spark, path, n_rows=2000, n_files=16)
    assert main(["compact", path, "--target-file-mb", "512"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_rows"] == 2000 and rep["files_after"] < rep["files_before"]

    dated = str(tmp_path / "m_dated")
    from datetime import datetime

    rows = [(f"c{j}", datetime(2024, 1, d, 8, 0, 0)) for d in (2, 20) for j in range(5)]
    df = spark.createDataFrame(rows, "conv_id string, event_ts timestamp")
    df.withColumn("event_date", F.to_date("event_ts")).write.partitionBy(
        "event_date"
    ).parquet(dated)
    assert main(["expire", dated, "--before", "2024-01-10"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [e["n_rows"] for e in rep["expired"]] == [5]
    assert rep["kept"] == ["2024-01-20"]
