"""The one part-file inventory (fsio.parquet_part_files) counts what
Spark's reader reads.

A sink or date partition can hold parquet files Spark's reader skips: a
failed task's ``_temporary/0/<task>/part-*.parquet`` or a ``.x.parquet``
left by a copy tool. Sink lineage, compaction's verify and the TTL audit
all read the inventory, so each must report the reader's rows and files,
at both the driver tier (few files: footer reads) and the distributed
tier (one scan), and the two tiers must agree.
"""

from __future__ import annotations

import os
import shutil
from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

import otel_logger_spark.fsio as fsio
from otel_logger_spark.fsio import parquet_part_files
from otel_logger_spark.operators.compact import compact_parquet_dir
from otel_logger_spark.operators.retention import expire_partitions
from otel_logger_spark.operators.sinks import parquet_partition_lineage

TIERS = {"driver": fsio.SMALL_SINK_MAX_FILES, "distributed": 0}


@pytest.fixture(params=sorted(TIERS))
def tier(request, monkeypatch):
    monkeypatch.setattr(fsio, "SMALL_SINK_MAX_FILES", TIERS[request.param])
    return request.param


def _stray_copies(spark, tmp_path, d):
    """Drop two parquet files the reader skips into directory ``d``: a
    failed task's 24-row part under ``_temporary`` and a 5-row dot file."""
    for n, rel in ((24, "_temporary/0/task_x/part-stray.parquet"),
                   (5, ".x.parquet")):
        donor = str(tmp_path / f"donor{n}")
        if not os.path.exists(donor):
            spark.range(0, n).select(F.col("id").alias("k")).coalesce(
                1
            ).write.parquet(donor)
        part = next(f for f in os.listdir(donor) if f.endswith(".parquet"))
        os.makedirs(os.path.dirname(os.path.join(d, rel)), exist_ok=True)
        shutil.copy(os.path.join(donor, part), os.path.join(d, rel))


def _visible_files(spark, path):
    return sorted(spark.read.parquet(path).inputFiles())


def test_lineage_and_compaction_skip_hidden_part_files(spark, tmp_path, tier):
    path = str(tmp_path / "sink dir")
    spark.range(0, 100).select(F.col("id").alias("k")).repartition(
        2
    ).write.parquet(path)
    _stray_copies(spark, tmp_path, path)
    want = spark.read.parquet(path).count()
    assert want == 100

    parts = parquet_partition_lineage(spark, path)
    assert sum(p["n_rows"] for p in parts) == want
    assert len(parts) == len(_visible_files(spark, path)) == 2
    assert all(p["file"].startswith("part-") for p in parts)

    res = compact_parquet_dir(spark, path)
    assert res["n_rows"] == want
    assert res["files_before"] == 2 and res["files_after"] == 1
    assert spark.read.parquet(path).count() == want


def test_ttl_audit_skips_hidden_part_files(spark, tmp_path, tier):
    path = str(tmp_path / "dated")
    rows = [(f"c{d}-{j}", datetime(2024, 1, d, 12, 0, 0))
            for d in (1, 2, 9) for j in range(10 * d)]
    spark.createDataFrame(rows, "conv_id string, event_ts timestamp").withColumn(
        "event_date", F.to_date("event_ts")
    ).write.partitionBy("event_date").parquet(path)
    _stray_copies(spark, tmp_path, os.path.join(path, "event_date=2024-01-01"))

    read = spark.read.parquet(path)
    want = [
        (f"event_date={d}",
         read.filter(F.col("event_date") == d).count(),
         len(_visible_files(spark, os.path.join(path, f"event_date={d}"))))
        for d in ("2024-01-01", "2024-01-02")
    ]
    assert [n for _, n, _ in want] == [10, 20]
    res = expire_partitions(spark, path, before=date(2024, 1, 5), dry_run=True)
    got = [(e["partition"], e["n_rows"], e["n_files"]) for e in res["expired"]]
    assert got == want


def test_driver_and_distributed_tiers_agree(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "sink dir")
    spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p")
    ).repartition(4).write.partitionBy("p").parquet(path)
    _stray_copies(spark, tmp_path, path)
    _stray_copies(spark, tmp_path, os.path.join(path, "p=1"))
    driver = parquet_part_files(spark, path)
    monkeypatch.setattr(fsio, "SMALL_SINK_MAX_FILES", 0)
    distributed = parquet_part_files(spark, path)
    assert driver == distributed
    assert sum(n for _, _, n in driver) == spark.read.parquet(path).count()
    assert len(driver) == len(_visible_files(spark, path))
    dirs = [os.path.join(path, "p=0"), os.path.join(path, "p=2")]
    assert parquet_part_files(spark, path, dirs) == [
        f for f in driver if not f[0].startswith("p=1/")
    ]
