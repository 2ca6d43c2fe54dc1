"""Targeted delete propagation (operators/forget.py): exact purge
accounting, zero-match no-op, the expected-rows verify abort leaving
the source untouched, per-partition fan-out across sinks, and guards."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from otel_logger_spark.operators.forget import forget_parquet_dir, forget_sinks


def _write(spark, path, rows, schema="conv_id long, v string", parts=2):
    spark.createDataFrame(rows, schema).repartition(parts).write.mode(
        "overwrite"
    ).parquet(path)


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "conv_id long")


def test_purge_exact_accounting(spark, tmp_path):
    p = str(tmp_path / "sink")
    _write(spark, p, [(i, f"r{i}") for i in range(100)])
    rep = forget_parquet_dir(spark, p, _keys(spark, [3, 7, 7, 500]), "conv_id")
    assert rep["matched"] == 2 and rep["rows_removed"] == 2
    assert rep["n_rows"] == 98 and rep["skipped"] is False
    left = {r["conv_id"] for r in spark.read.parquet(p).collect()}
    assert left == set(range(100)) - {3, 7}


def test_zero_match_leaves_files_untouched(spark, tmp_path):
    p = str(tmp_path / "sink0")
    _write(spark, p, [(i, "x") for i in range(10)])
    before = sorted(glob.glob(f"{p}/part-*"))
    rep = forget_parquet_dir(spark, p, _keys(spark, [999]), "conv_id")
    assert rep == {"matched": 0, "rows_removed": 0, "skipped": True}
    assert sorted(glob.glob(f"{p}/part-*")) == before


def test_expected_rows_verify_abort_preserves_source(spark, tmp_path):
    """A rewrite whose row delta disagrees with the declared expectation
    must abort with the source byte-identical and the tmp removed."""
    from otel_logger_spark.operators.compact import rewrite_verify_swap

    p = str(tmp_path / "sinkv")
    _write(spark, p, [(i, "x") for i in range(50)])
    before = sorted(glob.glob(f"{p}/part-*"))
    with pytest.raises(RuntimeError, match="verify failed"):
        rewrite_verify_swap(
            spark, p,
            lambda df, n: df.filter(F.col("conv_id") >= 10).repartition(n),
            expected_rows=lambda src: src - 999,   # wrong on purpose
        )
    assert sorted(glob.glob(f"{p}/part-*")) == before
    assert not os.path.exists(p + ".compact_tmp")


def test_forget_sinks_partitioned_and_flat(spark, tmp_path):
    out = str(tmp_path / "out")
    # partitioned sink: two event_date dirs, matches only in one
    _write(spark, f"{out}/logs/event_date=2026-01-01",
           [(i, "a") for i in range(10)])
    _write(spark, f"{out}/logs/event_date=2026-01-02",
           [(i + 100, "b") for i in range(10)])
    # flat sink with matches
    _write(spark, f"{out}/error", [(1, "e"), (2, "e"), (105, "e")])
    reps = forget_sinks(
        spark, out, ["logs", "error", "ghost"], _keys(spark, [1, 105]),
        "conv_id",
    )
    assert reps["logs/event_date=2026-01-01"]["matched"] == 1
    assert reps["logs/event_date=2026-01-02"]["matched"] == 1
    assert reps["error"]["matched"] == 2
    assert reps["ghost"]["missing"] is True
    assert {r["conv_id"] for r in
            spark.read.parquet(f"{out}/logs").collect()} == (
        set(range(10)) | {i + 100 for i in range(10)}) - {1, 105}


def test_missing_key_column_raises(spark, tmp_path):
    p = str(tmp_path / "badcol")
    _write(spark, p, [(1, "x")])
    keys = spark.createDataFrame([(1,)], "user_id long")
    with pytest.raises(ValueError, match="no column"):
        forget_parquet_dir(spark, p, keys, "user_id")


def test_parquet_keys_broadcast_past_size_threshold(spark, tmp_path, monkeypatch):
    """`maintenance forget` reads its tombstone set from parquet, which
    Spark sizes by file bytes; a recall set past the size-based broadcast
    threshold must still broadcast rather than plan a sort-merge join
    that shuffles the sink. Switching the threshold off stands in for a
    keys file larger than it."""
    p = str(tmp_path / "sinkb")
    _write(spark, p, [(i, "x") for i in range(40)])
    kp = str(tmp_path / "keys")
    _keys(spark, [1, 2, 3]).write.parquet(kp)
    plans = []
    df_cls = type(spark.range(1))
    count = df_cls.count

    def recording_count(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return count(df)

    monkeypatch.setattr(df_cls, "count", recording_count)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rep = forget_sinks(
            spark, str(tmp_path), ["sinkb"], spark.read.parquet(kp), "conv_id"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert rep["sinkb"]["rows_removed"] == 3
    joins = [pl for pl in plans if "Join" in pl]
    assert joins
    assert all("BroadcastHashJoin" in pl and "SortMergeJoin" not in pl for pl in joins)
