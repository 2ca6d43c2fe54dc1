"""Streaming analytics parity: the template-mining and rate-spike
partials written per micro-batch finalize to EXACTLY the batch operators'
answers, across >= 3 micro-batches with keys (templates, buckets,
conversations) deliberately spanning batch boundaries."""

import os
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from otel_logger_spark.functions.templates import template_counts
from otel_logger_spark.operators.anomaly import rate_spikes
from otel_logger_spark.streaming.analytics import (
    analytics_sinks,
    read_rate_spikes,
    read_template_counts,
)
from otel_logger_spark.streaming.pipeline import (
    read_stream,
    start_batch_sinks,
    write_batch_sinks,
)

T0 = datetime(2024, 3, 1, 0, 0, 0)


def _rows():
    """Transcript rows: alternating 2/4 hourly baseline for 12 buckets
    then a 9-event spike bucket, across two roles (only role 'a' spikes);
    templated texts repeat across conversations and hours."""
    rows = []
    for i, n in enumerate([2, 4] * 6 + [9]):
        for j in range(n):
            rows.append((
                f"conv-{j % 3}", i * 10 + j, "a",
                f"request {i * 100 + j} from 10.0.0.{j % 5} took {j}ms",
                None, T0 + timedelta(hours=i, minutes=j % 60),
            ))
    for i in range(13):
        rows.append((
            f"conv-{i % 2}", 1000 + i, "b",
            f"heartbeat 0x{i:x} ok", None, T0 + timedelta(hours=i),
        ))
    return rows


def _write_files(spark, tmp_path, n_files=4):
    d = str(tmp_path / "analytics_in")
    os.makedirs(d, exist_ok=True)
    rows = _rows()
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    for i in range(n_files):
        spark.createDataFrame(
            rows[i::n_files], schema
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/f{i}")
    # flatten: the file source lists recursively only with a glob; move files up
    import glob
    import shutil
    for i, f in enumerate(sorted(glob.glob(f"{d}/f*/part-*.parquet"))):
        shutil.move(f, f"{d}/part-{i}.parquet")
    for i in range(n_files):
        shutil.rmtree(f"{d}/f{i}")
    return d


def test_streaming_analytics_matches_batch(spark, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    in_dir = _write_files(spark, tmp_path)
    out = str(tmp_path / "analytics_out")
    ckpt = str(tmp_path / "analytics_ckpt")
    q = start_batch_sinks(
        read_stream(spark, in_dir, max_files_per_trigger=1), out, ckpt,
        lambda b: analytics_sinks(b, group_cols=("role",), bucket_seconds=3600),
    )
    q.awaitTermination(300)

    # >= 3 real micro-batches (one file each)
    batch_dirs = os.listdir(os.path.join(out, "template_partials"))
    assert len([d for d in batch_dirs if d.startswith("batchid=")]) >= 3

    static = spark.read.parquet(in_dir).filter(F.length("text") > 0)

    # template parity (n + the non-sum-decomposable n_convs)
    got_t = {
        (r["template"], r["n"], r["n_convs"])
        for r in read_template_counts(spark, out).collect()
    }
    exp_t = {
        (r["template"], r["n"], r["n_convs"])
        for r in template_counts(static).collect()
    }
    assert got_t == exp_t and len(got_t) > 0

    # rate-spike parity: buckets span micro-batches, the detector answers
    # identically; role 'a' flags its 9-event bucket, role 'b' stays flat
    kw = dict(group_cols=("role",), bucket_seconds=3600, trailing=6, z=3)
    got_r = sorted(map(tuple, read_rate_spikes(spark, out, **kw).collect()))
    exp_r = sorted(map(tuple, rate_spikes(static, ts_col="ts", **kw).collect()))
    assert got_r == exp_r and len(got_r) == 1
    assert got_r[0][0] == "a" and got_r[0][2] == 9

    # CMS parity: the union of per-batch sketches IS the batch sketch
    # (cell-wise merge law), so estimates agree key-for-key too
    from otel_logger_spark.functions.cms import cms_estimate, cms_sketch
    from otel_logger_spark.streaming.analytics import read_cms_sketch

    got_s = sorted(map(tuple, read_cms_sketch(spark, out).collect()))
    exp_s = sorted(map(tuple, cms_sketch(static, "conv_id").collect()))
    assert got_s == exp_s and len(got_s) > 0
    got_e = sorted(map(tuple, cms_estimate(
        read_cms_sketch(spark, out), static, "conv_id").collect()))
    exp_e = sorted(map(tuple, cms_estimate(
        cms_sketch(static, "conv_id"), static, "conv_id").collect()))
    assert got_e == exp_e


def test_streaming_analytics_batch_retry_is_idempotent(spark, tmp_path):
    """Re-running a batch id (redelivery after a failure between sink
    writes) overwrites its own partial directory instead of
    double-appending."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [("c1", 0, "a", "n 1", None, T0)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = str(tmp_path / "retry_out")
    write_batch_sinks(df, 7, out, analytics_sinks)
    write_batch_sinks(df, 7, out, analytics_sinks)  # redelivered
    t = read_template_counts(spark, out).collect()
    assert [(r["template"], r["n"], r["n_convs"]) for r in t] == [("n <n>", 1, 1)]
    # CMS partial is batchid-idempotent too: one row, one cell count each
    from otel_logger_spark.streaming.analytics import read_cms_sketch

    cells = read_cms_sketch(spark, out).collect()
    assert all(r["cnt"] == 1 for r in cells) and len(cells) == 4  # d rows
