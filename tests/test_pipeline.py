"""End-to-end pipeline tests on deterministic synthetic transcripts:
invariants from the reference + the graft contract.

- zero rows dropped: every coalesced entry lands in the logs sink
  (main.go:184-190 — parse can't fail; main.go:463-471 — no skips)
- raw/text equality: the ``raw`` column is byte-identical to the coalesced
  input text (log.record.original, main.go:298)
- routed-row-set equality and per-sink count equality
- resume: re-running a committed run_id performs no new writes
"""

import os

import pytest
from pyspark.sql import functions as F

from otel_logger_spark.operators.multiline import coalesce_entries, coalesce_entries_pandas
from otel_logger_spark.operators.rollups import conversation_metrics
from otel_logger_spark.operators.route import sink_counts
from otel_logger_spark.pipeline import build_parsed, run_pipeline
from otel_logger_spark.synth import synthesize_pandas, write_transcripts


@pytest.fixture(scope="module")
def transcripts(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("data") / "transcripts.parquet")
    n = write_transcripts(path, n_convs=60, seed=42)
    assert n > 0
    return spark.read.parquet(path)


def test_synth_deterministic():
    a = synthesize_pandas(10, seed=42)
    b = synthesize_pandas(10, seed=42)
    assert a.equals(b)


def test_no_rows_dropped(spark, transcripts):
    routed = build_parsed(transcripts)
    n_entries = routed.count()
    # expected: number of logical entries per the coalescer = logs sink size
    expected = coalesce_entries(transcripts).count()
    assert n_entries == expected
    counts = {r["sink"]: r["n"] for r in sink_counts(routed).collect()}
    assert counts["logs"] == n_entries


def test_raw_equals_coalesced_text(spark, transcripts):
    routed = build_parsed(transcripts)
    # raw must be byte-identical to the coalescer's output text
    entries = coalesce_entries(transcripts).select("conv_id", "turn_idx", "text")
    mismatch = (
        routed.select("conv_id", "turn_idx", "raw")
        .join(entries, ["conv_id", "turn_idx"], "full_outer")
        .filter(
            F.col("raw").isNull() | F.col("text").isNull() | (F.col("raw") != F.col("text"))
        )
        .count()
    )
    assert mismatch == 0
    # and coalesced text round-trips the original turns joined with \n
    entries = coalesce_entries(transcripts)
    joined = (
        entries.alias("w")
        .join(
            coalesce_entries_pandas(transcripts).alias("p"),
            ["conv_id", "turn_idx"],
            "full_outer",
        )
        .filter(
            F.col("w.text").isNull()
            | F.col("p.text").isNull()
            | (F.col("w.text") != F.col("p.text"))
        )
        .count()
    )
    assert joined == 0


def test_severity_enrichment_matches_expr(spark, transcripts):
    from otel_logger_spark.functions.parse import severity_expr

    routed = build_parsed(transcripts)
    bad = routed.filter(severity_expr(F.col("level")) != F.col("severity_num")).count()
    assert bad == 0
    sev = {r["severity_num"] for r in routed.select("severity_num").distinct().collect()}
    assert sev <= {1, 5, 9, 13, 17, 21}


def test_routing_predicates(spark, transcripts):
    routed = build_parsed(transcripts)
    assert routed.filter(F.col("is_error") & (F.col("severity_num") < 17)).count() == 0
    assert (
        routed.filter(F.col("is_tool_call") != F.col("tool").isNotNull()).count() == 0
    )
    # every row routed to >= 1 sink, logs always present
    assert routed.filter(F.size("sinks") < 1).count() == 0
    assert routed.filter(~F.array_contains("sinks", "logs")).count() == 0


def test_conversation_metrics_consistency(spark, transcripts):
    routed = build_parsed(transcripts)
    m = conversation_metrics(routed)
    totals = m.agg(
        F.sum("n_entries").alias("n"),
        F.sum("n_errors").alias("e"),
        F.sum("n_tool_calls").alias("t"),
    ).collect()[0]
    assert totals["n"] == routed.count()
    assert totals["e"] == routed.filter("is_error").count()
    assert totals["t"] == routed.filter("is_tool_call").count()
    # summary present for every conversation that produced entries
    assert m.count() == routed.select("conv_id").distinct().count()


def test_full_run_and_resume(spark, transcripts, tmp_path):
    src = str(tmp_path / "in.parquet")
    transcripts.limit(2000).toPandas().astype({"ts": "datetime64[us]"}).to_parquet(
        src, index=False
    )
    out = str(tmp_path / "out")
    manifest = run_pipeline(spark, src, out, run_id="r1")
    assert manifest["status"] == "committed"
    sinks = manifest["sinks"]
    assert set(sinks) == {"logs", "error", "tool_call", "conversation_metrics"}
    logs_n = sinks["logs"]["n_rows"]
    assert logs_n > 0
    assert sinks["error"]["n_rows"] + sinks["tool_call"]["n_rows"] <= 2 * logs_n
    # written files match manifest counts (routed-row-set equality on disk)
    assert spark.read.parquet(os.path.join(out, "logs")).count() == logs_n
    assert (
        spark.read.parquet(os.path.join(out, "error")).count()
        == sinks["error"]["n_rows"]
    )
    # per-partition lineage recorded
    assert sum(p["n_rows"] for p in sinks["logs"]["partitions"]) == logs_n
    # resume: same run_id -> all sinks skipped (wall times unchanged)
    m2 = run_pipeline(spark, src, out, run_id="r1")
    assert {k: v["n_rows"] for k, v in m2["sinks"].items()} == {
        k: v["n_rows"] for k, v in sinks.items()
    }
    assert {k: v["wall_sec"] for k, v in m2["sinks"].items()} == {
        k: v["wall_sec"] for k, v in sinks.items()
    }


def test_parse_udf_matches_pure_function(spark, transcripts):
    """The Arrow-batched UDF must agree with the pure parse_entry on every
    coalesced entry (plumbing check: MapType attrs, ts fallback, nulls)."""
    from otel_logger_spark.functions.parse import parse_entry

    routed = build_parsed(transcripts)
    sample = routed.select("raw", "ts", "event_ts", "level", "message", "attrs").limit(
        500
    ).collect()
    import json as _json

    for r in sample:
        ets, level, msg, attrs, ok = parse_entry(r["raw"])
        assert level == r["level"]
        assert msg == r["message"]
        got = r["attrs"]
        # the pipeline's adopted attrs format is the JSON string
        # (BENCH/AB_attrs_format.md) — decode before comparing
        got = _json.loads(got) if isinstance(got, str) else dict(got or {})
        assert (attrs or {}) == got
        if ets is None:
            assert r["event_ts"] == r["ts"]
        else:
            assert r["event_ts"] == ets.replace(tzinfo=None)


def test_extreme_skew_conversation(spark, tmp_path):
    """One conversation 1000x bigger than the rest must coalesce/aggregate
    correctly (AQE-split shuffle; window needs the conv co-partitioned)."""
    import pandas as pd
    from datetime import datetime, timedelta

    rows = []
    t0 = datetime(2024, 1, 15)
    for i in range(20000):  # hot conversation: alternating start/cont lines
        text = "  cont line" if i % 3 else f"2024-01-15T10:30:00Z INFO m{i}"
        rows.append(("hot", i, "assistant", text, None, t0 + timedelta(seconds=i)))
    for c in range(50):  # normal conversations
        for i in range(10):
            rows.append((f"c{c}", i, "user", f"msg {i}", None, t0))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]).astype(
        {"turn_idx": "int32", "ts": "datetime64[us]", "tool": "string"}
    )
    src = str(tmp_path / "skew.parquet")
    pdf.to_parquet(src, index=False)
    routed = build_parsed(spark.read.parquet(src), repartition=8)
    m = {r["conv_id"]: r for r in conversation_metrics(routed).collect()}
    # hot conv: starts at i%3==0 -> 6667 entries + soaks up its continuations
    assert m["hot"]["n_entries"] == len([i for i in range(20000) if i % 3 == 0])
    # entry turn_idx is the START line's index; 19999 is a continuation
    assert m["hot"]["last_turn_idx"] == 19998
    assert all(m[f"c{c}"]["n_entries"] == 10 for c in range(50))
    # salted variant agrees under skew
    from otel_logger_spark.operators.skew import conversation_metrics_salted

    ms = {r["conv_id"]: r for r in conversation_metrics_salted(routed, 8).collect()}
    assert {k: v["n_entries"] for k, v in ms.items()} == {
        k: v["n_entries"] for k, v in m.items()
    }


def test_resume_via_file_uri(spark, transcripts, tmp_path):
    """Lineage IO must work on scheme-qualified URIs through the Hadoop
    FileSystem layer (proving no raw-os dependency): full run + skip-resume
    with out_dir expressed as file:/..."""
    src = str(tmp_path / "in_uri.parquet")
    transcripts.limit(500).toPandas().astype({"ts": "datetime64[us]"}).to_parquet(
        src, index=False
    )
    out = "file://" + str(tmp_path / "out_uri")
    m1 = run_pipeline(spark, src, out, run_id="u1")
    assert m1["status"] == "committed"
    assert m1["sinks"]["logs"]["n_rows"] > 0
    assert sum(p["n_rows"] for p in m1["sinks"]["logs"]["partitions"]) == (
        m1["sinks"]["logs"]["n_rows"]
    )
    m2 = run_pipeline(spark, src, out, run_id="u1")  # resume skips all sinks
    assert {k: v["wall_sec"] for k, v in m2["sinks"].items()} == {
        k: v["wall_sec"] for k, v in m1["sinks"].items()
    }


def test_manifest_io_hadoop_fs(spark, tmp_path):
    """Unit test of manifest IO against the FS abstraction: roundtrip,
    atomic overwrite, and missing-manifest default — all via file:/ URIs."""
    from otel_logger_spark.operators.sinks import load_manifest, save_manifest

    out = "file://" + str(tmp_path / "mfs")
    assert load_manifest(spark, out, "rX") == {"run_id": "rX", "sinks": {}}
    m = {"run_id": "rX", "sinks": {"logs": {"status": "committed", "n_rows": 7}}}
    save_manifest(spark, out, m)
    assert load_manifest(spark, out, "rX") == m
    m["sinks"]["error"] = {"status": "committed", "n_rows": 1}
    save_manifest(spark, out, m)  # overwrite path (delete + rename)
    assert load_manifest(spark, out, "rX") == m
    # no stray tmp file left behind
    import os as _os

    d = str(tmp_path / "mfs" / "_lineage")
    names = [n for n in _os.listdir(d) if not n.endswith(".crc")]  # Hadoop
    # LocalFileSystem writes .crc checksum sidecars; no .tmp must remain
    assert names == ["rX.json"]


def test_enrich_expr_equals_join_variants(spark, transcripts):
    """The literal-map enrichment (default, codegen) must equal the
    broadcast-join variants kept for non-constant lookups."""
    from otel_logger_spark.functions.parse import with_parsed
    from otel_logger_spark.operators.enrich import (
        enrich_severity,
        enrich_severity_join,
        enrich_tool,
        enrich_tool_join,
    )

    parsed = with_parsed(transcripts.limit(3000))
    cols = ["conv_id", "turn_idx", "severity_num", "tool_category", "is_privileged"]
    expr = enrich_tool(enrich_severity(parsed)).select(*cols)
    join = enrich_tool_join(enrich_severity_join(parsed)).select(*cols)
    assert expr.exceptAll(join).count() == 0
    assert join.exceptAll(expr).count() == 0


def test_lineage_distributed_no_serial_footer_loop(spark, tmp_path, monkeypatch):
    """Per-partition lineage over MANY part files must come from one
    distributed job, never a per-file serial driver loop: write >=200 part
    files, assert zero HadoopFS.parquet_row_count calls during collection,
    then cross-check a sample of the distributed counts against real
    footer reads."""
    import otel_logger_spark.fsio as fsio
    from otel_logger_spark.fsio import HadoopFS, join_path
    from otel_logger_spark.operators.sinks import _write_one

    calls = []
    real_prc = HadoopFS.parquet_row_count
    monkeypatch.setattr(
        HadoopFS, "parquet_row_count",
        lambda self, p: calls.append(p) or real_prc(self, p),
    )
    df = spark.range(0, 50_000).select(
        F.col("id").alias("k"), (F.col("id") % 997).alias("v")
    ).repartition(220)
    path = str(tmp_path / "many_parts")
    n, parts = _write_one(df, path, "parquet")
    assert not calls, "lineage must not issue per-file driver footer reads"
    assert n == 50_000
    assert len(parts) >= 200
    assert sum(p["n_rows"] for p in parts) == n
    # manifest entry schema unchanged
    assert set(parts[0]) == {"partition_id", "n_rows", "file"}
    assert [p["partition_id"] for p in parts] == list(range(len(parts)))
    # distributed counts agree with genuine footer metadata on a sample
    fs = HadoopFS(spark, path)
    for p in parts[:: max(1, len(parts) // 3)][:3]:
        assert real_prc(fs, join_path(path, p["file"])) == p["n_rows"]


def test_lineage_small_sink_uses_driver_footers_no_spark_job(spark, tmp_path):
    """Below SMALL_SINK_MAX_FILES part files the lineage must come from
    driver footer reads, NOT a Spark job — the per-job fixed scheduling
    cost was the round-3 full_pipeline bench regression (+0.5 s at sf0.1
    from four per-sink footer-count jobs). Assert zero jobs run during the
    lineage call and that the counts equal the distributed formulation's."""
    from otel_logger_spark.operators.sinks import (
        _write_one,
        parquet_partition_lineage,
    )

    df = spark.range(0, 5_000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    ).repartition(8)
    path = str(tmp_path / "small_sink")
    n, parts = _write_one(df, path, "parquet")
    assert n == 5_000
    assert 1 <= len(parts) <= 8
    assert sum(p["n_rows"] for p in parts) == n
    # any job launched from this thread would inherit this job group
    sc = spark.sparkContext
    sc.setJobGroup("lineage-small-probe", "no jobs expected")
    try:
        parts2 = parquet_partition_lineage(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert parts2 == parts
    assert sc.statusTracker().getJobIdsForGroup("lineage-small-probe") == [], (
        "small-sink lineage must not launch Spark jobs"
    )


def test_lineage_read_errors_propagate_not_swallowed(spark, tmp_path):
    """A transient listing/footer failure must PROPAGATE, never be
    mistaken for a legitimately-empty (zero-row) sink — a blanket catch
    here would commit empty lineage that looks identical to success."""
    import pytest

    from otel_logger_spark.fsio import HadoopFS
    from otel_logger_spark.operators.sinks import parquet_partition_lineage

    df = spark.range(0, 100).select(F.col("id").alias("k"))
    path = str(tmp_path / "sink")
    df.repartition(2).write.parquet(path)

    boom = RuntimeError("transient object-store failure")

    def raising(self, p, suffix=".parquet"):
        raise boom

    orig = HadoopFS.list_files_recursive
    HadoopFS.list_files_recursive = raising
    try:
        with pytest.raises(RuntimeError, match="transient object-store"):
            parquet_partition_lineage(spark, path)
    finally:
        HadoopFS.list_files_recursive = orig
    # a sink directory with no part files at all (only commit markers —
    # what an overwrite of zero rows can leave) yields empty lineage
    empty = tmp_path / "empty_sink"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    assert parquet_partition_lineage(spark, str(empty)) == []
    # and an empty DataFrame's 0-row part file is legitimate 0-row lineage
    zdir = str(tmp_path / "zero_rows")
    spark.range(0, 10).filter("id < 0").write.parquet(zdir)
    parts0 = parquet_partition_lineage(spark, zdir)
    assert sum(p["n_rows"] for p in parts0) == 0


def test_manifest_overwrite_is_atomic_rename(spark, tmp_path):
    """Manifest overwrite must never pass through a window where the target
    is absent: on FileContext-capable schemes (local, HDFS) the rename is a
    single OVERWRITE step — assert no delete() is ever issued — and the
    fallback window is covered by .tmp recovery (next test)."""
    from otel_logger_spark.fsio import HadoopFS

    h = HadoopFS(spark, str(tmp_path))
    real_fs = h._fs

    class SpyFS:
        def __init__(self, real):
            self._real = real
            self.deletes = 0

        def delete(self, *a):
            self.deletes += 1
            return self._real.delete(*a)

        def __getattr__(self, name):
            return getattr(self._real, name)

    h._fs = SpyFS(real_fs)
    p = str(tmp_path / "m.json")
    h.write_text_atomic(p, "v1")
    h.write_text_atomic(p, "v2")  # overwrite of an existing target
    assert h._fs.deletes == 0, "overwrite must use atomic rename, not delete+rename"
    h._fs = real_fs
    assert h.read_text(p) == "v2"


def test_manifest_crash_window_recovers_from_tmp(spark, tmp_path):
    """Schemes without FileContext fall back to delete+rename; a crash in
    that window leaves only the COMPLETED .tmp — load_manifest must recover
    it instead of silently restarting all sinks."""
    import json as _json

    from otel_logger_spark.fsio import HadoopFS
    from otel_logger_spark.operators.sinks import (
        _manifest_path, load_manifest, save_manifest,
    )

    out = "file://" + str(tmp_path / "crashy")
    m = {"run_id": "rC", "sinks": {"logs": {"status": "committed", "n_rows": 5}}}
    save_manifest(spark, out, m)
    # simulate the fallback crash: target deleted, completed .tmp present
    fs = HadoopFS(spark, out)
    target = _manifest_path(out, "rC")
    fs.write_text_atomic(target + ".tmp_stage", "")  # ensure dir exists
    tmp_text = _json.dumps(m)
    h = fs._fs
    p = fs._p(target)
    # write the .tmp as the fallback would, then delete the target
    o = h.create(fs._p(target + ".tmp"), True)
    o.write(bytearray(tmp_text.encode()))
    o.close()
    h.delete(p, False)
    assert load_manifest(spark, out, "rC") == m  # recovered from .tmp


def test_attrs_format_json_equals_map(spark, transcripts, tmp_path):
    """The pipeline's JSON attrs (BENCH/AB_attrs_format.md) must be a pure
    storage-format change: every stored JSON string parses back to exactly
    the map with_parsed(attrs_format="map") builds from the same input."""
    from otel_logger_spark.functions.parse import with_parsed

    src = str(tmp_path / "in_attrs.parquet")
    transcripts.limit(800).toPandas().astype({"ts": "datetime64[us]"}).to_parquet(
        src, index=False
    )
    out_json = str(tmp_path / "out_json")
    m = run_pipeline(spark, src, out_json, run_id="aj")
    # canonicalized attrs equality row-by-row (sorted entry list: the JSON
    # string's key order is the UDF's insertion order, not the map's)
    canon = lambda c: F.to_json(F.array_sort(F.map_entries(c)))
    a = with_parsed(
        coalesce_entries(spark.read.parquet(src)), attrs_format="map"
    ).select("conv_id", "turn_idx", canon(F.col("attrs")).alias("a"))
    logs = spark.read.parquet(out_json + "/logs")
    assert logs.schema["attrs"].dataType.simpleString() == "string"
    b = logs.select(
        "conv_id",
        "turn_idx",
        canon(F.from_json("attrs", "map<string,string>")).alias("a"),
    )
    n = a.count()
    assert n == b.count() == m["sinks"]["logs"]["n_rows"]
    joined = a.join(b, ["conv_id", "turn_idx"])
    assert joined.count() == n
    assert joined.filter(a["a"] != b["a"]).count() == 0


def test_export_timeout_cancels_sink_and_resumes(spark, tmp_path):
    """--timeout parity (A3, main.go:35 -> WithExportTimeout main.go:357):
    a sink export exceeding the deadline is CANCELLED — the run fails, the
    manifest never marks that sink committed, and a later run without the
    deadline resumes and commits it (the reference's at-least-once retry
    shape)."""
    import time as _time

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from otel_logger_spark.operators.sinks import write_routed_sinks

    @pandas_udf("string")
    def slow_ident(s: pd.Series) -> pd.Series:
        _time.sleep(8)
        return s

    src = str(tmp_path / "in_to.parquet")
    transcripts_df = spark.createDataFrame(
        [("c", i, "user", f'{{"message":"m{i}"}}', None) for i in range(50)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    transcripts_df.write.mode("overwrite").parquet(src)

    routed = build_parsed(spark.read.parquet(src)).withColumn(
        "message", slow_ident(F.col("message"))  # force a slow export plan
    )
    out = str(tmp_path / "out_to")
    t0 = _time.monotonic()
    with pytest.raises(Exception):
        write_routed_sinks(
            routed, None, out, run_id="to1", export_timeout_ms=1500
        )
    took = _time.monotonic() - t0
    assert took < 60, f"timeout did not interrupt the write ({took:.0f}s)"
    from otel_logger_spark.operators.sinks import load_manifest

    m = load_manifest(spark, out, "to1")
    assert m["sinks"].get("logs", {}).get("status") != "committed"
    # resume WITHOUT the deadline: commits everything, zero rows dropped
    m2 = write_routed_sinks(
        build_parsed(spark.read.parquet(src)), None, out, run_id="to1"
    )
    assert m2["status"] == "committed"
    assert m2["sinks"]["logs"]["n_rows"] == 50
