"""Sink-format dispatch (K1 parity: createExporter, main.go:330-345),
passthrough tee (K3), and footer-based lineage."""

import os

import pytest

from otel_logger_spark.operators.rollups import conversation_metrics
from otel_logger_spark.operators.sinks import (
    resolve_sink_format,
    write_routed_sinks,
)
from otel_logger_spark.pipeline import build_parsed
from otel_logger_spark.synth import write_transcripts


def test_resolve_sink_format_env(monkeypatch):
    monkeypatch.delenv("OTEL_SPARK_SINK_FORMAT", raising=False)
    monkeypatch.delenv("OTEL_SPARK_SINK_FORMAT_LOGS", raising=False)
    assert resolve_sink_format() == "parquet"  # default
    monkeypatch.setenv("OTEL_SPARK_SINK_FORMAT", "json")
    assert resolve_sink_format() == "json"
    # sink-specific var overrides generic (OTEL_..._LOGS_PROTOCOL semantics)
    monkeypatch.setenv("OTEL_SPARK_SINK_FORMAT_LOGS", "PARQUET")
    assert resolve_sink_format() == "parquet"
    # unsupported -> error, not silent default (main.go:342-344)
    monkeypatch.setenv("OTEL_SPARK_SINK_FORMAT_LOGS", "grpc")
    with pytest.raises(ValueError, match="unsupported sink format"):
        resolve_sink_format()


def test_passthrough_tee_and_json_format(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "t.parquet")
    write_transcripts(src, n_convs=15, seed=5)
    routed = build_parsed(spark.read.parquet(src))
    out = str(tmp_path / "out")
    monkeypatch.setenv("OTEL_SPARK_SINK_FORMAT", "json")
    manifest = write_routed_sinks(
        routed,
        conversation_metrics(routed),
        out,
        run_id="fmt1",
        passthrough_raw=True,
    )
    assert set(manifest["sinks"]) == {
        "logs", "error", "tool_call", "raw", "conversation_metrics",
    }
    # tee carries every entry, raw text only
    assert manifest["sinks"]["raw"]["n_rows"] == manifest["sinks"]["logs"]["n_rows"]
    raw = spark.read.json(os.path.join(out, "raw"))
    assert set(raw.columns) == {"conv_id", "turn_idx", "role", "raw"}
    assert raw.count() == manifest["sinks"]["raw"]["n_rows"]


def test_date_partitioned_logs_sink(spark, tmp_path):
    src = str(tmp_path / "t2.parquet")
    write_transcripts(src, n_convs=10, seed=6)
    routed = build_parsed(spark.read.parquet(src))
    out = str(tmp_path / "out2")
    manifest = write_routed_sinks(
        routed, None, out, run_id="p1", partition_logs_by_date=True
    )
    logs_dir = os.path.join(out, "logs")
    subdirs = [d for d in os.listdir(logs_dir) if d.startswith("event_date=")]
    assert subdirs, "expected hive-style date partitions"
    logs = spark.read.parquet(logs_dir)
    assert "event_date" in logs.columns
    assert logs.count() == manifest["sinks"]["logs"]["n_rows"]
    # footer lineage recursed into the partition dirs
    assert sum(p["n_rows"] for p in manifest["sinks"]["logs"]["partitions"]) == logs.count()
    # derived sinks still consistent when reading a partitioned staged table
    assert manifest["sinks"]["error"]["n_rows"] == logs.filter("severity_num >= 17").count()


def test_env_precedence_matrix(monkeypatch):
    """config_test.go-style matrix: generic vs sink-specific precedence for
    format, URI, and writer options across ALL sinks."""
    from otel_logger_spark.operators.sinks import (
        resolve_sink_options,
        resolve_sink_path,
    )

    for v in (
        "OTEL_SPARK_SINK_FORMAT", "OTEL_SPARK_SINK_URI", "OTEL_SPARK_SINK_OPTIONS",
    ):
        monkeypatch.delenv(v, raising=False)
        for s in ("LOGS", "ERROR", "TOOL_CALL", "CONVERSATION_METRICS", "RAW"):
            monkeypatch.delenv(f"{v}_{s}", raising=False)

    # format: default -> generic -> specific, per sink
    assert resolve_sink_format(sink="error") == "parquet"
    monkeypatch.setenv("OTEL_SPARK_SINK_FORMAT", "json")
    assert resolve_sink_format(sink="error") == "json"
    assert resolve_sink_format(sink="tool_call") == "json"
    monkeypatch.setenv("OTEL_SPARK_SINK_FORMAT_ERROR", "parquet")
    assert resolve_sink_format(sink="error") == "parquet"  # specific wins
    assert resolve_sink_format(sink="tool_call") == "json"  # others keep generic
    with pytest.raises(ValueError):
        monkeypatch.setenv("OTEL_SPARK_SINK_FORMAT_ERROR", "grpc")
        resolve_sink_format(sink="error")
    monkeypatch.delenv("OTEL_SPARK_SINK_FORMAT_ERROR")

    # URI (ENDPOINT analogue): default base -> generic base -> full override
    assert resolve_sink_path("/out", "logs") == "/out/logs"
    monkeypatch.setenv("OTEL_SPARK_SINK_URI", "s3a://bucket/base")
    assert resolve_sink_path("/out", "logs") == "s3a://bucket/base/logs"
    assert resolve_sink_path("/out", "error") == "s3a://bucket/base/error"
    monkeypatch.setenv("OTEL_SPARK_SINK_URI_ERROR", "s3a://other/errors")
    assert resolve_sink_path("/out", "error") == "s3a://other/errors"
    assert resolve_sink_path("/out", "logs") == "s3a://bucket/base/logs"

    # options (HEADERS analogue): k=v,k2=v2; specific replaces generic
    assert resolve_sink_options("logs") == {}
    monkeypatch.setenv("OTEL_SPARK_SINK_OPTIONS", "compression=zstd")
    assert resolve_sink_options("logs") == {"compression": "zstd"}
    monkeypatch.setenv(
        "OTEL_SPARK_SINK_OPTIONS_LOGS", "compression=gzip, maxRecordsPerFile=100"
    )
    assert resolve_sink_options("logs") == {
        "compression": "gzip", "maxRecordsPerFile": "100",
    }
    assert resolve_sink_options("error") == {"compression": "zstd"}
    with pytest.raises(ValueError, match="bad sink option"):
        monkeypatch.setenv("OTEL_SPARK_SINK_OPTIONS", "nonsense")
        resolve_sink_options("error")


def test_per_sink_env_applied_end_to_end(spark, tmp_path, monkeypatch):
    """The error sink lands at its URI override in its overridden format;
    other sinks are untouched."""
    src = str(tmp_path / "t3.parquet")
    write_transcripts(src, n_convs=10, seed=9)
    routed = build_parsed(spark.read.parquet(src))
    out = str(tmp_path / "out3")
    err_out = str(tmp_path / "err_elsewhere")
    monkeypatch.setenv("OTEL_SPARK_SINK_FORMAT_ERROR", "json")
    monkeypatch.setenv("OTEL_SPARK_SINK_URI_ERROR", err_out)
    manifest = write_routed_sinks(routed, None, out, run_id="env1")
    assert manifest["sinks"]["error"]["path"] == err_out
    got = spark.read.json(err_out)
    assert got.count() == manifest["sinks"]["error"]["n_rows"]
    assert not os.path.exists(os.path.join(out, "error"))
    assert os.path.exists(os.path.join(out, "logs"))


def test_zero_row_sink_keeps_schema_and_one_empty_part(spark, tmp_path):
    """Text input with no tool calls: the 0-row tool_call overwrite still
    leaves one part file that carries the logs columns, and its lineage is
    that one part with 0 rows."""
    from otel_logger_spark.sources.textfile import read_log_files

    d = tmp_path / "text"
    d.mkdir()
    (d / "a.log").write_text("INFO start\nERROR boom\n  at x\n")
    (d / "b.log").write_text("plain line\n")
    out = str(tmp_path / "out0")
    manifest = write_routed_sinks(build_parsed(read_log_files(spark, str(d))), None, out)
    tool_call = manifest["sinks"]["tool_call"]
    assert tool_call["n_rows"] == 0
    assert [p["n_rows"] for p in tool_call["partitions"]] == [0]
    got = spark.read.parquet(os.path.join(out, "tool_call"))
    assert got.count() == 0
    assert got.columns == spark.read.parquet(os.path.join(out, "logs")).columns


def _footer_codecs(sink_dir: str) -> set[str]:
    import glob

    import pyarrow.parquet as pq

    codecs = set()
    for f in glob.glob(os.path.join(sink_dir, "**", "*.parquet"), recursive=True):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            codecs.update(rg.column(c).compression for c in range(rg.num_columns))
    return codecs


def test_sink_codec_default_and_per_sink_option(spark, tmp_path, monkeypatch):
    """Parquet sinks default to snappy; OTEL_SPARK_SINK_OPTIONS_<SINK>
    =compression=... changes the codec of that sink only."""
    for v in ("OTEL_SPARK_SINK_OPTIONS", "OTEL_SPARK_SINK_OPTIONS_LOGS"):
        monkeypatch.delenv(v, raising=False)
    src = str(tmp_path / "tc.parquet")
    write_transcripts(src, n_convs=10, seed=11)
    routed = build_parsed(spark.read.parquet(src))
    sinks = ("logs", "error", "tool_call", "conversation_metrics")

    out = str(tmp_path / "default")
    write_routed_sinks(routed, None, out, run_id="c1")
    for s in sinks:
        assert _footer_codecs(os.path.join(out, s)) == {"SNAPPY"}, s

    monkeypatch.setenv("OTEL_SPARK_SINK_OPTIONS_LOGS", "compression=zstd")
    out = str(tmp_path / "zstd_logs")
    write_routed_sinks(routed, None, out, run_id="c2")
    assert _footer_codecs(os.path.join(out, "logs")) == {"ZSTD"}
    for s in sinks[1:]:
        assert _footer_codecs(os.path.join(out, s)) == {"SNAPPY"}, s


def test_json_logs_sink_partitioned_by_date(spark, tmp_path, monkeypatch):
    """A json logs sink honours partition_logs_by_date: it lands in
    event_date= directories (the layout operators/retention.py expects)
    with every row of the manifest count."""
    monkeypatch.setenv("OTEL_SPARK_SINK_FORMAT_LOGS", "json")
    src = str(tmp_path / "tj.parquet")
    write_transcripts(src, n_convs=10, seed=6)
    out = str(tmp_path / "outj")
    manifest = write_routed_sinks(
        build_parsed(spark.read.parquet(src)),
        None,
        out,
        run_id="pj",
        partition_logs_by_date=True,
    )
    logs_dir = os.path.join(out, "logs")
    assert [d for d in os.listdir(logs_dir) if d.startswith("event_date=")]
    logs = spark.read.json(logs_dir)
    assert "event_date" in logs.columns
    assert logs.count() == manifest["sinks"]["logs"]["n_rows"] > 0


def test_export_timeout_restores_job_group_properties(spark):
    """A timed sink export leaves none of its job-group properties on the
    calling thread, so later jobs there carry no stale group, description
    or interrupt flag."""
    from otel_logger_spark.operators.sinks import _run_with_timeout

    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    before = [sc.getLocalProperty(k) for k in keys]
    assert _run_with_timeout(spark, "g1", 60_000, lambda: spark.range(3).count()) == 3
    assert [sc.getLocalProperty(k) for k in keys] == before
