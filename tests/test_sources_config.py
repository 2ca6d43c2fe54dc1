"""Tests: raw log-file source (stdin-mode analog), reference-style config
parsing (config_test.go parity), salted metrics equivalence, and the CLI."""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from otel_logger_spark.config import PipelineConfig
from otel_logger_spark.operators.rollups import conversation_metrics
from otel_logger_spark.operators.skew import conversation_metrics_salted
from otel_logger_spark.pipeline import build_parsed
from otel_logger_spark.sources.textfile import read_log_files
from otel_logger_spark.synth import write_transcripts

MIXED_LOG = """2024-01-15T10:30:45Z {"level": "info", "message": "prefixed json"}
{"timestamp":"2024-01-15T10:30:46Z","level":"error","message":"pure json"}
plain text line
  continuation of plain text
{"malformed":"json"x}
"""


def test_read_log_files_preserves_order(spark, tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text(MIXED_LOG)
    (d / "b.log").write_text("only line\n")
    df = read_log_files(spark, str(d))
    rows = df.orderBy("conv_id", "turn_idx").collect()
    a_rows = [r for r in rows if r["conv_id"].endswith("a.log")]
    assert [r["text"] for r in a_rows] == MIXED_LOG.split("\n")[:-1]
    assert [r["turn_idx"] for r in a_rows] == list(range(5))
    assert all(r["role"] == "stdin" for r in rows)


def test_log_files_through_pipeline(spark, tmp_path):
    d = tmp_path / "logs2"
    d.mkdir()
    (d / "app.log").write_text(MIXED_LOG)
    routed = build_parsed(read_log_files(spark, str(d)))
    rows = {r["message"]: r for r in routed.collect()}
    # multiline coalescer merged the continuation into the plain-text entry
    assert "plain text line\n  continuation of plain text" in rows
    assert rows["pure json"]["severity_num"] == 17
    assert rows["prefixed json"]["severity_num"] == 9


def test_crlf_log_lines_drop_cr(spark, tmp_path):
    """bufio.Scanner's ScanLines drops one trailing CR per line
    (main.go:419): a CRLF closer still joins the open entry, and no raw
    keeps the CR."""
    d = tmp_path / "crlf"
    d.mkdir()
    (d / "win.log").write_bytes(b"ERROR boom\r\n  at x\r\n}\r\nINFO next\r")
    routed = build_parsed(read_log_files(spark, str(d)))
    raws = [r["raw"] for r in routed.orderBy("turn_idx").collect()]
    assert raws == ["ERROR boom\n  at x\n}", "INFO next"]


def test_config_reference_args():
    import pytest

    cfg = PipelineConfig.from_reference_args(
        [
            "--json-prefix", r"^PREFIX\s*",
            "--timestamp-fields", "created_at,event_time",
            "--level-fields", "severity",
            "--level-fields", "priority",
            "--continuation-pattern", r"^\.\.\.",
            "--batch-size", "500",
            "--flush-interval", "1s",
            "--passthrough-stdout",
        ]
    )
    assert cfg.json_prefix == r"^PREFIX\s*"
    assert cfg.timestamp_fields == ("created_at", "event_time")
    assert cfg.level_fields == ("severity", "priority")  # repeatable flag accumulates
    assert cfg.message_fields == ("message", "msg", "text", "content")  # defaults kept
    assert cfg.continuation_pattern == r"^\.\.\."
    assert cfg.passthrough_raw_sink
    # --batch-size / --flush-interval parse (reference command lines stay
    # valid) and are validated, but no engine path reads them
    for bad in (["--batch-size", "x"], ["--flush-interval", "-1s"]):
        with pytest.raises(ValueError):
            PipelineConfig.from_reference_args(bad)
    # --flag=value (split on the first "=") means what --flag value means
    eq = PipelineConfig.from_reference_args(
        [
            r"--json-prefix=^P=\s*",
            "--timestamp-fields=created_at,event_time",
            "--level-fields=severity",
            "--level-fields", "priority",
            r"--continuation-pattern=^\.\.\.",
            "--batch-size=500",
            "--flush-interval=1s",
            "--unknown=1",
        ]
    )
    assert eq.json_prefix == r"^P=\s*"
    assert eq.timestamp_fields == ("created_at", "event_time")
    assert eq.level_fields == ("severity", "priority")
    assert eq.continuation_pattern == r"^\.\.\."
    for bad in (["--batch-size=x"], ["--flush-interval=-1s"]):
        with pytest.raises(ValueError):
            PipelineConfig.from_reference_args(bad)
    # a value flag at the end of the list has no value: named, not IndexError
    for flag in ("--json-prefix", "--level-fields", "--timeout"):
        with pytest.raises(ValueError, match=flag):
            PipelineConfig.from_reference_args(["--passthrough-stdout", flag])
    # a bool flag takes a Go ParseBool value after "="; the last spelling
    # of a flag wins, and either passthrough flag turns the raw tee on
    def raw(*argv):
        return PipelineConfig.from_reference_args(list(argv)).passthrough_raw_sink

    for on in ("true", "True", "TRUE", "t", "T", "1"):
        assert raw(f"--passthrough-stdout={on}")
        assert raw(f"--passthrough-stderr={on}")
    for off in ("false", "False", "FALSE", "f", "F", "0"):
        assert not raw(f"--passthrough-stdout={off}")
    assert not raw("--passthrough-stdout", "--passthrough-stdout=false")
    assert raw("--passthrough-stdout=false", "--passthrough-stderr")
    assert not raw()
    for bad in ("yes", "", "2"):
        with pytest.raises(ValueError, match="--passthrough-stderr"):
            raw(f"--passthrough-stderr={bad}")


def test_config_go_durations():
    import pytest

    from otel_logger_spark.config import go_duration_to_interval

    # Go time.Duration syntax (flag --flush-interval, main.go:38)
    assert go_duration_to_interval("500ms") == "500 milliseconds"
    assert go_duration_to_interval("1m") == "60000 milliseconds"
    assert go_duration_to_interval("2m30s") == "150000 milliseconds"
    assert go_duration_to_interval("1.5h") == "5400000 milliseconds"
    # sub-ms floors to the smallest non-zero trigger, never a 0 interval
    assert go_duration_to_interval("100us") == "1 milliseconds"
    assert go_duration_to_interval("1ns") == "1 milliseconds"
    # Go-valid digit forms: frac-only, trailing-dot int, signed, bare zero
    assert go_duration_to_interval(".5s") == "500 milliseconds"
    assert go_duration_to_interval("1.s") == "1000 milliseconds"
    assert go_duration_to_interval("+2s") == "2000 milliseconds"
    assert go_duration_to_interval("0") == "0 milliseconds"
    assert go_duration_to_interval("-0") == "0 milliseconds"
    assert go_duration_to_interval("0s") == "0 milliseconds"
    assert go_duration_to_interval("1μs") == "1 milliseconds"  # U+03BC alias
    for bad in ("", "5", "s", "5x", "5s5", "ms5", ".s", "-", "-1s"):
        with pytest.raises(ValueError):
            go_duration_to_interval(bad)


def test_custom_field_mapping_pipeline(spark, tmp_path):
    cfg = PipelineConfig(
        timestamp_fields=("created_at",),
        level_fields=("prio",),
        message_fields=("body",),
        coalesce_multiline=False,
    )
    from datetime import datetime

    rows = [
        ("c", 0, "user", '{"created_at":"2024-01-15T10:30:45Z","prio":"fatal","body":"custom"}', None, datetime(2024, 1, 2)),
        ("c", 1, "user", '{"level":"error","message":"ignored mapping"}', None, datetime(2024, 1, 2)),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    out = {r["turn_idx"]: r for r in build_parsed(df, config=cfg).collect()}
    assert out[0]["level"] == "fatal" and out[0]["severity_num"] == 21
    assert out[0]["message"] == "custom"
    # default keys are NOT consulted under custom mappings (main.go:621-630)
    assert out[1]["level"] == "info" and out[1]["message"] == "Log entry"
    import json as _json

    # pipeline default attrs format is the JSON string (AB_attrs_format.md)
    assert _json.loads(out[1]["attrs"]) == {
        "level": "error", "message": "ignored mapping",
    }


def test_salted_metrics_equals_unsalted(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    write_transcripts(path, n_convs=30, seed=11)
    routed = build_parsed(spark.read.parquet(path))
    a = conversation_metrics(routed).orderBy("conv_id").collect()
    b = conversation_metrics_salted(routed, buckets=8).orderBy("conv_id").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_cli_end_to_end(tmp_path):
    d = tmp_path / "logs3"
    d.mkdir()
    (d / "x.log").write_text(MIXED_LOG)
    out = str(tmp_path / "out")
    env = dict(os.environ, PYTHONPATH="/root/repo")
    res = subprocess.run(
        [sys.executable, "-m", "otel_logger_spark.cli", "--input", str(d),
         "--out", out, "--text-logs", "--cores", "2"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo", env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    counts = json.loads(res.stdout.strip().splitlines()[-1])
    assert counts["logs"] == 4  # 5 lines -> 4 entries (continuation merged)
    assert counts["error"] == 1


def test_cli_version():
    res = subprocess.run(
        [sys.executable, "-m", "otel_logger_spark.cli", "--version"],
        capture_output=True, text=True, timeout=60, cwd="/root/repo",
        env=dict(os.environ, PYTHONPATH="/root/repo"),
    )
    assert res.returncode == 0
    assert res.stdout.startswith("otel-logger-spark ")


def test_timeout_flag_mapping():
    from otel_logger_spark.config import PipelineConfig, go_duration_to_ms

    cfg = PipelineConfig.from_reference_args(["--timeout", "10s"])
    assert cfg.export_timeout_ms == 10_000
    assert PipelineConfig().export_timeout_ms is None  # no default deadline
    assert go_duration_to_ms("1.5s") == 1500
    assert go_duration_to_ms("100us") == 1  # sub-ms floors to 1, never 0
    # OTel export-timeout semantics: <= 0 disables the deadline entirely —
    # "--timeout 0" must NOT arm a Timer(0) that insta-cancels every sink
    assert go_duration_to_ms("0") == 0
    assert go_duration_to_ms("-5s") == -5000  # Go durations are signed
    for spelling in ("0", "-5s", "-1ns"):
        cfg = PipelineConfig.from_reference_args(["--timeout", spelling])
        assert cfg.export_timeout_ms is None, spelling
        cfg = PipelineConfig.from_reference_args([f"--timeout={spelling}"])
        assert cfg.export_timeout_ms is None, spelling
    assert PipelineConfig.from_reference_args(["--timeout=5s"]).export_timeout_ms == 5000


def test_timeout_zero_runs_sink_to_completion(spark, tmp_path):
    """--timeout 0 (no deadline) must let a write finish; a defensive
    direct call with timeout_ms=0 must behave the same."""
    import pyspark.sql.functions as F

    from otel_logger_spark.operators.sinks import _run_with_timeout, _write_one

    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    n, parts = _run_with_timeout(
        spark, "t0", 0, lambda: _write_one(df, str(tmp_path / "s0"))
    )
    assert n == 1000
    n, _ = _run_with_timeout(
        spark, "tneg", -1, lambda: _write_one(df, str(tmp_path / "s1"))
    )
    assert n == 1000
