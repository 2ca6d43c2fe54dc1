"""The raw log-file source's JVM line split: row-for-row parity with the
per-line Python reference and its output types, a linear plan, and a
default ``ts`` that does not depend on the Python process's local time zone."""

import json
import time
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from otel_logger_spark.sources.textfile import read_log_files
from textfile_reference import read_log_files_pandas

SCHEMA = "struct<conv_id:string,turn_idx:int,role:string,text:string,tool:string,ts:timestamp>"

FILES = {
    "empty.log": b"",
    "newlines_only.log": b"\n\n",
    "no_trailing_newline.log": b"first\nsecond",
    "cr.log": b"b\r\r\nmid\rline\r\nlast\r",
    "separators.log": "a\u2028b\u0085c\nplain\n".encode(),
    "big.log": "".join(f"line {i} {'x' * (i % 37)}\n" for i in range(10_000)).encode(),
}


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("textfile")
    for name, body in FILES.items():
        (d / name).write_bytes(body)
    return str(d)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_split_matches_python_reference(spark, log_dir):
    df = read_log_files(spark, log_dir)
    assert df.schema.simpleString() == SCHEMA
    got = _rows(df)
    want = _rows(read_log_files_pandas(spark, log_dir))
    assert got == want
    by_file = {}
    for conv_id, _, _, text, _, _ in got:
        by_file.setdefault(conv_id.rsplit("/", 1)[-1], []).append(text)
    assert "empty.log" not in by_file
    assert by_file["newlines_only.log"] == ["", ""]
    assert by_file["cr.log"] == ["b\r", "mid\rline", "last"]
    assert by_file["separators.log"] == ["a\u2028b\u0085c", "plain"]
    assert len(by_file["big.log"]) == 10_000


def test_generate_carries_only_the_file_key(spark, log_dir):
    """The file text feeds the generator only: a sibling expression over it
    would carry the whole file into every line's row (quadratic)."""
    plan = read_log_files(spark, log_dir)._jdf.queryExecution().sparkPlan()
    generates = [
        n for n in json.loads(plan.toJSON()) if n["class"].endswith(".GenerateExec")
    ]
    assert len(generates) == 1
    carried = [attr[0]["name"] for attr in generates[0]["requiredChildOutput"]]
    assert carried == ["conv_id"]


@pytest.fixture
def new_york_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_default_ts_ignores_driver_time_zone(spark, log_dir, new_york_tz):
    secs = F.unix_timestamp("ts").alias("s")
    assert {r["s"] for r in read_log_files(spark, log_dir).select(secs).collect()} == {0}
    aware = datetime(2024, 1, 15, 5, 30, tzinfo=timezone(timedelta(hours=-5)))
    got = read_log_files(spark, log_dir, default_ts=aware).select(secs).distinct().collect()
    assert [r["s"] for r in got] == [int(aware.timestamp())]
