"""The Python worker daemon (otel_logger_spark/worker_daemon.py): a reused
worker must not re-read an unchanged zip archive's directory before every
task, and must still re-read one that changed on disk."""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from otel_logger_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"  # the gates' smallest data directory


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("wd_zip_probe.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    zp = str(tmp_path / "probe.zip")
    _write_zip(zp, 1)
    monkeypatch.syspath_prepend(zp)
    monkeypatch.delitem(sys.modules, "wd_zip_probe", raising=False)
    import wd_zip_probe

    assert wd_zip_probe.VALUE == 1
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    reads = []
    stock_read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    def n_reads():
        reads.clear()
        importlib.invalidate_caches()
        return reads.count(zp)

    assert n_reads() == 1  # the importer's first call runs the stock method
    assert n_reads() == 0
    assert n_reads() == 0

    def reimport():
        del sys.modules["wd_zip_probe"]
        return importlib.import_module("wd_zip_probe").VALUE

    _write_zip(zp, 22)  # new size
    assert n_reads() == 1 and reimport() == 22
    assert n_reads() == 0
    _write_zip(zp, 33)  # same size: only the mtime tells
    st = os.stat(zp)
    os.utime(zp, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert n_reads() == 1 and reimport() == 33
    assert n_reads() == 0
    os.remove(zp)  # a failed stat always runs the stock method
    assert n_reads() == 1
    assert n_reads() == 1


def test_workers_run_the_patched_importer(spark):
    """Each task reports whether its worker runs the patched
    invalidate_caches and how many zip directories one more
    invalidate_caches() re-reads there (the worker already ran one for the
    task); the second run must re-read none."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        reads = [0]
        stock_read = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return stock_read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        for _ in batches:
            pass
        yield pd.DataFrame({
            "daemon_file": [
                zipimport.zipimporter.invalidate_caches.__code__.co_filename
            ],
            "reads": [reads[0]],
            "n_zip": [sum(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()
            )],
            "pid": [os.getpid()],
        })

    df = spark.range(0, 10, numPartitions=2)
    schema = "daemon_file string, reads long, n_zip long, pid long"
    runs = [df.mapInPandas(probe, schema).collect() for _ in range(2)]
    assert all(len(rows) == 2 for rows in runs)
    daemon_file = os.path.realpath(worker_daemon.__file__)
    for r in runs[1]:
        assert os.path.realpath(r["daemon_file"]) == daemon_file
        # pyspark itself is imported from pyspark.zip on the workers
        assert r["n_zip"] > 0
        assert r["reads"] == 0


def test_get_spark_names_the_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == (
        "otel_logger_spark.worker_daemon"
    )


def test_ship_package_leaves_get_spark_sessions_alone(spark):
    from otel_logger_spark.session import ship_package

    ship_package(spark)
    assert not hasattr(spark.sparkContext, "_otel_package_zip")


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver that finds the package only through sys.path (no
    PYTHONPATH, cwd outside the repository) still runs the parse UDF:
    get_spark hands the package's parent to the workers' PYTHONPATH."""
    script = textwrap.dedent(f"""
        import datetime, json, sys
        sys.path.insert(0, {REPO!r})
        from otel_logger_spark.pipeline import build_parsed
        from otel_logger_spark.schemas import TRANSCRIPT_SCHEMA
        from otel_logger_spark.session import get_spark

        spark = get_spark("cwd-probe", cores=2, shuffle_partitions=2)
        ts = datetime.datetime(2024, 1, 1)
        rows = [
            ("c1", 0, "assistant", '{{"level": "error", "msg": "boom"}}', None, ts),
            ("c1", 1, "assistant", "INFO plain line", None, ts),
        ]
        df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
        out = build_parsed(df).orderBy("turn_idx").select("message", "json_ok")
        print(json.dumps([list(r) for r in out.collect()]))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert json.loads(res.stdout.strip().splitlines()[-1]) == [
        ["boom", True], ["INFO plain line", False],
    ]


def test_external_driver_session_imports_the_package_from_any_cwd(tmp_path):
    """An external driver program's session (a plain builder, not get_spark)
    loading __spark_entry__.py by file path from a cwd outside the
    repository with PYTHONPATH unset: entry() ships the package to the
    workers, so the parse UDF runs there and the flagship query returns
    its 5 severity rows. A queries() builder run alone in a fresh session
    ships it too."""
    for call in (
        "entry.entry(spark)",
        f"entry.queries()['parse_severity_counts'](spark, {SF!r})",
    ):
        script = textwrap.dedent(f"""
            import importlib.util
            from pyspark.sql import SparkSession

            spark = SparkSession.builder.master("local[2]").getOrCreate()
            spec = importlib.util.spec_from_file_location(
                "__spark_entry__", {os.path.join(REPO, "__spark_entry__.py")!r}
            )
            entry = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(entry)
            print(len({call}.collect()))
            spark.stop()
        """)
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        res = subprocess.run(
            [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
            capture_output=True, text=True, timeout=300,
        )
        assert res.returncode == 0, (call, res.stderr[-3000:])
        assert res.stdout.strip().splitlines()[-1] == "5", call
