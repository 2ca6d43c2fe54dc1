"""SparkSession factory tuned for the pipeline.

Scale notes (the configs below are chosen for cluster behavior, verified on
local[N]):
- AQE on: runtime partition coalescing + skew-join splitting, so hot
  conversations (skewed conv_id) don't straggle.
- Arrow on with a bounded batch size: the parse stage is a pandas UDF; batch
  size bounds Python-worker memory at any scale.
- shuffle.partitions is sized to cores locally; on a real cluster this is
  set to ~2-3x total executor cores via spark-submit conf.
- session timezone pinned to UTC so event-time semantics are
  cluster-independent (and comparable to the DuckDB oracle).
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "otel-logger-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with pipeline defaults.

    ``cores=None`` uses ``local[*]``; tests/bench pass explicit values so
    the N vs 4N scaling runs are reproducible. ``extra_conf`` overrides
    any of the defaults below. The parquet codec is left at Spark's
    default (snappy): every sink directory sets it through
    operators/sinks.write_sink.
    """
    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env_cores}]" if env_cores else "local[*]"
        ncores = int(env_cores) if env_cores else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores

    if shuffle_partitions is None:
        # ~1x cores locally; a real cluster submit overrides to 2-3x total cores.
        shuffle_partitions = max(ncores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's parallelism-first coalescing merges post-shuffle partitions
        # up to this floor; the 1m default turns a 13 MB shuffle into ~8
        # tasks and idles 3/4 of a 32-core node on every small exchange
        # (measured on the ngram pair-count stage: 8 tasks x 780 ms).
        # 256k keeps small-but-CPU-heavy reduce stages at node parallelism;
        # at cluster scale partitions are >= the advisory size anyway, so
        # the floor is inert there.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # shuffle/spill codec: zstd over the lz4 default — adopted from the
        # round-9 interleaved A/B at 37M turns/local[8] (BENCH/
        # AB_shuffle_codec.md): zstd legs 79.1-80.0s vs lz4 128.8-211.3s,
        # identical sink rows. The conv_id exchange is the pipeline's
        # bytes-per-row wall; the better ratio cuts shuffle-file I/O and
        # stabilizes walls on contended disks.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bounds pandas-UDF batch memory; mirrors the reference's bounded
        # batching (BatchProcessor, /root/reference/main.go:354-358).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode hosts driver AND every executor thread in one JVM:
        # a 50-query bench session accumulates plans/broadcasts across
        # passes, and allocation-heavy Arrow stages (audio/image decode)
        # stall under old-gen pressure at 8g (the bench's late-pass
        # audio_stats blowups). 16g on a 128 GiB box; env-overridable —
        # a real cluster sizes driver/executor memory via spark-submit.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # a reused Python worker re-reads every zip archive's directory
        # before each task (importlib.invalidate_caches); this daemon skips
        # the archives that did not change on disk (worker_daemon.py)
        .config("spark.python.daemon.module", "otel_logger_spark.worker_daemon")
    )
    conf = dict(extra_conf or {})
    # the workers must import this package (the daemon above, the parse
    # UDF pickled by reference) even when the driver found it through
    # sys.path rather than PYTHONPATH or the working directory
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable in the Python workers of a session that
    get_spark did not build (an external driver's plain session, whose
    workers see neither the driver's sys.path nor, from another working
    directory, the package): ``addPyFile`` a zip of the package's sources,
    once per SparkContext. get_spark sessions are left as they are."""
    sc = spark.sparkContext
    pythonpath = sc.getConf().get("spark.executorEnv.PYTHONPATH", "")
    if _PACKAGE_PARENT in pythonpath.split(os.pathsep) or hasattr(sc, "_otel_package_zip"):
        return
    tmp = tempfile.mkdtemp(prefix="otel_logger_spark-")
    atexit.register(shutil.rmtree, tmp, True)
    sc._otel_package_zip = os.path.join(tmp, "otel_logger_spark.zip")
    with zipfile.ZipFile(sc._otel_package_zip, "w") as z:
        for f in glob.glob("otel_logger_spark/**/*.py", root_dir=_PACKAGE_PARENT, recursive=True):
            z.write(os.path.join(_PACKAGE_PARENT, f), f)
    sc.addPyFile(sc._otel_package_zip)
