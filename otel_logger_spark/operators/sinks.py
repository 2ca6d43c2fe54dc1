"""The routed sinks, declared once (routed_sinks: the batch and streaming
pipelines both build their sinks with it), and their checkpointed
multi-sink writes with lineage (K1-K4 + A5).

The reference guarantees no record is dropped: ForceFlush before exit
(/root/reference/main.go:652-655) and at-least-once batched export
(main.go:354-358). The Spark analogue: a sink is "flushed" only when its
write commits, and a lineage manifest records, per (run, sink), the row
count, per-partition counts, and wall time. Re-running the same run_id
skips sinks already committed — idempotent resume (north_rule: "resumable
from checkpoint with per-partition lineage + metrics").

Commit unit: (sink). Parquet/Iceberg writes are atomic per sink directory
(_SUCCESS / snapshot), so a killed run resumes at sink granularity; the
per-partition counts in the manifest give partition-level lineage for
audit. Every sink goes through one write path (path/format/options from
the environment, deadline, counted write, footer lineage, commit).

Action economy (matters at 100 TB): the expensive plan executes once to
stage the logs sink; error/tool_call/metrics (routed_sinks) and the raw
tee are column-pruned re-reads of that staged table (no multi-GB cache churn);
per-partition lineage comes from the committed parquet footers and row
counts ride the writes via Observation. Total: 4-5 writes, zero extra
aggregations.
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from otel_logger_spark.schemas import (
    SINK_CONV_METRICS,
    SINK_ERROR,
    SINK_LOGS,
    SINK_TOOL_CALL,
)
from otel_logger_spark.fsio import HadoopFS, join_path
from otel_logger_spark.operators.rollups import conversation_metrics
from otel_logger_spark.operators.route import is_error_col, is_tool_call_col


def _manifest_path(out_dir: str, run_id: str) -> str:
    return join_path(out_dir, "_lineage", f"{run_id}.json")


def load_manifest(spark, out_dir: str, run_id: str) -> dict:
    """Manifest IO goes through the Hadoop FileSystem of out_dir's scheme —
    the same code path serves file:/, hdfs:/ and s3a:/ deployments. When
    the target is absent, a completed ``.tmp`` from the non-atomic-rename
    fallback window is honored (fsio.read_text_with_fallback), so a crash
    mid-overwrite never silently restarts committed sinks."""
    fs = HadoopFS(spark, out_dir)
    text = fs.read_text_with_fallback(_manifest_path(out_dir, run_id))
    if text is not None:
        try:
            return json.loads(text)
        except ValueError:
            pass  # torn first-ever write: start a fresh manifest
    return {"run_id": run_id, "sinks": {}}


def save_manifest(spark, out_dir: str, manifest: dict) -> None:
    fs = HadoopFS(spark, out_dir)
    d = join_path(out_dir, "_lineage")
    fs.mkdirs(d)
    fs.write_text_atomic(
        _manifest_path(out_dir, manifest["run_id"]),
        json.dumps(manifest, indent=1, sort_keys=True),
    )


# Below this many part files, per-file driver footer reads (a few ms each:
# one py4j round-trip + a footer-ranged read) are cheaper than a Spark
# job's fixed scheduling cost — measured at sf0.1 this was the round-3
# full_pipeline regression (+0.5s: four per-sink footer-count JOBS whose
# fixed costs dominate at small scale). At the 100 TB target every real
# sink has >> 64 files, so production lineage takes the distributed branch.
SMALL_SINK_MAX_FILES = 64


def parquet_partition_lineage(spark, path: str) -> list[dict]:
    """Per-partition lineage read from the committed parquet footers: every
    write task produces one part file, so footer row counts ARE the
    per-partition counts.

    Strategy by sink size (one ContentSummary gateway call decides):
    - <= SMALL_SINK_MAX_FILES part files: list + read each footer on the
      driver (ms each; no Spark job — the fixed per-job scheduling cost is
      the regression at tiny scale).
    - bigger sinks: ONE distributed Spark job — an empty-required-schema
      scan (``ReadSchema: struct<>``; the vectorized reader serves batch
      sizes straight from row-group metadata, no column pages decoded)
      grouped by ``input_file_name()``, one tiny output row per part file.
      At the 100 TB target's 10^5-10^6 part files this is seconds of
      cluster-parallel metadata work; a serial driver loop there would be
      minutes to hours inside every sink's commit path.
    Relativization of returned URIs is pure-Python string work
    (fsio.relativize_many): O(1) extra gateway calls.

    A zero-row write still leaves one part file carrying the schema and 0
    rows, so its lineage is that one part with ``n_rows`` 0 and the sink
    reads back empty with its columns. A directory with no part files at
    all (only commit markers) yields an empty lineage; any OTHER failure
    (permissions, transient object-store errors, corrupt footers)
    PROPAGATES — a blanket catch here would let a transient error
    masquerade as a legitimately-empty sink."""
    fs = HadoopFS(spark, path)
    # raw file count (ONE gateway call) includes commit markers and local-FS
    # .crc shadows, so it only gates whether listing is cheap; the branch
    # decision uses the true part-file count from the listing
    files = None
    if fs.file_count(path) <= 2 * SMALL_SINK_MAX_FILES + 4:
        files = fs.list_files_recursive(path, ".parquet")
        if not files:
            return []  # only commit markers present
    if files is not None and len(files) <= SMALL_SINK_MAX_FILES:
        pairs = [(f, fs.parquet_row_count(f)) for f in files]
        rels = fs.relativize_many(path, [f for f, _ in pairs])
        by_file = sorted(zip(rels, (n for _, n in pairs)))
    else:
        rows = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .collect()
        )
        rels = fs.relativize_many(path, [r["file"] for r in rows])
        by_file = sorted(zip(rels, (int(r["n_rows"]) for r in rows)))
    return [
        {"partition_id": i, "n_rows": n, "file": rel}
        for i, (rel, n) in enumerate(by_file)
    ]


def _commit(spark, manifest, out_dir, sink, path, n_rows, t0, partitions):
    entry = {
        "status": "committed",
        "n_rows": n_rows,
        "wall_sec": round(time.monotonic() - t0, 3),
        "path": path,
        "partitions": partitions,
    }
    manifest["sinks"][sink] = entry
    save_manifest(spark, out_dir, manifest)  # checkpoint after every sink commit
    return entry


SUPPORTED_FORMATS = ("parquet", "json")

# the thread-local properties SparkContext.setJobGroup sets
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def _run_with_timeout(spark, group: str, timeout_ms: int | None, fn):
    """Per-sink export deadline — the --timeout / WithExportTimeout
    analogue (/root/reference/main.go:35,357). The write runs under its
    own job group; a watchdog cancels the group at the deadline, failing
    THIS sink only. The manifest never marks a cancelled sink committed,
    so a resume retries exactly the timed-out export — the same
    at-least-once retry shape as the reference's batching exporter.
    Job groups are thread-local, which is exactly right here: every sink
    write already runs in its own thread (or the main thread for logs),
    and the thread's job-group properties are restored afterwards, so
    later jobs in the thread carry none of them.
    A non-positive timeout means NO deadline (the reference's exporter
    skips its WithTimeout branch when the configured timeout is <= 0)."""
    if timeout_ms is None or timeout_ms <= 0:
        return fn()
    sc = spark.sparkContext
    prior = [sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS]
    sc.setJobGroup(group, f"sink export (timeout {timeout_ms} ms)", True)
    watchdog = threading.Timer(timeout_ms / 1000.0, sc.cancelJobGroup, (group,))
    watchdog.daemon = True
    watchdog.start()
    try:
        return fn()
    finally:
        watchdog.cancel()
        for k, v in zip(_JOB_GROUP_PROPS, prior):
            sc.setLocalProperty(k, v)


def _env_sink(base: str, sink: str | None) -> str | None:
    """Generic -> sink-specific override chain, mirroring the reference's
    OTEL_EXPORTER_OTLP_PROTOCOL / OTEL_EXPORTER_OTLP_LOGS_PROTOCOL
    precedence (createExporter, /root/reference/main.go:330-345): the
    sink-specific variable wins when set, else the generic one."""
    if sink:
        v = os.environ.get(f"{base}_{sink.upper()}")
        if v is not None:
            return v
    return os.environ.get(base)


def resolve_sink_format(sink: str = SINK_LOGS) -> str:
    """Sink-format dispatch mirroring createExporter
    (/root/reference/main.go:330-345): an env var selects the protocol,
    the sink-specific var overrides the generic one, unsupported values
    are an error (not a silent default). Applies per sink — every sink
    honors OTEL_SPARK_SINK_FORMAT and OTEL_SPARK_SINK_FORMAT_<SINK>."""
    fmt = _env_sink("OTEL_SPARK_SINK_FORMAT", sink)
    if fmt is None:
        return "parquet"
    f = fmt.strip().lower()
    if f not in SUPPORTED_FORMATS:
        raise ValueError(
            f"unsupported sink format (supported: {', '.join(SUPPORTED_FORMATS)}): {fmt}"
        )
    return f


def resolve_sink_path(out_dir: str, sink: str) -> str:
    """Per-sink output URI, the ENDPOINT analogue
    (OTEL_EXPORTER_OTLP_ENDPOINT + per-signal override, README env table):
    OTEL_SPARK_SINK_URI_<SINK> is a full path for that sink;
    OTEL_SPARK_SINK_URI replaces the base directory for every sink."""
    specific = os.environ.get(f"OTEL_SPARK_SINK_URI_{sink.upper()}")
    if specific is not None:
        return specific
    generic = os.environ.get("OTEL_SPARK_SINK_URI")
    return join_path(generic if generic is not None else out_dir, sink)


def resolve_sink_options(sink: str) -> dict:
    """Writer options, the HEADERS analogue (OTEL_EXPORTER_OTLP_HEADERS
    k=v,k2=v2 syntax): OTEL_SPARK_SINK_OPTIONS[_<SINK>] parsed into
    DataFrameWriter options; the sink-specific var replaces the generic."""
    raw = _env_sink("OTEL_SPARK_SINK_OPTIONS", sink)
    if not raw:
        return {}
    out = {}
    for part in raw.split(","):
        part = part.strip()
        if not part:
            continue
        if "=" not in part:
            raise ValueError(f"bad sink option (want k=v): {part!r}")
        k, v = part.split("=", 1)
        out[k.strip()] = v.strip()
    return out


OUT_COLS = [
    "conv_id", "turn_idx", "role", "tool", "event_ts", "level",
    "severity_num", "message", "attrs", "raw", "json_ok",
]


def _logs_sink(df: DataFrame) -> DataFrame:
    return df.select(*[c for c in OUT_COLS if c in df.columns])


def routed_sinks(df: DataFrame) -> dict[str, DataFrame]:
    """The four routed sinks over the parsed and enriched columns: ``logs``
    (every entry — the reference's single stream), ``error``,
    ``tool_call`` and ``conversation_metrics`` (A4 parity with
    executeCommand's terminal record, /root/reference/main.go:577-591).

    The routing flags are recomputed from the sink columns, so the routed
    frame and the staged logs re-read (which carries no flags) give the
    same sinks. Over a micro-batch, conversation_metrics rows are
    PER-BATCH PARTIALS: every field is a decomposable aggregate, and
    streaming.pipeline.read_conversation_metrics re-aggregates them into
    exactly this per-conversation rollup."""
    out = _logs_sink(df)
    flags = {"is_error": is_error_col(), "is_tool_call": is_tool_call_col()}
    return {
        SINK_LOGS: out,
        SINK_ERROR: out.filter(is_error_col()),
        SINK_TOOL_CALL: out.filter(is_tool_call_col()),
        SINK_CONV_METRICS: conversation_metrics(df.withColumns(flags)),
    }


def _write_one(
    df: DataFrame,
    path: str,
    fmt: str,
    partition_by: list[str] | None = None,
    options: dict | None = None,
) -> tuple[int, list[dict]]:
    # the authoritative row count rides the write itself via Observation —
    # zero extra actions over the data for ANY format
    obs = Observation()
    w = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
    if fmt == "parquet":
        # snappy on the sink critical path (encode ~3x faster than zstd);
        # OTEL_SPARK_SINK_OPTIONS[_<SINK>]=compression=... overrides it
        w = w.option("compression", "snappy")
    if partition_by:
        # date-partitioned layout: partition pruning for time-ranged reads
        # (the parquet stand-in for Iceberg's day(ts) partition spec)
        w = w.partitionBy(*partition_by)
    w.options(**(options or {})).format(fmt).save(path)
    n_rows = obs.get["n"]
    if fmt != "parquet":
        return n_rows, []  # json has no footers for per-file lineage
    parts = parquet_partition_lineage(df.sparkSession, path)
    n_footer = sum(p["n_rows"] for p in parts)
    if n_footer != n_rows:
        # footers disagreeing with the observed write means the lineage
        # would be lying (leftover files, torn commit) — fail the sink
        # rather than record corrupt provenance
        raise RuntimeError(
            f"lineage mismatch at {path}: wrote {n_rows} rows, "
            f"footers sum to {n_footer}"
        )
    return n_rows, parts


def write_routed_sinks(
    routed: DataFrame,
    metrics: DataFrame | None = None,
    out_dir: str = "",
    run_id: str = "run-0",
    passthrough_raw: bool = False,
    partition_logs_by_date: bool = False,
    export_timeout_ms: int | None = None,
) -> dict:
    """Write routed_sinks of ``routed`` (plus the ``raw`` tee with
    ``passthrough_raw``) and commit each one. ``routed`` must carry the
    parsed and enriched columns (see pipeline.parse_enrich_route).

    Single-pass discipline at scale: the expensive plan (coalesce + parse +
    enrich) executes ONCE to stage the ``logs`` sink; the other sinks are
    routed_sinks over a re-read of the staged columnar table —
    column-pruned, predicate-pushed scans of compact parquet, far cheaper
    than caching 10s-of-GB of wide rows in the storage layer (the
    Iceberg-staging-table pattern, SURVEY.md §4). A json logs sink can't
    be re-read cheaply, so json staging persists ``routed`` in memory and
    derives the sinks from it instead.

    ``metrics`` is unused; the slot is kept for callers that still pass a
    conversation_metrics frame. Returns the committed manifest (A5: every
    sink committed == ForceFlush).
    """
    spark = routed.sparkSession
    manifest = load_manifest(spark, out_dir, run_id)
    done = {
        s for s, e in manifest["sinks"].items() if e.get("status") == "committed"
    }
    lock = threading.Lock()

    def export(sink: str, df: DataFrame, partition_by: list[str] | None = None):
        t0 = time.monotonic()
        path = resolve_sink_path(out_dir, sink)
        fmt = resolve_sink_format(sink)
        opts = resolve_sink_options(sink)
        n, parts = _run_with_timeout(
            spark,
            f"{run_id}:{sink}",
            export_timeout_ms,
            lambda: _write_one(df, path, fmt, partition_by, opts),
        )
        with lock:
            _commit(spark, manifest, out_dir, sink, path, n, t0, parts)

    use_persist = resolve_sink_format(SINK_LOGS) == "json"
    if use_persist:
        routed = routed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # the logs projection alone: building every sink over the full
        # upstream plan costs ~0.1 s of driver-side analysis (4 vCPUs)
        logs = _logs_sink(routed)
        partition_by = None
        if partition_logs_by_date:
            logs = logs.withColumn("event_date", F.to_date("event_ts"))
            partition_by = ["event_date"]
        if SINK_LOGS not in done:
            export(SINK_LOGS, logs, partition_by)

        # derive the remaining sinks from the staged table (or the persisted
        # frame) — the expensive upstream plan never re-executes; the
        # re-read takes the schema it was written with, so no footer
        # inference job runs
        logs_path = resolve_sink_path(out_dir, SINK_LOGS)
        staged = (
            routed if use_persist else spark.read.schema(logs.schema).parquet(logs_path)
        )
        derived = routed_sinks(staged)
        del derived[SINK_LOGS]
        if passthrough_raw:  # tee of raw entries (K3, main.go:481-484)
            derived["raw"] = staged.select("conv_id", "turn_idx", "role", "raw")

        # the derived writes are independent scans of the staged table —
        # submit them as CONCURRENT Spark jobs so their fixed scheduling
        # costs overlap (Spark's scheduler interleaves the tasks; on a
        # cluster this is the default multi-job pattern)
        with ThreadPoolExecutor(len(derived)) as pool:
            futures = [
                pool.submit(export, s, df) for s, df in derived.items() if s not in done
            ]
        for f in futures:
            f.result()  # a failed sink's error surfaces after every write ends
        manifest["status"] = "committed"
        save_manifest(spark, out_dir, manifest)
    finally:
        if use_persist:
            routed.unpersist()
    return manifest
