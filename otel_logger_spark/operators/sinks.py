"""Multi-sink fan-out writes with checkpointed lineage (K1-K4 + A5).

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
audit.

Action economy (matters at 100 TB): the expensive plan executes once to
stage the logs sink; error/tool_call/raw/metrics derive from column-pruned
re-reads of that staged table (no multi-GB cache churn); per-partition
lineage comes from the committed parquet footers and row counts ride the
writes via Observation. Total: 4-5 writes, zero extra aggregations.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from otel_logger_spark.schemas import SINK_ERROR, SINK_LOGS, SINK_TOOL_CALL
from otel_logger_spark.fsio import HadoopFS, join_path
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


def _run_with_timeout(spark, group: str, timeout_ms: int | None, fn):
    """Per-sink export deadline — the --timeout / WithExportTimeout
    analogue (/root/reference/main.go:35,357). The write runs under its
    own job group; a watchdog cancels the group at the deadline, failing
    THIS sink only. The manifest never marks a cancelled sink committed,
    so a resume retries exactly the timed-out export — the same
    at-least-once retry shape as the reference's batching exporter.
    Job groups are thread-local, which is exactly right here: every sink
    write already runs in its own thread (or the main thread for logs).
    A non-positive timeout means NO deadline (the reference's exporter
    skips its WithTimeout branch when the configured timeout is <= 0)."""
    import threading

    if timeout_ms is None or timeout_ms <= 0:
        return fn()
    sc = spark.sparkContext
    sc.setJobGroup(group, f"sink export (timeout {timeout_ms} ms)", True)
    watchdog = threading.Timer(timeout_ms / 1000.0, sc.cancelJobGroup, (group,))
    watchdog.daemon = True
    watchdog.start()
    try:
        return fn()
    finally:
        watchdog.cancel()
        sc.setLocalProperty("spark.jobGroup.id", None)


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


def resolve_sink_format(explicit: str | None = None, sink: str = SINK_LOGS) -> str:
    """Sink-format dispatch mirroring createExporter
    (/root/reference/main.go:330-345): an env var selects the protocol,
    the sink-specific var overrides the generic one, unsupported values
    are an error (not a silent default). Applies per sink — all four sinks
    honor OTEL_SPARK_SINK_FORMAT and OTEL_SPARK_SINK_FORMAT_<SINK>."""
    fmt = explicit
    if fmt is None:
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
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if fmt == "json":
        w = df.write.mode("overwrite")
        if options:
            w = w.options(**options)
        w.json(path)
        return obs.get["n"], []  # json has no footers for per-file lineage
    # snappy on the sink critical path (encode ~3x faster than zstd);
    # storage-economy runs can override via OTEL_SPARK_SINK_CODEC=zstd
    codec = os.environ.get("OTEL_SPARK_SINK_CODEC", "snappy")
    w = df.write.mode("overwrite").option("compression", codec)
    if options:
        w = w.options(**options)
    if partition_by:
        # date-partitioned layout: partition pruning for time-ranged reads
        # (the parquet stand-in for Iceberg's day(ts) partition spec)
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    n_rows = obs.get["n"]
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
    sink_format: str | None = None,
    partition_logs_by_date: bool = False,
    export_timeout_ms: int | None = None,
) -> dict:
    """Fan out the routed frame to the four sinks. ``routed`` must carry
    the parsed and enriched columns (see pipeline.parse_enrich_route).

    Single-pass discipline at scale: the expensive plan (coalesce + parse +
    enrich) executes ONCE to stage the ``logs`` sink; the routed sinks
    (error, tool_call, raw tee) and conversation metrics are derived by
    re-reading the staged columnar table — column-pruned, predicate-pushed
    scans of compact parquet, far cheaper than caching 10s-of-GB of wide
    rows in the storage layer (the Iceberg-staging-table pattern,
    SURVEY.md §4). A json logs sink can't be re-read cheaply, so json
    staging persists ``routed`` in memory instead.

    ``metrics`` is used only when staging in memory (json); otherwise, or
    when None, conversation_metrics is computed over the staged rows.
    Returns the committed manifest (A5: every sink committed == ForceFlush).
    """
    fmt = resolve_sink_format(sink_format, SINK_LOGS)
    spark = routed.sparkSession
    manifest = load_manifest(spark, out_dir, run_id)
    done = {
        s for s, e in manifest["sinks"].items() if e.get("status") == "committed"
    }
    use_persist = fmt == "json"
    if use_persist:
        routed = routed.persist(StorageLevel.MEMORY_AND_DISK)

    try:
        base = routed.select(*[c for c in OUT_COLS if c in routed.columns])
        partition_by = None
        if partition_logs_by_date:
            base = base.withColumn("event_date", F.to_date("event_ts"))
            partition_by = ["event_date"]
        logs_path = resolve_sink_path(out_dir, SINK_LOGS)
        if SINK_LOGS not in done:
            t0 = time.monotonic()
            opts = resolve_sink_options(SINK_LOGS)
            n, parts = _run_with_timeout(
                spark,
                f"{run_id}:{SINK_LOGS}",
                export_timeout_ms,
                lambda: _write_one(
                    base, logs_path, fmt, partition_by=partition_by, options=opts
                ),
            )
            _commit(spark, manifest, out_dir, SINK_LOGS, logs_path, n, t0, parts)

        # derive the remaining sinks from the staged table (or the persisted
        # frame) — the expensive upstream plan never re-executes; the
        # re-read takes the schema it was written with, so no footer
        # inference job runs
        staged = (
            routed if use_persist else spark.read.schema(base.schema).parquet(logs_path)
        )
        staged_out = staged.select(*[c for c in OUT_COLS if c in staged.columns])
        derived = {
            SINK_ERROR: staged_out.filter(is_error_col()),
            SINK_TOOL_CALL: staged_out.filter(is_tool_call_col()),
        }
        if passthrough_raw:  # tee of raw entries (K3, main.go:481-484)
            derived["raw"] = staged.select("conv_id", "turn_idx", "role", "raw")
        if "conversation_metrics" not in done:
            if metrics is None or not use_persist:
                from otel_logger_spark.operators.rollups import conversation_metrics

                flags = {"is_error": is_error_col(), "is_tool_call": is_tool_call_col()}
                metrics = conversation_metrics(staged.withColumns(flags))
            derived["conversation_metrics"] = metrics

        # the derived writes are independent scans of the staged table —
        # submit them as CONCURRENT Spark jobs so their fixed scheduling
        # costs overlap (Spark's scheduler interleaves the tasks; on a
        # cluster this is the default multi-job pattern)
        import threading

        lock = threading.Lock()
        errors: list[BaseException] = []

        def run_sink(sink: str, df: DataFrame):
            try:
                t0 = time.monotonic()
                path = resolve_sink_path(out_dir, sink)
                sink_fmt = resolve_sink_format(sink_format, sink)
                n, parts = _run_with_timeout(
                    spark,
                    f"{run_id}:{sink}",
                    export_timeout_ms,
                    lambda: _write_one(
                        df, path, sink_fmt, options=resolve_sink_options(sink)
                    ),
                )
                with lock:
                    _commit(spark, manifest, out_dir, sink, path, n, t0, parts)
            except BaseException as e:  # surfaced after join
                errors.append(e)

        threads = [
            threading.Thread(target=run_sink, args=(s, df), daemon=True)
            for s, df in derived.items()
            if s not in done
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if errors:
            raise errors[0]
        manifest["status"] = "committed"
        save_manifest(spark, out_dir, manifest)
    finally:
        if use_persist:
            routed.unpersist()
    return manifest
