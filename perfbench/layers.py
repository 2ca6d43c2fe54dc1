"""The traced run: per-layer numbers, timed from outside the program.

Pipeline workloads time cumulative prefixes of the unit's plan, each built
by calling the layer's public function on the previous prefix and ended
by a ``noop`` write. A layer's self time is the difference between the
median walls of its prefix and the one before it, so the layers sum to
the median full-unit wall (``trace.unit_s``). Each layer's plan
construction (the Python/py4j call) is timed apart from the action.

The stream workload reads its layers from ``StreamingQuery.recentProgress``
of the same drain the untraced run measures.

Every per-layer metric is reported on every workload; a layer that the
workload's path does not touch reads 0.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pandas as pd

import host

_S, _MS, _N = "s", "ms", "count"
SINKS = ("logs", "error", "tool_call", "conversation_metrics")
PIPELINE_STEPS = (
    "io.scan",
    "sources.textfile.split",
    "pipeline.exchange",
    "multiline.coalesce",
    "parse.udf",
    "enrich_route",
)

# name -> (unit, better)
PER_LAYER = {
    "io.scan_s": (_S, "lower"),
    "sources.textfile.split_s": (_S, "lower"),
    "pipeline.exchange_s": (_S, "lower"),
    "multiline.coalesce_s": (_S, "lower"),
    "multiline.entries_per_row": ("ratio", "higher"),
    "parse.udf_s": (_S, "lower"),
    "parse.arrow_s": (_S, "lower"),
    "parse.python_s": (_S, "lower"),
    "parse.json_ok_ratio": ("ratio", "higher"),
    "enrich_route.s": (_S, "lower"),
    "sinks.s": (_S, "lower"),
    **{f"sinks.{k}_s": (_S, "lower") for k in SINKS},
    **{f"sinks.{k}_rows": (_N, "higher") for k in SINKS},
    "sinks.bytes": ("bytes", "lower"),
    "sinks.files": (_N, "lower"),
    **{f"{k}.build_ms": (_MS, "lower") for k in PIPELINE_STEPS},
    "pipeline.build_ms": (_MS, "lower"),
    "spark.jobs": (_N, "lower"),
    "spark.stages": (_N, "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.gc_s": (_S, "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "streaming.add_batch_ms_p50": (_MS, "lower"),
    "streaming.wal_commit_ms_p50": (_MS, "lower"),
    "streaming.query_planning_ms_p50": (_MS, "lower"),
    "streaming.trigger_ms_p75": (_MS, "lower"),
    "streaming.input_batches": (_N, "higher"),
    "streaming.idle_batches": (_N, "lower"),
    "multiline_state.state_rows": (_N, "lower"),
    "multiline_state.state_bytes": ("bytes", "lower"),
    "trace.unit_s": (_S, "lower"),
    "host.cpu_calib_s": (_S, "lower"),
    "host.peak_rss_mb": ("MB", "lower"),
}

# filled in from the event log and host probes after the session stops
_AFTER_STOP = (
    "spark.shuffle_write_bytes",
    "spark.gc_s",
    "spark.spill_bytes",
    "host.cpu_calib_s",
    "host.peak_rss_mb",
)


def median(xs):
    """The median, or 0 for no samples (a layer the workload skips)."""
    return statistics.median(xs) if xs else 0.0


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _sink_files(out_dir: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(out_dir):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def _json_ok_ratio(logs_dir: str) -> float:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT avg(CAST(json_ok AS INT)) FROM read_parquet(?)",
            [os.path.join(logs_dir, "*.parquet")],
        ).fetchone()[0]
    finally:
        con.close()


def _empty() -> dict:
    return {k: 0.0 for k in PER_LAYER if k not in _AFTER_STOP}


def _steps(wl):
    """(layer, fn(previous prefix) -> next prefix), mirroring build_parsed
    under the default PipelineConfig."""
    from otel_logger_spark.config import PipelineConfig
    from otel_logger_spark.functions.parse import with_parsed
    from otel_logger_spark.operators.enrich import enrich_severity, enrich_tool
    from otel_logger_spark.operators.multiline import coalesce_entries
    from otel_logger_spark.operators.route import with_routing
    from otel_logger_spark.sources.textfile import read_log_files

    spark, cfg = wl.spark, PipelineConfig(repartition=wl.parts)
    if wl.text:
        steps = [
            (
                "io.scan",
                lambda _: spark.read.format("text")
                .option("wholetext", True)
                .load(wl.main)
                .selectExpr("value", "_metadata.file_path AS file_path"),
            ),
            ("sources.textfile.split", lambda _: read_log_files(spark, wl.main)),
        ]
    else:
        steps = [("io.scan", lambda _: spark.read.parquet(wl.main))]
    return steps + [
        ("pipeline.exchange", lambda d: d.repartition(cfg.repartition, "conv_id")),
        (
            "multiline.coalesce",
            lambda d: coalesce_entries(d, cont_pattern=cfg.continuation_pattern),
        ),
        (
            "parse.udf",
            lambda d: with_parsed(
                d,
                json_prefix=cfg.json_prefix,
                ts_fields=cfg.timestamp_fields,
                level_fields=cfg.level_fields,
                msg_fields=cfg.message_fields,
                attrs_format=cfg.attrs_format,
            ),
        ),
        ("enrich_route", lambda d: with_routing(enrich_tool(enrich_severity(d)))),
    ]


def _identity_udf():
    """A pandas UDF that returns its (text, ts) input unchanged: the Arrow
    transfer cost of the parse UDF without its Python work."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<text: string, ts: timestamp>")
    def identity(text: pd.Series, ts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({"text": text, "ts": ts})

    return identity


def trace_pipeline(wl, seconds: float, min_units: int) -> dict:
    steps, identity = _steps(wl), _identity_udf()
    walls: dict[str, list[float]] = {}
    builds: dict[str, list[float]] = {}
    sink_s: dict[str, list[float]] = {k: [] for k in SINKS}
    jobs, stages, windows = [], [], []
    attempted = failed = 0
    manifest = out = None
    tracker = host.Jobs(wl.spark.sparkContext)
    deadline = time.perf_counter() + seconds
    while attempted < min_units or time.perf_counter() < deadline:
        attempted += 1
        df = None
        for name, fn in steps:
            t0 = time.perf_counter()
            df = fn(df)
            builds.setdefault(name, []).append(time.perf_counter() - t0)
            walls.setdefault(name, []).append(_noop(df))
            if name == "multiline.coalesce":
                arrow = df.withColumn("_identity", identity("text", "ts"))
                walls.setdefault("parse.arrow", []).append(_noop(arrow))
        tracker.take()
        if out is not None:
            shutil.rmtree(out, ignore_errors=True)
        t_start = time.time()
        wall, build_s, manifest, out = wl.unit(wl.main)
        windows.append((t_start, time.time()))
        walls.setdefault("unit", []).append(wall)
        builds.setdefault("pipeline", []).append(build_s)
        n_jobs, n_stages = tracker.take()
        jobs.append(n_jobs)
        stages.append(n_stages)
        for k in SINKS:
            sink_s[k].append(manifest["sinks"][k]["wall_sec"])
        if not wl.check(manifest):
            failed += 1

    med = {k: median(v) for k, v in walls.items()}
    m = _empty()
    prev = 0.0
    for name, _ in steps:
        key = "enrich_route.s" if name == "enrich_route" else f"{name}_s"
        m[key] = med[name] - prev
        prev = med[name]
        m[f"{name}.build_ms"] = 1000 * median(builds[name])
    m["parse.arrow_s"] = med["parse.arrow"] - med["multiline.coalesce"]
    m["parse.python_s"] = m["parse.udf_s"] - m["parse.arrow_s"]
    m["sinks.s"] = med["unit"] - med["enrich_route"]
    m["trace.unit_s"] = med["unit"]
    m["pipeline.build_ms"] = 1000 * median(builds["pipeline"])
    for k in SINKS:
        m[f"sinks.{k}_s"] = median(sink_s[k])
        m[f"sinks.{k}_rows"] = manifest["sinks"][k]["n_rows"]
    m["sinks.files"], m["sinks.bytes"] = _sink_files(out)
    m["multiline.entries_per_row"] = manifest["sinks"]["logs"]["n_rows"] / wl.rows
    m["parse.json_ok_ratio"] = _json_ok_ratio(os.path.join(out, "logs"))
    m["spark.jobs"], m["spark.stages"] = median(jobs), median(stages)
    print(
        "[perfbench] trace rounds=%d prefix medians_s=%s"
        % (attempted, {k: round(v, 3) for k, v in med.items()})
    )
    return {"attempted": attempted, "failed": failed, "metrics": m, "windows": windows}


def trace_stream(wl, seconds: float) -> dict:
    res, counts = wl.measure(seconds)
    progress = res["progress"]
    inputs = [p for p in progress if p["numInputRows"] > 0]

    def p50(key):
        return median([p["durationMs"].get(key, 0) for p in inputs])

    def state(key):
        return median([p["stateOperators"][0][key] for p in inputs if p["stateOperators"]])

    triggers = [p["durationMs"]["triggerExecution"] for p in inputs]
    m = _empty()
    m.update(
        {
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.wal_commit_ms_p50": p50("walCommit"),
            "streaming.query_planning_ms_p50": p50("queryPlanning"),
            "streaming.trigger_ms_p75": statistics.quantiles(triggers, n=4)[2]
            if len(triggers) > 1
            else median(triggers),
            "streaming.input_batches": len(inputs),
            "streaming.idle_batches": len(progress) - len(inputs),
            "multiline_state.state_rows": state("numRowsTotal"),
            "multiline_state.state_bytes": state("memoryUsedBytes"),
            "spark.jobs": res["jobs"] / len(progress),
            "spark.stages": res["stages"] / len(progress),
            "trace.unit_s": median(triggers) / 1000,
        }
    )
    for k in SINKS:
        m[f"sinks.{k}_rows"] = res["sink_rows"][k]
    m["sinks.files"], m["sinks.bytes"] = _sink_files(res["out"])
    return {**counts, "metrics": m, "windows": [(res["t0"], res["end"])]}
