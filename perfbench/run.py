"""Host-sized pipeline benchmark: one command, three seeded workloads
(``BENCHMARK.json`` lists text_logs and stream_microbatch).

    python3 perfbench/run.py --workload text_logs --seed 1 --seconds 16 --trace 0

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(perfbench/README.md says what each means and why).

Everything the run writes (cached inputs, sink outputs, Spark scratch,
checkpoints, event logs) stays under ``.perfbench/`` in the repository
root.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

import host  # noqa: E402
import inputs  # noqa: E402  (imports the program: fails without it)
import layers  # noqa: E402
import oracle  # noqa: E402
from layers import median  # noqa: E402

WORKLOADS = ("batch_transcripts", "text_logs", "stream_microbatch")
UNITS = {"setup_s": "s", "rows_per_s": "1/s", "unit_ms_p50": "ms"}
# Every timed loop runs at least this many units, so a median exists.
MIN_UNITS = 3
# Untimed full-size pipeline units between set-up and the timed units.
# Unit walls fall over a session's first units while the JIT warms the
# per-query planning paths; the fall is per unit, not per row, so it
# weighs least on a large input (perfbench/README.md).
SETTLE_UNITS = 2
# Nominal pipeline unit wall, used only to size a run from --seconds. A
# run times a fixed number of units rather than filling a time window,
# so every run measures the same stretch of that fall whatever the
# host's speed.
UNIT_S = 4.0
# Traced pipeline runs time every prefix this many times at least. One
# round (every prefix, then the full unit) takes ~18 s on text_logs.
TRACE_ROUNDS = 3
# Stream runs: the open entry of a conversation that got no rows in a
# micro-batch is flushed after this long. A conversation's consecutive
# lines are never more than one drop apart (a drop spans days of event
# time), and a group that has rows in a batch never times out in it, so
# a short idle flush cuts no entry; it only shortens the final flush.
IDLE_FLUSH_MS = 1000
# Nominal micro-batch wall, used only to size a stream run from --seconds.
BATCH_S = 2.5
STREAM_TIMEOUT_S = 150


def _since_process_start() -> float:
    """Seconds since this process started, from /proc, so interpreter
    start-up and imports count towards set-up."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _configure_env(run_dir: str) -> None:
    """Keep Spark's scratch and the JVM's temp dir inside the checkout (and
    its perf-data file out of /tmp), and let the Python workers import the
    package. Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-class's helper JVM



# --- batch_transcripts / text_logs ----------------------------------------


class PipelineWorkload:
    """One unit = read -> build_parsed(repartition) -> conversation_metrics
    -> write_routed_sinks into a fresh directory, as cli.py does."""

    def __init__(self, spark, name: str, inp: str, facts: dict, run_dir: str, parts: int):
        self.spark = spark
        self.text = name == "text_logs"
        self.parts = parts
        self.rows = facts["rows"]
        self.run_dir = run_dir
        if self.text:
            self.main, self.warm = os.path.join(inp, "logs"), os.path.join(inp, "warm")
            self.oracle = oracle.text_log_counts
        else:
            self.main = os.path.join(inp, "transcripts.parquet")
            self.warm = os.path.join(inp, "warm.parquet")
            self.oracle = oracle.transcript_counts
        # computed at the first check, so the oracle's ~1 s stays out of
        # set-up and out of every timed unit
        self.expected = None
        self.n_units = 0

    def source(self, path: str):
        if self.text:
            from otel_logger_spark.sources.textfile import read_log_files

            return read_log_files(self.spark, path)
        return self.spark.read.parquet(path)

    def unit(self, path: str) -> tuple[float, float, dict, str]:
        """Run one unit; returns (wall_s, build_s, manifest, out_dir)."""
        from otel_logger_spark.operators.rollups import conversation_metrics
        from otel_logger_spark.operators.sinks import write_routed_sinks
        from otel_logger_spark.pipeline import build_parsed

        self.n_units += 1
        out = os.path.join(self.run_dir, f"out-{self.n_units}")
        t0 = time.perf_counter()
        routed = build_parsed(self.source(path), repartition=self.parts)
        metrics = conversation_metrics(routed)
        build_s = time.perf_counter() - t0
        manifest = write_routed_sinks(routed, metrics, out, run_id="perfbench")
        return time.perf_counter() - t0, build_s, manifest, out

    def warm_up(self) -> None:
        shutil.rmtree(self.unit(self.warm)[3], ignore_errors=True)

    def settle(self) -> None:
        walls = []
        for _ in range(SETTLE_UNITS):
            wall, _, _, out = self.unit(self.main)
            walls.append(wall)
            shutil.rmtree(out, ignore_errors=True)
        print(f"[perfbench] settle walls_s={[round(w, 3) for w in walls]}")

    def check(self, manifest: dict) -> bool:
        if self.expected is None:
            self.expected = self.oracle(self.main)
        got = {k: manifest["sinks"][k]["n_rows"] for k in self.expected}
        if got != self.expected:
            print(f"[perfbench] sink counts {got} != expected {self.expected}", file=sys.stderr)
            return False
        return True

    def run(self, seconds: float) -> dict:
        walls, attempted, failed = [], 0, 0
        for _ in range(max(MIN_UNITS, round(seconds / UNIT_S))):
            attempted += 1
            try:
                wall, _, manifest, out = self.unit(self.main)
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            if self.check(manifest):
                walls.append(wall)
            else:
                failed += 1
            shutil.rmtree(out, ignore_errors=True)
        if not walls:
            raise RuntimeError("every unit failed")
        unit_s = median(walls)
        print(f"[perfbench] {len(walls)} units, walls_s={[round(w, 3) for w in walls]}")
        return {
            "attempted": attempted,
            "failed": failed,
            "metrics": {"rows_per_s": self.rows / unit_s, "unit_ms_p50": 1000 * unit_s},
        }

    def trace(self, seconds: float) -> dict:
        return layers.trace_pipeline(self, seconds, TRACE_ROUNDS)


# --- stream_microbatch -----------------------------------------------------


class StreamWorkload:
    """Drops parquet files into a watched directory and drains them with
    run_streaming_pipeline(coalesce=True, max_files_per_trigger=1). The
    benchmark keeps two drops pending until all are dropped, waits for the
    last input batch to commit and for the coalescer state to flush, and
    stops the query itself: with a ProcessingTimeTimeout state the query
    never terminates on its own.

    A run drains a fixed number of drops, sized from --seconds at the
    ~2.5 s a micro-batch takes, so the rows a run measures do not depend
    on how fast the host happens to be."""

    def __init__(self, spark, name: str, inp: str, facts: dict, run_dir: str, parts: int):
        self.spark = spark
        self.run_dir = run_dir
        self.parts = parts
        self.drops = sorted(
            os.path.join(inp, "drops", f) for f in os.listdir(os.path.join(inp, "drops"))
        )
        self.drop_rows = facts["drop_rows"]
        self.warm = sorted(
            os.path.join(inp, "warm", f) for f in os.listdir(os.path.join(inp, "warm"))
        )
        self.warm_rows = facts["warm_drop_rows"]
        self.n_runs = 0

    def drain(self, files: list[str], rows: list[int], idle_flush_ms: int, flush: bool = True) -> dict:
        """Drop ``files`` and run the query until their rows are committed
        and, with ``flush``, the coalescer state has flushed."""
        from otel_logger_spark.streaming.pipeline import run_streaming_pipeline

        self.n_runs += 1
        base = os.path.join(self.run_dir, f"stream-{self.n_runs}")
        watch, out, ckpt = (os.path.join(base, d) for d in ("watch", "out", "ckpt"))
        os.makedirs(watch)

        def drop(i):
            # write under a hidden name, then rename: the file source never
            # sees a partial file
            tmp = os.path.join(watch, f".drop-{i:05d}")
            shutil.copyfile(files[i], tmp)
            os.rename(tmp, os.path.join(watch, f"drop-{i:05d}.parquet"))

        dropped = min(2, len(files))
        for i in range(dropped):
            drop(i)
        progress: dict[int, dict] = {}
        jobs = host.Jobs(self.spark.sparkContext)
        t0 = time.time()
        query = run_streaming_pipeline(
            self.spark,
            watch,
            out,
            ckpt,
            available_now=False,
            processing_time="0 seconds",
            coalesce=True,
            idle_flush_ms=idle_flush_ms,
            max_files_per_trigger=1,
        )
        last_input = None
        try:
            while True:
                if query.exception() is not None:
                    raise RuntimeError(f"stream failed: {query.exception()}")
                for p in query.recentProgress:
                    progress[p["batchId"]] = p
                batches = [p for p in progress.values() if p["numInputRows"] > 0]
                while dropped < len(files) and dropped < len(batches) + 2:
                    drop(dropped)
                    dropped += 1
                if dropped == len(files) and sum(p["numInputRows"] for p in batches) == sum(rows):
                    last_input = max(batches, key=lambda p: p["batchId"])
                    if not flush or any(
                        p["batchId"] >= last_input["batchId"]
                        and p["stateOperators"]
                        and p["stateOperators"][0]["numRowsTotal"] == 0
                        for p in progress.values()
                    ):
                        break
                if time.time() - t0 > STREAM_TIMEOUT_S:
                    raise TimeoutError("stream did not drain")
                time.sleep(0.05)
        finally:
            query.stop()  # returns once the stream thread has ended
        n_jobs, n_stages = jobs.take(groups=[str(query.runId)])
        # commit time of the last input batch = its trigger start + duration
        start = datetime.strptime(last_input["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        end = start.replace(tzinfo=timezone.utc).timestamp() + (
            last_input["durationMs"]["triggerExecution"] / 1000
        )
        return {
            "t0": t0,
            "end": end,
            "rows": sum(rows),
            "progress": [progress[b] for b in sorted(progress)],
            "out": out,
            "jobs": n_jobs,
            "stages": n_stages,
        }

    def warm_up(self) -> None:
        self.drain(self.warm, self.warm_rows, IDLE_FLUSH_MS, flush=False)

    def settle(self) -> None:
        """Nothing to do: micro-batch walls are flat from the first
        measured batch after the warm-up drain."""

    def expected(self, files: list[str]) -> dict:
        """Sink counts of the batch pipeline over the same input."""
        from pyspark.sql import functions as F

        from otel_logger_spark.pipeline import build_parsed

        routed = build_parsed(self.spark.read.parquet(*files), repartition=self.parts)
        row = routed.agg(
            F.count(F.lit(1)).alias("logs"),
            F.sum(F.col("is_error").cast("long")).alias("error"),
            F.sum(F.col("is_tool_call").cast("long")).alias("tool_call"),
        ).first()
        return row.asDict()

    def measure(self, seconds: float) -> tuple[dict, dict]:
        n = max(MIN_UNITS, round(seconds / BATCH_S))
        res = self.drain(self.drops[:n], self.drop_rows[:n], IDLE_FLUSH_MS)
        got = {s: oracle.sink_rows(os.path.join(res["out"], s)) for s in ("logs", "error", "tool_call")}
        want = self.expected(self.drops[:n])
        n_input = sum(1 for p in res["progress"] if p["numInputRows"] > 0)
        ok = got == want
        if not ok:
            print(f"[perfbench] stream sink counts {got} != batch {want}", file=sys.stderr)
        res["sink_rows"] = {
            **got,
            "conversation_metrics": oracle.sink_rows(
                os.path.join(res["out"], "conversation_metrics")
            ),
        }
        return res, {"attempted": n_input, "failed": 0 if ok else n_input}

    def run(self, seconds: float) -> dict:
        res, counts = self.measure(seconds)
        triggers = [
            p["durationMs"]["triggerExecution"] for p in res["progress"] if p["numInputRows"] > 0
        ]
        print(
            f"[perfbench] {len(triggers)} input batches of {len(res['progress'])},"
            f" rows={res['rows']}, trigger_ms={triggers}"
        )
        return {
            **counts,
            "metrics": {
                "rows_per_s": res["rows"] / (res["end"] - res["t0"]),
                "unit_ms_p50": median(triggers),
            },
        }

    def trace(self, seconds: float) -> dict:
        return layers.trace_stream(self, seconds)


# --- command line ------------------------------------------------------------


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _measure(args, run_dir: str) -> dict:
    """Generate inputs, set up, settle and measure; returns the result with
    the host facts and phase walls."""
    from otel_logger_spark.session import get_spark

    t_gen = time.perf_counter()
    inp, facts = inputs.prepare(args.workload, args.seed, os.path.join(WORK, "inputs"))
    gen_s = time.perf_counter() - t_gen

    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    extra = None
    if args.trace:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        }
        os.makedirs(extra["spark.eventLog.dir"])
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=extra)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        cls = StreamWorkload if args.workload == "stream_microbatch" else PipelineWorkload
        wl = cls(spark, args.workload, inp, facts, run_dir, cores)
        session_s = _since_process_start() - gen_s
        wl.warm_up()
        setup_s = _since_process_start() - gen_s
        t_settle = time.perf_counter()
        wl.settle()
        t_measure = time.perf_counter()
        result = wl.trace(args.seconds) if args.trace else wl.run(args.seconds)
        result["phases"] = {
            "gen_s": gen_s,
            "session_s": session_s,
            "setup_s": setup_s,
            "settle_s": t_measure - t_settle,
            "measure_s": time.perf_counter() - t_measure,
        }
        peak_rss_mb = host.tree_peak_rss_mb()
    finally:
        host.stop_spark(spark)
    result["host"] = {**host.facts(), "cpu_calib_s": host.cpu_calib_s(), "peak_rss_mb": peak_rss_mb}
    result["input_rows"] = facts["rows"]
    m = result["metrics"]
    if args.trace:
        m.update(host.event_log_totals(run_dir, result.pop("windows")))
        m["host.cpu_calib_s"] = result["host"]["cpu_calib_s"]
        m["host.peak_rss_mb"] = peak_rss_mb
    else:
        m["setup_s"] = setup_s
    return result


def main(argv=None) -> int:
    args = _parse_args(argv)
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    _configure_env(run_dir)
    try:
        result = _measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"[perfbench] host {json.dumps(result['host'])}")
    print(
        f"[perfbench] workload={args.workload} seed={args.seed}"
        f" input_rows={result['input_rows']}"
        f" failed_ratio={result['failed'] / result['attempted']:.4f}"
        f" phases_s={json.dumps({k: round(v, 2) for k, v in result['phases'].items()})}"
    )
    units = {k: u for k, (u, _) in layers.PER_LAYER.items()} if args.trace else UNITS
    metrics = {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()}
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
