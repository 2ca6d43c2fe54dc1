"""Host facts, process-tree memory, Spark shutdown and event-log totals."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import time


def facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "loadavg": os.getloadavg(),
    }


def cpu_calib_s() -> float:
    """bench.py's single-thread calibration loop: its wall moves only with
    host contention or throttling (BENCH/NOISE.md)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i
    return time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, ()))
        todo.extend(kids.get(p, ()))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) over this process, the JVM
    and the Python workers. A diagnostic: the JVM's peak depends on when
    its collector runs, so it is not a stable metric."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return total_kb / 1024


def stop_spark(spark, timeout_s: float = 60) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM and
    the Python workers it started to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    pids = _descendants(os.getpid())
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def event_log_totals(run_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Shuffle bytes written, GC time and spilled bytes of the tasks that
    started inside ``windows`` (epoch seconds), per window."""
    shuffle = gc_ms = spill = 0
    spans = [(a * 1000, b * 1000) for a, b in windows]
    for path in glob.glob(os.path.join(run_dir, "eventlog", "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                launch = ev["Task Info"]["Launch Time"]
                m = ev.get("Task Metrics")
                if m is None or not any(a <= launch <= b for a, b in spans):
                    continue
                shuffle += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                gc_ms += m["JVM GC Time"]
                spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    n = max(1, len(windows))
    return {
        "spark.shuffle_write_bytes": shuffle / n,
        "spark.gc_s": gc_ms / 1000 / n,
        "spark.spill_bytes": spill / n,
    }


class Jobs:
    """Spark jobs and executed stages since the last ``take()``, from the
    status tracker. The pipeline submits its derived sink writes from
    threads that do not inherit a job group, so jobs are attributed by
    set difference over all known jobs of the given groups (None = jobs
    without a group; a streaming query's jobs carry its run id)."""

    def __init__(self, sc, groups=(None,)):
        self.tracker, self.groups = sc.statusTracker(), list(groups)
        self.seen = self._ids()

    def _ids(self) -> set[int]:
        return {j for g in self.groups for j in self.tracker.getJobIdsForGroup(g)}

    def take(self, groups=()) -> tuple[int, int]:
        self.groups.extend(groups)
        now = self._ids()
        new, self.seen = now - self.seen, now
        stages = set()
        for j in new:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self.tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks > 0:
                    stages.add(s)
        return len(new), len(stages)
