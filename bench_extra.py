"""Per-query isolation bench (guide §1.4): time ONE or more bench queries
with the same action bench.py uses (collect/count), repeated K times, with
optional plan capture and per-query Spark job/stage accounting from the
event log. bench.py stays the frozen driver artifact; this file exists so
optimization work can iterate on a single query in seconds instead of a
~6-minute full pass, and so OPTIMIZATION_r09.md can cite isolated numbers.

Usage:
  python bench_extra.py q1 [q2 ...] [--reps N] [--plan plans/r09] [--jobs]
  python bench_extra.py --list
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _query_actions(spark, sf_dir):
    """name -> (action, zero-arg callable), mirroring bench.py's action
    per query: the registry's gates with a bench action, under bench.py's
    names, plus the sink fan-out flagship."""
    from functools import partial

    from otel_logger_spark import queries as Q
    from otel_logger_spark.gates import GATES
    from otel_logger_spark.operators.sinks import write_routed_sinks

    bench_name = {"minhash_pairs": "dedup_minhash"}
    actions = {
        bench_name.get(n, n): (g.bench, partial(g.build, spark, sf_dir))
        for n, g in GATES.items()
        if g.bench
    }

    def full_pipeline():
        import shutil
        import tempfile

        out_dir = tempfile.mkdtemp(prefix="bx_sinks_")
        try:
            write_routed_sinks(Q._routed(spark, sf_dir), None, out_dir, run_id="bx")
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    actions["full_pipeline"] = ("custom", full_pipeline)
    return actions


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan", default=None, help="dir to write <q>.txt explain output")
    ap.add_argument("--plan-suffix", default="", help="e.g. _before/_after")
    ap.add_argument("--jobs", action="store_true", help="report per-rep job/stage counts")
    ap.add_argument("--list", action="store_true")
    ap.add_argument("--noop", action="store_true", help="noop sink instead of bench action")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from otel_logger_spark.plans.audit import formatted_plan
    from otel_logger_spark.session import get_spark

    spark = get_spark("bench-extra", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    actions = _query_actions(spark, sf_dir)
    if args.list:
        print(" ".join(actions))
        return

    # warm JVM + python workers once, as bench.py does
    from otel_logger_spark import queries as Q

    Q.q_parse_severity_counts(spark, sf_dir).collect()

    out = {}
    for name in args.names:
        kind, build = actions[name]
        times, jobinfo = [], []
        for rep in range(args.reps):
            sc.setJobDescription(f"bx:{name}:{rep}")
            j0 = max(tracker.getJobIdsForGroup(None) or [-1])
            t0 = time.monotonic()
            if kind == "custom":
                build()
            else:
                df = build()
                if args.noop:
                    df.write.format("noop").mode("overwrite").save()
                elif kind == "count":
                    df.count()
                else:
                    df.collect()
            times.append(round(time.monotonic() - t0, 3))
            if args.jobs:
                ids = [i for i in (tracker.getJobIdsForGroup(None) or []) if i > j0]
                n_stages = 0
                for i in ids:
                    ji = tracker.getJobInfo(i)
                    if ji:
                        n_stages += len(ji.stageIds)
                jobinfo.append({"jobs": len(ids), "stages": n_stages})
            sc.setJobDescription(None)
        rec = {"times": times, "min": min(times), "median": sorted(times)[len(times) // 2]}
        if args.jobs:
            rec["jobs"] = jobinfo
        out[name] = rec
        print(json.dumps({name: rec}))
        if args.plan is not None:
            kind2, build2 = actions[name]
            if kind2 != "custom":
                os.makedirs(args.plan, exist_ok=True)
                df = build2()
                p = os.path.join(args.plan, f"{name}{args.plan_suffix}.txt")
                with open(p, "w") as f:
                    f.write(formatted_plan(df))
                print(f"# wrote {p}")
    print(json.dumps({"summary": {n: r["median"] for n, r in out.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
