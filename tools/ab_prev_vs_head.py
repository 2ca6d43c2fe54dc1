"""A/B: ANY git ref's engine vs HEAD on the full pipeline, interleaved
at the pass level (BENCH/NOISE.md discipline) — the round-close
regression gate the round-8 verdict asked to make standing (item #8).

``--ref`` is git-archived into a second --py-files zip; the job script
(tools/run_pipeline_job.py) and every spark-submit conf are
byte-identical across the two legs, so only the package differs. Alternating leg order per pair cancels cache-drift.

Usage:
  python tools/ab_prev_vs_head.py --ref <commit> [--convs 1500000]
      [--cores 8] [--pairs 3] [--tag r8_vs_r9]
Writes BENCH/AB_<tag>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.bench_scaling import CACHE, build_pyfiles_zip, ensure_input  # noqa: E402


def build_ref_zip(ref: str) -> str:
    """Package zip of ``ref``'s engine via git archive (the working tree
    is never touched)."""
    zpath = os.path.join(CACHE, f"otel_logger_spark_{ref}.zip")
    os.makedirs(CACHE, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="ref_src_")
    try:
        tar = os.path.join(tmp, "ref.tar")
        subprocess.run(
            ["git", "-C", REPO, "archive", "-o", tar, ref,
             "otel_logger_spark"],
            check=True,
        )
        subprocess.run(["tar", "-xf", tar, "-C", tmp], check=True)
        with zipfile.ZipFile(zpath, "w") as z:
            pkg = os.path.join(tmp, "otel_logger_spark")
            for root, _, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, tmp))
        return zpath
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_once(cores: int, input_path: str, zpath: str) -> dict:
    out = tempfile.mkdtemp(prefix=f"ab_prev_head_{cores}_")
    try:
        cmd = [
            "spark-submit",
            "--master", f"local[{cores}]",
            "--driver-memory", "16g",
            "--conf", f"spark.sql.shuffle.partitions={4 * cores}",
            "--conf", "spark.sql.adaptive.enabled=true",
            "--conf", "spark.sql.adaptive.coalescePartitions.enabled=true",
            "--conf", "spark.sql.adaptive.skewJoin.enabled=true",
            "--conf", "spark.sql.session.timeZone=UTC",
            "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
            "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=10000",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zpath,
            os.path.join(REPO, "tools", "run_pipeline_job.py"),
            "--input", input_path,
            "--out", out,
        ]
        res = subprocess.run(
            cmd, capture_output=True, text=True, timeout=3600
        )
        for line in res.stdout.splitlines():
            if line.startswith("{"):
                return json.loads(line)
        raise RuntimeError(
            f"no JSON: {res.stdout[-1500:]}\n{res.stderr[-1500:]}"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", required=True, help="git ref for the prev leg")
    ap.add_argument("--convs", type=int, default=1_500_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--tag", default=None, help="output name AB_<tag>.json")
    args = ap.parse_args()

    tag = args.tag or f"{args.ref}_vs_head"
    zips = {"prev": build_ref_zip(args.ref), "head": build_pyfiles_zip()}
    input_path = ensure_input(args.convs)

    runs = {"prev": [], "head": []}
    sink_rows = {"prev": set(), "head": set()}
    for i in range(args.pairs):
        order = ("prev", "head") if i % 2 == 0 else ("head", "prev")
        for label in order:
            r = run_once(args.cores, input_path, zips[label])
            runs[label].append(r)
            sink_rows[label].add(json.dumps(r.get("sink_rows"), sort_keys=True))
            print(
                f"pair {i + 1} {label}: {r['wall_sec']}s "
                f"({r['turns_per_sec']} turns/s)",
                flush=True,
            )

    summary = {
        "date": datetime.now(timezone.utc).isoformat(),
        "cores": args.cores,
        "prev_ref": args.ref,
        "input_turns": runs["prev"][0]["n_turns"],
        "walls_prev": [r["wall_sec"] for r in runs["prev"]],
        "walls_head": [r["wall_sec"] for r in runs["head"]],
        "best_prev": min(r["wall_sec"] for r in runs["prev"]),
        "best_head": min(r["wall_sec"] for r in runs["head"]),
        "sink_rows_equal": sink_rows["prev"] == sink_rows["head"]
        and len(sink_rows["prev"]) == 1,
    }
    summary["delta_pct_best"] = round(
        100 * (summary["best_head"] / summary["best_prev"] - 1), 1
    )
    with open(os.path.join(REPO, "BENCH", f"AB_{tag}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
