"""spark-submit job: run the full pipeline (parse -> enrich -> route ->
aggregate -> fan-out sinks) over a transcripts parquet and print one JSON
line with wall time + rows. Submitted via --py-files (see
tools/bench_scaling.py), matching the north rule's deployment shape.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="bench")
    ap.add_argument("--repartition", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from otel_logger_spark.operators.sinks import write_routed_sinks
    from otel_logger_spark.pipeline import build_parsed

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    # Warm-up (excluded from timing): cluster executors are long-lived, so
    # steady-state throughput is the honest metric. Spin up ALL Python
    # workers (each forks + imports pandas/engine on first use) by running
    # the real parse UDF once across every core.
    transcripts = spark.read.parquet(args.input)
    from pyspark.sql import functions as F

    from otel_logger_spark.functions.parse import with_parsed

    warm = spark.range(0, cores * 1000, 1, cores).select(
        F.concat(F.lit('{"level":"info","message":"w'), F.col("id").cast("string"), F.lit('"}')).alias("text"),
        F.current_timestamp().alias("ts"),
    )
    with_parsed(warm).agg(F.count("message")).collect()

    t0 = time.monotonic()
    routed = build_parsed(transcripts, repartition=args.repartition)
    manifest = write_routed_sinks(routed, None, args.out, run_id=args.run_id)
    wall = time.monotonic() - t0

    n_in = transcripts.count()
    print(
        json.dumps(
            {
                "cores": cores,
                "wall_sec": round(wall, 3),
                "n_turns": n_in,
                "turns_per_sec": round(n_in / wall, 1),
                "sink_rows": {k: v["n_rows"] for k, v in manifest["sinks"].items()},
                "sink_walls": {k: v["wall_sec"] for k, v in manifest["sinks"].items()},
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            }
        )
    )
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
