"""CLI entry point: the reference's command-line surface over the Spark
engine.

    python -m otel_logger_spark.cli --input <transcripts.parquet|logs-dir> \
        --out <dir> [--text-logs] [reference flags...]

Reference flags honored (main.go:34-47): --json-prefix,
--timestamp-fields/--level-fields/--message-fields (repeatable or
comma-separated), --continuation-pattern, --timeout (per-sink export
deadline, A3), --passthrough-stdout/--passthrough-stderr. --batch-size and
--flush-interval are accepted and validated (malformed values raise) but
drive nothing: see the config.py table.
"""

from __future__ import annotations

import argparse
import json
import sys

from otel_logger_spark.config import PipelineConfig


VERSION = "0.2.0"


def main(argv=None):
    ap = argparse.ArgumentParser(add_help=True)
    # Config.Version parity (main.go:49-51): "--version (show version info)"
    ap.add_argument(
        "--version",
        action="version",
        version=f"otel-logger-spark {VERSION}",
    )
    ap.add_argument("--input", required=True, help="transcripts parquet, or a dir of raw .log/.txt files with --text-logs")
    ap.add_argument("--out", required=True)
    ap.add_argument("--text-logs", action="store_true", help="treat --input as raw log files (stdin-pipe analog)")
    ap.add_argument("--run-id", default="cli-run")
    ap.add_argument("--cores", type=int, default=None)
    args, passthrough = ap.parse_known_args(argv)
    cfg = PipelineConfig.from_reference_args(passthrough)

    from otel_logger_spark.pipeline import run_pipeline
    from otel_logger_spark.session import get_spark

    spark = get_spark("otel-logger-cli", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    if args.text_logs:
        from otel_logger_spark.sources.textfile import read_log_files

        transcripts = read_log_files(spark, args.input)
    else:
        transcripts = spark.read.parquet(args.input)

    manifest = run_pipeline(spark, transcripts, args.out, run_id=args.run_id, config=cfg)
    print(json.dumps({k: v["n_rows"] for k, v in manifest["sinks"].items()}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
