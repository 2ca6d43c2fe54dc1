"""Operational maintenance CLI — the table-upkeep commands a deployed
sink store needs on a schedule, separate from the reference-parity
pipeline CLI (cli.py):

    python -m otel_logger_spark.maintenance compact <dir> \
        [--target-file-mb 512] [--sink logs]
    python -m otel_logger_spark.maintenance expire <dir> --before YYYY-MM-DD \
        [--partition-col event_date] [--dry-run]
    python -m otel_logger_spark.maintenance zorder <dir> --cols a,b \
        [--bits 16] [--target-file-mb 512]
    python -m otel_logger_spark.maintenance run-all <dir> \
        [--before YYYY-MM-DD] [--cols a,b] [--bits 16] \
        [--partition-col event_date] [--target-file-mb 512]

Each prints a one-line JSON report (the audit trail: rows/files touched),
mirroring cli.py's manifest-count output.
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import date


def run_maintenance_lifecycle(
    spark,
    root: str,
    partition_col: str = "event_date",
    before: date | None = None,
    zorder_cols: list[str] | None = None,
    bits: int = 16,
    target_file_bytes: int = 512 * 1024 * 1024,
) -> dict:
    """The composed upkeep pass a date-partitioned sink runs on a
    schedule — all three maintenance operators over one root, in the
    order that does the least IO:

    1. **expire** (operators/retention.py) runs FIRST: rewriting a
       partition that the same pass then deletes is pure wasted IO, so
       the TTL delete precedes any layout work.
    2. **one rewrite per surviving partition**: Z-order
       (operators/zorder.py) when ``zorder_cols`` is given — its
       range-partition + sort rewrite already produces
       ``target_file_bytes``-sized files, so running compaction first
       would literally double the rewrite IO for zero layout benefit —
       else plain compaction (operators/compact.py, no-op when the
       partition already meets the target file count).

    Guard composition (pinned by tests/test_maintenance_lifecycle.py):
    the pass begins with a ROOT-LEVEL recovery sweep — a rewrite that
    crashed between delete and rename leaves only
    ``<partition>.compact_tmp`` with the target MISSING, so the
    partition listing alone would never see it again; the sweep calls
    ``recover_compaction`` for every tmp leftover (renaming completed
    tmps into place, discarding stale ones next to intact targets)
    BEFORE expiry audits or rewrites run. Per-partition rewrites then
    each re-run recovery for their own dir (compact and zorder share
    the protocol), and ``list_date_partitions``'s anchored pattern
    never mistakes a tmp dir for a partition.

    Returns {"recovered_pre_pass": [partition names],
             "expire": <expire report or None>,
             "rewrites": [{"partition", ...rewrite report}...],
             "mode": "zorder"|"compact"}."""
    from otel_logger_spark.fsio import HadoopFS
    from otel_logger_spark.operators.compact import (
        TMP_SUFFIX,
        compact_parquet_dir,
        recover_compaction,
    )
    from otel_logger_spark.operators.retention import (
        expire_partitions,
        list_date_partitions,
    )
    from otel_logger_spark.operators.zorder import zorder_parquet_dir

    if zorder_cols:
        # refuse an over-wide curve before deleting anything
        from otel_logger_spark.operators.zorder import zvalue_expr

        from pyspark.sql import functions as F

        zvalue_expr([F.lit(0).cast("long")] * len(zorder_cols), bits)

    recovered_pre_pass = []
    for name, uri in HadoopFS(spark, root).list_dirs(root):
        if name.endswith(TMP_SUFFIX):
            if recover_compaction(spark, uri[: -len(TMP_SUFFIX)]):
                recovered_pre_pass.append(name[: -len(TMP_SUFFIX)])

    expire_report = (
        expire_partitions(spark, root, before=before, partition_col=partition_col)
        if before is not None
        else None
    )
    rewrites = []
    for d, uri in list_date_partitions(spark, root, partition_col):
        if zorder_cols:
            rep = zorder_parquet_dir(
                spark, uri, zorder_cols, bits=bits,
                target_file_bytes=target_file_bytes,
            )
        else:
            rep = compact_parquet_dir(
                spark, uri, target_file_bytes=target_file_bytes
            )
        rewrites.append({"partition": f"{partition_col}={d.isoformat()}", **rep})
    return {
        "recovered_pre_pass": recovered_pre_pass,
        "expire": expire_report,
        "rewrites": rewrites,
        "mode": "zorder" if zorder_cols else "compact",
    }


def main(argv=None):
    ap = argparse.ArgumentParser(prog="otel_logger_spark.maintenance")
    ap.add_argument("--cores", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("compact", help="small-file compaction (rewrite-verify-swap)")
    c.add_argument("path", help="parquet directory (or sink out_dir with --sink)")
    c.add_argument("--sink", default=None, help="sink name under PATH (streaming layout)")
    c.add_argument("--target-file-mb", type=int, default=512)

    z = sub.add_parser("zorder", help="rewrite in Z-order over --cols (layout optimization)")
    z.add_argument("path")
    z.add_argument("--cols", required=True, help="comma-separated curve columns")
    z.add_argument("--bits", type=int, default=16)
    z.add_argument("--target-file-mb", type=int, default=512)

    e = sub.add_parser("expire", help="delete date partitions older than --before")
    e.add_argument("path")
    e.add_argument("--before", required=True, help="YYYY-MM-DD cutoff (exclusive)")
    e.add_argument("--partition-col", default="event_date")
    e.add_argument("--dry-run", action="store_true")

    r = sub.add_parser(
        "run-all",
        help="composed lifecycle: expire, then one rewrite per surviving "
        "partition (zorder with --cols, else compaction)",
    )
    r.add_argument("path")
    r.add_argument("--before", default=None, help="YYYY-MM-DD TTL cutoff (optional)")
    r.add_argument("--cols", default=None, help="comma-separated curve columns")
    r.add_argument("--bits", type=int, default=16)
    r.add_argument("--partition-col", default="event_date")
    r.add_argument("--target-file-mb", type=int, default=512)

    f = sub.add_parser(
        "forget",
        help="purge rows matching a tombstone key file from sinks "
        "(right-to-be-forgotten; rewrite-verify-swap per directory)",
    )
    f.add_argument("path", help="out_dir containing the sinks")
    f.add_argument("--sinks", required=True, help="comma-separated sink names")
    f.add_argument("--keys", required=True,
                   help="parquet file/dir with the tombstone keys")
    f.add_argument("--key-col", required=True)
    f.add_argument("--target-file-mb", type=int, default=512)

    args = ap.parse_args(argv)

    from otel_logger_spark.session import get_spark

    spark = get_spark("otel-logger-maintenance", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    if args.cmd == "compact":
        from otel_logger_spark.fsio import join_path
        from otel_logger_spark.operators.compact import compact_parquet_dir

        report = compact_parquet_dir(
            spark, join_path(args.path, args.sink),
            target_file_bytes=args.target_file_mb * 1024 * 1024,
        )
    elif args.cmd == "zorder":
        from otel_logger_spark.operators.zorder import zorder_parquet_dir

        report = zorder_parquet_dir(
            spark, args.path, args.cols.split(","), bits=args.bits,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
        )
    elif args.cmd == "run-all":
        report = run_maintenance_lifecycle(
            spark,
            args.path,
            partition_col=args.partition_col,
            before=date.fromisoformat(args.before) if args.before else None,
            zorder_cols=args.cols.split(",") if args.cols else None,
            bits=args.bits,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
        )
    elif args.cmd == "forget":
        from otel_logger_spark.operators.forget import forget_sinks

        report = forget_sinks(
            spark, args.path, args.sinks.split(","),
            spark.read.parquet(args.keys), args.key_col,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
        )
    else:
        from otel_logger_spark.operators.retention import expire_partitions

        report = expire_partitions(
            spark,
            args.path,
            before=date.fromisoformat(args.before),
            partition_col=args.partition_col,
            dry_run=args.dry_run,
        )
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
