"""Targeted delete propagation — remove every row matching a tombstone
key set from parquet sinks, with exact accounting and the maintenance
family's crash-safety guarantees.

The right-to-be-forgotten / bad-shard-recall operator: a training-data
owner must be able to say "purge these conv_ids (or doc_ids) from every
sink" and get back a per-sink record of exactly how many rows left.
Parquet is immutable, so a delete is a REWRITE — this module runs it on
the shared rewrite-verify-swap protocol (operators/compact.py): a crash
mid-purge leaves a recoverable state, a concurrent writer aborts the
swap, and the row delta is asserted, never assumed:

1. count the matches (one broadcast-semi-join aggregate per directory);
2. rewrite through the left-anti join into tmp;
3. footer-verify ``tmp == source - matched`` (a rewrite that dropped
   MORE or FEWER rows than step 1 counted aborts with the source
   untouched — catches tombstone-set drift between count and rewrite);
4. fingerprint re-check, then atomic swap.

Scale shape: the tombstone set always broadcasts (it is a key list —
millions of 8-byte ids fit comfortably in executor memory). The hint is
not left to Spark's size-based choice: ``maintenance forget`` reads its
keys from parquet, sized by file bytes against the 10 MB default
threshold, and a recall set past that would be planned as a sort-merge
join that shuffles every sink directory for both the count and the
rewrite. Each directory is one count job + one rewrite job, and
partitioned sinks purge per-partition so the blast radius of any abort
is one partition.

Reference lineage: main.go forwards and never mutates history; delete
propagation is part of the training-data superset, not reference parity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otel_logger_spark.fsio import HadoopFS
from otel_logger_spark.operators.compact import rewrite_verify_swap


def forget_parquet_dir(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str,
    target_file_bytes: int = 512 * 1024 * 1024,
) -> dict:
    """Purge rows whose ``key_col`` appears in ``keys`` from one parquet
    directory. Returns the swap report plus ``matched`` (the pre-counted
    rows scheduled for removal; the verify pins rows_removed == matched).
    A zero-match directory is left byte-identical (no rewrite)."""
    keyset = F.broadcast(keys.select(key_col).distinct())
    src = spark.read.parquet(path)
    if key_col not in src.columns:
        raise ValueError(f"{path} has no column {key_col!r}")
    matched = src.join(keyset, key_col, "left_semi").count()
    if matched == 0:
        return {"matched": 0, "rows_removed": 0, "skipped": True}

    def transform(df: DataFrame, n_target: int) -> DataFrame:
        return df.join(keyset, key_col, "left_anti").repartition(n_target)

    report = rewrite_verify_swap(
        spark, path, transform,
        target_file_bytes=target_file_bytes,
        expected_rows=lambda src_rows: src_rows - matched,
    )
    report["matched"] = matched
    report["skipped"] = False
    return report


def forget_sinks(
    spark: SparkSession,
    out_dir: str,
    sinks: list[str],
    keys: DataFrame,
    key_col: str,
    target_file_bytes: int = 512 * 1024 * 1024,
) -> dict[str, dict]:
    """Propagate one tombstone set across routed sinks. A sink laid out
    in first-level ``<col>=<value>`` partition directories purges
    per-partition (each swap's blast radius is one partition); a flat
    sink purges as one directory. Returns {sink[/partition]: report}."""
    reports: dict[str, dict] = {}
    for sink in sinks:
        root = os.path.join(out_dir, sink)
        fs = HadoopFS(spark, root)
        if not fs.exists(root):
            reports[sink] = {"matched": 0, "rows_removed": 0,
                             "skipped": True, "missing": True}
            continue
        part_dirs = [(n, u) for n, u in fs.list_dirs(root) if "=" in n]
        if part_dirs:
            for name, uri in part_dirs:
                reports[f"{sink}/{name}"] = forget_parquet_dir(
                    spark, uri, keys, key_col, target_file_bytes
                )
        else:
            reports[sink] = forget_parquet_dir(
                spark, root, keys, key_col, target_file_bytes
            )
    return reports
