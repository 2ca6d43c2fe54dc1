"""Partition retention (TTL) — the other half of sink maintenance next to
compaction (operators/compact.py): a 100 TB log store is a rolling
window, and expiry must be a partition-directory DELETE (O(partitions)
metadata work, exactly what the date-partitioned sink layout exists for),
never a filtered rewrite of the table (O(data)). The Iceberg analogue is
``expire_snapshots`` + partition drop; this is the parquet-directory
version with the engine's no-silent-action discipline: every expired
partition is accounted (rows via footer counts, read BEFORE deletion)
and the report is returned to the caller, so an audit trail of what a
TTL pass removed always exists.

The audit is ONE pass of the part-file inventory
(fsio.parquet_part_files) over exactly the expired directories, however
many partitions expire (a year x 4 sinks is ~1,500 partitions —
per-partition lineage calls would be 1,500 sequential footer loops or
Spark jobs): driver footer reads when few part files expire, otherwise
one distributed empty-required-schema job. It counts what Spark's reader
reads, hidden paths skipped. tests/test_retention.py pins the job count.
"""

from __future__ import annotations

import re
from datetime import date, datetime

from pyspark.sql import SparkSession

from otel_logger_spark.fsio import HadoopFS, parquet_part_files


def list_date_partitions(
    spark: SparkSession, path: str, partition_col: str = "event_date"
) -> list[tuple[date, str]]:
    """(date, uri) for each first-level <partition_col>=YYYY-MM-DD child."""
    pat = re.compile(re.escape(partition_col) + r"=(\d{4}-\d{2}-\d{2})$")
    out = []
    for name, uri in HadoopFS(spark, path).list_dirs(path):
        m = pat.search(name)
        if m:
            out.append((datetime.strptime(m.group(1), "%Y-%m-%d").date(), uri))
    return sorted(out)


def _audit_expired(
    spark: SparkSession, root: str, uris: list[str]
) -> dict[str, dict]:
    """{partition-dir-name: {"n_rows", "n_files"}} for every uri, in ONE
    pass of the part-file inventory over exactly those directories
    (fsio.parquet_part_files), grouped by the first path segment below
    the root."""
    per = {
        u.rstrip("/").rsplit("/", 1)[-1]: {"n_rows": 0, "n_files": 0}
        for u in uris
    }
    for rel, _, n in parquet_part_files(spark, root, uris):
        counts = per[rel.split("/", 1)[0]]
        counts["n_rows"] += n
        counts["n_files"] += 1
    return per


def expire_partitions(
    spark: SparkSession,
    path: str,
    before: date,
    partition_col: str = "event_date",
    dry_run: bool = False,
) -> dict:
    """Delete every <partition_col>=D partition with D < ``before``.
    Returns {"expired": [{"partition", "n_rows", "n_files"}...],
    "kept": [dates...]} — counts read from footers BEFORE deletion, so the
    audit record exists even though the data no longer does. ``dry_run``
    reports without deleting (the operational preview). The audit is one
    batched pass (listing or Spark job) across ALL expired partitions."""
    fs = HadoopFS(spark, path)
    to_expire, kept = [], []
    for d, uri in list_date_partitions(spark, path, partition_col):
        (kept.append(d.isoformat()) if d >= before else to_expire.append((d, uri)))
    audit = _audit_expired(spark, path, [u for _, u in to_expire])
    expired = []
    for d, uri in to_expire:
        counts = audit[uri.rstrip("/").rsplit("/", 1)[-1]]
        if not dry_run:
            fs.delete(uri)
        expired.append({
            "partition": f"{partition_col}={d.isoformat()}",
            "n_rows": counts["n_rows"],
            "n_files": counts["n_files"],
        })
    return {"expired": expired, "kept": kept, "dry_run": dry_run}
