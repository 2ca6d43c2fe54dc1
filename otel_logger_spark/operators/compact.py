"""Small-file compaction — the maintenance operator every streaming sink
needs at scale: foreachBatch writes one directory per micro-batch
(exactly-once per (sink, batchId)), which after a week of 5-second
triggers is ~120k directories of kilobyte files; object-store listings
and scan planning degrade long before the data does. Iceberg calls this
rewrite_data_files; this is the parquet-directory analogue, with the same
no-rows-lost discipline as the sinks (A5). A streaming sink directory
(``<out_dir>/<sink>``, ``maintenance compact --sink``) compacts like any
other once its batches are final: the batchid=<id> partitions collapse,
and batchid survives as an ordinary column in the compacted files, with
row counts and values untouched.

Safety protocol (crash anywhere leaves a recoverable state, and NEVER a
state where rows are lost):
1. rewrite the directory's rows into ``<dir>.compact_tmp`` with
   ``repartition(n)`` sized from the measured input bytes, written
   through the sinks' counted write (sinks._write_one: the sink write
   policy, the row count observed on the write and checked against the
   tmp's footers);
2. VERIFY the tmp: that row count == the source row count, and the
   source's part files (path, bytes) are unchanged since step 1 — no
   concurrent writer;
3. swap: delete the source, rename tmp into place. A crash between 3's
   two steps leaves a complete verified tmp next to a missing dir —
   ``recover_compaction`` (called automatically at the start of every
   compaction) finishes the rename, mirroring the manifest's .tmp
   recovery (fsio.write_text_atomic).

Source fingerprints, bytes and rows all come from the one part-file
inventory (fsio.parquet_part_files), which skips hidden paths such as
``_temporary`` exactly as the rewrite's ``spark.read.parquet`` does, so
the verify compares like with like. Verification reads footers only (no
data pages); the one full read is the rewrite itself — you cannot
compact cheaper than one read + one write.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from otel_logger_spark.fsio import HadoopFS, parquet_part_files
from otel_logger_spark.operators.sinks import _write_one

TMP_SUFFIX = ".compact_tmp"


def recover_compaction(spark: SparkSession, path: str) -> bool:
    """Finish a compaction interrupted between delete and rename: if the
    target is ABSENT but a completed tmp exists, rename it into place.
    Returns True if a recovery happened. A tmp next to a still-present
    target is a pre-swap leftover (crash before the verify passed or
    before the delete) — the source is intact, so the stale tmp is simply
    removed."""
    fs = HadoopFS(spark, path)
    tmp = path + TMP_SUFFIX
    if not fs.exists(tmp):
        return False
    if fs.exists(path):
        fs.delete(tmp)  # source intact: tmp is garbage
        return False
    fs.rename(tmp, path)
    return True


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 512 * 1024 * 1024,
) -> dict:
    """Compact one parquet directory to ~``target_file_bytes`` files.
    Returns {"n_rows", "files_before", "files_after", "recovered"}.
    No-op (beyond recovery) when the directory already meets the target
    file count — rewriting well-sized files would double the IO for
    nothing.

    Concurrency contract: the directory must have no ACTIVE writer (stop
    the stream / pause the pipeline first) — compaction replaces the
    directory wholesale, and rows written after the rewrite's scan cannot
    be in the rewrite. The contract is ENFORCED, not assumed: part files
    (name + length) are fingerprinted before the rewrite and re-listed
    just before the swap; any change aborts with the source untouched and
    the tmp removed. The unclosable residue is the recheck->delete instant
    itself — the same window every non-transactional rewrite bottoms out
    in (a table format closes it with commit-conflict retries)."""
    return rewrite_verify_swap(
        spark,
        path,
        transform=lambda df, n_target: df.repartition(n_target),
        target_file_bytes=target_file_bytes,
        skip_if_compact=True,
    )


def rewrite_verify_swap(
    spark: SparkSession,
    path: str,
    transform,
    target_file_bytes: int = 512 * 1024 * 1024,
    skip_if_compact: bool = False,
    expected_rows=None,
) -> dict:
    """The shared maintenance-rewrite protocol (compaction, Z-ordering,
    any whole-directory layout change): fingerprint -> rewrite
    ``transform(df, n_target)`` into tmp -> footer-verify row counts ->
    re-fingerprint (concurrent-writer guard) -> swap. Crash anywhere
    leaves a recoverable state (recover_compaction); any row-count or
    listing discrepancy aborts with the source untouched.

    ``expected_rows``: by default the verify demands tmp == source
    (layout-only rewrites). A row-REMOVING rewrite (operators/forget.py)
    passes a callable ``src_rows -> expected`` computed from its own
    matched-row accounting, and the verify demands that instead — the
    row delta is still asserted, never waived."""
    recovered = recover_compaction(spark, path)
    fs = HadoopFS(spark, path)
    # one inventory pass gives the fingerprints, the byte total and the
    # source row count
    src = parquet_part_files(spark, path)
    if not src:
        return {"n_rows": 0, "files_before": 0, "files_after": 0,
                "recovered": recovered}
    fps = {f[:2] for f in src}
    src_rows = sum(n for _, _, n in src)
    total_bytes = sum(n_bytes for _, n_bytes, _ in src)
    n_target = max(1, math.ceil(total_bytes / target_file_bytes))
    if skip_if_compact and len(src) <= n_target:
        return {"n_rows": src_rows, "files_before": len(src),
                "files_after": len(src), "recovered": recovered}

    tmp = path + TMP_SUFFIX
    rewritten = transform(spark.read.parquet(path), n_target)
    try:
        # the sinks' own counted write: the observed row count, checked
        # against the tmp's footers, and the per-part lineage
        tmp_rows, tmp_parts = _write_one(rewritten, tmp)
        want_rows = src_rows if expected_rows is None else expected_rows(src_rows)
        if tmp_rows != want_rows:
            raise RuntimeError(
                f"rewrite verify failed at {path}: expected {want_rows} rows "
                f"(source {src_rows}), rewrite {tmp_rows} — source left "
                "untouched"
            )
        fps_now = {f[:2] for f in parquet_part_files(spark, path)}
        if fps_now != fps:
            raise RuntimeError(
                f"concurrent writer detected at {path}: "
                f"{len(fps_now - fps)} part file(s) appeared and "
                f"{len(fps - fps_now)} changed or vanished since the rewrite "
                "began — compaction aborted, source left untouched (stop the "
                "writer before compacting)"
            )
    except BaseException:
        fs.delete(tmp)  # leave the source untouched; remove the rewrite
        raise
    fs.delete(path)
    fs.rename(tmp, path)
    return {
        # == src_rows for layout-only rewrites; the post-delete count for
        # row-removing ones (verified against expected_rows either way)
        "n_rows": tmp_rows,
        "rows_removed": src_rows - tmp_rows,
        "files_before": len(src),
        "files_after": len(tmp_parts),
        "recovered": recovered,
    }

