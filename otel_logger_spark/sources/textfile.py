"""Raw log-file source: the stdin-pipe-mode analog (S1).

The reference's primary mode is `cat app.log | otel-logger`
(/root/reference/main.go:457-474): one ordered stream of text lines. The
distributed analog reads log FILES, one file = one stream (= one conv_id),
preserving in-file line order — so the reference's own example corpora
(examples/*.txt) run through this engine unchanged.

Implementation: wholetext read (one row per file — order preserved by
construction), then one JVM projection splits each file into lines:
``posexplode(split(text, '\\n', -1))`` numbers them, with no Python
worker and no Arrow round trip. Files are the parallelism unit, matching
the reference's one-goroutine-per-stream model (main.go:541-542). Giant
single files would need a byte-offset splitter; log corpora are
many-files-shaped, so files as the split unit is the right default.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _drop_last(col, ch: str):
    """``col`` without one trailing ``ch`` (a plain compare: a per-row
    regex costs more than the split itself)."""
    return F.when(col.endswith(ch), col.substr(F.lit(1), F.length(col) - 1)).otherwise(col)


def read_log_files(
    spark: SparkSession, path: str, default_ts: datetime | None = None
) -> DataFrame:
    """Read text log files into the transcript shape: conv_id = file path,
    turn_idx = line number, role = 'stdin', ts = default_ts (the
    deterministic stand-in for the reference's time.Now() fallback; a
    naive value is read as UTC)."""
    ts = default_ts or _EPOCH
    if ts.tzinfo is None:
        # py4j converts a naive datetime in the Python process's local zone
        ts = ts.replace(tzinfo=timezone.utc)
    files = (
        spark.read.format("text")
        .option("wholetext", True)
        .load(path)
        # an empty file has no lines; one trailing newline ends the last
        # line rather than starting an empty one
        .filter(F.col("value") != "")
        .select(
            F.col("_metadata.file_path").alias("conv_id"),
            _drop_last(F.col("value"), "\n").alias("body"),
        )
    )
    # the generator is the only expression over the file text here: any
    # other would make Spark carry the whole file into every line's row
    lines = files.select(
        "conv_id", F.posexplode(F.split("body", "\n", -1)).alias("turn_idx", "line")
    )
    return lines.select(
        "conv_id",
        "turn_idx",
        F.lit("stdin").alias("role"),
        # ScanLines drops one CR per line (main.go:419)
        _drop_last(F.col("line"), "\r").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(ts).alias("ts"),
    )
