"""Streaming exact deduplication — the ingest-time guard every
training-data pipeline needs in front of its corpus store: upstream
producers redeliver (at-least-once Kafka, retried uploads), and exact
duplicates should die at ingest, not in a nightly batch job.

Spark-first: ``dropDuplicatesWithinWatermark`` keys the dedup state by the
id columns and expires it once the watermark passes, so state stays
bounded by (duplicate horizon x arrival rate) instead of growing with the
corpus — the right semantics for redelivery-style duplicates, which arrive
close together in event time. A plain ``dropDuplicates`` on a stream would
keep every key forever (unbounded state at 10^12 turns).

Content-level dedup (same text, different ids) uses a hash column computed
BEFORE the dedup operator so the state key is the 32-byte digest, never
the text itself — state bytes stay flat regardless of document size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_stream_exact(
    stream: DataFrame,
    key_cols: list[str] | tuple[str, ...] = ("conv_id", "turn_idx"),
    ts_col: str = "ts",
    horizon: str = "30 seconds",
) -> DataFrame:
    """Drop redelivered rows whose ``key_cols`` were already seen within
    the watermark ``horizon``. Rows later than the horizon are late data
    (dropped by the watermark itself, as in any watermarked stateful op)."""
    return stream.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def dedup_stream_by_content(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    horizon: str = "30 seconds",
) -> DataFrame:
    """Content-identical dedup at ingest: state keyed by sha2-256 of the
    text (computed JVM-side), never the raw string — bounded state bytes
    per key whatever the document length. Emits the first-arriving copy."""
    hashed = stream.withColumn("_content_sha", F.sha2(F.col(text_col), 256))
    return (
        hashed.withWatermark(ts_col, horizon)
        .dropDuplicatesWithinWatermark(["_content_sha"])
        .drop("_content_sha")
    )
