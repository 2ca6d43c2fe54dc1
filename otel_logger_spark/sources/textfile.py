"""Raw log-file source: the stdin-pipe-mode analog (S1).

The reference's primary mode is `cat app.log | otel-logger`
(/root/reference/main.go:457-474): one ordered stream of text lines. The
distributed analog reads log FILES, one file = one stream (= one conv_id),
preserving in-file line order — so the reference's own example corpora
(examples/*.txt) run through this engine unchanged.

Implementation: wholetext read (one row per file — order preserved by
construction), then an Arrow-batched line splitter assigns line numbers.
Files are the parallelism unit, matching the reference's
one-goroutine-per-stream model (main.go:541-542). Giant single files would
need a byte-offset splitter; log corpora are many-files-shaped, so files
as the split unit is the right default.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_EPOCH = datetime(1970, 1, 1)


def read_log_files(
    spark: SparkSession, path: str, default_ts: datetime | None = None
) -> DataFrame:
    """Read text log files into the transcript shape: conv_id = file path,
    turn_idx = line number, role = 'stdin', ts = default_ts (the
    deterministic stand-in for the reference's time.Now() fallback)."""
    ts = default_ts or _EPOCH
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    raw = (
        spark.read.format("text")
        .option("wholetext", True)
        .load(path)
        .selectExpr("value", "_metadata.file_path AS file_path")
    )

    def split_lines(batches):
        for pdf in batches:
            out = {"conv_id": [], "turn_idx": [], "role": [], "text": [], "tool": [], "ts": []}
            for content, fp in zip(pdf["value"], pdf["file_path"]):
                content = content or ""
                lines = content.split("\n")
                if lines and lines[-1] == "":  # trailing newline artifact
                    lines.pop()
                if "\r" in content:  # ScanLines drops one CR per line (main.go:419)
                    lines = [s[:-1] if s.endswith("\r") else s for s in lines]
                for i, line in enumerate(lines):
                    out["conv_id"].append(fp)
                    out["turn_idx"].append(i)
                    out["role"].append("stdin")
                    out["text"].append(line)
                    out["tool"].append(None)
                    out["ts"].append(ts)
            yield pd.DataFrame(out)

    return raw.mapInPandas(
        split_lines,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
