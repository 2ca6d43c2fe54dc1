"""Reference transcription of the text source's line split for the tests.

The per-line Python loop that ``read_log_files`` once ran inside a
``mapInPandas``: split each file on ``\\n``, pop the trailing empty
element, and drop one trailing CR per line (bufio.Scanner's ScanLines,
main.go:419). The tests assert the shipped JVM split equals it row for
row; it is kept out of the package because nothing but the tests needs a
second implementation.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_EPOCH = datetime(1970, 1, 1)


def read_log_files_pandas(
    spark: SparkSession, path: str, default_ts: datetime | None = None
) -> DataFrame:
    """Same output schema as read_log_files."""
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
                if "\r" in content:
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
