"""Independent DuckDB counts that the sink outputs are checked against.

The entry rule is the one in ``queries.O_MULTILINE_ENTRY_STATS``: a
non-empty line starts an entry unless it begins with a space or tab or
is a bare closer; lines before a conversation's first start line are
dropped. So the ``logs`` sink holds one row per start line, ``tool_call``
the entries whose start line carries a tool, and ``conversation_metrics``
one row per conversation with at least one entry.
"""

from __future__ import annotations

import glob
import os

import duckdb

_COUNTS = """
WITH tagged AS (
  SELECT conv_id, tool,
         CASE WHEN substring(text, 1, 1) IN (' ', chr(9))
                OR trim(text) IN (']', '}}', '],', '}},') THEN 0 ELSE 1 END AS is_start
  FROM ({lines}) WHERE length(text) > 0)
SELECT CAST(SUM(is_start) AS BIGINT) AS logs,
       CAST(SUM(CASE WHEN is_start = 1 AND tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tool_call,
       COUNT(DISTINCT CASE WHEN is_start = 1 THEN conv_id END) AS conversation_metrics
FROM tagged
"""


def _sql_path(p: str) -> str:
    return p.replace("'", "''")


def _counts(lines_sql: str) -> dict:
    con = duckdb.connect()
    try:
        cols = ("logs", "tool_call", "conversation_metrics")
        return dict(zip(cols, con.sql(_COUNTS.format(lines=lines_sql)).fetchone()))
    finally:
        con.close()


def transcript_counts(parquet_path: str) -> dict:
    """Expected sink counts for a transcripts parquet file."""
    return _counts(
        f"SELECT conv_id, text, tool FROM read_parquet('{_sql_path(parquet_path)}')"
    )


def text_log_counts(log_dir: str) -> dict:
    """Expected sink counts for a directory of raw log files, one
    conversation per file and one row per line."""
    files = f"{_sql_path(log_dir)}/*.log"
    return _counts(
        "SELECT filename AS conv_id, unnest(string_split(content, chr(10))) AS text,"
        f" NULL AS tool FROM read_text('{files}')"
    )


def sink_rows(sink_dir: str) -> int:
    """Rows under a sink directory (any depth of batchid= partitions)."""
    files = glob.glob(os.path.join(sink_dir, "**", "*.parquet"), recursive=True)
    if not files:
        return 0
    con = duckdb.connect()
    try:
        return con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]
    finally:
        con.close()
