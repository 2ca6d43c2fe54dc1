"""Multiline coalescing (S4): merge continuation turns into logical entries.

Reference: multilineLogIterator (/root/reference/main.go:395-455) — a
sequential stateful scan. Rules:
- empty lines are skipped entirely (never break an entry, main.go:425-427)
- a line is a continuation if it matches the continuation pattern (default
  ``^[ \\t]``, main.go:45) OR its trimmed form is one of ``]`` ``}`` ``],``
  ``},`` (main.go:409-412)
- continuations before any start line are orphans and dropped (main.go:446-447)
- entries are joined with "\\n" (main.go:443-444)

Spark-first formulation (scales to 10^12 turns, no per-row Python):
the start predicate is stateless per row, so ``entry_id`` is a running sum
of ``is_start`` over ``Window.partitionBy(conv_id).orderBy(turn_idx)``;
orphans are ``entry_id == 0``; the join is a groupBy with an order-stable
``array_sort(collect_list(struct(turn_idx, ...)))``. One shuffle on conv_id
(reused by every downstream per-conversation op), all JVM-side.

The golden tests cross-check it against a direct transcription of the
sequential Go loop (tests/multiline_reference.py, SURVEY.md §2.1 S4).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_CONTINUATION_PATTERN = r"^[ \t]"
_BARE_CLOSERS = ("]", "}", "],", "},")


def is_start_col(text=None, cont_pattern: str = DEFAULT_CONTINUATION_PATTERN):
    """Stateless start-of-entry predicate (isLogEntryStart, main.go:397-416)."""
    if text is None:
        text = F.col("text")
    return (
        (F.length(text) > 0)
        & ~text.rlike(cont_pattern)
        & ~F.trim(text).isin(*_BARE_CLOSERS)
    )


def is_start_line(line: str, pat: re.Pattern) -> bool:
    """Row-at-a-time form of is_start_col for the streaming state function;
    ``pat`` is the compiled continuation pattern."""
    return (
        len(line) > 0
        and not pat.search(line)
        and line.strip() not in _BARE_CLOSERS
    )


def coalesce_entries(
    df: DataFrame,
    cont_pattern: str = DEFAULT_CONTINUATION_PATTERN,
    group_cols: tuple[str, ...] = ("conv_id",),
    order_col: str = "turn_idx",
) -> DataFrame:
    """Window-based coalescer. Input: transcript columns; output one row per
    logical entry: group_cols + turn_idx (of the start line), role, tool, ts
    (of the start line), text (joined with \\n), n_lines.
    """
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    nonempty = df.filter(F.length("text") > 0)  # main.go:425-427
    tagged = nonempty.withColumn(
        "_entry_id", F.sum(is_start_col(F.col("text"), cont_pattern).cast("int")).over(w)
    )
    # ordered string agg directly (Spark 4 listagg WITHIN GROUP) + min_by
    # for the start line's fields: no per-entry struct array is ever
    # materialized/sorted/re-flattened — the old collect_list + array_sort
    # + transform + concat_ws chain copied every text ~4x, and collect_list
    # aggregation is effectively sort-based past 128 keys
    entries = (
        tagged.filter(F.col("_entry_id") > 0)  # drop orphans (main.go:446-447)
        .groupBy(*group_cols, "_entry_id")
        .agg(
            F.min(order_col).alias(order_col),
            F.min_by("role", order_col).alias("role"),
            F.expr(
                f"listagg(text, '\\n') WITHIN GROUP (ORDER BY {order_col})"
            ).alias("text"),
            F.min_by("tool", order_col).alias("tool"),
            F.min_by("ts", order_col).alias("ts"),
            F.count("*").alias("n_lines"),
        )
        .select(*group_cols, order_col, "role", "text", "tool", "ts", "n_lines")
    )
    return entries
