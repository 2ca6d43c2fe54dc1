"""Multiline coalescing (S4): merge continuation turns into logical entries.

Reference: multilineLogIterator (/root/reference/main.go:395-455) — a
sequential stateful scan. Rules:
- empty lines are skipped entirely (never break an entry, main.go:425-427)
- a line is a continuation if it matches the continuation pattern (default
  ``^[ \\t]``, main.go:45) OR its trimmed form is one of ``]`` ``}`` ``],``
  ``},`` (main.go:409-412); trimming strips Go's ``strings.TrimSpace`` set
  (Unicode White_Space), not only ASCII spaces
- continuations before any start line are orphans and dropped (main.go:446-447)
- entries are joined with "\\n" (main.go:443-444)

Spark-first formulation (scales to 10^12 turns, no per-row Python):
the start predicate is stateless per row, so ``entry_id`` is a running sum
of ``is_start`` over ``Window.partitionBy(conv_id).orderBy(turn_idx)``;
orphans are ``entry_id == 0``; the join is a groupBy with an ordered
``listagg``. One shuffle on conv_id (reused by every downstream
per-conversation op), all JVM-side.

``is_start_col`` is the only definition of the start rule: the streaming
coalescer (streaming/multiline_state.py) evaluates it in the JVM too.
The golden tests cross-check both against a direct transcription of the
sequential Go loop (tests/multiline_reference.py, SURVEY.md §2.1 S4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_CONTINUATION_PATTERN = r"^[ \t]"
_BARE_CLOSERS = ("]", "}", "],", "},")
# what Go's strings.TrimSpace strips (unicode.IsSpace, the White_Space set);
# Python's str.strip() also strips \x1c-\x1f, which Go keeps
_TRIM_SPACE = (
    "\t\n\v\f\r \x85\xa0\u1680\u2000\u2001\u2002\u2003\u2004\u2005"
    "\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)
# the first characters a bare closer can have; trim(text, set) indexes
# every character of the line (UTF8String.trimRight), so only lines that
# start with one of these pay for it (unguarded: +100 ms per 204,800 lines
# on two local cores of a 4-vCPU host)
_CLOSER_HEADS = tuple(sorted(set(_TRIM_SPACE) | {"]", "}"}))


def is_start_col(text=None, cont_pattern: str = DEFAULT_CONTINUATION_PATTERN):
    """Stateless start-of-entry predicate (isLogEntryStart, main.go:397-416)."""
    if text is None:
        text = F.col("text")
    return (
        (F.length(text) > 0)
        & ~text.rlike(cont_pattern)
        & ~(
            F.substring(text, 1, 1).isin(*_CLOSER_HEADS)
            & F.trim(text, F.lit(_TRIM_SPACE)).isin(*_BARE_CLOSERS)
        )
    )


def coalesce_entries(
    df: DataFrame,
    cont_pattern: str = DEFAULT_CONTINUATION_PATTERN,
) -> DataFrame:
    """Window-based coalescer. Input: transcript columns; output one row per
    logical entry: conv_id, turn_idx (of the start line), role, tool, ts
    (of the start line), text (joined with \\n), n_lines.
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
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
        .groupBy("conv_id", "_entry_id")
        .agg(
            F.min("turn_idx").alias("turn_idx"),
            F.min_by("role", "turn_idx").alias("role"),
            F.expr(
                "listagg(text, '\\n') WITHIN GROUP (ORDER BY turn_idx)"
            ).alias("text"),
            F.min_by("tool", "turn_idx").alias("tool"),
            F.min_by("ts", "turn_idx").alias("ts"),
            F.count("*").alias("n_lines"),
        )
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "n_lines")
    )
    return entries
