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

An ``applyInPandas`` variant mirrors the sequential Go loop for
cross-checking (SURVEY.md §2.1 S4).
"""

from __future__ import annotations

import re

import pandas as pd
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


def coalesce_entries_pandas(
    df: DataFrame,
    cont_pattern: str = DEFAULT_CONTINUATION_PATTERN,
    group_cols: tuple[str, ...] = ("conv_id",),
    order_col: str = "turn_idx",
) -> DataFrame:
    """Sequential per-conversation variant via applyInPandas — a direct
    transcription of the Go loop's state machine, used to cross-check the
    window formulation. Same output schema as coalesce_entries."""
    pat = re.compile(cont_pattern)
    gcols = list(group_cols)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        out = []
        cur: list[dict] | None = None

        def flush():
            nonlocal cur
            if cur:
                first = cur[0]
                out.append(
                    {
                        **{c: first[c] for c in gcols},
                        order_col: first[order_col],
                        "role": first["role"],
                        "text": "\n".join(r["text"] for r in cur),
                        "tool": first["tool"],
                        "ts": first["ts"],
                        "n_lines": len(cur),
                    }
                )
                cur = None

        for row in pdf.to_dict("records"):
            line = row["text"]
            if len(line) == 0:
                continue
            starts = (
                not pat.search(line) and line.strip() not in _BARE_CLOSERS
            )
            if starts:
                flush()
                cur = [row]
            elif cur is not None:
                cur.append(row)
        flush()
        cols = gcols + [order_col, "role", "text", "tool", "ts", "n_lines"]
        return pd.DataFrame(out, columns=cols)

    schema = (
        ", ".join(f"{c} string" for c in gcols)
        + f", {order_col} int, role string, text string, tool string, ts timestamp, n_lines int"
    )
    return df.groupBy(*gcols).applyInPandas(run, schema)


def coalesce_entries_partitioned(
    df: DataFrame,
    cont_pattern: str = DEFAULT_CONTINUATION_PATTERN,
    order_col: str = "turn_idx",
) -> DataFrame:
    """Shuffle-free coalescer for sources whose partitions already hold
    whole, ordered conversations — the textfile source (one file = one
    stream, sources/textfile.py) by construction. Because there is no
    exchange, a downstream ``limit(k)`` early-exits: CollectLimit runs one
    input partition at a time, matching the reference's pull-based iterator
    (multiline_test.go:258-294 — consuming one entry reads one entry's
    lines, not the whole input). PRECONDITION (not checked): every conv_id
    is wholly contained in one partition and its rows are contiguous and
    ordered; use coalesce_entries for arbitrary layouts. Same output schema
    as coalesce_entries."""
    pat = re.compile(cont_pattern)
    cols = ["conv_id", order_col, "role", "text", "tool", "ts", "n_lines"]

    def run(batches):
        import numpy as np

        # the open entry and current conversation survive Arrow batch
        # boundaries — a conversation's rows can span batches within the
        # partition; only the partition end closes the final entry.
        # Per-batch work is VECTORIZED (pandas .str ops for the start/closer
        # flags, numpy for group boundaries); Python touches each ENTRY
        # once (field pick + join), never each line — the round-2 row-loop
        # (to_dict("records")) paid per-line dict construction.
        cur: dict | None = None  # open entry: start fields + texts list
        prev_conv = None

        def finalize(c):
            return {
                "conv_id": c["conv_id"],
                order_col: c[order_col],
                "role": c["role"],
                "text": "\n".join(c["texts"]),
                "tool": c["tool"],
                "ts": c["ts"],
                "n_lines": len(c["texts"]),
            }

        for pdf in batches:
            out = []
            t = pdf["text"]
            sub = pdf.loc[t.notna() & (t.str.len() > 0)]  # main.go:425-427
            if len(sub) == 0:
                yield pd.DataFrame(out, columns=cols)
                continue
            texts = sub["text"]
            convs = sub["conv_id"].to_numpy()
            # isLogEntryStart (main.go:397-416), one pass per batch
            starts = (
                ~texts.str.contains(pat, regex=True)
                & ~texts.str.strip().isin(_BARE_CLOSERS)
            ).to_numpy()
            conv_change = np.empty(len(sub), dtype=bool)
            conv_change[0] = prev_conv is None or convs[0] != prev_conv
            conv_change[1:] = convs[1:] != convs[:-1]
            prev_conv = convs[-1]
            # a new group begins at every start line AND every conversation
            # boundary (the boundary closes the open entry; a non-start
            # group head means orphan continuations — dropped,
            # main.go:446-447)
            first_idx = np.flatnonzero(starts | conv_change)
            texts_np = texts.to_numpy()
            if first_idx.size == 0:
                # whole batch continues the carried entry (or is orphans)
                if cur is not None:
                    cur["texts"].extend(texts_np.tolist())
                yield pd.DataFrame(out, columns=cols)
                continue
            if cur is not None:
                if first_idx[0] > 0:  # leading continuations of the carry
                    cur["texts"].extend(texts_np[: first_idx[0]].tolist())
                out.append(finalize(cur))
                cur = None
            ord_np = sub[order_col].to_numpy()
            role_np = sub["role"].to_numpy()
            tool_np = sub["tool"].to_numpy()
            ts_np = sub["ts"].to_numpy()
            bounds = np.append(first_idx, len(sub))
            last = first_idx.size - 1
            # closed entries = start-led groups except the final one (it
            # stays open into the next batch); orphan groups (head is a
            # conversation boundary, not a start) are dropped wholesale
            closed = starts[first_idx].copy()
            closed[last] = False
            heads = first_idx[closed]
            ends = bounds[1:][closed]
            if starts[bounds[last]]:
                a, b = bounds[last], bounds[last + 1]
                cur = {  # the one per-batch carried entry
                    "conv_id": convs[a],
                    order_col: ord_np[a],
                    "role": role_np[a],
                    "tool": tool_np[a],
                    "ts": ts_np[a],
                    "texts": texts_np[a:b].tolist(),
                }
            batch_out = pd.DataFrame(
                {
                    "conv_id": convs[heads],
                    order_col: ord_np[heads],
                    "role": role_np[heads],
                    "text": [
                        texts_np[a] if b - a == 1 else "\n".join(texts_np[a:b])
                        for a, b in zip(heads, ends)
                    ],
                    "tool": tool_np[heads],
                    "ts": ts_np[heads],
                    "n_lines": (ends - heads).astype("int64"),
                }
            )
            if out:  # the flushed carry precedes this batch's entries
                batch_out = pd.concat(
                    [pd.DataFrame(out, columns=cols), batch_out],
                    ignore_index=True,
                )
            yield batch_out[cols]
        if cur is not None:  # partition end == EOF ForceFlush (main.go:451-453)
            yield pd.DataFrame([finalize(cur)], columns=cols)

    schema = (
        f"conv_id string, {order_col} int, role string, text string, "
        "tool string, ts timestamp, n_lines int"
    )
    return df.mapInPandas(run, schema)
