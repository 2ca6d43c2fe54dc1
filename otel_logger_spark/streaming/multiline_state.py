"""Cross-micro-batch multiline coalescing for Structured Streaming.

The batch coalescer (operators/multiline.py) needs a conversation's turns
together; in streaming, an entry can span micro-batches (a stack trace's
continuation lines arrive in the next trigger). This operator keys state by
conv_id via ``applyInPandasWithState``: the open (unterminated) entry's
lines live in group state; an entry is emitted when the next start line
closes it, and the trailing open entry flushes on idle timeout — the
streaming analogue of the reference's final-flush-at-EOF
(/root/reference/main.go:451-453, ForceFlush main.go:652-655).

State is bounded: one open entry per conversation (the reference's own
memory model — its strings.Builder held exactly one pending entry,
main.go:420-448), plus the last-seen turn_idx for ordering sanity.

Empty lines are dropped and the start flag is computed in the JVM, with the
batch coalescer's own ``is_start_col``, before the rows reach the state
function: one start rule for batch and stream. An empty line therefore
never reaches the state and does not refresh a conversation's idle timer.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from otel_logger_spark.operators.multiline import is_start_col

OUTPUT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "n_lines"]
OUTPUT_SCHEMA = (
    "conv_id string, turn_idx long, role string, text string, tool string, "
    "ts timestamp, n_lines int"
)
# state: the open entry, encoded as parallel arrays (no struct state support)
STATE_SCHEMA = (
    "turn_idx long, role string, tool string, ts timestamp, "
    "lines array<string>, n int"
)


def make_coalesce_state_fn(idle_flush_ms: int = 10_000):
    """The state function over non-empty rows carrying the JVM-computed
    boolean ``is_start`` column (see coalesce_entries_stream)."""

    def fn(key, pdfs, state: GroupState):
        (conv_id,) = key
        out = []

        if state.hasTimedOut:
            # idle conversation: flush the open entry (ForceFlush analogue)
            if state.exists:
                ti, role, tool, ts, lines, n = state.get
                out.append((conv_id, ti, role, "\n".join(lines), tool, ts, n))
                state.remove()
            yield pd.DataFrame(out, columns=OUTPUT_COLS)
            return

        cur = list(state.get) if state.exists else None

        rows = pd.concat(list(pdfs)) if pdfs else pd.DataFrame()
        if len(rows):
            rows = rows.sort_values("turn_idx")
            for r in rows.itertuples(index=False):
                if r.is_start:
                    if cur is not None:
                        out.append(
                            (conv_id, cur[0], cur[1], "\n".join(cur[4]), cur[2], cur[3], cur[5])
                        )
                    cur = [r.turn_idx, r.role, r.tool, r.ts, [r.text], 1]
                elif cur is not None:
                    cur[4].append(r.text)
                    cur[5] += 1
                # else: orphaned continuation, dropped (main.go:446-447)

        if cur is not None:
            state.update(tuple(cur))
            state.setTimeoutDuration(idle_flush_ms)
        elif state.exists:
            state.remove()

        yield pd.DataFrame(out, columns=OUTPUT_COLS)

    return fn


def coalesce_entries_stream(stream: DataFrame, idle_flush_ms: int = 10_000) -> DataFrame:
    """Streaming multiline coalescer: emits an entry when the next start
    line closes it, or after ``idle_flush_ms`` of conversation idleness."""
    flagged = stream.filter(F.length("text") > 0).withColumn(  # main.go:425-427
        "is_start", is_start_col(F.col("text"))
    )
    return flagged.groupBy("conv_id").applyInPandasWithState(
        make_coalesce_state_fn(idle_flush_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
