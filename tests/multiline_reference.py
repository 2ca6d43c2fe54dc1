"""Reference transcription of the multiline coalescer for the tests.

A direct, row-at-a-time port of the Go loop's state machine
(multilineLogIterator, main.go:395-455) run per conversation through
``applyInPandas``. The tests assert the shipped window coalescer
(operators/multiline.coalesce_entries) equals it; it is kept out of the
package because nothing but the tests needs a second implementation.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame

from otel_logger_spark.operators.multiline import DEFAULT_CONTINUATION_PATTERN

# bare JSON closers continue the open entry (main.go:409-412)
_BARE_CLOSERS = ("]", "}", "],", "},")
_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "n_lines"]


def coalesce_entries_pandas(
    df: DataFrame, cont_pattern: str = DEFAULT_CONTINUATION_PATTERN
) -> DataFrame:
    """Same output schema as coalesce_entries."""
    pat = re.compile(cont_pattern)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        cur: list[dict] | None = None

        def flush():
            if cur:
                first = cur[0]
                out.append(
                    {
                        **{c: first[c] for c in _COLS[:-1]},
                        "text": "\n".join(r["text"] for r in cur),
                        "n_lines": len(cur),
                    }
                )

        for row in pdf.sort_values("turn_idx").to_dict("records"):
            line = row["text"]
            if len(line) == 0:  # main.go:425-427
                continue
            if not pat.search(line) and line.strip() not in _BARE_CLOSERS:
                flush()
                cur = [row]
            elif cur is not None:  # else: orphan, dropped (main.go:446-447)
                cur.append(row)
        flush()
        return pd.DataFrame(out, columns=_COLS)

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, n_lines int"
    )
    return df.groupBy("conv_id").applyInPandas(run, schema)
