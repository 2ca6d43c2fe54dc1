"""Seeded workload inputs, cached by seed.

Every input comes from ``synth.plan_conversations`` /
``synth.conversation_rows``, so its content mix is the repo's fixture mix:
JSON in 8 key styles, plain text, malformed JSON, ~15% multiline groups,
and ~0.2% hot conversations at ~100x turns. The program under test only
ever sees the files written here.

Inputs are written once per (workload, seed, VERSION) into the cache
directory; set-up and the timed regions never include generation.
"""

from __future__ import annotations

import os
import shutil

from otel_logger_spark import synth

# Bump when a generator or a size below changes: cached inputs are rebuilt.
VERSION = 4
# Cached input sets kept; older ones are deleted (each is a few MB).
KEEP_CACHED = 6

# Row counts are fixed per workload, so that seeds change the content
# but not the amount of work.
# batch_transcripts: the untimed warm-up unit runs on the first
# WARM_CONVS conversations, which are a prefix of the same plan.
BATCH_ROWS = 64_000
WARM_CONVS = 60
# text_logs: one file = one stream = one conv_id, every one hot, so the
# conv_id exchange carries the skew case.
TEXT_FILES = 32
TEXT_LINES_PER_FILE = 6_400
WARM_TEXT_FILES = 2
# stream_microbatch: rows in ts order cut into small parquet drops, so
# conversations and multiline entries straddle drop boundaries.
STREAM_ROWS = 80_000
STREAM_ROWS_PER_DROP = 2000


def _transcripts(n_rows: int, seed: int):
    """Whole conversations of the seeded plan, in plan order, until
    ``n_rows``; the last one is cut short to land on it exactly."""
    import pandas as pd

    rows = []
    for conv_id, n_turns, conv_seed in synth.plan_conversations(n_rows // 4 + 1, seed):
        take = min(n_turns, n_rows - len(rows))
        rows.extend(synth.conversation_rows(conv_id, take, conv_seed))
        if len(rows) == n_rows:
            break
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).astype({"turn_idx": "int32", "ts": "datetime64[us]"})


def _write_batch(d: str, seed: int) -> dict:
    pdf = _transcripts(BATCH_ROWS, seed)
    pdf.to_parquet(os.path.join(d, "transcripts.parquet"), index=False)
    warm = pdf[pdf["conv_id"] < f"conv-{WARM_CONVS:08d}"]
    warm.to_parquet(os.path.join(d, "warm.parquet"), index=False)
    return {"rows": len(pdf)}


def _write_text_logs(d: str, seed: int) -> dict:
    os.makedirs(os.path.join(d, "logs"))
    os.makedirs(os.path.join(d, "warm"))
    n_lines = 0
    plan = synth.plan_conversations(TEXT_FILES, seed, hot_frac=1.0)
    for i, (_, _, conv_seed) in enumerate(plan):
        name = f"stream-{i:03d}.log"
        rows = synth.conversation_rows(name, TEXT_LINES_PER_FILE, conv_seed)
        lines = [r[3] for r in rows]
        body = "\n".join(lines) + "\n"
        n_lines += len(lines)
        with open(os.path.join(d, "logs", name), "w") as f:
            f.write(body)
        if i < WARM_TEXT_FILES:
            with open(os.path.join(d, "warm", name), "w") as f:
                f.write(body)
    return {"rows": n_lines}


def _write_drops(d: str, pdf, rows_per_drop: int) -> list[int]:
    os.makedirs(d)
    counts = []
    for i, start in enumerate(range(0, len(pdf), rows_per_drop)):
        part = pdf.iloc[start : start + rows_per_drop]
        part.to_parquet(os.path.join(d, f"drop-{i:05d}.parquet"), index=False)
        counts.append(len(part))
    return counts


def _write_stream(d: str, seed: int) -> dict:
    def ts_order(pdf):
        # per-conversation turn order is ts order, so this keeps every
        # conversation's lines in sequence across drops
        return pdf.sort_values(["ts", "conv_id", "turn_idx"], kind="stable")

    pdf = ts_order(_transcripts(STREAM_ROWS, seed))
    counts = _write_drops(os.path.join(d, "drops"), pdf, STREAM_ROWS_PER_DROP)
    # the warm-up drains one drop: the first WARM_CONVS conversations
    warm = ts_order(pdf[pdf["conv_id"] < f"conv-{WARM_CONVS:08d}"])
    warm_counts = _write_drops(os.path.join(d, "warm"), warm, len(warm))
    return {"rows": len(pdf), "drop_rows": counts, "warm_drop_rows": warm_counts}


WRITERS = {
    "batch_transcripts": _write_batch,
    "text_logs": _write_text_logs,
    "stream_microbatch": _write_stream,
}


def prepare(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Return (directory, facts) for the workload's inputs at ``seed``,
    generating them on a cache miss. ``facts["rows"]`` is the input row
    count (turns, or lines for text_logs)."""
    import json

    d = os.path.join(cache_root, f"{workload}-v{VERSION}-s{seed}")
    facts_path = os.path.join(d, "facts.json")
    if not os.path.exists(facts_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        facts = WRITERS[workload](tmp, seed)
        with open(os.path.join(tmp, "facts.json"), "w") as f:
            json.dump(facts, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        _prune(cache_root, keep=d)
    with open(facts_path) as f:
        return d, json.load(f)


def _prune(cache_root: str, keep: str) -> None:
    entries = [
        os.path.join(cache_root, e)
        for e in os.listdir(cache_root)
        if not e.endswith(".tmp")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for e in entries[KEEP_CACHED:]:
        if e != keep:
            shutil.rmtree(e, ignore_errors=True)
