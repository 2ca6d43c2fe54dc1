"""The micro-batch fan-out lives in one file.

Every streaming query is a sink builder run by
``streaming/pipeline.start_batch_sinks``, so the stream reader, the
foreachBatch writer and the trigger block exist once. This test AST-scans
``otel_logger_spark/`` for the Structured Streaming entry points
(``readStream``, ``writeStream``, ``foreachBatch``) and requires them in
``streaming/pipeline.py`` only: a second copy of the fan-out is a visible
failure here, not a convention.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "otel_logger_spark")
FANOUT_ATTRS = {"readStream", "writeStream", "foreachBatch"}
FANOUT_FILE = os.path.join("streaming", "pipeline.py")


def fanout_uses(root: str = PKG) -> dict[str, set[str]]:
    """{path relative to ``root``: fan-out attributes it touches}."""
    out: dict[str, set[str]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            attrs = {
                n.attr for n in ast.walk(tree)
                if isinstance(n, ast.Attribute) and n.attr in FANOUT_ATTRS
            }
            if attrs:
                out[os.path.relpath(path, root)] = attrs
    return out


def test_fanout_lives_in_streaming_pipeline():
    assert fanout_uses() == {FANOUT_FILE: FANOUT_ATTRS}


def test_scan_finds_attributes_not_strings(tmp_path):
    (tmp_path / "a.py").write_text(
        "q = df.writeStream.foreachBatch(f)\n"
        "doc = 'readStream in a string is not a use'\n"
    )
    assert fanout_uses(str(tmp_path)) == {"a.py": {"writeStream", "foreachBatch"}}
