"""Only ``operators/sinks.py`` and ``io.py`` chain a DataFrame ``.write``.

``operators/sinks.write_sink`` is the one sink write policy (overwrite,
parquet with the snappy codec, partitioning, writer options): the
batch sinks, the micro-batch sinks and the maintenance rewrites all write
through it, and ``io.py`` is the table seam (``write_table``,
``write_bucketed``). This test AST-scans ``otel_logger_spark/`` and fails
if any other module reads the ``.write`` property, so a new writer cannot
quietly pick its own codec again.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "otel_logger_spark")


def write_chains(root: str = PKG) -> set[str]:
    """Paths, relative to ``root``, of modules that read a ``.write``
    attribute without calling it (``df.write.mode(...)``, not a stream's
    ``out.write(data)``)."""
    out = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            called = {
                id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)
            }
            if any(
                isinstance(n, ast.Attribute) and n.attr == "write"
                and id(n) not in called
                for n in ast.walk(tree)
            ):
                out.add(os.path.relpath(path, root))
    return out


def test_only_the_sink_and_table_seams_write_dataframes():
    assert write_chains() == {os.path.join("operators", "sinks.py"), "io.py"}


def test_scan_finds_property_reads_not_calls(tmp_path):
    (tmp_path / "a.py").write_text("df.write.mode('overwrite').parquet(p)\n")
    (tmp_path / "b.py").write_text("w = df.write\n")
    (tmp_path / "c.py").write_text(
        "out.write(data)\nq = df.writeStream.start()\n"
        "doc = 'df.write in a string is not a use'\n"
    )
    assert write_chains(str(tmp_path)) == {"a.py", "b.py"}
