"""Only ``fsio.py`` touches the Hadoop FileSystem objects.

``fsio.HadoopFS`` is the filesystem seam: callers list, delete and rename
through its methods, so the listing rules (which files Spark's reader
sees) and the scheme handling live in one module. This test AST-scans
``otel_logger_spark/`` and fails if any other module reaches into the
wrapper's private ``_fs`` handle or its ``_p(...)`` path constructor.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "otel_logger_spark")
PRIVATE = {"_fs", "_p"}


def private_uses(root: str = PKG) -> dict[str, set[str]]:
    """{path relative to ``root``: private HadoopFS attributes it touches}."""
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
                if isinstance(n, ast.Attribute) and n.attr in PRIVATE
            }
            if attrs:
                out[os.path.relpath(path, root)] = attrs
    return out


def test_only_fsio_touches_the_hadoop_filesystem():
    assert private_uses() == {"fsio.py": PRIVATE}


def test_scan_finds_attributes_not_strings(tmp_path):
    (tmp_path / "a.py").write_text(
        "fs._fs.delete(fs._p(path), True)\n"
        "doc = 'fs._fs in a string is not a use'\n"
    )
    (tmp_path / "b.py").write_text("fs.delete(path)\n")
    assert private_uses(str(tmp_path)) == {"a.py": {"_fs", "_p"}}
