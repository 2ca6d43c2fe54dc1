"""Every environment variable the engine reads is on an explicit allowlist.

Env flags are how an experiment outlives its A/B: each one keeps a second
code path alive. This test collects every key read through ``os.environ``
(``.get(...)``, ``[...]``, ``in``) or ``os.getenv`` under
``otel_logger_spark/`` and pins the set, so adding a flag is a visible,
reviewed edit to ALLOWED below.

Keys are resolved statically: a string literal is the key itself; an
f-string keeps its literal parts and turns each interpolation into ``*``;
a bare parameter name is resolved through every call of the enclosing
function that passes a string literal in that position. Anything else
resolves to ``<dynamic>``, which is never allowed.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "otel_logger_spark")

# deployment settings of the Spark session (session.py) and the oracle
# data directory of the training-data gates
ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_ORACLE_SF_DIR",
}
# the sink deployment family (operators/sinks.py): URI and writer options,
# each generic or with a per-sink suffix (``*``) — the reference's
# OTEL_EXPORTER_OTLP_* / OTEL_EXPORTER_OTLP_LOGS_* precedence — and the
# format variables, read only to reject any value but parquet
SINK_FAMILY = {
    f"OTEL_SPARK_SINK_{name}{suffix}"
    for name in ("FORMAT", "URI", "OPTIONS")
    for suffix in ("", "_*")
}


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_key_nodes(tree):
    """(key expression, enclosing function node) for every env read."""
    out = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                (f.attr == "get" and _is_environ(f.value)) or f.attr == "getenv"
            ):
                out.append((node.args[0], fn))
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            out.append((node.slice, fn))
        elif isinstance(node, ast.Compare) and any(
            isinstance(op, (ast.In, ast.NotIn)) for op in node.ops
        ) and any(_is_environ(c) for c in node.comparators):
            out.append((node.left, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return out


def _params(fn) -> list[str]:
    return [a.arg for a in fn.args.args] if fn is not None else []


def _literal_args(trees, fn, param: str) -> list[str]:
    """String literals passed for ``param`` at every call of ``fn``."""
    pos = _params(fn).index(param)
    vals = []
    for tree in trees:
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            callee = node.func
            name = getattr(callee, "id", None) or getattr(callee, "attr", None)
            if name != fn.name:
                continue
            arg = node.args[pos] if pos < len(node.args) else next(
                (k.value for k in node.keywords if k.arg == param), None
            )
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                vals.append(arg.value)
            else:
                vals.append("<dynamic>")
    return vals or ["<dynamic>"]


def _resolve(expr, fn, trees) -> list[str]:
    if isinstance(expr, ast.Constant) and isinstance(expr.value, str):
        return [expr.value]
    if isinstance(expr, ast.Name) and expr.id in _params(fn):
        return _literal_args(trees, fn, expr.id)
    if isinstance(expr, ast.JoinedStr):
        keys = [""]
        for part in expr.values:
            if isinstance(part, ast.Constant):
                keys = [k + part.value for k in keys]
            elif isinstance(part.value, ast.Name) and part.value.id in _params(fn):
                keys = [k + v for k in keys for v in _resolve(part.value, fn, trees)]
            else:
                keys = [k + "*" for k in keys]
        return keys
    return ["<dynamic>"]


def collect_env_keys(root: str = PKG) -> set[str]:
    trees = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                    trees.append(ast.parse(fh.read()))
    keys = set()
    for tree in trees:
        for expr, fn in _env_key_nodes(tree):
            keys.update(_resolve(expr, fn, trees))
    return keys


def test_env_reads_match_allowlist():
    assert collect_env_keys() == ALLOWED | SINK_FAMILY


def test_collector_resolves_each_key_form(tmp_path):
    (tmp_path / "m.py").write_text(
        "import os\n"
        "A = os.environ.get('LIT')\n"
        "B = os.environ['SUB']\n"
        "C = 'IN' in os.environ\n"
        "D = os.getenv('GETENV')\n"
        "def f(base, sink):\n"
        "    return os.environ.get(f'{base}_{sink.upper()}')\n"
        "f('VIA_PARAM', 'x')\n"
        "E = os.environ.get(compute())\n"
    )
    assert collect_env_keys(str(tmp_path)) == {
        "LIT", "SUB", "IN", "GETENV", "VIA_PARAM_*", "<dynamic>",
    }
