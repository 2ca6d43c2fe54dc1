"""Every optional switch of the pipeline, streaming, maintenance and IO
layers has a caller.

A parameter defaulting to ``None``, ``True`` or ``False`` selects a code
path; when no call in the repository ever sets it, that path is tested by
nothing and kept alive for nobody. This test AST-scans the public
module-level functions of SCANNED and requires each such parameter to be
set, by keyword or by position, by at least one call in CALLERS. A
function that is never called, only passed by reference (the sink
builders handed to start_batch_sinks), is skipped. Exceptions live in
ALLOWED with their reason, so adding one is a visible, reviewed edit.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCANNED = [
    "otel_logger_spark/streaming/*.py",
    *(f"otel_logger_spark/operators/{m}.py"
      for m in ("sinks", "forget", "compact", "retention", "zorder", "skew")),
    "otel_logger_spark/io.py",
    "otel_logger_spark/pipeline.py",
    "otel_logger_spark/fsio.py",
    "otel_logger_spark/session.py",
    "otel_logger_spark/sources/*.py",
    "otel_logger_spark/maintenance.py",
]
CALLERS = [
    "otel_logger_spark/**/*.py",
    "tools/**/*.py",
    "perfbench/**/*.py",
    "bench.py",
    "bench_extra.py",
    "__spark_entry__.py",
    "tests/**/*.py",
]

# (function, parameter) -> why no call in CALLERS sets it
ALLOWED = {
    ("install_graceful_shutdown", "signals"):
        "set by test_sigterm_graceful_drain inside its subprocess script",
}


def _parse(root: str, patterns: list[str]) -> list[ast.Module]:
    paths = sorted({p for pat in patterns
                    for p in glob.glob(os.path.join(root, pat), recursive=True)})
    trees = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            trees.append(ast.parse(fh.read()))
    return trees


def _switches(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of every parameter whose
    default is None, True or False."""
    a = fn.args
    positional = a.posonlyargs + a.args
    pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    out = []
    for p, d in pairs:
        # identity, not ==: a default of 0 or 1 is a size, not a switch
        if isinstance(d, ast.Constant) and any(d.value is v for v in (None, True, False)):
            pos = positional.index(p) if p in positional else None
            out.append((pos, p.arg))
    return out


def _callee(node: ast.Call) -> str | None:
    f = node.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _sets(call: ast.Call, pos: int | None, name: str) -> bool:
    if any(k.arg == name or k.arg is None for k in call.keywords):  # None: **kw
        return True
    if pos is None:
        return False
    # a *args at or before ``pos`` may fill it
    return pos < len(call.args) or any(isinstance(a, ast.Starred) for a in call.args)


def unset_options(root: str = REPO, scanned=SCANNED, callers=CALLERS) -> set:
    """(function, parameter) of every switch no call in ``callers`` sets."""
    calls: dict[str, list[ast.Call]] = {}
    refs = set()  # names used as a value, not called: ``run(by_ref)``
    for tree in _parse(root, callers):
        callees = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _callee(node):
                calls.setdefault(_callee(node), []).append(node)
                callees.add(node.func)
        for node in ast.walk(tree):
            if isinstance(node, (ast.Name, ast.Attribute)) and node not in callees:
                refs.add(getattr(node, "id", None) or node.attr)
    missing = set()
    for tree in _parse(root, scanned):
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            if fn.name not in calls and fn.name in refs:
                continue
            for pos, name in _switches(fn):
                if not any(_sets(c, pos, name) for c in calls.get(fn.name, [])):
                    missing.add((fn.name, name))
    return missing


def test_every_switch_has_a_caller():
    assert unset_options() == set(ALLOWED)


def test_collector_reads_each_call_form(tmp_path):
    (tmp_path / "lib.py").write_text(
        "def f(a, b=None, c=True, d='x', *, e=False, g=None):\n    pass\n"
        "def by_ref(x, y=None):\n    pass\n"
        "def _private(z=None):\n    pass\n"
        "def uncalled(w=True):\n    pass\n"
    )
    (tmp_path / "use.py").write_text(
        "f(1, 2, e=3)\n"
        "m.f(1, c=False)\n"
        "run(by_ref)\n"
        "_private()\n"
    )
    found = unset_options(str(tmp_path), ["lib.py"], ["*.py"])
    assert found == {("f", "g"), ("uncalled", "w")}
    (tmp_path / "use.py").write_text("f(*args)\nf(**kw)\nuncalled(0)\nby_ref\n")
    assert unset_options(str(tmp_path), ["lib.py"], ["*.py"]) == set()
