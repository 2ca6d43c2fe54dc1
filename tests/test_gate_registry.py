"""The gate registry (otel_logger_spark/gates.py) is the one declaration of
each gate. These tests tie it, without a Spark session, to the frozen
bench.py (same builder, same action for every timed query), to
bench_extra's action table, and to the claim that every gate has a
DuckDB oracle.
"""

import ast
import os

import bench_extra
from otel_logger_spark import queries as Q
from otel_logger_spark import queries_extra as QX
from otel_logger_spark import queries_training as QT
from otel_logger_spark.gates import GATES

BENCH_PY = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
MODULES = {"Q": Q, "QX": QX, "QT": QT}
# bench.py's name for a gate, where the two differ
BENCH_ALIAS = {"dedup_minhash": "minhash_pairs"}


def _bench_runs():
    """(name, module alias, function, action) for every
    run("<name>", lambda: M.q_fn(spark, sf_dir).<action>()) in bench.py,
    and the names of all run() calls."""
    gates, names = [], []
    for node in ast.walk(ast.parse(open(BENCH_PY).read())):
        if not (isinstance(node, ast.Call) and getattr(node.func, "id", None) == "run"):
            continue
        name = node.args[0].value
        names.append(name)
        body = node.args[1]
        if not isinstance(body, ast.Lambda):
            continue  # run("full_pipeline", full_pipeline): the sink fan-out
        action = body.body.func  # <builder call>.<action>
        builder = action.value.func  # M.q_fn
        gates.append((name, builder.value.id, builder.attr, action.attr))
    return gates, names


def test_bench_py_matches_registry():
    gates, names = _bench_runs()
    assert len(names) == 50 and len(gates) == 49
    for name, alias, fn, action in gates:
        gate = GATES[BENCH_ALIAS.get(name, name)]
        assert gate.build is getattr(MODULES[alias], fn), name
        assert gate.bench == action, name
    timed = {BENCH_ALIAS.get(n, n) for n, *_ in gates}
    assert {n for n, g in GATES.items() if g.bench} == timed


def test_bench_extra_actions_are_bench_py_names():
    _, names = _bench_runs()
    actions = bench_extra._query_actions(None, "unused")
    assert sorted(actions) == sorted(names)


def test_every_gate_has_an_oracle():
    assert len(GATES) == 79
    for name, gate in GATES.items():
        if callable(gate.oracle):
            continue  # corpus-derived: generated by oracle_sql()
        assert isinstance(gate.oracle, str) and gate.oracle.strip(), name
