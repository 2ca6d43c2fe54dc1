"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline query (parse -> enrich -> severity
rollup) over transcripts constructed from sf0.001 events.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, read from the gate registry (otel_logger_spark/gates.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full parse -> enrich ->
    route chain over constructed transcripts, severity counts."""
    from otel_logger_spark.queries import q_parse_severity_counts
    from otel_logger_spark.session import ship_package

    ship_package(spark)  # the parse UDF's workers import the package
    return q_parse_severity_counts(spark, "/root/testdata/sf0.001")


# The driver verifies the FIRST 50 entries of the merged queries() dict
# (round-6 verdict: list(merged)[:50]). With more than 50 gates, ordering
# is a correctness decision: any query whose engine or oracle code changed
# in the current round MUST sit inside that window, and only queries that
# were driver-verified green on unchanged code in the previous round may
# be deferred past it. GATE_DEFERRED is this round's explicit rotation;
# rotate the list each round so no query goes more than one round
# without driver verification.
GATE_DEFERRED: list[str] = [
    # Current rotation: median_gap's builder now aggregates with Spark's
    # exact median (operators/rollups.median_gap_us, oracle text
    # unchanged), so it sits in the window; it swaps with
    # pivot_role_severity, verified in the window two rounds running on
    # code this change does not touch. The full 79-gate set is re-verified
    # against the sf0.01 DuckDB oracle with tools/check_correctness.py.
    "conversation_rollup",
    "window_turn_rollup",
    "top_k_noisy",
    "flush_window_counts",
    "summary_union",
    "pricing_summary",
    "top_revenue_orders",
    "region_rollup",
    "distinct_users",
    "freqcap",
    "ngram_jaccard",
    "weighted_sample",
    "minhash_pairs",
    "text_quality",
    "pack_shards",
    "doc_repetition",
    "decontam_split",
    "pivot_role_severity",
    "rollup_role_style",
    "embedding_topk",
    "embedding_near_dup",
    "ann_lsh_topk",
    "tfidf_terms",
    "lang_id",
    "doc_fingerprint",
    "span_dedup",
    "audio_stats",
    "embedding_outliers",
    "pii_redaction",
]


def _gate_order(merged: dict) -> dict:
    """Deferred queries last; everything else keeps insertion order."""
    deferred = [n for n in GATE_DEFERRED if n in merged]
    head = {n: v for n, v in merged.items() if n not in set(deferred)}
    return {**head, **{n: merged[n] for n in deferred}}


def _shipped(build: Callable[[SparkSession, str], DataFrame]):
    """``build`` behind session.ship_package, so a gate run alone in a
    plain session finds the package in its Python workers as entry() does."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from otel_logger_spark.session import ship_package

        ship_package(spark)
        return build(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from otel_logger_spark.gates import GATES

    return _gate_order({name: _shipped(g.build) for name, g in GATES.items()})


def oracle_sql() -> dict[str, str]:
    from otel_logger_spark.gates import GATES

    out = {}
    for name, g in GATES.items():
        sql = g.oracle
        if callable(sql):
            # corpus-derived oracle: generated here, not at import; if it
            # fails (no duckdb, no corpus) the gate is checked on rows only
            try:
                sql = sql()
            except Exception:
                sql = None
        if sql is not None:
            out[name] = sql
    return out
