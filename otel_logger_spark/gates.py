"""The gate registry: every queries() entry is declared here, once.

A gate is a Spark query checked against a DuckDB oracle at the driver's
scale. Each entry names its builder ``(spark, sf_dir) -> DataFrame``, its
oracle, and the action ``bench.py`` times it with. ``__spark_entry__``
(queries()/oracle_sql()), ``bench_extra.py`` and ``tools/plan_audit.py``
all read this dict; adding a gate is one line here.

``oracle`` is either
- a ``str``: a fixed SQL text, generated at import so a broken generator
  fails loudly; or
- a zero-arg callable for the oracles derived from the gate's own corpus
  (IVF centroids, LM/BPE reference tables, ...). These read the input
  tables, so they run only when ``oracle_sql()`` asks for them; a
  ``None`` result or an error there degrades that one gate to the
  rows-only check, which tools/check_correctness.py counts as a failure.

``bench`` is ``"collect"`` or ``"count"`` for the 49 gates ``bench.py``
times (its ``dedup_minhash`` is ``minhash_pairs``), ``None`` otherwise.
Insertion order is the gate order before ``GATE_DEFERRED`` rotation.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from otel_logger_spark import queries as Q
from otel_logger_spark import queries_extra as QX
from otel_logger_spark import queries_training as QT


class Gate(NamedTuple):
    build: Callable
    oracle: str | Callable[[], str | None]
    bench: str | None


GATES: dict[str, Gate] = {
    "parse_severity_counts": Gate(
        Q.q_parse_severity_counts, Q.O_PARSE_SEVERITY_COUNTS, "collect"
    ),
    "parse_event_ts": Gate(Q.q_parse_event_ts, Q.O_PARSE_EVENT_TS, None),
    "parse_messages_attrs": Gate(
        Q.q_parse_messages_attrs, Q.O_PARSE_MESSAGES_ATTRS, None
    ),
    "level_precedence": Gate(Q.q_level_precedence, Q.O_LEVEL_PRECEDENCE, None),
    "multiline_entry_stats": Gate(
        Q.q_multiline_entry_stats, Q.O_MULTILINE_ENTRY_STATS, "collect"
    ),
    "route_sink_counts": Gate(Q.q_route_sink_counts, Q.O_ROUTE_SINK_COUNTS, None),
    "conversation_rollup": Gate(
        Q.q_conversation_rollup, Q.O_CONVERSATION_ROLLUP, "collect"
    ),
    "window_turn_rollup": Gate(
        Q.q_window_turn_rollup, Q.O_WINDOW_TURN_ROLLUP, "collect"
    ),
    "top_k_noisy": Gate(Q.q_top_k_noisy, Q.O_TOP_K_NOISY, None),
    "flush_window_counts": Gate(
        Q.q_flush_window_counts, Q.O_FLUSH_WINDOW_COUNTS, "collect"
    ),
    "summary_union": Gate(Q.q_summary_union, Q.O_SUMMARY_UNION, None),
    "pricing_summary": Gate(Q.q_pricing_summary, Q.O_PRICING_SUMMARY, "collect"),
    "top_revenue_orders": Gate(
        Q.q_top_revenue_orders, Q.O_TOP_REVENUE_ORDERS, "collect"
    ),
    "region_rollup": Gate(Q.q_region_rollup, Q.O_REGION_ROLLUP, "collect"),
    "distinct_users": Gate(Q.q_distinct_users, Q.O_DISTINCT_USERS, None),
    "freqcap": Gate(QT.q_freqcap, QT.O_FREQCAP, "collect"),
    "diversity": Gate(QT.q_diversity, QT._o_diversity(), "collect"),
    "dedup_exact_stats": Gate(QT.q_dedup_exact_stats, QT.O_DEDUP_EXACT_STATS, None),
    "dedup_drop_exact": Gate(QT.q_dedup_drop_exact, QT.O_DEDUP_DROP_EXACT, None),
    "ngram_jaccard": Gate(QT.q_ngram_jaccard, QT.O_NGRAM_JACCARD, None),
    "dedup_clusters": Gate(QT.q_dedup_clusters, QT.O_DEDUP_CLUSTERS, None),
    "dedup_clusters_two_phase": Gate(
        QT.q_dedup_clusters_two_phase, QT.O_DEDUP_CLUSTERS, None
    ),
    "training_mix": Gate(QT.q_training_mix, QT.O_TRAINING_MIX, None),
    "weighted_sample": Gate(QT.q_weighted_sample, QT._o_weighted_sample(), None),
    "minhash_pairs": Gate(QT.q_minhash_pairs, QT.O_MINHASH_PAIRS, "count"),
    "simhash_pairs": Gate(QT.q_simhash_pairs, QT._o_simhash_pairs(), None),
    "embedding_topk": Gate(QT.q_embedding_topk, QT.O_EMBEDDING_TOPK, "collect"),
    "embedding_near_dup": Gate(QT.q_embedding_near_dup, QT.O_EMBEDDING_NEAR_DUP, None),
    "ann_lsh_topk": Gate(QT.q_ann_lsh_topk, QT._o_ann_lsh_topk(), None),
    "ann_ivf_topk": Gate(QT.q_ann_ivf_topk, QT._o_ann_ivf_topk, None),
    "lang_id": Gate(QT.q_lang_id, QT.O_LANG_ID, None),
    "text_quality": Gate(QT.q_text_quality, QT.O_TEXT_QUALITY, "collect"),
    "doc_fingerprint": Gate(QT.q_doc_fingerprint, QT.O_DOC_FINGERPRINT, None),
    "multimodal_decode": Gate(QT.q_multimodal_decode, QT._o_multimodal_decode(), None),
    "audio_stats": Gate(QT.q_audio_stats, QT._o_audio_stats(), "collect"),
    "embedding_outliers": Gate(
        QT.q_embedding_outliers, QT.O_EMBEDDING_OUTLIERS, "collect"
    ),
    "pii_redaction": Gate(QT.q_pii_redaction, QT._o_pii_redaction(), "collect"),
    "pack_shards": Gate(QT.q_pack_shards, QT.O_PACK_SHARDS, "count"),
    "doc_repetition": Gate(QT.q_doc_repetition, QT._o_doc_repetition(), "count"),
    "decontam_split": Gate(QT.q_decontam_split, QT._o_decontam_split(), "collect"),
    "incremental_dedup": Gate(
        QT.q_incremental_dedup, QT.O_INCREMENTAL_DEDUP, "collect"
    ),
    "tfidf_terms": Gate(QT.q_tfidf_terms, QT._o_tfidf_terms(), "count"),
    "span_dedup": Gate(QT.q_span_dedup, QT._o_span_dedup(), "count"),
    "snapshot_diff": Gate(QT.q_snapshot_diff, QT._o_snapshot_diff(), "collect"),
    "dedup_canonical": Gate(QT.q_dedup_canonical, QT._o_dedup_canonical(), "collect"),
    "normalized_dedup": Gate(
        QT.q_normalized_dedup, QT._o_normalized_dedup(), "collect"
    ),
    "token_mix": Gate(QT.q_token_mix, QT._o_token_mix(), "collect"),
    "fixed_k_sample": Gate(QT.q_fixed_k_sample, QT.O_FIXED_K_SAMPLE, "collect"),
    "quantized_ann": Gate(QT.q_quantized_ann, QT._o_quantized_ann(), "collect"),
    "ann_ivf_quantized": Gate(
        QT.q_ann_ivf_quantized, QT._o_ann_ivf_quantized, "collect"
    ),
    "semantic_dedup": Gate(QT.q_semantic_dedup, QT._o_semantic_dedup, "collect"),
    "leakage_split": Gate(QT.q_leakage_split, QT._o_leakage_split(), "collect"),
    "dsir_select": Gate(QT.q_dsir_select, QT._o_dsir_select, "collect"),
    "vocab_oov": Gate(QT.q_vocab_oov, QT.O_VOCAB_OOV, "collect"),
    "source_overlap": Gate(QT.q_source_overlap, QT.O_SOURCE_OVERLAP, "collect"),
    "lm_fluency": Gate(QT.q_lm_fluency, QT._o_lm_fluency, "collect"),
    "bigram_fluency": Gate(QT.q_bigram_fluency, QT._o_bigram_fluency, "collect"),
    "chunk_windows": Gate(QT.q_chunk_windows, QT._o_chunk_windows(), "count"),
    "image_near_dup": Gate(QT.q_image_near_dup, QT._o_image_near_dup(), "collect"),
    "bpe_merges": Gate(QT.q_bpe_merges, QT._o_bpe_merges, None),
    "bpe_encode": Gate(QT.q_bpe_encode, QT._o_bpe_encode, "collect"),
    "hygiene_manifest": Gate(QT.q_hygiene_manifest, QT._o_hygiene_manifest, "collect"),
    "contamination_profile": Gate(
        QT.q_contamination_profile, QT._o_contamination_profile(), "collect"
    ),
    "temperature_mix": Gate(QT.q_temperature_mix, QT._o_temperature_mix(), "collect"),
    "corpus_cartography": Gate(
        QT.q_corpus_cartography, QT._o_corpus_cartography, "collect"
    ),
    "funnel": Gate(QX.q_funnel, QX._o_funnel(), "collect"),
    "cms_counts": Gate(QX.q_cms_counts, QX._o_cms_counts(), "count"),
    "exact_percentiles": Gate(
        QX.q_exact_percentiles, QX._o_exact_percentiles(), "collect"
    ),
    "zorder_buckets": Gate(QX.q_zorder_buckets, QX._o_zorder_buckets(), None),
    "median_gap": Gate(QX.q_median_gap, QX.O_MEDIAN_GAP, None),
    "rate_spikes": Gate(QX.q_rate_spikes, QX._o_rate_spikes(), "collect"),
    "log_templates": Gate(QX.q_log_templates, QX._o_log_templates(), None),
    "asof_latest_signup": Gate(
        QX.q_asof_latest_signup, QX.O_ASOF_LATEST_SIGNUP, "count"
    ),
    "asof_next_purchase": Gate(QX.q_asof_next_purchase, QX.O_ASOF_NEXT_PURCHASE, None),
    "range_click_incidents": Gate(
        QX.q_range_click_incidents, QX.O_RANGE_CLICK_INCIDENTS, "collect"
    ),
    "sessionization": Gate(QX.q_sessionization, QX.O_SESSIONIZATION, None),
    "pivot_role_severity": Gate(
        QX.q_pivot_role_severity, QX.O_PIVOT_ROLE_SEVERITY, None
    ),
    "rollup_role_style": Gate(QX.q_rollup_role_style, QX.O_ROLLUP_ROLE_STYLE, None),
    "approx_distinct": Gate(QX.q_approx_distinct, QX._o_approx_distinct(), None),
}
