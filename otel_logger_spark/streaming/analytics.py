"""Sink builders for the streaming analytics, and their finalizers.

Each builder maps one micro-batch frame to ``{sink_name: DataFrame}`` of
DECOMPOSABLE partials — the same partials-then-finalize pattern as the
pipeline's conversation_metrics sink (operators/sinks.routed_sinks).
streaming/pipeline.start_batch_sinks runs a builder over a stream and
write_batch_sinks lands each partial in its own ``batchid=<id>`` directory
(overwrite => exactly-once per (sink, batchId) on top of the checkpoint's
at-least-once redelivery); a finalizer (``read_*``) re-aggregates the
partials into exactly the batch operator's answer — row-for-row, whatever
the micro-batch boundaries were. Compose a query as::

    start_batch_sinks(read_stream(spark, in_dir, DOCUMENTS_SCHEMA), out, ckpt,
                      lambda b: oov_sinks(b, vocab))

Volume analytics over the transcript stream (analytics_sinks): log
template mining (functions/templates.py), rate-spike detection
(operators/anomaly.py) and the count-min sketch (functions/cms.py).
Document analytics over a documents stream: contamination, OOV coverage,
hygiene manifest and n-gram diversity.

Why partials, not stateful streaming aggregation: the finalized volume
tables are unbounded-history summaries (a template's distinct-conversation count,
a bucket's trailing-24h baseline). Keeping them in streaming state would
grow without bound and still be unreadable mid-stream; per-batch partials
are bounded (distinct keys per batch), cheap (map-side combine inside the
micro-batch), and the finalize is an ordinary batch query over the sink —
run it whenever a fresh table is wanted.

Volume partial schemas (tiny next to event volume):
- templates: (template, conv_id, n) — per-conversation counts, because
  ``n_convs`` (COUNT DISTINCT) is not sum-decomposable but IS re-derivable
  from per-(template, conv) partials;
- rate: (*group_cols, _b, _n) — per-bucket counts; a bucket spanning
  micro-batches sums correctly in the finalizer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otel_logger_spark.functions.cms import cms_sketch
from otel_logger_spark.functions.templates import with_template
from otel_logger_spark.operators.anomaly import spikes_from_bucket_counts

TEMPLATE_SINK = "template_partials"
RATE_SINK = "rate_partials"
CMS_SINK = "cms_partials"


def template_partials(
    df: DataFrame, text_col: str = "text", conv_col: str = "conv_id"
) -> DataFrame:
    """(template, conv_id, n) for one micro-batch."""
    return (
        with_template(df, text_col)
        .groupBy("template", F.col(conv_col).alias("conv_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def rate_partials(
    df: DataFrame,
    ts_col: str = "ts",
    group_cols: tuple[str, ...] = ("role",),
    bucket_seconds: int = 3600,
) -> DataFrame:
    """(*group_cols, _b, _n) for one micro-batch."""
    bucket = F.expr(f"unix_timestamp({ts_col}) DIV {bucket_seconds}")
    return (
        df.select(*group_cols, bucket.alias("_b"))
        .groupBy(*group_cols, "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
    )


def analytics_sinks(
    batch_df: DataFrame,
    text_col: str = "text",
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    group_cols: tuple[str, ...] = ("role",),
    bucket_seconds: int = 3600,
    cms_d: int = 4,
    cms_w: int = 512,
) -> dict[str, DataFrame]:
    """One micro-batch's volume partials over its non-empty turns. The CMS
    partial is the per-batch sketch of ``conv_col`` itself (<= d*w cells):
    cms_merge's cell-wise-sum law makes the union of batch sketches EXACTLY
    the sketch of the union, whatever the micro-batch boundaries were."""
    src = batch_df.filter(F.length(text_col) > 0)
    return {
        TEMPLATE_SINK: template_partials(src, text_col, conv_col),
        RATE_SINK: rate_partials(src, ts_col, group_cols, bucket_seconds),
        CMS_SINK: cms_sketch(src, conv_col, cms_d, cms_w),
    }


def read_cms_sketch(spark: SparkSession, out_dir: str) -> DataFrame:
    """Finalize the CMS sink: cell-wise sum over all micro-batch
    sketches — by the merge law this IS functions/cms.cms_sketch of the
    full stream, row-for-row (pinned by pytest), ready for
    cms_estimate/cms_heavy_hitters."""
    parts = spark.read.parquet(os.path.join(out_dir, CMS_SINK))
    return parts.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def read_template_counts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Finalize the template sink: (template, n, n_convs) — field-for-field
    functions/templates.template_counts on the union of all micro-batches
    (n_convs re-derived exactly from the per-(template, conv) partials)."""
    parts = spark.read.parquet(os.path.join(out_dir, TEMPLATE_SINK))
    return parts.groupBy("template").agg(
        F.sum("n").alias("n"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


def read_rate_spikes(
    spark: SparkSession,
    out_dir: str,
    group_cols: tuple[str, ...] = ("role",),
    bucket_seconds: int = 3600,
    trailing: int = 24,
    z: int = 3,
    min_baseline: int = 0,
    max_span_buckets: int = 8784,
    span_overflow: str = "error",
) -> DataFrame:
    """Finalize the rate sink: re-aggregate per-batch bucket counts and run
    the SAME post-aggregation detector as batch rate_spikes
    (operators/anomaly.spikes_from_bucket_counts — dense timeline, span
    guard, integer-exact z-score), so streaming equals batch row-for-row."""
    parts = spark.read.parquet(os.path.join(out_dir, RATE_SINK))
    counts = parts.groupBy(*group_cols, "_b").agg(F.sum("_n").alias("_n"))
    return spikes_from_bucket_counts(
        counts,
        group_cols=group_cols,
        bucket_seconds=bucket_seconds,
        trailing=trailing,
        z=z,
        min_baseline=min_baseline,
        max_span_buckets=max_span_buckets,
        span_overflow=span_overflow,
    )


# --- contamination profile over a documents stream (round 8) -----------------
#
# The per-doc contamination counts (functions/decontam.contamination_per_doc)
# are the natural partial: a document lives wholly inside one micro-batch, so
# per-batch per-doc rows union losslessly (no cross-batch summing needed at
# all — idempotence comes from the batchid=<id> overwrite), and the decile
# histogram finalizes over the union with the SAME tiny aggregate the batch
# operator uses (profile_from_per_doc). Benchmark n-grams are a bounded
# static side, re-broadcast per micro-batch exactly as the batch plan
# broadcasts them per query.

CONTAM_SINK = "contam_partials"

DOCUMENTS_SCHEMA = (
    "doc_id bigint, source string, lang string, text string"
)


def contam_sinks(
    batch_df: DataFrame,
    bench: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> dict[str, DataFrame]:
    """One micro-batch's per-doc contamination partial (see above: a doc
    lives wholly in one micro-batch, so the per-doc rows union losslessly)."""
    from otel_logger_spark.functions.decontam import contamination_per_doc

    return {
        CONTAM_SINK: contamination_per_doc(
            batch_df, bench, n, id_col, text_col, group_col
        )
    }


OOV_SINK = "oov_partials"


def oov_sinks(
    batch_df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
) -> dict[str, DataFrame]:
    """One micro-batch's per-doc OOV partial against a PINNED tokenizer
    vocabulary (the production monitoring shape: the vocab is a build-time
    artifact; what streams is the corpus). A doc lives wholly in one
    micro-batch, so per-doc (group, n_tokens, n_oov) rows are exact
    partials and the finalizer's group sums are associative across
    batches."""
    from otel_logger_spark.functions.vocab import with_oov_stats

    return {OOV_SINK: with_oov_stats(batch_df, vocab, text_col, id_col, (group_col,))}


def read_oov_report(
    spark: SparkSession, out_dir: str, group_col: str = "lang"
) -> DataFrame:
    """Finalize the OOV sink: the batch finalizer
    (functions/vocab.oov_from_per_doc) over the union of all micro-batch
    per-doc partials — row-for-row equal to batch oov_report with the
    same pinned vocab (pinned by pytest)."""
    from otel_logger_spark.functions.vocab import oov_from_per_doc

    parts = spark.read.parquet(os.path.join(out_dir, OOV_SINK))
    return oov_from_per_doc(parts, group_col=group_col)


HYGIENE_SINK = "hygiene_partials"


def hygiene_sinks(
    batch_df: DataFrame,
    uni_tab: dict,
    oov_nll: int,
    quality_min_milli: int,
    nll_max_micro: int,
    rep_thresholds_milli: dict | None = None,
    group_col: str = "lang",
) -> dict[str, DataFrame]:
    """One micro-batch's per-doc hygiene manifest against PINNED rule
    parameters (the NLL table is a build-time artifact, like the
    streaming-OOV vocabulary). Per-doc flag rows are exact partials: a doc
    lives wholly in one micro-batch and the report is pure per-group flag
    sums, associative across batches."""
    from otel_logger_spark.functions.hygiene import hygiene_manifest

    return {
        HYGIENE_SINK: hygiene_manifest(
            batch_df, uni_tab, oov_nll, quality_min_milli, nll_max_micro,
            rep_thresholds_milli, carry_cols=(group_col,),
        )
    }


def read_hygiene_report(
    spark: SparkSession, out_dir: str, group_col: str = "lang"
) -> DataFrame:
    """Finalize the hygiene sink: per-group flag sums over the union of
    all micro-batch per-doc manifests — row-for-row equal to batch
    hygiene_report with the same pinned parameters (pinned by pytest)."""
    m = spark.read.parquet(os.path.join(out_dir, HYGIENE_SINK))
    return m.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("rep_flag").cast("long")).alias("n_rep"),
        F.sum(F.col("quality_flag").cast("long")).alias("n_quality"),
        F.sum(F.col("fluency_flag").cast("long")).alias("n_fluency"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    )


DIVERSITY_COUNTS_SINK = "diversity_counts"
DIVERSITY_DIGESTS_SINK = "diversity_digests"


def diversity_sinks(
    batch_df: DataFrame, n: int = 3, group_col: str = "source"
) -> dict[str, DataFrame]:
    """One micro-batch's diversity partials. Unlike the contamination/OOV
    partials (pure sums), the distinct-gram metrics need the exact-distinct
    decomposition: summable counts plus the batch-DISTINCT (group, kind,
    digest) set — bounded by the batch's vocabulary, never its token
    stream — and the finalizer re-distincts the union (distinct-of-union
    == distinct)."""
    from otel_logger_spark.functions.diversity import diversity_partials

    counts, digests = diversity_partials(batch_df, n, group_col)
    return {DIVERSITY_COUNTS_SINK: counts, DIVERSITY_DIGESTS_SINK: digests}


def read_diversity_report(
    spark: SparkSession, out_dir: str, group_col: str = "source"
) -> DataFrame:
    """Finalize the diversity sinks: sums over the count partials, COUNT
    DISTINCT over the re-unioned digest partials — row-for-row equal to
    batch diversity_report (pinned by pytest)."""
    from otel_logger_spark.functions.diversity import diversity_finalize

    counts = spark.read.parquet(os.path.join(out_dir, DIVERSITY_COUNTS_SINK))
    digests = spark.read.parquet(
        os.path.join(out_dir, DIVERSITY_DIGESTS_SINK)
    )
    return diversity_finalize(
        counts.drop("batchid"), digests.drop("batchid"), group_col
    )


def read_contamination_profile(
    spark: SparkSession, out_dir: str, group_col: str = "source"
) -> DataFrame:
    """Finalize the contamination sink: the batch operator's decile
    histogram (functions/decontam.profile_from_per_doc) over the union
    of all micro-batch per-doc partials — row-for-row equal to batch
    contamination_profile on the full corpus (pinned by pytest)."""
    from otel_logger_spark.functions.decontam import profile_from_per_doc

    parts = spark.read.parquet(os.path.join(out_dir, CONTAM_SINK))
    return profile_from_per_doc(parts, group_col=group_col)
