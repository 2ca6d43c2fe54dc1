"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: broadcast the (small) query set, ONE pass over
  the corpus, per-query window rank. At 100 TB the corpus side never
  shuffles; work is a map + a k-bounded partial top-k (Spark optimizes
  rank<=k windows with a sort-limit per key).
- LSH-bucketed ANN: deterministic random-hyperplane signatures; candidates
  share a bucket; exact cosine on candidates only. The scale path when the
  query set is large.

Dot products use JVM higher-order functions (zip_with + aggregate) in
double precision — no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))


def _cap_query_side(q: DataFrame, id_alias: str, max_queries: int, fn: str) -> DataFrame:
    """Enforce the brute-force contract IN-PLAN (round 9, verdict #6):
    these reference shapes score the FULL corpus per query row, so an
    uncapped query side is the 100x hazard. The cap is an assert_true
    routed through the query-id column (the tfidf/rate_spikes guard
    pattern — non-removable, fails loudly), fed by a count window over
    the query side only, which is broadcast-small by the same contract.
    Results are unchanged whenever the contract holds."""
    w = Window.partitionBy(F.lit(1))
    guard = F.assert_true(
        F.count(F.lit(1)).over(w) <= max_queries,
        F.lit(
            f"{fn}: query side exceeds max_queries={max_queries} — this "
            "is the brute-force reference shape; use lsh_ann_topk / "
            "ivf_quantized_topk for large query sets, or raise "
            "max_queries explicitly"
        ),
    )
    return q.withColumn(
        id_alias, F.when(guard.isNull(), F.col(id_alias))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = 4096,
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self). Returns
    (query_id, neighbor_id, sim_micro, rank); sim_micro = floor(1e6*cosine)
    so results hash identically across engines.

    Brute-force REFERENCE shape: every corpus row is scored per query, so
    ``max_queries`` (default 4096) is an enforced in-plan cap — the scale
    paths are lsh_ann_topk / ivf_quantized_topk."""
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.col("_norm").alias("_cn"),
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    if max_queries is not None:
        q = _cap_query_side(q, "query_id", max_queries, "cosine_topk")
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim_micro",
            F.floor(
                F.lit(1_000_000)
                * _dot(F.col("_cv"), F.col("_qv"))
                / (F.col("_cn") * F.col("_qn"))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim_micro"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim_micro", F.col("rank").cast("long").alias("rank"))
    )


def near_dup_pairs_cosine(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (a<b) with cosine >= threshold (embedding near-dup).
    Brute-force n^2 — gate-sized; the LSH variant is the scale path."""
    c = with_norm(corpus, vec_col)
    a = c.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), F.col("_norm").alias("_na")
    )
    b = c.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), F.col("_norm").alias("_nb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim_micro",
            F.floor(
                F.lit(1_000_000)
                * _dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb"))
            ),
        )
        .filter(F.col("sim_micro") >= int(threshold * 1_000_000))
        .select("id_a", "id_b", "sim_micro")
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded; identical across runs and
    parallelism levels)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _with_multitable_buckets(
    df: DataFrame,
    n_planes: int,
    n_tables: int,
    dim: int,
    vec_col: str,
    seed: int,
) -> DataFrame:
    """Explode each row into its (table, bucket) memberships across
    ``n_tables`` independent seeded hyperplane tables (column ``_tb``)."""
    buckets = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed + 1000 * t)
        b = None
        for i, p in enumerate(planes):
            lit_p = F.array(*[F.lit(float(x)) for x in p])
            bit = F.when(
                _dot(F.col(vec_col), lit_p) >= 0, F.lit(1).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            term = F.shiftleft(bit, i)
            b = term if b is None else b.bitwiseXOR(term)
        buckets.append(F.struct(F.lit(t).alias("table"), b.alias("bucket")))
    return df.withColumn("_tb", F.explode(F.array(*buckets)))


def near_dup_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via the bucketed plan: multi-table
    hyperplane LSH candidates (a (table, bucket) self-equi-join instead of
    the O(n^2) cross join) verified with EXACT cosine — false candidates
    are filtered exactly, so the output differs from the brute-force
    enumeration only by pairs missed in every table. With 8 planes x 16
    tables a cos>=0.95 pair collides in some table with prob ~1-1e-5 over
    the plane draw — and the planes are seed-fixed, so for a given dataset
    the result is deterministic (the gate asserts equality with the exact
    oracle on its datasets). ``max_bucket`` is the opt-in hot-bucket guard
    (windowed count on the join's own keys, no extra shuffle) — pair with
    near_dup_cap_report so no exclusion is silent."""
    from otel_logger_spark.functions.dedup import _cap_hot_buckets

    c = _with_multitable_buckets(
        with_norm(corpus, vec_col), n_planes, n_tables, dim, vec_col, seed
    ).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.col("_norm").alias("_n"),
        F.col("_tb.table").alias("table"),
        F.col("_tb.bucket").alias("bucket"),
    )
    if max_bucket is not None:
        c = _cap_hot_buckets(c, ["table", "bucket"], max_bucket)
    a = c.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"), "table", "bucket",
    )
    b = c.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"), "table", "bucket",
    )
    cands = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cands.withColumn(
            "sim_micro",
            F.floor(
                F.lit(1_000_000)
                * _dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb"))
            ),
        )
        .filter(F.col("sim_micro") >= int(threshold * 1_000_000))
        .select("id_a", "id_b", "sim_micro")
    )


def near_dup_cap_report(
    corpus: DataFrame,
    n_planes: int = 8,
    n_tables: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket: int = 10_000,
) -> DataFrame:
    """What a near_dup_pairs_lsh(max_bucket=...) run excludes: one row of
    (excluded_rows, capped_buckets, max_bucket_size)."""
    from otel_logger_spark.functions.dedup import bucket_cap_report

    c = _with_multitable_buckets(
        corpus, n_planes, n_tables, dim, vec_col, seed
    ).select(
        F.col(id_col).alias("_id"),
        F.col("_tb.table").alias("table"),
        F.col("_tb.bucket").alias("bucket"),
    )
    return bucket_cap_report(c, ["table", "bucket"], max_bucket)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: candidates share a
    bucket in ANY of n_tables independent tables; exact cosine ranks the
    candidates. The (table, bucket) equi-join replaces the cross join — the
    100 TB path; n_tables trades recall for candidate volume."""

    def with_buckets(df):
        return _with_multitable_buckets(df, n_planes, n_tables, dim, vec_col, seed)

    c = with_buckets(with_norm(corpus, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.col("_norm").alias("_cn"),
        F.col("_tb.table").alias("table"),
        F.col("_tb.bucket").alias("bucket"),
    )
    q = with_buckets(with_norm(queries, vec_col)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.col("_norm").alias("_qn"),
        F.col("_tb.table").alias("table"),
        F.col("_tb.bucket").alias("bucket"),
    )
    cands = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_cv", "_cn", "_qv", "_qn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sims = cands.withColumn(
        "sim_micro",
        F.floor(
            F.lit(1_000_000)
            * _dot(F.col("_cv"), F.col("_qv"))
            / (F.col("_cn") * F.col("_qn"))
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_micro"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim_micro", F.col("rank").cast("long").alias("rank"))
    )
