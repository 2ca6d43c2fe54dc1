"""Deduplication operators for training-data pipelines.

All shapes are chosen for 100 TB scale:
- exact dedup: hash-groupBy on a 256-bit digest (never groupBy raw text —
  the digest keeps shuffle rows small).
- n-gram Jaccard: explode shingles -> self-equi-join on shingle -> count
  common -> jaccard. A document-frequency cap prunes hot shingles (the
  classic quadratic blowup guard).
- MinHash + LSH: k xxhash64 min-aggregates in ONE pass over exploded
  shingles, banded bucket join for candidates, exact-Jaccard verify of
  candidates only.
- SimHash: 64 signed bit-sums per doc in one aggregate pass; banded
  16-bit chunks for candidates (pigeonhole: hamming<=3 pairs share >=1 of
  4 chunks), exact hamming via bit_count(xor).

Everything is built-in expressions (JVM whole-stage codegen); no Python in
the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cap_hot_buckets(df: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Drop rows of buckets with more than ``max_bucket`` members. The
    member count is a window over the same ``keys`` the candidate join
    shuffles on — no extra shuffle. Callers that enable a cap should pair
    it with ``bucket_cap_report`` so no exclusion is ever silent.

    (An Observation riding the join was tried and rejected: the two sides
    of a self-join canonicalize to the same subtree, so the CollectMetrics
    node can be deduplicated/pruned and the metric silently under-reports —
    worse than an honest separate accounting job.)"""
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_bn", F.count("*").over(w))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )


def bucket_cap_report(
    df_bucketed: DataFrame, keys: list[str], max_bucket: int
) -> DataFrame:
    """No-silent-caps accounting for a hot-bucket guard: ONE row —
    excluded_rows (bucket-membership rows the cap drops), capped_buckets,
    max_bucket_size. A separate tiny job (groupBy(keys).count + a global
    aggregate — the same shuffle size as the candidate join's key space),
    deliberately NOT an Observation riding the join: see _cap_hot_buckets.
    Wrappers: minhash_cap_report / simhash_cap_report /
    similarity.near_dup_cap_report."""
    per = df_bucketed.groupBy(*keys).agg(F.count("*").alias("n"))
    return per.agg(
        F.coalesce(
            F.sum(F.when(F.col("n") > max_bucket, F.col("n")).otherwise(0)),
            F.lit(0),
        ).alias("excluded_rows"),
        F.coalesce(F.sum((F.col("n") > max_bucket).cast("long")), F.lit(0)).alias(
            "capped_buckets"
        ),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket_size"),
    )

# --- shingling ---------------------------------------------------------------


def with_words(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("words", F.split(F.col(text_col), " "))


def with_shingles(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Word n-gram shingles (distinct per doc).

    The shingle array is staged behind a value-neutral NONDETERMINISTIC
    guard (``spark_partition_id() >= -1`` — always true) for two measured
    reasons, both Catalyst alias-substitution effects:
    - downstream ``filter(size(shingles) > 0)`` would otherwise be pushed
      (with the ENTIRE split/transform/distinct chain inlined) into the
      parquet scan — which on a narrow input runs BELOW the loader's
      fan-out repartition, executing the heaviest projection in the
      pipeline at the scan's parallelism (measured: 3 tasks on 32 cores
      at sf0.1) and then recomputing it post-exchange anyway;
    - every downstream reference (the 32 signature hash folds, the verify
      joins, the filter) would re-inline the chain per reference (no CSE
      across expressions); the guard makes CollapseProject keep ONE
      materialized shingles column instead.
    Measured 5.4 -> ~3.9 s on the sf0.1 minhash gate; values unchanged
    (the guard is identity), every oracle still hash-matches."""
    # concat_ws over n element_at lookups instead of a per-index slice():
    # the slice form allocates an n-element array per shingle; the lookup
    # form is bit-identical (same concat_ws over the same n in-bounds
    # elements; split() never yields NULLs) and measured 1.6x faster on
    # the sf0.1 shingling stage (round 9).
    elems = ", ".join(
        f"element_at(words, i + {j})" if j else "element_at(words, i)"
        for j in range(n)
    )
    shingle_expr = F.array_distinct(
        # NB: Spark's sequence(1, 0) yields a DESCENDING [1,0] — guard
        # short docs explicitly instead of clamping with greatest()
        F.expr(
            f"CASE WHEN size(words) >= {n} THEN "
            f"transform(sequence(1, size(words) - {n - 1}),"
            f" i -> concat_ws(' ', {elems}))"
            f" ELSE array() END"
        )
    )
    return with_words(df, text_col).withColumn(
        "shingles", F.when(F.spark_partition_id() >= -1, shingle_expr)
    )


def exploded_shingles(df: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    return (
        with_shingles(df, n)
        .select(id_col, F.explode("shingles").alias("shingle"))
    )


# --- exact dedup ---------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content: digest, n_docs, keeper (min id)."""
    return (
        df.select(id_col, F.sha2(F.col(text_col), 256).alias("digest"))
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper"))
    )


def exact_dedup_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    g = exact_dup_groups(df, text_col, id_col)
    return g.agg(
        F.sum("n_docs").alias("n_total"),
        F.count("*").alias("n_unique"),
        F.sum(F.when(F.col("n_docs") > 1, F.col("n_docs")).otherwise(0)).alias("n_dup_docs"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("n_dup_groups"),
    )


def drop_exact_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per content group (left-semi join against keepers
    — no wide shuffle of text payloads)."""
    keepers = exact_dup_groups(df, text_col, id_col).select(
        F.col("keeper").alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


# --- n-gram Jaccard ------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard >= threshold.

    ``max_df`` drops shingles appearing in more than max_df docs before the
    self-join (at 100 TB this is mandatory; None = exact, used by the
    oracle-checked gate); the Jaccard is then the exact one over each
    doc's SURVIVING shingles, so n_a/n_b count only those. Returns (doc_a,
    doc_b, n_common, n_a, n_b, j_milli) with j_milli = floor(1000 *
    jaccard).
    """
    m = int(threshold * 1000)
    # Round-9 shape (the source_overlap lesson applied to doc pairs; output
    # row-for-row identical, oracle-checked):
    # - ONE shingling pass: the old self-join re-shingled the corpus per
    #   join leg (the nondeterministic staging guard in with_shingles
    #   defeats ReusedExchange by design), and a third time for the
    #   separate `sizes` aggregate. Here the per-doc shingle count rides
    #   the explode (size of the distinct array == exploded rows per doc),
    #   and the per-shingle posting list is ONE groupBy — no join, no
    #   second traversal.
    # - the hot-shingle cap (max_df) is a per-shingle window count instead
    #   of a separate count + broadcast anti-join pass; a per-doc window
    #   then recounts the surviving shingles, which the length prune and
    #   j_milli need.
    # - pair expansion happens in a codegen projection over each posting
    #   list, with the exact length-ratio prune applied in place: j_milli =
    #   floor(1000*c/(n_a+n_b-c)) with c <= min(n_a, n_b) means j_milli >=
    #   m is impossible unless 1000*min >= m*(n_a+n_b-min) — dropped pairs
    #   could never pass the final threshold, so the prune is
    #   output-neutral; it runs BEFORE the pair-count exchange, which gets
    #   map-side partial aggregation (the old join shipped every raw
    #   common-shingle row: 1.76M pre-aggregate rows for 1686 output pairs
    #   at sf0.1).
    # At 100 TB the posting list of a degenerate hot shingle is the same
    # quadratic hazard the join shape had; max_df remains the mandatory
    # guard, and its window drops a hot shingle's rows before any posting
    # list is collected.
    if max_df is None:
        sh = with_shingles(df, n).select(
            F.col(id_col),
            F.size("shingles").cast("long").alias("n_sh"),
            F.explode("shingles").alias("shingle"),
        )
    else:
        sh = (
            with_shingles(df, n)
            .select(F.col(id_col), F.explode("shingles").alias("shingle"))
            .withColumn("_df", F.count("*").over(Window.partitionBy("shingle")))
            .filter(F.col("_df") <= max_df)
            .select(
                F.col(id_col),
                F.count("*").over(Window.partitionBy(id_col)).alias("n_sh"),
                "shingle",
            )
        )
    # posting lists SORTED by (id, n_sh): ids are unique per shingle
    # (distinct shingles per doc), so the upper-triangle expansion below
    # yields exactly the a < b pairs with no ordering filter
    posting = sh.groupBy("shingle").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("id"), "n_sh"))
        ).alias("ds")
    )
    # upper triangle only (round 9): each x pairs with its suffix — half
    # the struct materialization of the all-ordered-pairs + a<b form,
    # and the only residual filter is the exact length bound
    pair_expr = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "filter(transform(slice(ds, i + 2, size(ds) - i - 1), y -> "
        "named_struct('doc_a', x.id, 'doc_b', y.id, "
        "'n_a', x.n_sh, 'n_b', y.n_sh)), "
        f"p -> 1000 * least(p.n_a, p.n_b) >= {m} * "
        "(p.n_a + p.n_b - least(p.n_a, p.n_b)))))"
    )
    common = (
        posting.select(F.explode(pair_expr).alias("p"))
        .groupBy("p.doc_a", "p.doc_b", "p.n_a", "p.n_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        common.withColumn(
            "j_milli",
            F.floor(
                F.lit(1000)
                * F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ),
        )
        .filter(F.col("j_milli") >= m)
    )
    return out.select("doc_a", "doc_b", "n_common", "n_a", "n_b", "j_milli")


# --- MinHash + LSH --------------------------------------------------------------


def minhash_signatures(
    df: DataFrame, k: int = 32, n: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """k-permutation MinHash: sig_i = min over shingles of
    xxhash64(shingle, i), computed per row as
    ``array_min(transform(shingles, s -> xxhash64(s, i)))`` — a pure
    projection inside whole-stage codegen, ZERO shuffle. The round-2
    formulation exploded shingles and ran 32 min-aggregates, shuffling
    n_docs x n_shingles rows WITH their shingle strings — the widest
    exchange in the whole operator at scale; the array form is
    bit-identical (pytest-pinned) and measured 2.5x faster at sf0.1
    (shingle-less docs are excluded either way: explode emitted no row,
    the filter here drops the empty array)."""

    sh = with_shingles(df, n).filter(F.size("shingles") > 0)
    # ONE F.expr SQL string for the whole k-fold signature (round 9): the
    # per-seed Python-lambda transform built ~0.5 s of py4j round trips
    # per query; the parsed string is the identical expression tree
    # (xxhash64(shingle, seed) with an int literal seed, array_min fold)
    # in one JVM call — bit-identical signatures, pytest-pinned.
    mins = ", ".join(
        f"array_min(transform(shingles, s -> xxhash64(s, {i})))"
        for i in range(k)
    )
    return sh.select(id_col, F.expr(f"array({mins})").alias("sig"))


def _minhash_banded(
    sig: DataFrame, bands: int, rows: int, id_col: str
) -> DataFrame:
    """One (id, band, bucket) row per band membership. Built as one
    F.expr string (round 9, same py4j-chatter fix as minhash_signatures;
    sig[i] is 0-based in SQL exactly like Column.getItem)."""
    structs = ", ".join(
        "named_struct('band', {b}, 'bucket', xxhash64(concat_ws(',', {cols})))".format(
            b=b,
            cols=", ".join(
                f"CAST(sig[{b * rows + r}] AS STRING)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        id_col, F.expr(f"explode(array({structs}))").alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    sig: DataFrame,
    bands: int = 8,
    rows: int = 4,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature (bands x rows = k); docs sharing any band bucket
    are candidate pairs.

    ``max_bucket`` is the OPT-IN hot-bucket guard: a bucket with more than
    max_bucket members is excluded from the self-join (a degenerate corpus
    — millions of near-identical docs landing in one bucket — would
    otherwise make that bucket quadratic). The count is a window over the
    same (band, bucket) partitioning the join shuffles on, so the guard
    adds no extra shuffle. Members of a capped bucket are near-identical by
    construction; run exact dedup (drop_exact_dups) first so such families
    are already collapsed, and treat a still-hot bucket as one dup family
    rather than enumerating its O(n^2) pairs.

    The default None keeps the public function EXHAUSTIVE (no silently
    dropped pairs). Scale callers (the pipeline gates pass 10_000) should
    pair the cap with ``minhash_cap_report`` to account for every excluded
    row — never a silent cap."""
    banded = _minhash_banded(sig, bands, rows, id_col)
    if max_bucket is not None:
        banded = _cap_hot_buckets(banded, ["band", "bucket"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def minhash_cap_report(
    sig: DataFrame,
    bands: int = 8,
    rows: int = 4,
    id_col: str = "doc_id",
    max_bucket: int = 10_000,
) -> DataFrame:
    """What a minhash_lsh_candidates(max_bucket=...) run excludes:
    one row of (excluded_rows, capped_buckets, max_bucket_size)."""
    return bucket_cap_report(
        _minhash_banded(sig, bands, rows, id_col), ["band", "bucket"], max_bucket
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 32,
    bands: int = 8,
    rows: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard (verify only candidates —
    the scalable near-dup shape). ``max_bucket``: see
    minhash_lsh_candidates (opt-in; pair with minhash_cap_report).

    Verify shape (round 3): join the candidate pairs to the COMPACT
    (id, shingle-array) frame per side and take
    ``size(array_intersect())`` — exact |intersection| because shingle
    arrays are distinct per doc. The round-2 verify re-exploded every
    doc's shingles into a (doc, shingle) self-join + groupBy — two wide
    exchanges of shingle STRINGS over the whole corpus; this exchanges
    only 2x|candidates| array payloads (candidates are few — that is the
    point of LSH). Output equality is pytest-pinned."""
    cands = minhash_lsh_candidates(
        minhash_signatures(df, k, n, id_col), bands, rows, id_col, max_bucket
    )
    sh = with_shingles(df, n).filter(F.size("shingles") > 0).select(
        id_col, "shingles"
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("_sa"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("_sb"))
    out = (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "j_milli",
            F.floor(
                F.lit(1000)
                * F.col("n_common")
                / (F.size("_sa") + F.size("_sb") - F.col("n_common"))
            ),
        )
        .filter(F.col("j_milli") >= int(threshold * 1000))
    )
    return out.select("doc_a", "doc_b", "j_milli")


# --- SimHash ---------------------------------------------------------------------


def simhash_signatures(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over whitespace tokens (term-frequency weighted).

    Per-row array computation: token hashes once into an int array
    (``transform(words, xxhash64)``), then 64 ``aggregate`` folds for the
    signed bit sums — a pure projection, ZERO shuffle. The round-2
    explode+groupBy formulation shuffled n_docs x n_tokens rows with the
    token strings; this is bit-identical (pytest-pinned) and measured
    1.5x faster at sf0.1."""
    w = with_words(df).withColumn(
        "hs", F.transform("words", lambda t: F.xxhash64(t))
    )

    def bit_sum(i: int):
        return F.aggregate(
            "hs",
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        ).alias(f"b{i}")

    agg = w.select(id_col, *[bit_sum(i) for i in range(64)])
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)  # disjoint bits: xor == or
    return agg.select(id_col, sim.alias("simhash"))


def _simhash_chunks(sig: DataFrame, id_col: str) -> DataFrame:
    """One (id, simhash, chunk, val) row per 16-bit chunk membership."""
    return sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("simhash", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "simhash", "cc.chunk", "cc.val")


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Pairs with hamming(simhash) <= max_hamming. Candidates via 4x16-bit
    chunk equality (pigeonhole holds for max_hamming <= 3); exact distance
    via bit_count(xor). ``max_bucket`` is the same opt-in hot-bucket guard
    as minhash_lsh_candidates (windowed count on the join's own (chunk,
    val) partitioning; no extra shuffle) — pair with simhash_cap_report so
    no exclusion is silent."""
    chunks = _simhash_chunks(simhash_signatures(df, id_col), id_col)
    if max_bucket is not None:
        chunks = _cap_hot_buckets(chunks, ["chunk", "val"], max_bucket)
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(b, ["chunk", "val"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def simhash_cap_report(
    df: DataFrame, id_col: str = "doc_id", max_bucket: int = 10_000
) -> DataFrame:
    """What a simhash_near_pairs(max_bucket=...) run excludes: one row of
    (excluded_rows, capped_buckets, max_bucket_size)."""
    return bucket_cap_report(
        _simhash_chunks(simhash_signatures(df, id_col), id_col),
        ["chunk", "val"],
        max_bucket,
    )
