"""Connected components over candidate-pair edges — the transitive-closure
step every corpus-dedup pipeline needs after pair generation: if A
near-dups B and B near-dups C, the three are ONE family, which no
pairwise-threshold output expresses (the reference's pair operators stop
at pairs; a user deduplicating a corpus needs the closure, so this is a
first-class training-data operator alongside dedup.py).

Two algorithms behind one API (``algorithm=``):

- ``"label_propagation"`` (default): iterative min-label propagation in
  pure DataFrames — each round every node takes min(own label, neighbors'
  labels); fixpoint in O(component diameter) rounds. Near-dup families are
  dense and shallow (diameter 2-4 in practice — LSH verification only
  emits pairs above a similarity threshold, which is near-transitive), so
  a handful of rounds close 10^9-node graphs; each round is one shuffle on
  the edge key. Convergence is detected TYPE-AGNOSTICALLY by counting
  changed labels inside the same round's projection (labels only ever
  decrease, so zero strict decreases IS the fixpoint) — works for string
  doc ids (hashes/uuids) as well as numeric, where a sum()-based check
  would silently cast to NULL and exit early.
- ``"two_phase"``: the alternating large-star/small-star formulation
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  2014) — converges in O(log^2 n) rounds regardless of diameter, the
  right choice for adversarial chains (each round is two groupBy+join
  passes over the edge set instead of one, so label propagation stays the
  default for the shallow graphs dedup actually produces).

``localCheckpoint`` truncates the growing iterative lineage each round
(the classic Spark iterative-algorithm requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 50,
    algorithm: str = "label_propagation",
) -> DataFrame:
    """Returns (``id_col``, cluster_id): cluster_id = min node id in the
    component (min works for any orderable id type — long, string, ...).
    Every node appears, singletons included; only nodes appear. An edge
    endpoint missing from ``nodes`` never joins two components."""
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    )
    # no .distinct() here (round 9): min-label propagation is insensitive
    # to duplicate edges, and _two_phase_cc canonicalizes with its own
    # distinct — the shared one only added an exchange to the heaviest
    # job (the checkpoint that materializes the whole pair pipeline)
    sym = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
        # every u is a node; a v outside ``nodes`` is left for each
        # algorithm to drop (one semi-join here, inside the checkpoint job)
        .join(labels.select(F.col("node").alias("u")), "u", "left_semi")
        .localCheckpoint(eager=True)  # edges reused every round
    )
    if algorithm == "two_phase":
        out = _two_phase_cc(labels, sym, max_iter)
    elif algorithm == "label_propagation":
        out = _label_propagation_cc(labels, sym, max_iter)
    else:
        raise ValueError(
            f"unknown algorithm {algorithm!r} "
            "(want 'label_propagation' or 'two_phase')"
        )
    return out.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))


def _label_propagation_cc(labels: DataFrame, sym: DataFrame, max_iter: int) -> DataFrame:
    """Round-9 shape (same fixpoint, same output, fewer and smaller jobs):

    - The loop runs over EDGE NODES ONLY (``sym.u`` distinct — symmetric, so
      it covers every endpoint that is a node). An endpoint ``v`` outside
      the nodes has no edge of its own left in ``sym``: it may receive a
      label but never passes one on, and the final join from ``labels``
      leaves it out. A singleton's label never changes, so propagating
      over the full node table only re-shuffles rows whose label is
      already final; at 100 TB the edge-incident subset is orders of
      magnitude smaller than the corpus. Singletons re-attach at the end via
      one left join + coalesce (identical output, pytest-pinned).
    - ``localCheckpoint(eager=False)``: the convergence ``count()`` is the
      action that materializes the checkpoint, so each cycle is ONE Spark
      job instead of two (eager-materialize + count).
    - TWO propagation steps per convergence check: labels only decrease, so
      "the last step changed nothing" IS the fixpoint regardless of what
      earlier steps in the same cycle did — checking every step buys
      nothing but an extra job per round. Total steps stay capped at
      ``max_iter`` so non-convergence semantics are unchanged.
    """
    active = sym.select(F.col("u").alias("node")).distinct()
    # self-loop edges make each propagation step ONE join + ONE aggregate:
    # a node's own label arrives through its (node, node) edge, so there
    # is no per-step left-join back onto the previous labels, and the
    # previous label is recoverable inside the same aggregate as
    # min(label WHERE u == v) — the self-loop is the only row with u == v.
    symx = sym.union(
        active.select(F.col("node").alias("u"), F.col("node").alias("v"))
    ).localCheckpoint(eager=False)
    cur = active.select("node", F.col("node").alias("label")).localCheckpoint(
        eager=False
    )

    def one_step(lbl: DataFrame) -> DataFrame:
        # the fixpoint probe rides the SAME aggregate: a row changed iff a
        # neighbor offered a strictly smaller label than the self-loop's
        # (labels only decrease, and '<' is type-agnostic — no numeric
        # cast, unlike sum(label))
        return (
            symx.join(lbl, symx["u"] == lbl["node"])
            .groupBy(F.col("v").alias("node"))
            .agg(
                F.min("label").alias("label"),
                F.min(
                    F.when(F.col("u") == F.col("v"), F.col("label"))
                ).alias("_prev"),
            )
        )

    steps_done = 0
    converged = False
    while steps_done < max_iter:
        n_steps = min(2, max_iter - steps_done)
        new = cur
        for _ in range(n_steps):
            new = one_step(new.select("node", "label"))
        new = new.localCheckpoint(eager=False)
        # one job: materializes the checkpoint AND counts the last step's
        # strict decreases (a zero here is the fixpoint certificate)
        n_changed = new.filter(F.col("label") < F.col("_prev")).count()
        cur = new.select("node", "label")
        steps_done += n_steps
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(adversarial diameter? use algorithm='two_phase')"
        )
    return (
        labels.select("node")
        .join(cur.select("node", F.col("label").alias("_lbl")), "node", "left")
        .select("node", F.coalesce("_lbl", "node").alias("label"))
    )


def _two_phase_cc(labels: DataFrame, sym: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star / small-star (Kiveris et al. 2014).

    Edges are kept canonical as (hi, lo) with hi > lo. Each round:
    - large-star: per node u, m = min(neighborhood(u) + {u}); every
      STRICTLY LARGER neighbor v > u re-attaches to m -> emit (v, m).
    - small-star: per node hi over its <=-neighbors (the canonical lo
      side), m = min(los); every other lo and hi itself attach to m.
    The edge set converges to a star forest where every edge is
    (node, component-min); O(log^2 n) rounds for ANY diameter. Fixpoint =
    the canonical edge set is unchanged by a full round (exact check:
    equal counts + empty exceptAll — both sides are distinct sets)."""
    canon = (
        sym.filter(F.col("u") > F.col("v"))
        .select(F.col("u").alias("hi"), F.col("v").alias("lo"))
        # sym's u side is already in the nodes; a lo outside them would
        # join its hi neighbours into one star
        .join(labels.select(F.col("node").alias("lo")), "lo", "left_semi")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = canon.count()
    for _ in range(max_iter):
        if n_prev == 0:  # edgeless graph: all singletons
            break
        both = canon.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            canon.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        # large-star: m = min over v's and u itself; attach v > u to m
        mins = both.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("u"), F.col("mn"))
        large = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), m.alias("lo"))  # v > u >= m
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star over the large-star output (already canonical hi > lo)
        mins2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        attached = large.join(mins2, "hi").select(
            F.col("lo").alias("hi"), F.col("m").alias("lo")  # lo >= m
        ).filter(F.col("hi") > F.col("lo"))
        roots = mins2.select(F.col("hi"), F.col("m").alias("lo"))  # hi > m
        new = attached.union(roots).distinct().localCheckpoint(eager=True)
        n_new = new.count()
        unchanged = (
            n_new == n_prev and new.exceptAll(canon).limit(1).count() == 0
        )
        canon, n_prev = new, n_new
        if unchanged:
            break
    else:
        raise RuntimeError(
            f"two_phase connected_components did not converge in {max_iter} rounds"
        )
    # star forest: every non-root node has exactly one (node, min) edge
    lab = canon.groupBy("hi").agg(F.min("lo").alias("_root"))
    return (
        labels.select("node")
        .join(lab, labels["node"] == lab["hi"], "left")
        .select("node", F.coalesce("_root", "node").alias("label"))
    )


def canonical_keep(
    docs: DataFrame,
    clusters: DataFrame,
    quality_col: str = "quality_milli",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware keeper selection — the step after ``dedup_clusters``
    that turns families into a keep-list: per cluster, keep the member
    with the HIGHEST ``quality_col`` (ties to the smallest id, so the
    choice is deterministic and degenerates to dedup_clusters' min-id
    rule when quality is constant). Returns ``docs``'s columns +
    cluster_id, cluster_size, is_canonical; downstream filters
    ``is_canonical``.

    Scale shape: ``docs`` should be projected narrow (id, quality, carry
    columns) by the caller — the join ships integers, and the single
    window partitions by cluster_id, where near-dup clusters are small
    by construction (LSH-verified families), so no straggler key.
    """
    j = clusters.join(docs, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return j.withColumn("is_canonical", F.row_number().over(w) == 1)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    algorithm: str = "label_propagation",
) -> DataFrame:
    """Near-dup FAMILIES from pair output: one row per doc with its
    cluster_id (min doc id of the family — the canonical keeper) and the
    family size. Downstream dedup keeps ``doc_id == cluster_id`` rows."""
    from pyspark.sql import Window

    cc = connected_components(
        docs, pairs, id_col, src_col, dst_col, algorithm=algorithm
    )
    w = Window.partitionBy("cluster_id")
    return cc.withColumn(
        "cluster_size", F.count("*").over(w).cast("long")
    ).select(id_col, "cluster_id", "cluster_size")
