"""Quality-aware canonical keeper selection (functions/graph.
canonical_keep): hand argmax + tie order, degeneration to the min-id
rule under constant quality, one-keeper-per-cluster invariant, and
end-to-end gate parity at a second SF."""

import duckdb

from otel_logger_spark.functions.graph import canonical_keep, dedup_clusters

SF = "/root/testdata/sf0.001"


def _fixture(spark):
    # families: {1,2,3} (2 and 3 tie on quality 9 -> keep 2), {4} singleton
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 1)], "doc_id long, quality_milli long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    clusters = dedup_clusters(docs.select("doc_id"), pairs)
    return docs, clusters


def test_argmax_quality_with_min_id_tiebreak(spark):
    docs, clusters = _fixture(spark)
    kept = {r["doc_id"]: r["is_canonical"]
            for r in canonical_keep(docs, clusters).collect()}
    assert kept == {1: False, 2: True, 3: False, 4: True}


def test_constant_quality_degenerates_to_min_id(spark):
    docs, clusters = _fixture(spark)
    flat = docs.withColumn("quality_milli", docs.quality_milli * 0)
    rows = canonical_keep(flat, clusters).collect()
    for r in rows:
        assert r["is_canonical"] == (r["doc_id"] == r["cluster_id"])


def test_exactly_one_keeper_per_cluster(spark):
    docs, clusters = _fixture(spark)
    out = canonical_keep(docs, clusters)
    per = {r["cluster_id"]: r["k"] for r in
           out.groupBy("cluster_id").agg(
               __import__("pyspark.sql.functions", fromlist=["sum"])
               .sum(out.is_canonical.cast("long")).alias("k")).collect()}
    assert set(per.values()) == {1}


def test_gate_parity_second_sf(spark):
    from otel_logger_spark.gates import GATES
    from otel_logger_spark.queries_training import q_dedup_canonical

    got = sorted(map(tuple, q_dedup_canonical(spark, SF).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    want = sorted(map(tuple,
                      con.execute(GATES["dedup_canonical"].oracle).fetchall()))
    assert got == want
