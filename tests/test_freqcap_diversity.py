"""Per-source frequency cap (functions/freqcap.py) and n-gram diversity
audit (functions/diversity.py): hand-case semantics, conservation,
determinism under ties, and oracle parity at a second SF."""

import duckdb
import pytest
from pyspark.sql import functions as F

from otel_logger_spark.functions.diversity import diversity_report
from otel_logger_spark.functions.freqcap import freqcap_report, frequency_cap

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars long"
    )


def test_freqcap_hand_case(spark):
    rows = [
        (1, "a", "x", 100),
        (2, "a", "x", 300),
        (3, "a", "x", 200),
        (4, "b", "x", 50),
    ]
    kept = {r["doc_id"] for r in frequency_cap(_docs(spark, rows), 2).collect()}
    # source a keeps the two largest n_chars (docs 2, 3); b under cap
    assert kept == {2, 3, 4}
    rep = {r["source"]: r for r in freqcap_report(_docs(spark, rows), 2).collect()}
    assert rep["a"]["n_kept"] == 2 and rep["a"]["n_dropped"] == 1
    assert rep["a"]["min_kept_key"] == 200
    assert rep["b"]["n_dropped"] == 0 and rep["b"]["min_kept_key"] == 50


def test_freqcap_tie_break_is_lowest_id(spark):
    rows = [(i, "a", "x", 100) for i in range(1, 6)]  # all-tied keys
    kept = {r["doc_id"] for r in frequency_cap(_docs(spark, rows), 3).collect()}
    assert kept == {1, 2, 3}


def test_freqcap_conservation_and_guard(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rep = freqcap_report(docs, 15)
    r = rep.agg(
        F.sum("n_docs").alias("d"), F.sum("n_kept").alias("k"),
        F.sum("n_dropped").alias("x"),
    ).collect()[0]
    assert r["d"] == docs.count() and r["k"] + r["x"] == r["d"]
    assert frequency_cap(docs, 15).count() == r["k"]
    with pytest.raises(ValueError, match="max_per_group"):
        frequency_cap(docs, 0)


def test_diversity_hand_case(spark):
    rows = [
        (1, "a", "w w w w", 7),        # 4 tokens, 1 distinct; 2 grams, 1 distinct
        (2, "a", "x y", 3),            # 2 tokens; too short for 3-grams
        (3, "b", "p q r", 5),          # 3 tokens; 1 gram
    ]
    got = {r["source"]: r for r in diversity_report(_docs(spark, rows), n=3).collect()}
    a, b = got["a"], got["b"]
    assert (a["n_docs"], a["n_tokens"], a["distinct_tokens"]) == (2, 6, 3)
    assert a["distinct_ngrams"] == 1  # 'w w w' twice
    assert a["ttr_milli"] == (1000 * 3) // 6
    assert a["ngram_diversity_milli"] == (1000 * 1) // 2
    assert (b["n_tokens"], b["distinct_tokens"], b["distinct_ngrams"]) == (3, 3, 1)
    assert b["ngram_diversity_milli"] == 1000


def test_diversity_group_with_no_ngrams(spark):
    rows = [(1, "short", "only two", 8)]
    r = diversity_report(_docs(spark, rows), n=3).collect()[0]
    assert r["distinct_ngrams"] == 0 and r["ngram_diversity_milli"] == 0
    with pytest.raises(ValueError, match="n must be"):
        diversity_report(_docs(spark, rows), n=1)


def test_oracle_parity_second_sf(spark):
    from otel_logger_spark import queries_training as QT
    from otel_logger_spark.gates import GATES

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    for name, q in (("freqcap", QT.q_freqcap), ("diversity", QT.q_diversity)):
        sql = GATES[name].oracle
        exp = {tuple(r) for r in con.sql(sql).fetchall()}
        cols = [d[0] for d in con.sql(sql).description]
        got = {tuple(r[c] for c in cols) for r in q(spark, SF).collect()}
        assert got == exp, name
        assert len(got) == 20  # 20 sources at both SFs
