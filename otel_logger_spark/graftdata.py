"""Constructors that turn the driver's testdata tables into pipeline inputs.

The correctness gate (``__spark_entry__.py``) compares the Spark engine
against DuckDB on the same parquet. The transcripts table the pipeline
consumes doesn't exist in testdata, so we CONSTRUCT it deterministically
from ``events`` with a single SQL template rendered for both dialects:
the Spark side then runs the real operators (parse UDF, coalescer,
enrichment, routing, rollups) over the constructed text, while the oracle
predicts the expected results from the generation rule — an independent
check of the parser, not a copy of it.

Text styles (event_id % 6) mirror the reference fixture families
(/root/reference/examples/*.txt; FIXTURES.md §1):
0 canonical JSON + nested props   3 numeric epoch timestamp
1 logstash-ish alt keys           4 plain text (fallback path)
2 timestamp-prefixed JSON         5 malformed JSON (fallback path)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# dialect-specific expressions
SPARK_DIALECT = {
    "iso": "date_format(ts, 'yyyy-MM-dd') || 'T' || date_format(ts, 'HH:mm:ss') || 'Z'",
    "ep": "unix_timestamp(ts)",
}
DUCKDB_DIALECT = {
    "iso": "strftime(ts, '%Y-%m-%d') || 'T' || strftime(ts, '%H:%M:%S') || 'Z'",
    "ep": "CAST(epoch(date_trunc('second', ts)) AS BIGINT)",
}

_BASE = """
SELECT
  'u' || CAST(user_id AS STRING) AS conv_id,
  event_id AS turn_idx,
  CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
       WHEN 2 THEN 'system' ELSE 'tool' END AS role,
  CASE WHEN event_type = 'purchase' THEN 'db.query'
       WHEN event_id % 7 = 0 THEN 'bash' ELSE NULL END AS tool,
  ts,
  CAST(event_id % 6 AS INT) AS style,
  CASE event_type WHEN 'error' THEN 'error' WHEN 'click' THEN 'info'
       WHEN 'view' THEN 'debug' WHEN 'purchase' THEN 'warning'
       WHEN 'signup' THEN 'trace' ELSE 'INFO' END AS lvl,
  'evt ' || event_type || ' ' || CAST(event_id % 100 AS STRING) AS msg,
  props,
  user_id,
  {iso} AS iso,
  {ep} AS ep
FROM events
"""

_TEXT = """
SELECT *,
  CASE style
    WHEN 0 THEN '{{"timestamp":"' || iso || '","level":"' || lvl || '","message":"' || msg || '","props":' || props || '}}'
    WHEN 1 THEN '{{"@timestamp":"' || iso || '","severity":"' || lvl || '","msg":"' || msg || '","host":"node-' || CAST(user_id % 40 AS STRING) || '"}}'
    WHEN 2 THEN iso || ' {{"level":"' || lvl || '","message":"' || msg || '","attempt":' || CAST(turn_idx % 5 AS STRING) || '}}'
    WHEN 3 THEN '{{"time":' || CAST(ep AS STRING) || ',"priority":"' || lvl || '","content":"' || msg || '"}}'
    WHEN 4 THEN upper(lvl) || ': plain ' || msg
    ELSE '{{"malformed":"json","missing_quote: "' || msg || '"}}'
  END AS text
FROM ({base})
"""


def transcripts_sql(dialect: dict) -> str:
    return _TEXT.format(base=_BASE.format(**dialect))


def transcripts_cte() -> str:
    """DuckDB oracle prelude: ``WITH t AS (...)`` over the pre-registered
    ``events`` view."""
    return f"WITH t AS ({transcripts_sql(DUCKDB_DIALECT)})"


def load_events_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The constructed transcripts frame (keeps style/lvl/msg/ep columns for
    query-side grouping; the engine operators only read the contract
    columns)."""
    # the oracle (DuckDB) is tz-naive UTC; pin the session so iso/epoch
    # rendering is identical even under a driver-created session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(transcripts_sql(SPARK_DIALECT))


# --- multiline line construction (for the coalescer gate) -------------------

_LINES = """
SELECT conv_id, turn_idx,
  CASE
    WHEN turn_idx % 11 = 0 THEN ''
    WHEN turn_idx % 5 IN (1, 2) THEN '  cont ' || msg
    ELSE 'start ' || msg
  END AS text,
  role, tool, ts
FROM ({inner})
"""


def lines_sql(dialect: dict) -> str:
    return _LINES.format(inner=transcripts_sql(dialect))


def load_events_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(lines_sql(SPARK_DIALECT))


def lines_cte() -> str:
    return f"WITH lines AS ({lines_sql(DUCKDB_DIALECT)})"


# --- documents corpus with injected duplicates (dedup gates) -----------------

_CORPUS = """
SELECT doc_id, text, lang, source FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id, text, lang, source FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 200000 AS doc_id, text || ' zz extra' AS text, lang, source
FROM documents WHERE doc_id % 7 = 0
"""


def corpus_sql() -> str:
    return _CORPUS


def fan_out_if_narrow(df: DataFrame) -> DataFrame:
    """Normalize under-split inputs: a one-file gate table scans as 1-3
    partitions, so every heavy downstream projection (shingling, 32-seed
    hashing, per-doc regex chains, cosine folds) would run that narrow on
    a 32-core cluster. A 100 TB table has thousands of natural splits and
    skips this branch entirely — the repartition exists only for inputs
    narrower than the cluster, where shuffling the (small by definition)
    input is cheaper than idling most executors."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def load_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    return fan_out_if_narrow(spark.sql(_CORPUS))


def corpus_cte() -> str:
    return f"WITH corpus AS ({_CORPUS})"


# --- inputs of the corpus-derived oracles -------------------------------------
# (the ``-> str | None`` generators in queries_training.py: their SQL embeds
# values computed from the gate's own input table)

# the correctness gate compares at sf0.01; SPARK_GRAFT_ORACLE_SF_DIR
# overrides it for local checks at another SF
_ORACLE_SF_DIR = "/root/testdata/sf0.01"


def oracle_input(table: str, query=None):
    """``<table>.parquet`` in the oracle data directory, or None when it is
    absent (the generator then returns None). With ``query``, a callable
    over a DuckDB connection that has ``table`` as a view, return its
    result instead of the path."""
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", _ORACLE_SF_DIR)
    path = f"{sf_dir}/{table}.parquet"
    if not os.path.exists(path):
        return None
    if query is None:
        return path
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        return query(con)
    finally:
        con.close()


def top_en_tokens(con, k: int) -> list[tuple[str, int]]:
    """The ``k`` most frequent whitespace tokens of the corpus's lang='en'
    slice under (count DESC, token ASC): the reference counts the fluency
    oracles derive their NLL tables from (``con`` has ``documents``)."""
    return con.execute(
        corpus_cte()
        + f"""
 , toks AS (SELECT unnest(string_split(text, ' ')) AS tok
            FROM corpus WHERE lang = 'en')
 SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1
 ORDER BY c DESC, tok ASC LIMIT {k}"""
    ).fetchall()
