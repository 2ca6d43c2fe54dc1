"""Driver-facing query inventory: every operator from SURVEY.md §2 exposed
as a (spark_fn, oracle_sql) pair over the testdata tables; the pairs are
registered as gates in otel_logger_spark/gates.py.

Spark side runs the REAL engine operators (parse UDF, coalescer, enrich,
route, rollups, dedup, similarity); the DuckDB oracle predicts the result
independently from the generation rule / plain SQL. Output columns are
integer/string-typed (epochs, micros, milli-scaled) so cross-engine value
hashing is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otel_logger_spark.functions.parse import with_parsed
from otel_logger_spark.graftdata import (
    corpus_cte,
    lines_cte,
    load_corpus,
    load_events_lines,
    load_events_transcripts,
    transcripts_cte,
)
from otel_logger_spark.operators.multiline import coalesce_entries
from otel_logger_spark.operators.route import sink_counts
from otel_logger_spark.operators.rollups import (
    conversation_metrics,
    flush_window_counts,
    top_k_noisy,
    with_turn_windows,
)
from otel_logger_spark.pipeline import logs_with_summaries, parse_enrich_route

# reusable oracle fragment: the severity switch (main.go:311-328)
_SEV_CASE = (
    "CASE lower({lv}) WHEN 'trace' THEN 1 WHEN 'debug' THEN 5 WHEN 'info' THEN 9 "
    "WHEN 'warn' THEN 13 WHEN 'warning' THEN 13 WHEN 'error' THEN 17 "
    "WHEN 'fatal' THEN 21 ELSE 9 END"
)
# oracle-side predicted parse results for the constructed styles
_PRED_LEVEL = "CASE WHEN style IN (0,1,2,3) THEN lvl ELSE 'info' END"
_PRED_EP = (  # styles 0/1/3 parse a second-truncated ts; 2/4/5 fall back to row ts
    "CASE WHEN style IN (0,1,3) THEN ep ELSE CAST(epoch(date_trunc('second', ts)) AS BIGINT) END"
)
_PRED_EP_US = (
    "CASE WHEN style IN (0,1,3) THEN epoch_us(date_trunc('second', ts)) ELSE epoch_us(ts) END"
)


def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full engine chain over the constructed transcripts (no multiline
    — constructed turns are single-line; the coalescer has its own gate).
    It is the pipeline's own parse -> enrich -> route (attrs in the
    adopted json storage format), so the bench's full_pipeline measures
    the shipped configuration; none of the _routed gate queries read
    attrs."""
    return parse_enrich_route(load_events_transcripts(spark, sf_dir))


# --- A. pipeline-semantics gates ---------------------------------------------


def q_parse_severity_counts(spark, sf_dir):
    return (
        _routed(spark, sf_dir)
        .groupBy("level", "severity_num")
        .agg(F.count("*").alias("n"))
    )


O_PARSE_SEVERITY_COUNTS = (
    transcripts_cte()
    + f" SELECT level, {_SEV_CASE.format(lv='level')} AS severity_num, COUNT(*) AS n"
    + f" FROM (SELECT {_PRED_LEVEL} AS level FROM t) GROUP BY 1, 2"
)


def q_parse_event_ts(spark, sf_dir):
    t = load_events_transcripts(spark, sf_dir)
    parsed = with_parsed(t)
    return parsed.groupBy("style").agg(
        F.count("*").alias("n"),
        F.sum(F.unix_timestamp("event_ts")).alias("sum_ep"),
        F.sum(F.col("json_ok").cast("long")).alias("n_json"),
    )


O_PARSE_EVENT_TS = (
    transcripts_cte()
    + f" SELECT style, COUNT(*) AS n, CAST(SUM({_PRED_EP}) AS BIGINT) AS sum_ep,"
    + " CAST(SUM(CASE WHEN style IN (0,1,2,3) THEN 1 ELSE 0 END) AS BIGINT) AS n_json"
    + " FROM t GROUP BY 1"
)


def q_parse_messages_attrs(spark, sf_dir):
    t = load_events_transcripts(spark, sf_dir)
    parsed = with_parsed(t)
    attr_len = (
        F.coalesce(F.length(F.col("attrs")["props"]), F.lit(0))
        + F.coalesce(F.length(F.col("attrs")["host"]), F.lit(0))
        + F.coalesce(F.length(F.col("attrs")["attempt"]), F.lit(0))
    )
    return parsed.groupBy("style").agg(
        F.count("*").alias("n"),
        F.sum(F.length("message")).alias("msg_len"),
        F.sum(attr_len.cast("long")).alias("attr_len"),
        F.sum(F.length("raw")).alias("raw_len"),
    )


O_PARSE_MESSAGES_ATTRS = (
    transcripts_cte()
    + """
 SELECT style, COUNT(*) AS n,
   CAST(SUM(CASE
     WHEN style IN (0,1,2,3) THEN length(msg)
     WHEN style = 4 THEN length(upper(lvl) || ': plain ' || msg)
     ELSE length('{"malformed":"json","missing_quote: "' || msg || '"}')
   END) AS BIGINT) AS msg_len,
   CAST(SUM(CASE
     WHEN style = 0 THEN length(replace(props, '": ', '":'))
     WHEN style = 1 THEN length('node-' || CAST(user_id % 40 AS STRING))
     WHEN style = 2 THEN length(CAST(turn_idx % 5 AS STRING))
     ELSE 0
   END) AS BIGINT) AS attr_len,
   CAST(SUM(length(text)) AS BIGINT) AS raw_len
 FROM t GROUP BY 1"""
)


def q_level_precedence(spark, sf_dir):
    """First-present-key-wins gate (main.go:215-226): 'lvl' beats 'severity';
    a numeric 'level' doesn't match and falls through, but stays in attrs."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    t = spark.sql(
        """
        SELECT CASE WHEN event_id % 2 = 0
          THEN '{"lvl":"' || event_type || '","severity":"IGNORED","message":"m"}'
          ELSE '{"level":' || CAST(event_id % 50 AS STRING) || ',"severity":"warn","message":"m"}'
        END AS text, ts FROM events
        """
    )
    parsed = with_parsed(t)
    return parsed.groupBy("level").agg(
        F.count("*").alias("n"),
        F.sum(F.coalesce(F.length(F.col("attrs")["level"]), F.lit(0)).cast("long")).alias(
            "leftover_level_len"
        ),
    )


O_LEVEL_PRECEDENCE = """
WITH e AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN event_type ELSE 'warn' END AS level,
         CASE WHEN event_id % 2 = 0 THEN 0 ELSE length(CAST(event_id % 50 AS STRING)) END AS lll
  FROM events
) SELECT level, COUNT(*) AS n, CAST(SUM(lll) AS BIGINT) AS leftover_level_len FROM e GROUP BY 1
"""


def q_multiline_entry_stats(spark, sf_dir):
    lines = load_events_lines(spark, sf_dir)
    entries = coalesce_entries(lines)
    return entries.groupBy("conv_id").agg(
        F.count("*").alias("n_entries"),
        F.sum(F.col("n_lines").cast("long")).alias("n_lines"),
        F.sum(F.length("text")).alias("text_len"),
        F.min("turn_idx").alias("first_turn"),
    )


O_MULTILINE_ENTRY_STATS = (
    lines_cte()
    + """
 , ne AS (SELECT * FROM lines WHERE length(text) > 0),
 tagged AS (
   SELECT *, CASE WHEN substring(text, 1, 1) IN (' ', chr(9))
                    OR trim(text) IN (']','}','],','},') THEN 0 ELSE 1 END AS is_start
   FROM ne),
 run AS (SELECT *, SUM(is_start) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS entry_id FROM tagged),
 ent AS (
   SELECT conv_id, entry_id, COUNT(*) AS n_lines, MIN(turn_idx) AS first_turn,
          string_agg(text, chr(10) ORDER BY turn_idx) AS text
   FROM run WHERE entry_id > 0 GROUP BY 1, 2)
 SELECT conv_id, COUNT(*) AS n_entries, CAST(SUM(n_lines) AS BIGINT) AS n_lines,
        CAST(SUM(length(text)) AS BIGINT) AS text_len, MIN(first_turn) AS first_turn
 FROM ent GROUP BY 1"""
)


def q_route_sink_counts(spark, sf_dir):
    return sink_counts(_routed(spark, sf_dir))


O_ROUTE_SINK_COUNTS = (
    transcripts_cte()
    + """
 SELECT 'logs' AS sink, COUNT(*) AS n FROM t
 UNION ALL SELECT 'error', COUNT(*) FROM t WHERE style IN (0,1,2,3) AND lvl = 'error'
 UNION ALL SELECT 'tool_call', COUNT(*) FROM t WHERE tool IS NOT NULL"""
)


def q_conversation_rollup(spark, sf_dir):
    m = conversation_metrics(_routed(spark, sf_dir))
    return m.select(
        "conv_id",
        "n_entries",
        "last_turn_idx",
        "n_errors",
        "n_tool_calls",
        "n_json",
        F.unix_timestamp("first_ts").alias("first_ep"),
        F.unix_timestamp("last_ts").alias("last_ep"),
        F.col("exit_code").cast("int").alias("exit_code"),
    )


O_CONVERSATION_ROLLUP = (
    transcripts_cte()
    + f"""
 SELECT conv_id, COUNT(*) AS n_entries, MAX(turn_idx) AS last_turn_idx,
   CAST(SUM(CASE WHEN style IN (0,1,2,3) AND lvl = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
   CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
   CAST(SUM(CASE WHEN style IN (0,1,2,3) THEN 1 ELSE 0 END) AS BIGINT) AS n_json,
   MIN({_PRED_EP}) AS first_ep, MAX({_PRED_EP}) AS last_ep, 0 AS exit_code
 FROM t GROUP BY 1"""
)


def q_window_turn_rollup(spark, sf_dir):
    t = load_events_transcripts(spark, sf_dir)
    parsed = with_parsed(t)
    w = with_turn_windows(parsed)
    gap_us = F.unix_micros("event_ts") - F.unix_micros("prev_ts")
    return w.groupBy("conv_id").agg(
        F.max("seq").alias("n_turns"),
        F.max(gap_us).alias("max_gap_us"),
        F.sum(gap_us).alias("sum_gap_us"),
        F.max("turn_gap").alias("max_turn_gap"),
    )


O_WINDOW_TURN_ROLLUP = (
    transcripts_cte()
    + f"""
 , w AS (
   SELECT conv_id, turn_idx,
     ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS seq,
     {_PRED_EP_US} - LAG({_PRED_EP_US}) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap_us,
     turn_idx - LAG(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS turn_gap
   FROM t)
 SELECT conv_id, CAST(MAX(seq) AS INT) AS n_turns, MAX(gap_us) AS max_gap_us,
        CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us, MAX(turn_gap) AS max_turn_gap
 FROM w GROUP BY 1"""
)


def q_top_k_noisy(spark, sf_dir):
    top = top_k_noisy(_routed(spark, sf_dir), k=10)
    return top.select(
        "conv_id", "n_errors", "n_entries", F.col("rank").cast("long").alias("rank")
    )


O_TOP_K_NOISY = (
    transcripts_cte()
    + """
 , m AS (
   SELECT conv_id, CAST(SUM(CASE WHEN style IN (0,1,2,3) AND lvl = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
          COUNT(*) AS n_entries
   FROM t GROUP BY 1)
 SELECT conv_id, n_errors, n_entries, rank FROM (
   SELECT *, DENSE_RANK() OVER (ORDER BY n_errors DESC, conv_id ASC) AS rank FROM m)
 WHERE rank <= 10"""
)


def q_flush_window_counts(spark, sf_dir):
    t = load_events_transcripts(spark, sf_dir)
    parsed = with_parsed(t)
    fw = flush_window_counts(parsed, "5 seconds")
    return fw.select(F.unix_timestamp("w_start").alias("w_start_ep"), "n")


O_FLUSH_WINDOW_COUNTS = (
    transcripts_cte()
    + f"""
 SELECT (({_PRED_EP}) // 5) * 5 AS w_start_ep, COUNT(*) AS n
 FROM t GROUP BY 1"""
)


def q_summary_union(spark, sf_dir):
    return (
        logs_with_summaries(_routed(spark, sf_dir))
        .groupBy("role")
        .agg(F.count("*").alias("n"))
    )


O_SUMMARY_UNION = (
    transcripts_cte()
    + """
 SELECT role, CAST(SUM(n) AS BIGINT) AS n FROM (
   SELECT role, COUNT(*) AS n FROM t GROUP BY 1
   UNION ALL
   SELECT 'system' AS role, COUNT(DISTINCT conv_id) AS n FROM t
 ) GROUP BY 1"""
)

# --- B. relational core (joins / aggregates / sort-limit) ---------------------


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped hash aggregate with map-side partials; money summed
    in exact integer cents."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents("l_extendedprice")).alias("sum_base_cents"),
            F.sum(
                (
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * F.round(F.lit(100) - F.col("l_discount") * 100).cast("long")
                )
            ).alias("sum_disc_units"),
            F.count("*").alias("count_order"),
        )
    )


O_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
         * CAST(ROUND(100 - l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_units,
  COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def q_top_revenue_orders(spark, sf_dir):
    """3-way join with a broadcast dimension + top-k sort-limit."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    revenue = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round(F.lit(100) - F.col("l_discount") * 100).cast("long")
    ).alias("revenue_units")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("o_orderkey")
        .agg(revenue)
        .orderBy(F.desc("revenue_units"), F.asc("o_orderkey"))
        .limit(10)
    )


O_TOP_REVENUE_ORDERS = """
SELECT o_orderkey,
  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
         * CAST(ROUND(100 - l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_units
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY 1 ORDER BY revenue_units DESC, o_orderkey ASC LIMIT 10
"""


def q_region_rollup(spark, sf_dir):
    """Snowflake broadcast chain: customer -> nation -> region."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("acctbal_cents"),
        )
    )


O_REGION_ROLLUP = """
SELECT r_name, COUNT(*) AS n_customers,
  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1
"""


def q_distinct_users(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


O_DISTINCT_USERS = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY 1
"""
