"""Additional operator gates: sessionization, pivot, rollup grouping sets,
approximate distincts — breadth beyond the reference's own surface that a
log-analytics user expects (SURVEY.md §2.4-2.6 'not needed' rows now
implemented where Spark gives them for free).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from otel_logger_spark.graftdata import transcripts_cte
from otel_logger_spark.operators.sessionize import session_stats
from otel_logger_spark.queries import _routed


def q_sessionization(spark, sf_dir):
    from otel_logger_spark.graftdata import load_events_transcripts

    t = load_events_transcripts(spark, sf_dir)
    return session_stats(t, gap_seconds=300)


O_SESSIONIZATION = (
    transcripts_cte()
    + """
 , g AS (
   SELECT conv_id, turn_idx, ts,
     CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
            OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 300000000 THEN 1 ELSE 0 END AS is_new
   FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
 s AS (
   SELECT conv_id, turn_idx, ts,
     SUM(is_new) OVER (PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
   FROM g),
 per AS (
   SELECT conv_id, session_id, COUNT(*) AS n_turns,
          epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us
   FROM s GROUP BY 1, 2)
 SELECT conv_id, CAST(MAX(session_id) + 1 AS BIGINT) AS n_sessions,
        MAX(n_turns) AS max_session_turns, CAST(SUM(n_turns) AS BIGINT) AS n_turns,
        MAX(span_us) AS max_session_span_us
 FROM per GROUP BY 1"""
)


def q_pivot_role_severity(spark, sf_dir):
    """Pivot: one row per role, one count column per severity bucket."""
    routed = _routed(spark, sf_dir)
    p = (
        routed.groupBy("role")
        .pivot("severity_num", [1, 5, 9, 13, 17])
        .count()
        .na.fill(0)
    )
    return p.select(
        "role",
        F.col("1").alias("n_trace"),
        F.col("5").alias("n_debug"),
        F.col("9").alias("n_info"),
        F.col("13").alias("n_warn"),
        F.col("17").alias("n_error"),
    )


O_PIVOT_ROLE_SEVERITY = (
    transcripts_cte()
    + """
 , e AS (
   SELECT role,
     CASE lower(CASE WHEN style IN (0,1,2,3) THEN lvl ELSE 'info' END)
       WHEN 'trace' THEN 1 WHEN 'debug' THEN 5 WHEN 'info' THEN 9
       WHEN 'warn' THEN 13 WHEN 'warning' THEN 13 WHEN 'error' THEN 17
       WHEN 'fatal' THEN 21 ELSE 9 END AS sev
   FROM t)
 SELECT role,
   CAST(SUM(CASE WHEN sev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_trace,
   CAST(SUM(CASE WHEN sev = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_debug,
   CAST(SUM(CASE WHEN sev = 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_info,
   CAST(SUM(CASE WHEN sev = 13 THEN 1 ELSE 0 END) AS BIGINT) AS n_warn,
   CAST(SUM(CASE WHEN sev = 17 THEN 1 ELSE 0 END) AS BIGINT) AS n_error
 FROM e GROUP BY 1"""
)


def q_rollup_role_style(spark, sf_dir):
    """Grouping sets via rollup: counts at (role, style), (role), ()."""
    from otel_logger_spark.graftdata import load_events_transcripts

    t = load_events_transcripts(spark, sf_dir)
    return (
        t.rollup("role", "style")
        .agg(F.count("*").alias("n"))
        .select("role", "style", "n")
    )


O_ROLLUP_ROLE_STYLE = (
    transcripts_cte()
    + " SELECT role, style, COUNT(*) AS n FROM t GROUP BY ROLLUP (role, style)"
)


def q_approx_distinct(spark, sf_dir):
    """approx_count_distinct per role, ORACLE-CHECKED at every scale
    factor since round 6: Spark's HLL++ sketch is deterministic, and
    oracles_hll.py re-derives ALL of its estimator regimes bit-for-bit on
    the repo's DuckDB XXH64 — linear counting round(m*ln(m/V)), the
    bias-corrected branch (alphaM2/zInverse minus the KNN-window bias
    from Spark's public rawEstimateData/biasData tables, p=9 row), and
    the raw branch past 5m. The exact column rides along; pytest pins the
    estimator replica against Spark across a cardinality sweep spanning
    both branch crossovers."""
    from otel_logger_spark.graftdata import load_events_transcripts

    t = load_events_transcripts(spark, sf_dir)
    return t.groupBy("role").agg(
        F.approx_count_distinct("conv_id").alias("approx_convs"),
        F.countDistinct("conv_id").alias("exact_convs"),
    )


def _o_approx_distinct() -> str:
    from otel_logger_spark.oracles_hll import approx_distinct_by_role_oracle

    return approx_distinct_by_role_oracle(transcripts_cte())


def q_median_gap(spark, sf_dir):
    from otel_logger_spark.graftdata import load_events_transcripts
    from otel_logger_spark.operators.rollups import median_gap_us

    t = load_events_transcripts(spark, sf_dir)
    return median_gap_us(t)


O_MEDIAN_GAP = (
    transcripts_cte()
    + """
 , g AS (
   SELECT conv_id,
     epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap_us
   FROM t)
 SELECT conv_id, CAST(FLOOR(quantile_cont(gap_us, 0.5)) AS BIGINT) AS p50_gap_us,
        COUNT(*) AS n_turns
 FROM g GROUP BY 1"""
)


def q_asof_latest_signup(spark, sf_dir):
    """Point-in-time attribution over the events table: every event joined
    to the user's latest signup event at-or-before it (functions/asof.py —
    union + carry-forward window, one shuffle on user_id). The oracle is
    DuckDB's NATIVE ASOF LEFT JOIN — a completely different algorithm
    (binary-search partitioned hash) that must agree row-for-row."""
    from otel_logger_spark.functions.asof import asof_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.select("event_id", "user_id", "ts")
    # uniqueness per (by, on): the portable as-of contract (see asof.py)
    right = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
    )
    out = asof_join(left, right, on="ts", by=["user_id"])
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "signup_event_id",
        F.unix_micros(F.col("ts_r").cast("timestamp")).alias("signup_ts_us"),
    )


O_ASOF_LATEST_SIGNUP = """
WITH r AS (
  SELECT user_id, ts, MAX(event_id) AS signup_event_id
  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       r.signup_event_id, epoch_us(r.ts) AS signup_ts_us
FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
"""


def q_asof_next_purchase(spark, sf_dir):
    """FORWARD as-of with tolerance: for each click, the user's next
    purchase within 10 minutes — conversion attribution, aggregated per
    user. Exercises direction='forward' + tolerance_ms against an oracle
    built from a window re-derivation (DuckDB ASOF is backward-only)."""
    from otel_logger_spark.functions.asof import asof_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_event_id"))
    )
    out = asof_join(
        left, right, on="ts", by=["user_id"],
        direction="forward", tolerance_ms=600_000,
    )
    return out.groupBy("user_id").agg(
        F.count("*").alias("n_clicks"),
        F.count("purchase_event_id").alias("n_converted"),
        F.sum(
            F.unix_micros(F.col("ts_r").cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("sum_lag_us"),
    )


O_ASOF_NEXT_PURCHASE = """
WITH p AS (
  SELECT user_id, ts, MAX(event_id) AS purchase_event_id
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
m AS (
  SELECT c.event_id, c.user_id,
    MIN(p.ts) AS p_ts
  FROM c LEFT JOIN p ON p.user_id = c.user_id
    AND p.ts >= c.ts AND epoch_us(p.ts) - epoch_us(c.ts) <= 600000000
  GROUP BY 1, 2, c.ts),
g AS (
  SELECT m.event_id, m.user_id, epoch_us(m.p_ts) - epoch_us(c.ts) AS lag_us
  FROM m JOIN c ON c.event_id = m.event_id)
SELECT user_id, COUNT(*) AS n_clicks,
  CAST(SUM(CASE WHEN lag_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
  CAST(SUM(lag_us) AS BIGINT) AS sum_lag_us
FROM g GROUP BY 1
"""


def q_range_click_incidents(spark, sf_dir):
    """Interval containment at scale: clicks landing inside any
    24-hour incident window opened by an error event of the same user
    (functions/rangejoin.py — bucketized equi-join, never a nested-loop
    range join), aggregated per user. Oracle: the plain BETWEEN join
    DuckDB executes with its own IEJoin operator."""
    from otel_logger_spark.functions.rangejoin import range_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 24 HOURS")).alias("end_ts"),
    )
    pairs = range_join(
        clicks, incidents, "ts", "start_ts", "end_ts",
        by=["user_id"], bucket_width_us=86_400_000_000,  # ~ interval length
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("event_id").alias("n_clicks_in_incident"),
        F.countDistinct("incident_id").alias("n_active_incidents"),
    )


O_RANGE_CLICK_INCIDENTS = """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
i AS (SELECT event_id AS incident_id, user_id, ts AS start_ts,
             ts + INTERVAL 24 HOUR AS end_ts
      FROM events WHERE event_type = 'error')
SELECT c.user_id, COUNT(*) AS n_pairs,
  CAST(COUNT(DISTINCT c.event_id) AS BIGINT) AS n_clicks_in_incident,
  CAST(COUNT(DISTINCT i.incident_id) AS BIGINT) AS n_active_incidents
FROM c JOIN i ON i.user_id = c.user_id
  AND c.ts BETWEEN i.start_ts AND i.end_ts
GROUP BY 1
"""


def q_log_templates(spark, sf_dir):
    """Template mining over rendered log lines: mask uuid/hex/ip/number,
    count occurrences and distinct conversations per template — the
    'top log statements' table (functions/templates.py). Oracle replays
    the identical regexp_replace chain in DuckDB's RE2."""
    from otel_logger_spark.functions.templates import template_counts
    from otel_logger_spark.graftdata import load_events_lines

    return template_counts(load_events_lines(spark, sf_dir))


def _o_log_templates() -> str:
    from otel_logger_spark.functions.templates import template_counts_sql
    from otel_logger_spark.graftdata import lines_cte

    return template_counts_sql(lines_cte())


def q_rate_spikes(spark, sf_dir):
    """Burst detection: hour buckets whose event count exceeds the
    trailing-24h mean by >= 3 sample standard deviations, evaluated in
    EXACT integer arithmetic over the dense per-role timeline
    (operators/anomaly.py). The oracle replays the identical comparison
    in HUGEINT."""
    from otel_logger_spark.graftdata import load_events_transcripts
    from otel_logger_spark.operators.anomaly import rate_spikes

    t = load_events_transcripts(spark, sf_dir)
    return rate_spikes(
        t, ts_col="ts", group_cols=("role",), bucket_seconds=3600, trailing=24, z=3
    )


def _o_rate_spikes() -> str:
    from otel_logger_spark.operators.anomaly import rate_spikes_oracle_sql

    return rate_spikes_oracle_sql(
        transcripts_cte(), bucket_seconds=3600, trailing=24, z=3
    )


def q_zorder_buckets(spark, sf_dir):
    """End-to-end check of the Z-order key math (operators/zorder.py):
    quantize (user_id, epoch) over their measured ranges, Morton-
    interleave, and roll up curve buckets (z div 2^26 -> 64 buckets with
    min/max z per bucket). The oracle re-derives ranges, quantization and
    the 32-term interleave in pure SQL — bit-identical integer
    arithmetic, no float anywhere."""
    from otel_logger_spark.operators.zorder import with_zvalue

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp(F.col("ts")).alias("ep")
    )
    z = with_zvalue(ev, ["user_id", "ep"], bits=16)
    return z.groupBy(F.expr("_z div 67108864").alias("z_bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_z").alias("z_min"),
        F.max("_z").alias("z_max"),
    )


def _o_zorder_buckets() -> str:
    qu_bits = " + ".join(
        f"((qu // {1 << i}) % 2) * {1 << (2 * i)}" for i in range(16)
    )
    qe_bits = " + ".join(
        f"((qe // {1 << i}) % 2) * {1 << (2 * i + 1)}" for i in range(16)
    )
    quant = (
        "least(65535, greatest(0, (({c} - mn{s}) * 65535) // "
        "(CASE WHEN mx{s} - mn{s} < 1 THEN 1 ELSE mx{s} - mn{s} END)))"
    )
    return f"""
WITH e AS (
  SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ep
  FROM events),
rg AS (SELECT MIN(user_id) AS mnu, MAX(user_id) AS mxu,
              MIN(ep) AS mne, MAX(ep) AS mxe FROM e),
q AS (SELECT
  {quant.format(c="user_id", s="u")} AS qu,
  {quant.format(c="ep", s="e")} AS qe
  FROM e, rg),
z AS (SELECT ({qu_bits} + {qe_bits}) AS zv FROM q)
SELECT zv // 67108864 AS z_bucket, COUNT(*) AS n,
       MIN(zv) AS z_min, MAX(zv) AS z_max
FROM z GROUP BY 1"""


def q_exact_percentiles(spark, sf_dir):
    """Exact per-event-type p50/p95/p99 of value (in micros) WITHOUT a
    global sort: iterative histogram refinement (functions/quantiles.py)
    — each round one aggregate job, range filters pushed to the scan.
    The oracle derives the identical rank (ceil(q*n/1000), 1-based,
    ascending) via row_number."""
    from otel_logger_spark.functions.quantiles import exact_quantiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.expr("CAST(floor(value * 1000000.0) AS BIGINT)").alias("value_micros"),
    )
    return exact_quantiles(
        ev, "value_micros", [500, 950, 990], group_col="event_type"
    )


def _o_exact_percentiles() -> str:
    from otel_logger_spark.functions.quantiles import exact_quantiles_sql

    return exact_quantiles_sql(
        "events",
        "CAST(floor(value * 1000000.0) AS BIGINT)",
        [500, 950, 990],
        group_col="event_type",
    )


def q_cms_counts(spark, sf_dir):
    """Count-min sketch point estimates vs exact counts
    (functions/cms.py) over a bounded key domain (event_type x
    user_id%97): (k, est, exact) with est >= exact guaranteed. The
    oracle replays the per-row XXH64 hashing, low-bit bucketing, cell
    counts and min-over-rows bit-for-bit."""
    from otel_logger_spark.functions.cms import cms_estimate, cms_sketch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.concat_ws(
            "|", "event_type", (F.col("user_id") % 97).cast("string")
        ).alias("k")
    )
    sketch = cms_sketch(ev, "k", d=4, w=512)
    est = cms_estimate(sketch, ev, "k", d=4, w=512)
    exact = ev.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
    return est.join(exact, "k")


def _o_cms_counts() -> str:
    from otel_logger_spark.functions.cms import cms_counts_sql

    return (
        """
WITH keyse AS (
  SELECT event_type || '|' || CAST(user_id % 97 AS VARCHAR) AS k
  FROM events)"""
        + cms_counts_sql("keyse", d=4, w=512)
    )


def q_funnel(spark, sf_dir):
    """Funnel conversion (operators/funnel.py): users reaching each
    prefix of view -> click -> purchase with a 24h gap bound between
    consecutive steps, greedy earliest-match. The oracle replays the
    identical (epoch, type) sort and gap-bounded fold."""
    from otel_logger_spark.operators.funnel import funnel_counts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_counts(
        ev, ["view", "click", "purchase"], max_gap_seconds=86400
    )


def _o_funnel() -> str:
    from otel_logger_spark.operators.funnel import funnel_counts_sql

    return funnel_counts_sql(
        "events", ["view", "click", "purchase"], max_gap_seconds=86400
    )
