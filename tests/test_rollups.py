"""operators/rollups.median_gap_us on a hand-built frame: odd and even gap
counts, a negative gap, a one-turn conversation (no gap: NULL median) and
a gap past 2^53 (the median is a double, as in the oracle's
quantile_cont). The rollup is one builtin aggregate."""

from pyspark.sql import functions as F

from otel_logger_spark.operators.rollups import median_gap_us

# conv_id -> event times in micros, in turn order
TURNS = {
    "odd": [0, 10, 30, 60],  # gaps 10, 20, 30
    "even": [0, 1, 3, 8, 15],  # gaps 1, 2, 5, 7 -> 3.5
    "neg": [100, 95, 105, 108],  # gaps -5, 10, 3
    "single": [42],
    "big": [0, 2**53 + 1],
}


def test_median_gap_us_hand_frame(spark):
    rows = [(c, i, us) for c, ts in TURNS.items() for i, us in enumerate(ts)]
    df = spark.createDataFrame(rows[::-1], "conv_id string, turn_idx int, us long")
    got = median_gap_us(df.withColumn("ts", F.timestamp_micros("us")))
    # one builtin aggregate over the window's conv_id exchange: no Python
    # worker, no second aggregate joined back (the plan before execution)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Join" not in plan
    assert plan.count("Exchange") == 1
    assert {r["conv_id"]: (r["p50_gap_us"], r["n_turns"]) for r in got.collect()} == {
        "odd": (20, 4),
        "even": (3, 5),
        "neg": (3, 4),
        "single": (None, 1),
        "big": (2**53, 2),  # 2^53 + 1 is not a double
    }
