"""Rolling z-score anomaly scoring (operators/anomaly.py)."""

import math

import pytest

from pyspark.sql import functions as F

from ubw_spark.operators.anomaly import rolling_zscore, seasonal_profile


@pytest.fixture(scope="module")
def series(spark):
    # key "a": 10 flat-ish points (100 ± 1 alternating) then a spike
    vals = [100, 101, 100, 101, 100, 101, 100, 101, 100, 101, 500]
    rows = [("a", i, v) for i, v in enumerate(vals)]
    # key "b": constant series then a jump — zero context variance
    rows += [("b", i, 50) for i in range(9)] + [("b", 9, 99)]
    return spark.createDataFrame(rows, "k string, seq int, v long")


def _scored(series, **kw):
    return {
        (r["k"], r["seq"]): r
        for r in rolling_zscore(
            series, ["k"], ["seq"], "v", window=24, min_periods=8, **kw
        ).collect()
    }


def test_warmup_rows_are_null(spark, series):
    s = _scored(series)
    for i in range(8):
        assert s[("a", i)]["z"] is None and s[("a", i)]["is_anomaly"] is None
    assert s[("a", 8)]["z"] is not None


def test_spike_flagged_and_z_matches_hand_formula(spark, series):
    s = _scored(series)
    r = s[("a", 10)]
    ctx = [100, 101, 100, 101, 100, 101, 100, 101, 100, 101]
    n, mean = len(ctx), sum(ctx) / len(ctx)
    sd = math.sqrt(sum((x - mean) ** 2 for x in ctx) / (n - 1))
    assert r["z"] == pytest.approx((500 - mean) / sd, abs=1e-5)
    assert r["is_anomaly"] == 1
    assert s[("a", 9)]["is_anomaly"] == 0  # ordinary point


def test_current_row_excluded_from_context(spark, series):
    # context sums at seq 10 must not include the spike itself
    s = _scored(series)
    assert s[("a", 10)]["s1"] == 1005 and s[("a", 10)]["n_ctx"] == 10


def test_zero_variance_context_is_null_not_inf(spark, series):
    s = _scored(series)
    assert s[("b", 9)]["z"] is None and s[("b", 9)]["is_anomaly"] is None


def test_seasonal_profile_exact_milli_mean(spark):
    rows = [
        ("x", 0, 10), ("x", 0, 11), ("x", 1, 7),
        ("y", 0, 5), ("y", 0, None),
    ]
    df = spark.createDataFrame(rows, "g string, hod int, v long")
    out = {
        (r["g"], r["season"]): r
        for r in seasonal_profile(df, ["g"], F.col("hod"), "v").collect()
    }
    assert out[("x", 0)]["n"] == 2 and out[("x", 0)]["total"] == 21
    assert out[("x", 0)]["mean_milli"] == 10500
    assert out[("x", 1)]["mean_milli"] == 7000
    # NULL values don't count toward n (count(col) semantics)
    assert out[("y", 0)]["n"] == 1 and out[("y", 0)]["mean_milli"] == 5000


def test_large_cent_values_do_not_overflow(spark):
    # $7M in cents squared over a 24-frame would overflow LONG sums;
    # the decimal(38,0) statistics must survive under ANSI mode
    big = 700_000_000
    rows = [("k", i, big + (i % 3)) for i in range(30)] + [("k", 30, big * 2)]
    df = spark.createDataFrame(rows, "k string, seq int, v long")
    out = {r["seq"]: r for r in rolling_zscore(df, ["k"], ["seq"], "v").collect()}
    assert out[30]["z"] is not None and out[30]["is_anomaly"] == 1


def test_rolling_trend_recovers_known_slope(spark):
    from ubw_spark.operators.anomaly import rolling_trend

    # y = 5x + noise-free: slope exactly 5 once warm
    rows = [("k", i, i, 5 * i + 100) for i in range(20)]
    df = spark.createDataFrame(rows, "k string, seq int, x long, v long")
    out = {r["seq"]: r for r in rolling_trend(
        df, ["k"], ["seq"], "v", "x", window=10, min_periods=5
    ).collect()}
    for i in range(4):
        assert out[i]["slope"] is None  # warm-up
    assert out[10]["slope"] == pytest.approx(5.0)
    assert out[19]["slope"] == pytest.approx(5.0)


def test_rolling_trend_null_values_mask_their_x(spark):
    from ubw_spark.operators.anomaly import rolling_trend

    # NULL y rows must not leak their x into the sums: with the leak,
    # the x-variance would include the gap and bias the slope
    rows = [("k", 0, 0, 0), ("k", 1, 1, 10), ("k", 2, 2, None),
            ("k", 3, 3, 30), ("k", 4, 4, 40)]
    df = spark.createDataFrame(rows, "k string, seq int, x long, v long")
    out = {r["seq"]: r for r in rolling_trend(
        df, ["k"], ["seq"], "v", "x", window=5, min_periods=2
    ).collect()}
    # points (0,0),(1,10),(3,30),(4,40) lie exactly on y = 10x
    assert out[4]["n_ctx"] == 4
    assert out[4]["slope"] == pytest.approx(10.0)


def test_rolling_zscore_single_window_pinned_exchange(spark):
    from ubw_spark.operators.anomaly import rolling_zscore

    df = spark.range(100).select(
        (F.col("id") % 5).alias("k"),
        F.col("id").alias("t"),
        (F.col("id") % 17).alias("v"),
    )
    out = rolling_zscore(df, ["k"], ["t"], "v", window=4, min_periods=2)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # all three sufficient statistics ride ONE Window operator
    assert plan.count("Window (") == 1, plan
    # the key exchange is user-pinned (AQE must not coalesce it away)
    assert "REPARTITION_BY_NUM" in plan, plan
