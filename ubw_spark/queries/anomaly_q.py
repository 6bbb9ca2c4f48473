"""Anomaly-scoring queries (operators/anomaly.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubw_spark.operators.anomaly import rolling_zscore, seasonal_profile
from ubw_spark.operators.timeseries import resample
from ubw_spark.queries.registry import register, table


@register(
    "ts_rolling_anomaly",
    oracle="""
    WITH obs AS (SELECT user_id, date_trunc('hour', ts) AS h,
                        CAST(round(sum(value) * 100) AS BIGINT) AS cents
                 FROM events GROUP BY 1, 2),
    w AS (SELECT user_id, h, cents,
            count(cents) OVER fr AS n_ctx,
            sum(cents) OVER fr AS s1,
            sum(cents * cents) OVER fr AS s2
          FROM obs
          WINDOW fr AS (PARTITION BY user_id ORDER BY h
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
    z AS (SELECT user_id, h, cents, n_ctx,
            CASE WHEN n_ctx >= 8 AND (n_ctx * s2 - s1 * s1) > 0 THEN
              round((cents::HUGEINT * n_ctx - s1)::DOUBLE
                    / (n_ctx::DOUBLE
                       * sqrt((n_ctx * s2 - s1 * s1)::DOUBLE
                              / (n_ctx::DOUBLE * (n_ctx::DOUBLE - 1)))), 6)
            END AS z
          FROM w)
    SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, cents,
           n_ctx::BIGINT AS n_ctx, z,
           CASE WHEN z IS NOT NULL
                THEN CASE WHEN abs(z) >= 3.0e0 THEN 1 ELSE 0 END
           END AS is_anomaly
    FROM z
    """,
    tags=("timeseries", "anomaly", "window", "llm"),
)
def ts_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score each hourly per-user spend bucket against that user's own
    trailing 24 observations: exact integer context sums, z-score, and
    a |z| ≥ 3 anomaly flag — the alerting primitive.

    Scale: per-key bounded ROWS window (O(window) state, no global
    sort); cents are pinned to integers BEFORE the rolling sums because
    windowed double-sums visit addends in engine-specific order — the
    z division is the only float step and is mirrored literally."""
    e = table(spark, sf_dir, "events")
    obs = resample(
        e,
        ["user_id"],
        "ts",
        step="hour",
        aggs=[F.round(F.sum("value") * 100, 0).cast("long").alias("cents")],
    )
    scored = rolling_zscore(
        obs, ["user_id"], ["ts"], "cents",
        window=24, min_periods=8, threshold=3.0,
    )
    return scored.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "cents",
        "n_ctx",
        "z",
        "is_anomaly",
    )


@register(
    "ts_seasonal_profile",
    oracle="""
    WITH c AS (SELECT event_type, CAST(hour(ts) AS INTEGER) AS season,
                      CAST(round(value * 100) AS BIGINT) AS cents
               FROM events)
    SELECT event_type, season, count(cents)::BIGINT AS n,
           CAST(sum(cents) AS BIGINT) AS total,
           CAST((sum(cents) * 1000) // count(cents) AS BIGINT) AS mean_milli
    FROM c GROUP BY 1, 2
    """,
    tags=("timeseries", "anomaly", "agg"),
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day spend profile per event type (exact integer
    milli-means) — the seasonal baseline that same-hour anomaly checks
    join against.

    Scale: one groupBy over types × 24 buckets with map-side
    combine."""
    e = table(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100, 0).cast("long")
    )
    return seasonal_profile(
        e, ["event_type"], F.hour("ts"), "cents", scale=1000
    )


@register(
    "ts_rolling_trend",
    oracle="""
    WITH obs AS (SELECT user_id, date_trunc('hour', ts) AS h,
                        CAST(round(sum(value) * 100) AS BIGINT) AS cents
                 FROM events GROUP BY 1, 2),
    o2 AS (SELECT user_id, h, cents,
                  epoch_us(h) // 3600000000 AS x FROM obs),
    w AS (SELECT user_id, h, cents,
            count(cents) OVER fr AS n_ctx,
            sum(CASE WHEN cents IS NOT NULL THEN x END) OVER fr AS sx,
            sum(CASE WHEN cents IS NOT NULL THEN x * x END) OVER fr
              AS sxx,
            sum(cents) OVER fr AS sy,
            sum(x * cents) OVER fr AS sxy
          FROM o2
          WINDOW fr AS (PARTITION BY user_id ORDER BY h
                        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
    SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, cents,
           n_ctx::BIGINT AS n_ctx,
           CASE WHEN n_ctx >= 8 AND (n_ctx * sxx - sx * sx) <> 0 THEN
             round((n_ctx * sxy - sx * sy)::DOUBLE
                   / (n_ctx * sxx - sx * sx)::DOUBLE, 6)
           END AS slope
    FROM w
    """,
    tags=("timeseries", "anomaly", "window"),
)
def ts_rolling_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user spend trend: the rolling-24-observation OLS slope
    (cents per hour) of the hourly series — drift detection to pair
    with ts_rolling_anomaly's spike detection.

    Scale: the same bounded per-key ROWS frame as the z-score, five
    exact decimal sums instead of three; the slope is one mirrored
    division."""
    from ubw_spark.operators.anomaly import rolling_trend

    e = table(spark, sf_dir, "events")
    obs = resample(
        e,
        ["user_id"],
        "ts",
        step="hour",
        aggs=[F.round(F.sum("value") * 100, 0).cast("long").alias("cents")],
    ).withColumn("x", F.expr("unix_micros(ts) div 3600000000"))
    scored = rolling_trend(
        obs, ["user_id"], ["ts"], "cents", "x",
        window=24, min_periods=8,
    )
    return scored.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "cents",
        "n_ctx",
        "slope",
    )
