"""Time-series anomaly scoring: rolling z-scores and seasonal
profiles over per-key ordered streams.

Float parity trap this module is built around: a windowed SUM of
doubles is NOT deterministic across engines (segment-tree vs running
accumulation visit addends in different orders), so rolling mean/std
on raw doubles can never hash-match an oracle.  The fix is the repo's
standard recipe: pin values to integer grain (cents) FIRST, take
rolling sums of exact integers (order-insensitive), and let floats in
only for the final mirrored division/sqrt (IEEE sqrt is correctly
rounded).

Scale posture: every window is partitioned by the series key with a
bounded ROWS frame — per-key state is O(window), no global sort, no
unpartitioned window (registry lint).  The seasonal profile is a plain
groupBy with map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["rolling_zscore", "seasonal_profile", "rolling_trend"]


def rolling_zscore(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    *,
    window: int = 24,
    min_periods: int = 8,
    threshold: float = 3.0,
    dp: int = 6,
) -> DataFrame:
    """Score each point against the trailing ``window`` observations of
    ITS OWN series (current row excluded, so a spike can't mask
    itself): appends exact context sums ``(n_ctx, s1, s2)``, the
    z-score, and an ``is_anomaly`` flag (|z| ≥ threshold).

    The decimal rolling sums are the CPU-heavy stage, and AQE's
    byte-based coalescing collapses the window's key exchange to one
    partition when the keyed rows are small on disk but expensive per
    row.  So the exchange is an explicit ``repartition(N, *key_cols)``
    with N = the session's ``defaultParallelism`` — same clustering, so
    the window adds no second exchange, but the partition count is
    pinned (AQE leaves user-specified repartitions alone).

    ``value_col`` must already be integer-grain (e.g. cents — see
    module docstring).  z is computed entirely from exact integers:

        z = (x·n − s1) / (n · sqrt((n·s2 − s1²) / (n·(n−1))))

    NULL until ``min_periods`` context rows exist or when the context
    variance is zero (a constant series makes every deviation
    infinite — flagging those is a policy choice this operator
    refuses to hardcode)."""
    # The single-Window select below appends n_ctx/s1/s2 via
    # select('*', ...): an input already carrying one of those names
    # would yield duplicate columns and an ambiguous-reference error at
    # the first F.col('n_ctx') — where the pre-round-13 withColumn form
    # silently REPLACED the caller's column, which is no better.  Refuse
    # loudly instead (round 14, ADVICE r13).
    clash = [c for c in ("n_ctx", "s1", "s2", "z") if c in df.columns]
    if clash:
        raise ValueError(
            f"rolling_zscore: input already has column(s) {clash}, which "
            "this operator appends — rename them upstream"
        )
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism,
        *[F.col(c) for c in key_cols],
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-window, -1)
    )
    x = F.col(value_col)
    # Sufficient statistics in DECIMAL(38,0), not LONG: s2 sums squares
    # of the integer-grain values, and a $7M-cents value squared already
    # exceeds Long.MAX across a 24-row frame — ANSI mode would throw,
    # non-ANSI would silently wrap (same rationale as regression._DEC).
    xd = x.cast("decimal(38,0)")
    # One select, ONE Window node: chained withColumn puts a Project
    # between consecutive window expressions and Catalyst then plans
    # three separate Window operators — three passes over every
    # partition, each re-evaluating its sliding frame.  Expressed
    # together over the same spec they collapse into a single Window
    # that computes all three sufficient statistics in one pass.
    df = df.select(
        "*",
        F.count(x).over(w).alias("n_ctx"),
        F.sum(xd).over(w).alias("s1"),
        F.sum(xd * xd).over(w).alias("s2"),
    )
    n = F.col("n_ctx").cast("double")
    n_dec = F.col("n_ctx").cast("decimal(38,0)")
    # Both subtractions happen in EXACT decimal and convert to double
    # only afterwards: n·s2 and s1² agree to ~15 significant digits for
    # large-magnitude low-variance series, so the double-first form
    # catastrophically cancels to 0 (then divides by zero) even though
    # the true variance is positive.
    var_num = n_dec * F.col("s2") - F.col("s1") * F.col("s1")
    dev_num = xd * n_dec - F.col("s1")
    z = F.when(
        (F.col("n_ctx") >= min_periods) & (var_num > 0),
        F.round(
            dev_num.cast("double")
            / (n * F.sqrt(var_num.cast("double") / (n * (n - 1)))),
            dp,
        ),
    )
    return df.withColumn("z", z).withColumn(
        "is_anomaly",
        F.when(F.col("z").isNotNull(), (F.abs("z") >= threshold).cast("int")),
    )


def seasonal_profile(
    df: DataFrame,
    key_cols: list[str],
    season_col,
    value_col: str,
    *,
    scale: int = 1000,
) -> DataFrame:
    """Per (key, season-bucket) profile of an integer-grain value:
    ``(.., n, total, mean_milli)`` with the mean in exact integer
    milli-units (``total·scale div n``) — the baseline table that
    same-hour-of-day / same-day-of-week anomaly checks join against.

    One groupBy with map-side combine; output is keys × season
    buckets."""
    season = season_col if not isinstance(season_col, str) else F.col(season_col)
    return (
        df.groupBy(*key_cols, season.alias("season"))
        .agg(
            F.count(F.col(value_col)).alias("n"),
            F.sum(F.col(value_col)).alias("total"),
        )
        .withColumn("mean_milli", F.expr(f"(total * {scale}) div n"))
    )


def rolling_trend(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    x_col: str,
    *,
    window: int = 24,
    min_periods: int = 8,
    dp: int = 6,
) -> DataFrame:
    """Rolling OLS slope of ``value_col`` on the integer time axis
    ``x_col`` over the trailing ``window`` observations (current row
    included): appends ``(n_ctx, slope)`` — the local trend detector
    ("is this series drifting, and how fast") complementing
    :func:`rolling_zscore`'s level detector.

    Same exactness discipline: all five sufficient statistics are
    DECIMAL sums over the bounded per-key ROWS frame, NULL values mask
    their x contributions too (count/sum must agree on which rows they
    saw — the cuped_adjust rule), and the slope is one mirrored double
    division, NULL until ``min_periods`` points or when x is constant
    in the frame."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-(window - 1), 0)
    )
    y = F.col(value_col)
    ynn = y.isNotNull()
    xd = F.when(ynn, F.col(x_col).cast("decimal(38,0)"))
    yd = y.cast("long").cast("decimal(38,0)")
    df = (
        df.withColumn("n_ctx", F.count(y).over(w))
        .withColumn("sx", F.sum(xd).over(w))
        .withColumn("sxx", F.sum(xd * xd).over(w))
        .withColumn("sy", F.sum(yd).over(w))
        .withColumn("sxy", F.sum(xd * yd).over(w))
    )
    nd = F.col("n_ctx").cast("decimal(38,0)")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    den = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        (F.col("n_ctx") >= min_periods) & (den != 0),
        F.round(num.cast("double") / den.cast("double"), dp),
    )
    return df.withColumn("slope", slope).drop("sx", "sxx", "sy", "sxy")
