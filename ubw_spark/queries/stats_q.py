"""Profiling and grouped-statistics queries (operators/stats.py):
column profiles, Benford audit, and the applyInPandas grouped-map
paths (per-segment z-score, median/MAD outlier stats)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubw_spark.operators.stats import profile_table
from ubw_spark.queries.registry import register, table

_PART_COLS = [
    ("p_partkey", "num"),
    ("p_name", "str"),
    ("p_brand", "str"),
    ("p_type", "str"),
    ("p_size", "num"),
    ("p_retailprice", "num"),
]


def _profile_row_sql(c: str, kind: str) -> str:
    if kind == "num":
        mn, mx = f"min({c})::DOUBLE", f"max({c})::DOUBLE"
        ms, xs = "NULL::VARCHAR", "NULL::VARCHAR"
    else:
        mn, mx = "NULL::DOUBLE", "NULL::DOUBLE"
        ms, xs = f"min({c})", f"max({c})"
    return f"""
    SELECT '{c}' AS col_name, count(*)::BIGINT AS n,
           (count(*) - count({c}))::BIGINT AS n_null,
           count(DISTINCT {c})::BIGINT AS n_distinct,
           {mn} AS min_num, {mx} AS max_num,
           {ms} AS min_str, {xs} AS max_str
    FROM part"""


@register(
    "profile_table_columns",
    oracle=" UNION ALL ".join(
        _profile_row_sql(c, k) for c, k in _PART_COLS
    ),
    tags=("stats", "engine"),
)
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the part table: one aggregate
    pass computing count / nulls / exact distinct / min / max per
    column, unpivoted to one row per column with no driver loop.
    Numerics surface as DOUBLE (value compare, no engine-specific
    number formatting); strings compare under binary collation on both
    engines.  Scale: exact multi-column distinct plans an Expand (k×
    map-side rows) — the ``approx_distinct=True`` path (HLL++, one
    combiner per column) is the 100 TB default and is pinned against
    the exact path in the unit tests."""
    return profile_table(
        table(spark, sf_dir, "part"), [c for c, _ in _PART_COLS]
    )


@register(
    "quality_benford_audit",
    oracle="""
    WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
               FROM orders
               WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
    d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
                   AS digit
          FROM v WHERE c > 0),
    g AS (SELECT digit, count(*)::BIGINT AS cnt FROM d GROUP BY 1),
    n AS (SELECT sum(cnt) AS n FROM g)
    SELECT g.digit, g.cnt,
           CAST((g.cnt * 1000000) // n.n AS BIGINT) AS share_micro,
           CAST(round(log10(1 + 1 / g.digit::DOUBLE) * 1000000)
                AS BIGINT) AS expected_micro,
           CAST((g.cnt * 1000000) // n.n AS BIGINT)
             - CAST(round(log10(1 + 1 / g.digit::DOUBLE) * 1000000)
                    AS BIGINT) AS dev_micro
    FROM g, n
    """,
    tags=("quality", "stats", "agg"),
)
def quality_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit (Benford) audit of order totals in cents — the
    classic fabricated-data / unit-mixup detector: exact integer digit
    shares per leading digit next to the Benford expectation.

    Scale: one map-only string-head projection (no log on data) + a
    9-group aggregate; the total broadcasts as one row.  TPC-H's
    uniform-ish totals deliberately DON'T follow Benford — the
    deviations are the signal this report exists to surface."""
    from ubw_spark.operators.stats import benford_digits

    o = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    ).where(F.col("cents") > 0)
    return benford_digits(o, "cents")


@register(
    "grouped_robust_stats",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority, median(o_totalprice) AS med,
             mad(o_totalprice) AS mad
      FROM orders GROUP BY 1)
    SELECT o.o_orderpriority, count(*) AS n,
           round(s.med, 4) AS med, round(s.mad, 4) AS mad,
           count(*) FILTER (abs(o.o_totalprice - s.med) > 3 * s.mad)
             AS n_outliers
    FROM orders o JOIN s USING (o_orderpriority)
    GROUP BY 1, s.med, s.mad
    """,
    tags=("agg", "pandas"),
)
def grouped_robust_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: exact per-priority median/MAD outlier
    stats over orders — rank statistics are the case where shipping the
    (bounded-cardinality) group through Arrow beats SQL gymnastics.
    Both engines interpolate even-count medians identically on DOUBLE,
    so the oracle is exact."""
    from ubw_spark.operators.stats import grouped_robust_stats

    o = table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    stats = grouped_robust_stats(o, ["o_orderpriority"], "o_totalprice")
    return stats.select(
        "o_orderpriority",
        "n",
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
        "n_outliers",
    )


@register(
    "grouped_map_zscore",
    oracle="""
    SELECT c_custkey,
           round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment))
                 / stddev_samp(c_acctbal) OVER (PARTITION BY c_mktsegment), 4)
             AS bal_zscore
    FROM customer WHERE c_custkey < 400
    """,
    tags=("udf",),
)
def grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map (U-surface): per-segment z-score
    normalization in pandas — deterministic, so even the Python-side
    path is oracle-checked against the SQL window formulation.

    (The window formulation is what production would use; this query
    exists to pin the grouped-map batch contract: one group = one pandas
    DataFrame in, same-length frame out.)"""
    import pandas as pd

    cust = table(spark, sf_dir, "customer").where(F.col("c_custkey") < 400)

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        m = pdf["c_acctbal"].mean()
        s = pdf["c_acctbal"].std(ddof=1)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "bal_zscore": ((pdf["c_acctbal"] - m) / s).round(4),
            }
        )

    return cust.groupBy("c_mktsegment").applyInPandas(
        zscore, schema="c_custkey bigint, bal_zscore double"
    )
