"""TPC-H query analogs Q1-Q22 over the synthetic star schema.

The schema has no partsupp table and no receipt/commit dates, so the
queries that need them are *analogs*: lineitem stands in as the supply
relation, supply cost is proxied by ``0.6 × p_retailprice``, and
lateness is shipdate vs orderdate.  The shapes survive the translation:
correlated scalar subqueries, EXISTS / NOT EXISTS, IN over a correlated
aggregate, HAVING against a scaled global aggregate, NOT IN, outer-join
histograms and disjunctive predicates.

One discipline for all 22: money sums in DECIMAL (order-independent and
exact; cast to DOUBLE only after rounding), ratios divided in float64
on both engines, broadcast dimension tables, correlated subqueries as
broadcast dims plus one keyed shuffle, scalar thresholds as one-row
broadcasts (never driver collects), NOT IN as left-anti, explicit
aliases, and a full tiebreak under every ORDER BY ... LIMIT.  Reference
parity: documentation/doc-01.md:136-158 (the query vocabulary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ubw_spark.queries.registry import register, table


def _dec(c: str):
    return F.col(c).cast("decimal(12,4)")


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2)
                AS DOUBLE)                                             AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * (1 - CAST(l_discount AS DECIMAL(12,4)))
                          * (1 + CAST(l_tax AS DECIMAL(12,4)))), 2)
                AS DOUBLE)                                             AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the flagship scan→filter→groupBy→agg.

    Scale: filter pushed to parquet; partial agg map-side; only
    |flags|×|status| groups shuffle — bytes shuffled are O(groups), not
    O(rows), at any SF."""
    li = table(spark, sf_dir, "lineitem")
    # Money sums use exact DECIMAL arithmetic: float sums accumulate in
    # partition order, and a 4-/6-decimal true value rounded at 2 dp is a
    # coin flip whenever it lands on a half-cent boundary.  Decimal sums
    # are order-independent and exact; cast to double after rounding.
    dec = lambda c: F.col(c).cast("decimal(12,4)")
    disc_price_dec = dec("l_extendedprice") * (1 - dec("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price_dec), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(disc_price_dec * (1 + dec("l_tax"))), 2)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q2_min_price_supplier",
    oracle="""
    WITH li AS (
      SELECT l_partkey, l_suppkey,
             l_extendedprice / l_quantity AS unit_price
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 15)
    )
    SELECT DISTINCT s_acctbal, s_name, p_partkey, p_name, unit_price
    FROM li
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE unit_price = (
      SELECT min(l2.l_extendedprice / l2.l_quantity)
      FROM lineitem l2 WHERE l2.l_partkey = li.l_partkey
    )
    ORDER BY s_acctbal DESC, p_partkey, s_name
    LIMIT 100
    """,
    tags=("tpch", "join", "correlated"),
)
def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape — correlated scalar subquery with MIN: for each size-15
    part, the supplier(s) offering its minimum unit price.

    The correlated ``= (SELECT min(..) WHERE l2.l_partkey = p_partkey)``
    compiles to ONE shuffle: broadcast the 41-part filtered dim into the
    fact scan, then a min-over-partition window on the same l_partkey
    key — no second pass over lineitem, no join-back exchange.  Unit
    price stays a raw IEEE division (bit-identical on both engines);
    rounding it would reopen the HALF_UP-vs-half-even trap."""
    p = table(spark, sf_dir, "part").where(F.col("p_size") == 15).select(
        "p_partkey", "p_name"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    w = Window.partitionBy("l_partkey")
    cand = (
        li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("min_unit", F.min("unit_price").over(w))
        .where(F.col("unit_price") == F.col("min_unit"))
    )
    return (
        cand.join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_acctbal", "s_name", "p_partkey", "p_name", "unit_price")
        .dropDuplicates()
        .orderBy(
            F.col("s_acctbal").desc(), F.col("p_partkey"), F.col("s_name")
        )
        .limit(100)
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2)
                AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → agg → top-k.

    Scale: customer (filtered) is orders-of-magnitude smaller than
    lineitem → broadcast it.  orders⋈customer is a FACT join — its
    orderdate filter is barely selective (TPC-H orders end 1998-08), so
    hinting it broadcast would force a near-full orders build side into
    every executor at 100 TB; leave lineitem⋈orders to shuffle and let
    AQE upgrade to broadcast only when the post-filter side actually
    fits.  Top-k is TakeOrderedAndProject (no global sort); unique
    tiebreak on l_orderkey keeps LIMIT deterministic."""
    cust = table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(
            orders.join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,4)")
                    * (1 - F.col("l_discount").cast("decimal(12,4)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    tags=("join", "agg"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS → left-semi join (no fanout), then small agg."""
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2)
                AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    tags=("join", "agg"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join.

    Scale: all dims (region/nation/supplier/customer) broadcast; only
    orders⋈lineitem is a real shuffle join on orderkey.  Catalyst+AQE
    pick broadcast automatically under the 10 MB default, but we hint
    explicitly because at 100 TB the statistics pass may not have run."""
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation")
    supplier = table(spark, sf_dir, "supplier")
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,4)")
                    * (1 - F.col("l_discount").cast("decimal(12,4)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * CAST(l_discount AS DECIMAL(12,4))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg",),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: pure filter+agg — every predicate must reach the scan."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(_dec("l_extendedprice") * _dec("l_discount")), 2)
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE)
             AS revenue
    FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                  JOIN orders   ON o_orderkey = l_orderkey
                  JOIN customer ON c_custkey = o_custkey
                  JOIN nation n1 ON s_nationkey = n1.n_nationkey
                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2') AND n2.n_name IN ('NATION_1', 'NATION_2')
      AND n1.n_name <> n2.n_name
      AND l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY 1, 2, 3
    """,
    tags=("join", "agg"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: two nation lookups with different roles (self-join of
    the dim — both broadcast) + year bucketing."""
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    orders = table(spark, sf_dir, "orders")
    supplier = table(spark, sf_dir, "supplier")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).where(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).where(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))), 2
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q8_national_market_share",
    oracle="""
    WITH flat AS (
      SELECT year(o_orderdate) AS yr,
             CAST(l_extendedprice AS DECIMAL(12,4))
               * (1 - CAST(l_discount AS DECIMAL(12,4))) AS vol,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = cn.n_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01')
    SELECT yr,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol END)
                      AS DOUBLE)
                 / CAST(sum(vol) AS DOUBLE), 6) AS mkt_share
    FROM flat GROUP BY yr
    """,
    tags=("join", "agg", "tpch"),
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: 7-table star with nation joined TWICE (customer side
    filters the market, supplier side attributes the share).  All dims
    broadcast; the ratio divides exact decimal sums in float64 so both
    engines agree bit-for-bit."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").where(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")

    cust_asia = cust.join(
        broadcast(
            nat.join(
                broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"]
            ).select("n_nationkey")
        ),
        cust["c_nationkey"] == F.col("n_nationkey"),
    ).select("c_custkey")
    supp_nat = supp.join(
        broadcast(nat.select("n_nationkey", "n_name")),
        supp["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))

    vol = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    flat = (
        li.join(broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(broadcast(cust_asia), orders["o_custkey"] == F.col("c_custkey"))
        .join(broadcast(supp_nat), li["l_suppkey"] == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("yr"),
            vol.alias("vol"),
            "supp_nation",
        )
    )
    num = F.sum(F.when(F.col("supp_nation") == "NATION_1", F.col("vol")))
    return flat.groupBy("yr").agg(
        F.round(
            num.cast("double") / F.sum("vol").cast("double"), 6
        ).alias("mkt_share")
    )


@register(
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                            * (1 - CAST(l_discount AS DECIMAL(12,4)))
                          - CAST(0.6 AS DECIMAL(2,1))
                            * CAST(p_retailprice AS DECIMAL(12,4))
                            * CAST(l_quantity AS DECIMAL(12,4))), 2) AS DOUBLE)
             AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey  = l_partkey
    JOIN supplier ON s_suppkey  = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%blue%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
    tags=("tpch", "join", "agg"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape — profit by nation × order-year over a 4-dim star join;
    supply cost proxied by 0.6 × p_retailprice (no partsupp table).

    Plan: part/supplier/nation broadcast into the fact scan (all tiny
    dims), lineitem⋈orders is the one fact-fact shuffle, and the profit
    expression stays entirely in DECIMAL so the sum is accumulation-
    order independent — the same money discipline as q1/q10.  The
    part-name filter broadcasts pre-filtered keys, so the fact rows for
    other parts are dropped at the first join, before the shuffle."""
    p = (
        table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%blue%"))
        .select("p_partkey", "p_retailprice")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    profit = _dec("l_extendedprice") * (1 - _dec("l_discount")) - F.lit(
        "0.6"
    ).cast("decimal(2,1)") * _dec("p_retailprice") * _dec("l_quantity")
    return (
        li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE)
             AS revenue,
           round(c_acctbal, 2) AS c_acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    tags=("join", "agg", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: returned-items revenue per customer, global top 20."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))), 2
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey", "c_name", "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"), "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q11_important_inventory",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS val
      FROM lineitem
      WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 0)
      GROUP BY 1)
    SELECT l_partkey, CAST(round(val, 2) AS DOUBLE) AS val
    FROM pv
    WHERE val > (SELECT avg(val) * CAST(1.5 AS DECIMAL(2,1)) FROM pv)
    ORDER BY val DESC, l_partkey
    """,
    tags=("tpch", "agg", "having"),
)
def q11_important_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape — a group aggregate kept only when it exceeds a scaled
    GLOBAL aggregate of the same expression (correlated HAVING).
    TPC-H's ``sum(val) × fraction`` threshold is replaced by
    ``avg(val) × 1.5``: a fixed fraction of SUM empties as the part
    count grows with scale factor, while a multiple of AVG keeps the
    same selectivity at every SF — the plan shape (scalar subquery over
    the grouped CTE) is identical.

    Plan: filtered supplier keys broadcast-semi into the fact, ONE
    shuffle for the per-part sum, then the global threshold derives from
    the per-part sums themselves (re-aggregating the already-reduced
    pv, NOT a second fact pass) and rides back as a one-row broadcast
    cross join — the q22 idiom, no driver collect.  Both the values and
    the threshold stay DECIMAL until the final display rounding."""
    keys = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 0)
        .select("s_suppkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    pv = (
        li.join(broadcast(keys), F.col("l_suppkey") == F.col("s_suppkey"), "leftsemi")
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("__val"))
    )
    threshold = pv.agg(
        (F.avg("__val") * F.lit("1.5").cast("decimal(2,1)")).alias("__thr")
    )
    return (
        pv.crossJoin(broadcast(threshold))
        .where(F.col("__val") > F.col("__thr"))
        .select(
            "l_partkey", F.round("__val", 2).cast("double").alias("val")
        )
        .orderBy(F.col("val").desc(), F.col("l_partkey"))
    )


@register(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_linestatus,
           -- CAST: DuckDB sums to HUGEINT → float64 under pandas
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
    tags=("join", "agg"),
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional counts (case-when inside sum)."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) GROUP BY c_count
    """,
    tags=("join", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: two-level aggregation over a filtered left join (the order
    count histogram).  The join predicate lives in the ON clause —
    filtering before the join would drop zero-order customers."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(round(
             100.00 * sum(CASE WHEN p_type = 'PROMO'
                          THEN CAST(l_extendedprice AS DECIMAL(12,4))
                               * (1 - CAST(l_discount AS DECIMAL(12,4)))
                          ELSE 0 END)
             / sum(CAST(l_extendedprice AS DECIMAL(12,4))
                   * (1 - CAST(l_discount AS DECIMAL(12,4)))), 4) AS DOUBLE)
             AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
    tags=("join", "agg"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: ratio of conditional to total revenue (part broadcast).

    The division of two exact decimals is rounded at 4 dp; both engines
    divide the same exact operands so the doubles agree bit-for-bit."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = table(spark, sf_dir, "part")
    disc = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(
        F.lit(0).cast("decimal(12,4)")
    )
    return (
        li.join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(disc), 4)
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                            * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2)
                  AS DOUBLE) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
    tags=("join", "agg", "tpch"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: aggregate once, reuse for both the ranking and the
    max — the scalar max rides back as a broadcast 1-row join, not a
    second scan of lineitem."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))), 2)
        .cast("double")
        .alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(broadcast(mx), rev["total_rev"] == F.col("__mx"))
        .join(broadcast(supp), rev["l_suppkey"] == supp["s_suppkey"])
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'STANDARD%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_name LIKE '%5%')
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("tpch", "agg", "anti"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape — distinct-supplier counts by part attributes with a
    NOT-IN exclusion list.

    Plan: the part-attribute filters broadcast into the fact; NOT IN
    compiles to a LEFT-ANTI against the (tiny, pre-filtered) excluded
    supplier keys — never a NOT-IN null-aware nested loop, which is the
    classic Q16 trap (null-aware anti join degenerates to broadcast
    nested loop; s_suppkey is non-null by schema so plain anti is
    equivalent).  count(DISTINCT) shuffles once on the group keys with
    partial distinct aggregation map-side."""
    p = (
        table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#1")
            & ~F.col("p_type").like("STANDARD%")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    excluded = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_name").like("%5%"))
        .select("s_suppkey")
    )
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            broadcast(excluded),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "leftanti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH avgq AS (
      SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qlim
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4)))
                           AS DOUBLE) / 7.0, 2) AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN avgq ON pk = l_partkey
    WHERE p_brand = 'Brand#23' AND p_type = 'ECONOMY'
      AND l_quantity < qlim
    """,
    tags=("join", "agg", "tpch"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape (container → brand+type, the synthetic schema's
    columns): correlated avg-quantity subquery decorrelated into a
    per-part aggregate joined back.  Quantities are small integers, so
    avg is sum/count of exact doubles — identical in both engines, and
    the strict < comparison is deterministic."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "ECONOMY")
    ).select("p_partkey")
    avgq = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qlim")
    )
    return (
        li.join(broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(avgq, li["l_partkey"] == avgq["pk"])
        .where(F.col("l_quantity") < F.col("qlim"))
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 2
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "q18_large_volume_customer",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150)
    SELECT c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(total_qty, 2) AS total_qty
    FROM (SELECT o_custkey AS c_custkey, o_orderkey, o_orderdate, o_totalprice,
                 (SELECT sum(l_quantity) FROM lineitem WHERE l_orderkey = o_orderkey)
                   AS total_qty
          FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM big))
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    tags=("join", "agg", "topk"),
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: HAVING-filtered aggregate as a semi-join source, then the
    aggregate value re-attached — aggregate once, reuse for both the
    filter and the output (no second scan of lineitem)."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_type = 'PROMO' AND l_quantity >= 40)
    """,
    tags=("join", "agg"),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs across both join sides.  Catalyst extracts
    the common l_quantity/p_* conjuncts it can push per side; the
    residual disjunction evaluates post-join."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(5, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_type") == "PROMO") & (F.col("l_quantity") >= 40))
    )
    return (
        li.join(broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,4)")
                    * (1 - F.col("l_discount").cast("decimal(12,4)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q20_dominant_supplier",
    oracle="""
    WITH sp AS (
      SELECT l_partkey, l_suppkey,
             sum(CAST(l_quantity AS DECIMAL(12,4))) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
        AND l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE 'small%')
      GROUP BY 1, 2),
    tot AS (SELECT l_partkey, sum(qty) AS tq FROM sp GROUP BY 1)
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM sp JOIN tot USING (l_partkey)
      WHERE 2 * qty > tq)
    ORDER BY s_name
    """,
    tags=("tpch", "join", "correlated", "semi"),
)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape — IN-subquery gated by a correlated aggregate
    threshold: suppliers who shipped >half of a 'small%' part's total
    1997 volume.

    Plan: date filter pushed to the scan, part keys broadcast-LEFT-SEMI
    into the fact, one shuffle on (l_partkey, l_suppkey) for the
    partial-agg groupBy, the correlated total as a window over the same
    partkey (no second fact pass), and the final supplier membership as
    a left-semi against the (tiny, distinct) dominant-supplier keys.
    The majority test is ``2*qty > total`` — pure DECIMAL integer
    comparison, no 0.5 literal whose type could drift between engines."""
    part_keys = (
        table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    sp = (
        li.join(
            broadcast(part_keys),
            F.col("l_partkey") == F.col("p_partkey"),
            "leftsemi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        sp.withColumn("tq", F.sum("qty").over(w))
        .where(F.lit(2) * F.col("qty") > F.col("tq"))
        .select("l_suppkey")
        .dropDuplicates()
    )
    s = table(spark, sf_dir, "supplier")
    return (
        s.join(
            broadcast(dominant), F.col("s_suppkey") == F.col("l_suppkey"), "leftsemi"
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    tags=("tpch", "join", "semi", "anti"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape — multi-correlated EXISTS + NOT EXISTS against the same
    fact: suppliers who were the ONLY late shipper on a finished
    multi-supplier order (late = shipped >60 days after the order date,
    standing in for receipt>commit which the synthetic schema lacks).

    Plan: EXISTS compiles to a LEFT-SEMI and NOT EXISTS to a LEFT-ANTI
    self-join, both keyed on the SAME l_orderkey, so the three
    exchanges line up and no probe row ever fans out (semi/anti emit
    each row at most once, unlike a rewrite through inner
    join + distinct).  Spark scans the pruned 3-column fact once per
    branch (no common-subplan reuse across DataFrame handles); each
    scan is column-pruned + null-filter-pushed, and the sibling
    branches pre-aggregate to distinct (orderkey, suppkey) pairs
    before shuffling, so the semi/anti build sides carry no payload.
    The supplier dim broadcasts for the final name lookup."""
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    fact = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    l1 = fact.where("late").alias("l1")
    pairs = fact.select("l_orderkey", "l_suppkey").dropDuplicates().alias("p")
    late_pairs = (
        fact.where("late").select("l_orderkey", "l_suppkey").dropDuplicates().alias("lp")
    )
    waiting = l1.join(
        pairs,
        (F.col("l1.l_orderkey") == F.col("p.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("p.l_suppkey")),
        "leftsemi",
    ).join(
        late_pairs,
        (F.col("l1.l_orderkey") == F.col("lp.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("lp.l_suppkey")),
        "leftanti",
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@register(
    "q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0)
    SELECT c_mktsegment, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT a FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
    tags=("join", "agg"),
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: scalar subquery (global average) + anti join (no
    urgent orders — every customer here has SOME order, so the classic
    never-ordered predicate is vacuous).  The scalar aggregate
    broadcasts as a one-row cross join — no driver-side collect of the
    threshold."""
    cust = table(spark, sf_dir, "customer")
    urgent = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    return (
        cust.crossJoin(broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )
