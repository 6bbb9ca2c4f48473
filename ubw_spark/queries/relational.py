"""Relational operator surface (SURVEY §2.3-2.8): joins, aggregations,
multi-dimensional rollups, windows, sorts/top-k, set ops, scalar functions.

The reference delegates all of this to the RDBMS through Slick
(SURVEY §2.3 J1: the for-comprehension join surface; §2.4 A1: the
parameter-driven multi-dimensional groupBy, doc-03.md:86, doc-01.md:154);
our engine exposes the full Spark-native surface.  Each query doubles as
the correctness probe for its operator class.

Scale notes are on each query: broadcast for dimension tables (region
nation supplier part fit in memory at any SF — they grow sub-linearly),
partial aggregation for groupBys (map-side combine is automatic for
algebraic aggs), AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ubw_spark.queries.registry import register, table


# --- A1: aggregation -------------------------------------------------------

@register(
    "agg_groupby_dynamic_dims",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
    tags=("agg", "engine"),
)
def agg_groupby_dynamic_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: dims chosen from a runtime string list (the reference's
    '多维度统计' parameter-driven rollup, doc-03.md:86)."""
    dims = ["o_orderstatus", "o_orderpriority"]  # runtime input
    return (
        table(spark, sf_dir, "orders")
        .groupBy(*dims)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg",),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 multi-dimensional: CUBE = all 2^d grouping sets in ONE pass
    (one shuffle, expand operator) — not d separate groupBys."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name, count(*) AS suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg", "join"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = table(spark, sf_dir, "supplier")
    nation = broadcast(table(spark, sf_dir, "nation"))
    region = broadcast(table(spark, sf_dir, "region"))
    return (
        supplier.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("suppliers"))
    )


@register(
    "agg_distinct_count",
    oracle="""
    SELECT c_mktsegment,
           count(DISTINCT c_nationkey) AS nations,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("agg",),
)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate alongside an algebraic one (expand + two-phase
    agg in Spark; still one shuffle pass)."""
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("nations"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (o_orderstatus = 'F') AS F,
           count(*) FILTER (o_orderstatus = 'O') AS O,
           count(*) FILTER (o_orderstatus = 'P') AS P
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — never let pivot() scan for
    distinct values at 100 TB (that's an extra job); pass them."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


# --- J1: join modes --------------------------------------------------------

@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, count(o_orderkey) AS order_cnt
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
    tags=("join",),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


@register(
    "join_semi",
    oracle="""
    SELECT count(*) AS n_customers_with_urgent
    FROM customer WHERE c_custkey IN
      (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: existence check without row duplication (the right way
    to express IN-subquery; no fanout, right side deduped in the join)."""
    cust = table(spark, sf_dir, "customer")
    urgent = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .agg(F.count(F.lit(1)).alias("n_customers_with_urgent"))
    )


@register(
    "join_anti",
    oracle="""
    SELECT count(*) AS n_parts_never_ordered
    FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
    """,
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    return (
        cust.join(li, F.col("p_partkey") == F.col("l_partkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_parts_never_ordered"))
    )


@register(
    "join_full_outer",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS k, count(*) AS customers FROM customer GROUP BY 1),
         sn AS (SELECT s_nationkey AS k, count(*) AS suppliers FROM supplier GROUP BY 1)
    SELECT coalesce(cn.k, sn.k) AS nationkey,
           coalesce(customers, 0) AS customers,
           coalesce(suppliers, 0) AS suppliers
    FROM cn FULL OUTER JOIN sn ON cn.k = sn.k
    """,
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides (aggregate-then-join:
    shuffling two small aggregates beats joining raw tables)."""
    cn = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("customers"))
    )
    sn = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("suppliers"))
    )
    return cn.join(sn, cn["k"] == sn["k"], "full").select(
        F.coalesce(cn["k"], sn["k"]).alias("nationkey"),
        F.coalesce("customers", F.lit(0)).alias("customers"),
        F.coalesce("suppliers", F.lit(0)).alias("suppliers"),
    )


@register(
    "join_cross",
    oracle="""
    SELECT r1.r_name AS from_region, r2.r_name AS to_region
    FROM region r1 CROSS JOIN region r2 WHERE r1.r_regionkey <> r2.r_regionkey
    """,
    tags=("join",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join — only ever on provably tiny inputs (the
    engine's param layer never emits cartesian plans implicitly)."""
    r1 = table(spark, sf_dir, "region").select(F.col("r_name").alias("from_region"), F.col("r_regionkey").alias("k1"))
    r2 = table(spark, sf_dir, "region").select(F.col("r_name").alias("to_region"), F.col("r_regionkey").alias("k2"))
    return (
        r1.crossJoin(broadcast(r2))
        .where(F.col("k1") != F.col("k2"))
        .select("from_region", "to_region")
    )


# --- §2.5 window functions -------------------------------------------------

@register(
    "window_topk_per_group",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey AS c_custkey, o_orderkey,
             round(o_totalprice, 2) AS o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
    tags=("window",),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number top-k per key: one hash shuffle on the partition key,
    sort within partitions; AQE splits skewed keys."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "window_lag_delta",
    oracle="""
    SELECT user_id, event_id,
           round(value - lag(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id), 4) AS delta
    FROM events WHERE event_type = 'purchase'
    """,
    tags=("window", "events"),
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
        )
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
    tags=("window",),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "window_ntile_quartiles",
    oracle="""
    SELECT quartile, count(*) AS n,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM (SELECT o_totalprice,
                 ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
          FROM orders)
    GROUP BY quartile
    """,
    tags=("window", "agg"),
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartile bucketing (unique tiebreak keeps bucket edges
    deterministic).  NOT a global ORDER window: that plan funnels the
    whole table through one task.  Uses operators/ranking.py's two-phase
    distributed rank (value-bucket ledger + per-bucket row_number) and
    derives the quartile arithmetically — identical ANSI ntile output,
    every window partitioned or over the tiny ledger."""
    from ubw_spark.operators.ranking import distributed_ntile

    o = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    tiled = distributed_ntile(
        o, 4, "o_totalprice", "o_orderkey", tile_name="quartile"
    )
    return (
        tiled.groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


# --- §2.6 sorts / top-k ----------------------------------------------------

@register(
    "topk_global",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
    tags=("sort",),
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k → TakeOrderedAndProject: per-partition heaps + driver
    merge of k×partitions rows; never a full range-partition sort."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


# --- §2.7 set operations ---------------------------------------------------

@register(
    "setop_union_intersect_except",
    oracle="""
    WITH building AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         machinery AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'),
         auto AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
    SELECT 'union' AS op, count(*) AS n FROM (SELECT DISTINCT c_nationkey FROM (SELECT * FROM building UNION SELECT * FROM machinery))
    UNION ALL
    SELECT 'intersect' AS op, count(*) AS n FROM (SELECT * FROM building INTERSECT SELECT * FROM machinery)
    UNION ALL
    SELECT 'except' AS op, count(*) AS n FROM (SELECT * FROM building EXCEPT SELECT * FROM auto)
    """,
    tags=("setop",),
)
def setop_union_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    seg = lambda s: cust.where(F.col("c_mktsegment") == s).select("c_nationkey")
    building, machinery, auto = seg("BUILDING"), seg("MACHINERY"), seg("AUTOMOBILE")
    u = building.union(machinery).distinct().agg(F.count(F.lit(1)).alias("n")).select(F.lit("union").alias("op"), "n")
    i = building.intersect(machinery).agg(F.count(F.lit(1)).alias("n")).select(F.lit("intersect").alias("op"), "n")
    e = building.subtract(auto).agg(F.count(F.lit(1)).alias("n")).select(F.lit("except").alias("op"), "n")
    return u.unionByName(i).unionByName(e)


# --- §2.8 scalar function vocabulary --------------------------------------

@register(
    "scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                   AS brand_upper,
           substr(p_name, 1, 8)             AS name_prefix,
           length(p_name)                   AS name_len,
           concat(p_brand, ':', p_type)     AS brand_type,
           replace(p_type, ' ', '_')        AS type_snake,
           CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END AS has_green
    FROM part WHERE p_partkey <= 500
    """,
    tags=("scalar",),
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").where(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.when(F.col("p_name").like("%green%"), 1).otherwise(0).alias("has_green"),
    )


@register(
    "scalar_date_funcs",
    oracle="""
    SELECT year(o_orderdate)    AS yr,
           month(o_orderdate)   AS mo,
           count(*)             AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1, 2
    """,
    tags=("scalar", "agg"),
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "scalar_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_extendedprice - 50000.0), 2)  AS abs_dev,
           round(sqrt(l_quantity), 4)                 AS qty_sqrt,
           round(ln(l_extendedprice), 4)              AS log_price,
           floor(l_discount * 100)::BIGINT            AS disc_pct,
           (l_quantity::BIGINT % 7)                   AS qty_mod
    FROM lineitem WHERE l_orderkey <= 1000
    """,
    tags=("scalar",),
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 50000.0), 2).alias("abs_dev"),
        F.round(F.sqrt("l_quantity"), 4).alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 4).alias("log_price"),
        F.floor(F.col("l_discount") * 100).cast("bigint").alias("disc_pct"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod"),
    )


@register(
    "scalar_array_map_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           event_type IN ('click', 'view') AS is_browse
    FROM events WHERE event_id <= 2000
    """,
    tags=("scalar", "events"),
)
def scalar_array_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction stays JVM-side (get_json_object), no UDF."""
    ev = table(spark, sf_dir, "events").where(F.col("event_id") <= 2000)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
        F.col("event_type").isin("click", "view").alias("is_browse"),
    )
