"""Pipeline-composition query (C1-C6): a multi-stage Channel-style flow
compiled to ONE Catalyst plan — filter pushdown crosses stage
boundaries exactly as if the user wrote a single expression."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubw_spark.pipeline import Pipeline
from ubw_spark.queries.registry import register, table
from ubw_spark.functions.literals import literal_frame


@register(
    "engine_pipeline_stages",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                          * CAST(l_discount AS DECIMAL(12,4))), 2) AS DOUBLE)
             AS total_discount_amt
    FROM lineitem
    WHERE l_quantity > 40 AND l_discount > 0.02
    GROUP BY l_returnflag
    """,
    tags=("engine", "pipeline"),
)
def engine_pipeline_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three Channel-style stages (filter → derive → aggregate) composed
    with .transform semantics; Catalyst folds them into one plan with
    both filters pushed into the scan."""
    p = Pipeline()
    p.append(
        lambda df: df.where(F.col("l_quantity") > 40), name="qty_filter"
    )
    p.append(
        lambda df: df.where(F.col("l_discount") > 0.02).withColumn(
            "discount_amt",
            F.col("l_extendedprice").cast("decimal(12,4)")
            * F.col("l_discount").cast("decimal(12,4)"),
        ),
        name="derive_discount",
        requires=["l_discount", "l_extendedprice"],
    )
    p.append(
        lambda df: df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("discount_amt"), 2)
            .cast("double")
            .alias("total_discount_amt"),
        ),
        name="agg",
        requires=["discount_amt"],
    )
    return p.run(table(spark, sf_dir, "lineitem"))


@register(
    "engine_observe_summary",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           max(l_orderkey) AS max_order
    FROM lineitem
    WHERE l_quantity > 45
    """,
    tags=("engine", "pipeline", "observe"),
)
def engine_observe_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/C4 withFilter/afterResult summaries (reference: PileFilter
    afterResult, framework/ubw-core/.../PileSyntax.scala:95-112),
    oracled: the observed metrics ARE the result rows.

    The summary is computed by ``observe`` DURING the job that
    materializes the stage output — no second scan; the action here is
    a noop sink, so the only data movement is the filtered scan
    feeding the observation aggregates.  Sum runs over DECIMAL so the
    observed value is engine-exact (a double sum's value depends on
    reduction order and cannot be oracled bit-for-bit).  DISTINCT
    aggregates are rejected by CollectMetrics (they need a shuffle the
    observation mechanism deliberately lacks), so the metric vocabulary
    here is count/sum/min/max — the reference's afterResult summaries
    are the same algebraic class."""
    p = Pipeline()
    p.append(
        lambda df: df.where(F.col("l_quantity") > 45),
        name="qty_filter",
        observe={
            "n_rows": F.count(F.lit(1)),
            "sum_price": F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
            ),
            "max_order": F.max("l_orderkey"),
        },
    )
    out = p.run(table(spark, sf_dir, "lineitem"))
    out.write.format("noop").mode("overwrite").save()
    m = p.summaries()["qty_filter"]
    return literal_frame(
        spark,
        [(int(m["n_rows"]), float(m["sum_price"]), int(m["max_order"]))],
        "n_rows bigint, sum_price double, max_order bigint",
    )
