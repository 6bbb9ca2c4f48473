"""Pipeline composition tests (C1-C6): stage chaining, validation with
accumulated errors, observe-based summaries (A2/C4)."""

import pytest
from pyspark.sql import functions as F

from ubw_spark.core.errors import SpecValidationError
from ubw_spark.pipeline import Pipeline


def test_stage_chaining_and_then(spark, friend_df):
    p1 = Pipeline().append(
        lambda df: df.where(F.col("age").isNotNull()), name="drop_null_age"
    )
    p2 = Pipeline().append(
        lambda df: df.withColumn("age2", F.col("age") * 2), name="derive"
    )
    out = p1.then(p2).run(friend_df)
    rows = {r["id"]: r["age2"] for r in out.collect()}
    assert rows == {1: 4666, 2: 60, 3: 56}


def test_validation_accumulates_all_missing_columns(spark, friend_df):
    p = Pipeline()
    p.append(lambda df: df, name="s1", requires=["nope1", "name"])
    p.append(lambda df: df, name="s2", requires=["nope2"])
    with pytest.raises(SpecValidationError) as ei:
        p.run(friend_df)
    msg = str(ei.value)
    assert "nope1" in msg and "nope2" in msg  # both reported at once


def test_validation_sees_evolving_schema(spark, friend_df):
    p = Pipeline()
    p.append(
        lambda df: df.withColumn("derived", F.col("grade") + 1), name="mk"
    )
    p.append(lambda df: df.select("derived"), name="use", requires=["derived"])
    assert p.run(friend_df).columns == ["derived"]


def test_observe_summaries_no_second_scan(spark, friend_df):
    """A2/C4: the summary aggregate is computed by the SAME job that
    produces the rows (df.observe), not a second scan."""
    p = Pipeline()
    p.append(
        lambda df: df.where(F.col("age").isNotNull()),
        name="filtered",
        observe={"n": F.count(F.lit(1)), "total_age": F.sum("age")},
    )
    out = p.run(friend_df)
    out.collect()  # one action
    s = p.summaries()["filtered"]
    assert s == {"n": 3, "total_age": 2391}


def test_pipeline_rejects_duplicate_stage_names():
    from ubw_spark.pipeline import Pipeline, PipelineStage

    with pytest.raises(ValueError, match="duplicate stage name"):
        Pipeline(
            [
                PipelineStage(lambda d: d, observe={"n": F.count(F.lit(1))}),
                PipelineStage(lambda d: d, observe={"n": F.count(F.lit(1))}),
            ]
        )
