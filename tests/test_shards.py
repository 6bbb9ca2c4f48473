"""Training-shard planning (operators/shards.py)."""

import os

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators.shards import (
    assign_shard,
    curriculum_bin,
    shard_key,
    write_training_shards,
)
from ubw_spark.plans.inspect import shuffle_count


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def test_assign_shard_is_map_only(docs):
    assert shuffle_count(assign_shard(docs, "doc_id", 64)) == 0


def test_assign_shard_deterministic_and_in_range(docs):
    a = assign_shard(docs, "doc_id", 8, seed=3).select("doc_id", "shard")
    b = assign_shard(docs, "doc_id", 8, seed=3).select("doc_id", "shard")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    lo, hi = a.agg(F.min("shard"), F.max("shard")).first()
    assert 0 <= lo and hi <= 7


def test_epoch_seeds_decorrelate(docs):
    """Different seeds behave as independent permutations: the fraction
    landing in the same shard twice is ~1/n, far from 1."""
    n = docs.count()
    two = assign_shard(docs, "doc_id", 8, seed=0, shard_col="s0").drop(
        "shard_key"
    )
    two = assign_shard(two, "doc_id", 8, seed=1, shard_col="s1")
    same = two.where(F.col("s0") == F.col("s1")).count()
    assert same / n < 0.5  # expected ~0.125; 1.0 would mean seed ignored


def test_curriculum_bin_values_and_validation(spark):
    df = spark.range(1).select(
        *[
            curriculum_bin(F.lit(v), [10, 20]).alias(f"b{v}")
            for v in (5, 10, 15, 20, 25)
        ]
    )
    assert list(df.first()) == [0, 1, 1, 2, 2]
    with pytest.raises(ValueError, match="non-empty"):
        curriculum_bin(F.lit(1), [])
    with pytest.raises(ValueError, match="ascending"):
        curriculum_bin(F.lit(1), [20, 10])
    with pytest.raises(ValueError, match="n_shards"):
        assign_shard(spark.range(1), "id", 0)


def test_write_training_shards_layout_and_determinism(docs, spark, tmp_path):
    """n_shards dirs, no row lost, and two writes under the same seed
    produce the SAME per-shard ordered doc list (the trainer-feed
    contract: retries and reruns are byte-stable)."""
    p1, p2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    for p in (p1, p2):
        write_training_shards(
            docs, p, "doc_id", 4, seed=7, curriculum=("n_chars", [200, 400])
        )
    dirs = sorted(d for d in os.listdir(p1) if d.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(4)]
    r1 = spark.read.parquet(p1)
    assert r1.count() == docs.count()

    def ordered(path):
        # parquet row order within a shard file IS the feed order
        return [
            (r["shard"], r["doc_id"])
            for r in spark.read.parquet(path)
            .select("shard", "doc_id")
            .toLocalIterator()
        ]

    assert sorted(ordered(p1)) == sorted(ordered(p2))
    # within-shard order follows (curriculum_bin, shard_key, doc_id)
    one = spark.read.parquet(os.path.join(p1, "shard=0"))
    got = [r["doc_id"] for r in one.toLocalIterator()]
    want = [
        r["doc_id"]
        for r in one.orderBy(
            curriculum_bin(F.col("n_chars"), [200, 400]),
            shard_key(F.col("doc_id"), 7),
            "doc_id",
        ).toLocalIterator()
    ]
    assert got == want


def test_shard_queries_green(spark, sf_dir):
    from ubw_spark.queries import REGISTRY

    for name, rows in [
        ("shard_plan_balance", 64),
        ("shard_epoch_reshuffle", 16),
        ("shard_curriculum_head", 24),
    ]:
        assert REGISTRY[name].fn(spark, sf_dir).count() == rows


def test_write_passes_through_callers_columns(docs, spark, tmp_path):
    """curriculum=None must not eat a caller's own column that happens
    to be named curriculum_bin; shard_key (ours) is always dropped."""
    p = str(tmp_path / "pt")
    d = docs.withColumn("curriculum_bin", F.lit(7))
    write_training_shards(d, p, "doc_id", 2, seed=1)
    back = spark.read.parquet(p)
    assert "curriculum_bin" in back.columns
    assert back.where(F.col("curriculum_bin") != 7).count() == 0
    assert "shard_key" not in back.columns


def test_training_shards_reject_reserved_columns(spark, tmp_path):
    from ubw_spark.operators.shards import write_training_shards

    df = spark.createDataFrame(
        [(1, 7), (2, 8)], "id bigint, shard_key int"
    )
    with pytest.raises(ValueError, match="shard_key"):
        write_training_shards(df, str(tmp_path / "s"), "id", 2)
