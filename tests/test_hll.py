"""HyperLogLog (operators/hll.py)."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators.dedup import word_shingles
from ubw_spark.operators.hll import (
    hll_build,
    hll_estimate,
    hll_merge,
)


def _py_hash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_registers(items, p):
    regs = {}
    for x in set(items):
        b = _py_hash("hll:b:" + x) % (1 << p)
        rho = 33 - _py_hash("hll:r:" + x).bit_length()
        regs[b] = max(regs.get(b, 0), rho)
    return regs


@pytest.fixture(scope="module")
def bigrams(spark, sf_dir):
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return d.select(
        "lang", F.explode(word_shingles(F.col("text"), 2)).alias("bigram")
    )


def test_registers_bounded_and_ranked(bigrams):
    regs = hll_build(bigrams, "bigram", p=6)
    rows = regs.collect()
    assert len(rows) <= 64
    assert all(1 <= r["r"] <= 33 for r in rows)
    assert all(0 <= r["bucket"] < 64 for r in rows)


def test_registers_match_python_reference(spark):
    items = [f"tok-{i}" for i in range(500)] + ["tok-0", "dup", "dup"]
    df = spark.createDataFrame([(x,) for x in items], "item string")
    got = {
        (r["bucket"]): r["r"]
        for r in hll_build(df, "item", p=7).collect()
    }
    assert got == _py_registers(items, 7)


def test_merge_is_union_and_idempotent(bigrams):
    a = hll_build(bigrams.where(F.col("lang") == "en"), "bigram", p=9)
    b = hll_build(bigrams.where(F.col("lang") != "en"), "bigram", p=9)
    whole = hll_build(bigrams, "bigram", p=9)

    def as_map(df):
        return {r["bucket"]: r["r"] for r in df.collect()}

    merged = hll_merge(a, b)
    assert as_map(merged) == as_map(whole)
    # MAX-merge is idempotent: self-merge (a replayed batch) is a no-op
    assert as_map(hll_merge(a, a)) == as_map(a)
    # and the p pin survives the merge
    assert merged.schema["r"].metadata["hll_p"] == 9


def test_guards_raise(bigrams):
    a = hll_build(bigrams, "bigram", p=8)
    b = hll_build(bigrams, "bigram", p=9)
    with pytest.raises(ValueError, match="precision mismatch"):
        hll_merge(a, b)
    with pytest.raises(ValueError, match="not an hll_build register set"):
        hll_estimate(bigrams.withColumnRenamed("bigram", "r"))
    grouped = hll_build(bigrams, "bigram", p=8, group_cols=["lang"])
    with pytest.raises(ValueError, match="group columns differ"):
        hll_merge(a, grouped)
    with pytest.raises(ValueError, match="4 <= p <= 16"):
        hll_build(bigrams, "bigram", p=2)


def test_estimate_tracks_truth(bigrams):
    en = bigrams.where(F.col("lang") == "en")
    true_n = en.select("bigram").distinct().count()
    est = hll_estimate(hll_build(en, "bigram", p=11)).collect()[0]["est"]
    # p=11 → ~2.3% std error; 5x margin keeps the test seed-stable
    assert abs(est - true_n) / true_n < 0.12


def test_estimate_grouped_and_small_range_branch(spark):
    # 20 distinct items in m=4096 registers → linear-counting branch;
    # at that density the estimate is near-exact
    rows = [(g, f"item-{g}-{i}") for g in ("a", "b") for i in range(20)]
    df = spark.createDataFrame(rows, "g string, item string")
    regs = hll_build(df, "item", p=12, group_cols=["g"])
    out = {
        r["g"]: r["est"]
        for r in hll_estimate(regs, group_cols=["g"]).collect()
    }
    assert set(out) == {"a", "b"}
    for v in out.values():
        assert abs(v - 20) < 1.0


def test_store_lifecycle_replay_safe(spark, bigrams, tmp_path):
    from ubw_spark.operators.hll import (
        append_hll_batch,
        estimate_hll_store,
        load_hll,
        write_hll_store,
    )

    path = str(tmp_path / "hll_store")
    en = bigrams.where(F.col("lang") == "en").select("bigram")
    rest = bigrams.where(F.col("lang") != "en").select("bigram")
    write_hll_store(hll_build(en, "bigram", p=10), path)
    append_hll_batch(spark, rest, "bigram", path)
    # at-least-once redelivery: no high-water mark needed, max is a no-op
    append_hll_batch(spark, rest, "bigram", path)

    regs, params = load_hll(spark, path)
    assert params["p"] == 10
    whole = hll_build(bigrams, "bigram", p=10)
    assert {(r["bucket"], r["r"]) for r in regs.collect()} == {
        (r["bucket"], r["r"]) for r in whole.collect()
    }
    est = estimate_hll_store(spark, path).collect()[0]["est"]
    ref = hll_estimate(whole).collect()[0]["est"]
    assert est == ref

    grouped = hll_build(bigrams, "bigram", p=10, group_cols=["lang"])
    with pytest.raises(ValueError, match="must be ungrouped"):
        write_hll_store(grouped, str(tmp_path / "hll_bad"))


def test_hll_rho_expr_matches_definition(spark):
    import hashlib

    from ubw_spark.operators.hll import hll_rho

    items = ["a", "b", "hello world", "", "7", "zzz"]
    df = spark.createDataFrame([(s,) for s in items], "item string")
    got = {
        r["item"]: r["rho"]
        for r in df.select(
            "item", hll_rho(F.col("item")).alias("rho")
        ).collect()
    }
    for s in items:
        w = int(hashlib.md5(f"hll:r:{s}".encode()).hexdigest()[:8], 16)
        expected = 1 + sum(1 for j in range(1, 33) if w < (1 << (32 - j)))
        assert got[s] == expected, (s, w)
