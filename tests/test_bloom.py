"""Bloom-filter decontamination: membership semantics, the
no-false-negative guarantee, and the zero-shuffle probe plan."""

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators.bloom import (
    bloom_audit,
    bloom_positions,
    bloom_probe,
    build_bloom,
)
from ubw_spark.plans import simple_plan


@pytest.fixture(scope="module")
def corpora(spark):
    bench = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
        ],
        "id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [
            # doc 10 contains a verbatim benchmark span -> real hits
            (10, "prefix words the quick brown fox jumps here"),
            # doc 11 shares no 3-gram with the benchmark
            (11, "completely unrelated material about spark plans"),
            # doc 12 too short for a 3-gram -> dropped from output
            (12, "two words"),
            (13, "pack my box with five dozen liquor jugs exactly"),
        ],
        "id bigint, text string",
    )
    return bench, corpus


def test_probe_counts_and_short_doc_drop(spark, corpora):
    bench, corpus = corpora
    bloom = build_bloom(bench, "text")
    out = {
        r["id"]: (r["total_grams"], r["hit_grams"])
        for r in bloom_probe(corpus, "id", "text", bloom).collect()
    }
    # doc 12 has 2 tokens -> no grams -> absent
    assert set(out) == {10, 11, 13}
    # doc 10: grams 3..6 of 6 are benchmark grams ("the quick brown",
    # "quick brown fox", "brown fox jumps")
    assert out[10][0] == 6
    assert out[10][1] >= 3
    # doc 13: all 7 benchmark grams of the sentence + "liquor jugs exactly"
    assert out[13][0] == 7
    assert out[13][1] >= 6


def test_no_false_negatives(spark, corpora):
    """Every gram exactly present in the benchmark MUST be bloom-hit —
    the audit's exact_hits are a subset of bloom_hits, and
    false_positives is exactly bloom_hits - true-positive count."""
    bench, corpus = corpora
    row = bloom_audit(corpus, bench, "text").collect()[0]
    assert row["bloom_hits"] >= row["exact_hits"]
    assert row["false_positives"] == row["bloom_hits"] - row["exact_hits"]
    # and on this tiny vocabulary the filter is exact
    assert row["exact_hits"] > 0


def test_positions_deterministic_and_in_range(spark):
    df = spark.createDataFrame([("alpha beta gamma",)], "g string")
    rows = df.select(
        bloom_positions(F.col("g"), m=1 << 10, k=4).alias("p")
    ).collect()
    p = rows[0]["p"]
    assert len(p) == 4
    assert all(0 <= x < (1 << 10) for x in p)
    # same input -> same positions (pure function of the md5)
    assert p == df.select(
        bloom_positions(F.col("g"), m=1 << 10, k=4).alias("p")
    ).collect()[0]["p"]


def test_build_rejects_unaligned_m(spark, corpora):
    bench, _ = corpora
    with pytest.raises(ValueError):
        build_bloom(bench, "text", m=100)


def test_probe_plan_is_shuffle_free(spark, corpora):
    """The at-scale posture: a corpus that already has enough splits is
    not widened, so the probe side has NO Exchange — the corpus streams
    map-only through the broadcast nested-loop join against the one-row
    packed filter.  (The build side
    below the broadcast keeps its own bounded exchanges.)"""
    bench, corpus = corpora
    bloom = build_bloom(bench, "text")
    plan = simple_plan(bloom_probe(corpus, "id", "text", bloom))
    above, _, below = plan.partition("BroadcastExchange")
    assert "Exchange" not in above
    assert "BroadcastNestedLoopJoin" in above


def test_store_lifecycle_append_equals_rebuild(spark, corpora, tmp_path):
    """write -> append must equal a one-shot build over the union
    (bloom union is bitwise OR), the manifest must advance with the
    previous version grace-kept, and probing through the store must
    match the in-memory probe row-for-row."""
    from ubw_spark.operators.bloom import (
        append_bloom_store,
        load_bloom,
        probe_bloom_store,
        read_bloom_params,
        write_bloom_store,
    )
    from ubw_spark.operators.versioned import current_version, version_dir
    import os

    bench, corpus = corpora
    half_a = bench.where(F.col("id") == 1)
    half_b = bench.where(F.col("id") == 2)
    path = str(tmp_path / "bloom_store")

    write_bloom_store(half_a, "text", path, n=3, m=1 << 12, k=4)
    assert current_version(path) == 0
    assert read_bloom_params(path) == {"n": 3, "m": 1 << 12, "k": 4}
    append_bloom_store(spark, half_b, "text", path)
    assert current_version(path) == 1
    # grace copy: v0 survives one cycle
    assert os.path.isdir(version_dir(path, 0))

    dense, p = load_bloom(spark, path)
    rebuilt = build_bloom(bench, "text", n=3, m=1 << 12, k=4)
    assert dense.collect()[0]["bloom_bits"] == rebuilt.collect()[0][
        "bloom_bits"
    ], "append-merged bits must be bit-identical to a one-shot build"

    via_store = sorted(
        map(tuple, probe_bloom_store(spark, corpus, "id", "text", path).collect())
    )
    in_mem = sorted(
        map(
            tuple,
            bloom_probe(
                corpus, "id", "text", rebuilt, n=3, m=1 << 12, k=4
            ).collect(),
        )
    )
    assert via_store == in_mem


def test_store_missing_params_raises(spark, corpora, tmp_path):
    from ubw_spark.operators.bloom import read_bloom_params

    path = str(tmp_path / "not_a_bloom_store")
    import os

    os.makedirs(path)
    with pytest.raises(ValueError, match="no _BLOOM_PARAMS"):
        read_bloom_params(path)


def test_load_resolves_manifest_once(spark, corpora, tmp_path, monkeypatch):
    """load_bloom reads params and words from ONE resolved version: a
    rewrite that flips ``_CURRENT`` between two resolves would pair one
    version's m with another version's words."""
    from ubw_spark.operators import versioned
    from ubw_spark.operators.bloom import load_bloom, write_bloom_store

    bench, _ = corpora
    path = str(tmp_path / "bloom_race")
    write_bloom_store(bench, "text", path, n=3, m=1 << 12, k=4)  # v0
    write_bloom_store(bench, "text", path, n=3, m=1 << 13, k=4)  # v1
    versioned.write_manifest(path, 0)

    real = versioned.resolve_root
    calls = []

    def flip_after_first(p):
        root = real(p)
        if not calls:
            versioned.write_manifest(p, 1)  # a concurrent rewrite lands
        calls.append(root)
        return root

    monkeypatch.setattr(versioned, "resolve_root", flip_after_first)
    dense, params = load_bloom(spark, path)
    want = build_bloom(bench, "text", n=3, m=params["m"], k=4)
    assert params["m"] == 1 << 12
    assert dense.collect()[0]["bloom_bits"] == want.collect()[0]["bloom_bits"]


def test_probe_raises_on_m_mismatch(spark, corpora):
    """A filter built with one m probed under another must RAISE, not
    silently report zero hits (element_at past the array end is NULL in
    non-ANSI mode -> every gram would drop from hit_grams)."""
    bench, corpus = corpora
    small = build_bloom(bench, "text", m=1 << 12)
    from pyspark.sql.utils import AnalysisException

    try:
        bloom_probe(corpus, "id", "text", small).collect()  # default m
        assert False, "mismatched m must raise"
    except Exception as e:
        assert "length mismatch" in str(e)


def test_positions_match_python_reference(spark):
    """Property check independent of the DuckDB oracle: the Spark-side
    double-hash positions equal a pure-Python md5 reference for
    arbitrary gram strings (incl. unicode and spaces)."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    m, k = 1 << 10, 4

    def py_positions(g: str) -> list[int]:
        hx = hashlib.md5(g.encode("utf-8")).hexdigest()
        h1, h2 = int(hx[:8], 16), int(hx[8:16], 16)
        return [(h1 + i * (2 * h2 + 1)) % m for i in range(k)]

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs",), max_codepoint=0x2FFF
                ),
                min_size=1,
                max_size=30,
            ),
            min_size=1,
            max_size=8,
            unique=True,
        )
    )
    def check(grams):
        df = spark.createDataFrame([(g,) for g in grams], "g string")
        got = {
            r["g"]: list(r["p"])
            for r in df.select(
                "g", bloom_positions(F.col("g"), m=m, k=k).alias("p")
            ).collect()
        }
        for g in grams:
            assert got[g] == py_positions(g), g

    check()
