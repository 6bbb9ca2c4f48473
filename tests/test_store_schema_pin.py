"""Round-14: pinned read-back schemas for the versioned stores.

Every store writer pins a ``_SCHEMA`` sidecar so loaders can skip the
per-``spark.read.parquet`` schema-inference job (guide §6 — the
store-lifecycle queries paid it up to 9× per run).  These tests are the
safety half of that optimization: for each store family the PINNED
schema must equal what Spark would INFER from the files — same column
order (partition columns appended last), same types (integral partition
values read back as int), same nullability.  Any Spark-side change to
partition discovery or footer inference that drifts from
``versioned.readback_schema``'s rules fails here, not silently in a
probe.
"""

import re

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators.versioned import (
    SCHEMA_FILE,
    read_pinned_parquet,
    resolve_root,
)


def _docs(spark, n=24):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta token"),
            (F.col("id") % 5).cast("string"),
        ).alias("text"),
    )


def _assert_pinned_matches_inference(spark, data_dir):
    import os

    assert os.path.exists(os.path.join(data_dir, SCHEMA_FILE)), (
        f"no {SCHEMA_FILE} pin at {data_dir}"
    )
    pinned = read_pinned_parquet(spark, data_dir).schema
    inferred = spark.read.parquet(data_dir).schema
    assert pinned == inferred, (
        f"pinned schema diverged from inference at {data_dir}:\n"
        f"  pinned:   {pinned}\n  inferred: {inferred}"
    )


def test_lsh_index_pin(spark, tmp_path):
    from ubw_spark.operators.lsh_index import write_minhash_index

    path = str(tmp_path / "lsh")
    write_minhash_index(_docs(spark), "doc_id", "text", path)
    root = resolve_root(path)
    for sub in ("bands", "docs", "sigs"):
        _assert_pinned_matches_inference(spark, f"{root}/{sub}")


def test_term_index_pin(spark, tmp_path):
    from ubw_spark.operators.retrieval import write_term_index

    path = str(tmp_path / "terms")
    write_term_index(_docs(spark), "doc_id", "text", path, buckets=8)
    _assert_pinned_matches_inference(spark, resolve_root(path))


def test_ivf_index_pin(spark, tmp_path):
    from ubw_spark.operators.ivf import write_ivf_index

    emb = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                ((F.col("id") + i) % 7).cast("double")
                for i in range(4)
            ]
        ).alias("embedding"),
    )
    cents = [[0.0, 1.0, 2.0, 3.0], [4.0, 5.0, 6.0, 0.0]]
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, cents, path)
    _assert_pinned_matches_inference(spark, resolve_root(path))


def test_ivfpq_store_pin(spark, tmp_path):
    from ubw_spark.operators.pq import write_ivfpq_index

    emb = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                ((F.col("id") + i) % 7).cast("double")
                for i in range(4)
            ]
        ).alias("embedding"),
    )
    cents = [[0.0, 1.0, 2.0, 3.0], [4.0, 5.0, 6.0, 0.0]]
    books = [
        [[0.0, 1.0], [2.0, 3.0]],
        [[4.0, 5.0], [6.0, 0.0]],
    ]
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, cents, books, path)
    _assert_pinned_matches_inference(spark, resolve_root(path))


def test_bloom_store_pin(spark, tmp_path):
    from ubw_spark.operators.bloom import (
        append_bloom_store,
        write_bloom_store,
    )

    path = str(tmp_path / "bloom")
    write_bloom_store(_docs(spark, 8), "text", path)
    _assert_pinned_matches_inference(spark, resolve_root(path))
    append_bloom_store(spark, _docs(spark, 4), "text", path)
    _assert_pinned_matches_inference(spark, resolve_root(path))


def test_cms_store_pin(spark, tmp_path):
    from ubw_spark.operators.sketches import (
        append_cms_batch,
        cms_build,
        write_cms_store,
    )

    items = spark.range(40).select(
        (F.col("id") % 7).cast("string").alias("w")
    )
    path = str(tmp_path / "cms")
    write_cms_store(cms_build(items, "w", width=32, depth=3), path)
    _assert_pinned_matches_inference(spark, resolve_root(path))
    append_cms_batch(spark, items, "w", path)
    _assert_pinned_matches_inference(spark, resolve_root(path))


def test_hll_store_pin(spark, tmp_path):
    from ubw_spark.operators.hll import (
        append_hll_batch,
        hll_build,
        write_hll_store,
    )

    items = spark.range(40).select(
        (F.col("id") % 11).cast("string").alias("w")
    )
    path = str(tmp_path / "hll")
    write_hll_store(hll_build(items, "w", p=6), path)
    _assert_pinned_matches_inference(spark, resolve_root(path))
    append_hll_batch(spark, items, "w", path)
    _assert_pinned_matches_inference(spark, resolve_root(path))


def test_hist_store_pin(spark, tmp_path):
    from ubw_spark.operators.qsketch import (
        append_hist_batch,
        hist_build,
        write_hist_store,
    )

    vals = spark.range(50).select((F.col("id") % 13).alias("v"))
    path = str(tmp_path / "qh")
    write_hist_store(hist_build(vals, "v", lo=0, hi=13, nbins=8), path)
    _assert_pinned_matches_inference(spark, resolve_root(path))
    append_hist_batch(spark, vals, "v", path)
    _assert_pinned_matches_inference(spark, resolve_root(path))


def test_agg_store_pin(spark, tmp_path):
    from ubw_spark.operators.incremental import write_agg_store

    state = spark.range(10).select(
        (F.col("id") % 3).alias("k"),
        F.col("id").alias("n"),
        (F.col("id") * 2.0).alias("s"),
    )
    path = str(tmp_path / "agg")
    write_agg_store(state, path)
    _assert_pinned_matches_inference(spark, resolve_root(path))


def test_moments_store_pin(spark, tmp_path):
    pytest.importorskip("numpy")
    from ubw_spark.operators.pca import write_moments_store

    emb = spark.range(12).select(
        F.array(
            *[((F.col("id") + i) % 5).cast("double") for i in range(3)]
        ).alias("v")
    )
    path = str(tmp_path / "moments")
    write_moments_store(emb, "v", path)
    _assert_pinned_matches_inference(spark, resolve_root(path))


def test_store_without_pin_raises(spark, tmp_path):
    """A directory without a _SCHEMA pin is not a store written here:
    read_pinned_parquet refuses it by name instead of inferring."""
    p = str(tmp_path / "unpinned")
    spark.range(5).write.parquet(p)
    msg = re.escape(f"{p} has no {SCHEMA_FILE}")
    with pytest.raises(ValueError, match=msg):
        read_pinned_parquet(spark, p)


def test_probe_results_identical_with_and_without_pin(
    spark, tmp_path, monkeypatch
):
    """Same probe results whether the loader used the pin or inference
    — the pin changes WHEN the schema is known, never what is read."""
    from ubw_spark.operators import versioned
    from ubw_spark.operators.lsh_index import (
        probe_minhash_index,
        write_minhash_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "lsh2")
    write_minhash_index(
        docs.where(F.col("doc_id") < 16), "doc_id", "text", path
    )
    probe = docs.where(F.col("doc_id") >= 16)
    with_pin = probe_minhash_index(
        spark, path, probe, "doc_id", "text", threshold=0.2
    ).collect()
    monkeypatch.setattr(
        versioned, "read_pinned_parquet", lambda s, d: s.read.parquet(d)
    )
    without_pin = probe_minhash_index(
        spark, path, probe, "doc_id", "text", threshold=0.2
    ).collect()
    assert sorted(map(tuple, with_pin)) == sorted(map(tuple, without_pin))
