"""Operator-level tests: dedup, similarity (incl. LSH recall), temporal
joins, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators import (
    asof_join,
    brute_force_topk,
    exact_dedup,
    extract_features,
    lsh_ann_topk,
    minhash_dedup_pairs,
    range_join,
    simhash_near_pairs,
    simhash_signature,
    word_shingles,
)


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "HELLO   world"), (3, "hello world"), (4, "other")],
        "id bigint, text string",
    )
    kept = sorted(r["id"] for r in exact_dedup(df, "id", "text").collect())
    # exact match on normalized text: 1 and 3 dedup; 2 differs (inner spaces)
    assert kept == [1, 2, 4]


def test_word_shingles_k2(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    out = df.select(word_shingles(F.col("text"), 2).alias("s")).collect()[0]["s"]
    assert out == ["a b", "b c", "c d"]


def test_minhash_finds_planted_near_dup(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    # plant a near-duplicate of doc 0 (drop its last word)
    base = docs.where(F.col("doc_id") == 0).select(
        F.lit(100000).cast("bigint").alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 6)").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(base)
    pairs = minhash_dedup_pairs(corpus, "doc_id", "text", threshold=0.6)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 100000) in found


def test_minhash_agreement_counts_equal_components(spark):
    from ubw_spark.operators.dedup import minhash_agreement

    df = spark.createDataFrame(
        [([1, 2, 3, 4], [1, 9, 3, 9]), ([5, 5, 5, 5], [5, 5, 5, 5])],
        "a array<bigint>, b array<bigint>",
    )
    got = [
        r["n"]
        for r in df.select(
            minhash_agreement(F.col("a"), F.col("b"), 4).alias("n")
        ).collect()
    ]
    assert got == [2, 4]


def test_prefilter_min_agree_cut_values():
    from ubw_spark.operators.dedup import prefilter_min_agree

    # the shipped default: ceil((0.4 - 0.15) * 64) = 16 — the value the
    # SQL oracles hard-code; a drift here silently breaks hash parity
    assert prefilter_min_agree(0.4, 64, 0.15) == 16
    assert prefilter_min_agree(0.6, 64, 0.15) == 29
    assert prefilter_min_agree(0.4, 64, None) == 0  # disabled
    assert prefilter_min_agree(0.1, 64, 0.15) == 0  # margin swallows it
    # exact-integer boundary must not pick up a float-epsilon extra unit
    assert prefilter_min_agree(0.5, 64, 0.25) == 16


def test_minhash_prefilter_keeps_results_identical(spark, sf_dir):
    """The signature-estimate prefilter thins the candidate stream but
    must not change what the operator FINDS on a normal corpus: every
    true near-dup pair's agreement count sits far above the cut (mean
    64·j vs cut 16), so prefilter-on and prefilter-off return the same
    verified pairs here (the boundary cases the margin prices are
    quantified by lsh_recall_report, not sampled by this corpus)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    clone = docs.where(F.col("doc_id") == 0).select(
        F.lit(200000).cast("bigint").alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 6)").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(clone)
    on = sorted(
        map(tuple, minhash_dedup_pairs(corpus, "doc_id", "text").collect())
    )
    off = sorted(
        map(
            tuple,
            minhash_dedup_pairs(
                corpus, "doc_id", "text", prefilter_margin=None
            ).collect(),
        )
    )
    assert on == off and any(p[:2] == (0, 200000) for p in on)


def test_minhash_index_sigs_store(spark, sf_dir, tmp_path):
    """The index persists the signature store backing the probe-side
    prefilter, and a probe through it finds the planted near-dup."""
    from ubw_spark.operators.lsh_index import (
        probe_minhash_index,
        write_minhash_index,
    )
    from ubw_spark.operators.versioned import resolve_root

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 40
    )
    path = str(tmp_path / "idx")
    write_minhash_index(docs, "doc_id", "text", path)
    sigs = spark.read.parquet(f"{resolve_root(path)}/sigs")
    assert set(sigs.columns) == {"corpus_id", "sig"}
    assert sigs.count() == docs.count()
    assert len(sigs.first()["sig"]) == 64

    batch = docs.where(F.col("doc_id") == 0).select(
        F.lit(300000).cast("bigint").alias("doc_id"), "text"
    )
    with_sigs = sorted(
        map(
            tuple,
            probe_minhash_index(
                spark, path, batch, "doc_id", "text", threshold=0.6
            ).collect(),
        )
    )
    assert any(p[:2] == (0, 300000) for p in with_sigs)


def test_lsh_recall_audit_shape_and_exact_dup_bucket(spark, sf_dir):
    """The recall audit's invariants on the registered slice (found ⊆
    truth per bucket, recall bounded), and — on a corpus with PLANTED
    verbatim clones, because the shipped slice has no Jaccard-1.0 pair
    and an assertion over it alone would be vacuous — that the
    exact-duplicate bucket (jac_bucket == 10) exists and scores recall
    1.0: identical shingle sets produce identical signatures, so every
    band collides."""
    from ubw_spark.operators.dedup import lsh_recall_report
    from ubw_spark.queries import REGISTRY

    rows = REGISTRY["dedup_lsh_recall_audit"].fn(spark, sf_dir).collect()
    assert rows  # the sf0.001+ corpora plant near-dups
    for r in rows:
        assert 4 <= r["jac_bucket"] <= 10
        assert 0 <= r["n_found"] <= r["n_truth"]
        assert 0.0 <= r["recall"] <= 1.0

    # doc_id < 40, not limit(40): an order-free limit over a multi-file
    # parquet listing has no guarantee of CONTAINING doc_id 0-2, and
    # this test needs those specific rows present to clone them
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 40
    )
    clones = docs.where(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    planted = docs.select("doc_id", "text").unionByName(clones)
    rep = {
        r["jac_bucket"]: r
        for r in lsh_recall_report(planted, "doc_id", "text").collect()
    }
    assert 10 in rep, "verbatim clones must land in the jac=1.0 bucket"
    assert rep[10]["n_truth"] >= 3
    assert rep[10]["recall"] == 1.0


def test_simhash_near_pairs_on_planted_dup(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river edge"),
        (3, "completely different words about spark query engines and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # unigram features: these 12-word fixtures are too short for the
    # trigram default (one changed word flips 3 of 10 shingles)
    sig = simhash_signature(df, "doc_id", "text", shingle_k=1)
    pairs = simhash_near_pairs(sig, "doc_id", max_hamming=16, prefix_bits=16)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in found
    assert (1, 3) not in found and (2, 3) not in found


def test_lsh_ann_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=5)
    approx = lsh_ann_topk(emb, queries, k=5, dim=64, bits=4, tables=16)
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    a = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 200, "p2"), (2, 50, "p3")],
        "user_id bigint, t bigint, pid string",
    ).select("user_id", F.timestamp_seconds("t").alias("ts"), "pid")
    right = spark.createDataFrame(
        [(1, 90, "c1"), (1, 150, "c2"), (1, 300, "c3"), (3, 10, "c4")],
        "user_id bigint, t bigint, cid string",
    ).select("user_id", F.timestamp_seconds("t").alias("ts"), "cid")
    out = asof_join(left, right, on="ts", by=["user_id"], right_cols=["cid"])
    got = {r["pid"]: r["cid_right"] for r in out.collect()}
    # p1@100 → c1@90; p2@200 → c2@150 (c3@300 is later); p3 user 2 → none
    assert got == {"p1": "c1", "p2": "c2", "p3": None}


def test_asof_join_equal_ts_included(spark):
    left = spark.createDataFrame([(1, 100, "p")], "user_id bigint, t bigint, pid string")
    left = left.select("user_id", F.timestamp_seconds("t").alias("ts"), "pid")
    right = spark.createDataFrame([(1, 100, "c")], "user_id bigint, t bigint, cid string")
    right = right.select("user_id", F.timestamp_seconds("t").alias("ts"), "cid")
    out = asof_join(left, right, on="ts", by=["user_id"], right_cols=["cid"])
    assert out.collect()[0]["cid_right"] == "c"


def test_range_join_bounds(spark):
    left = spark.createDataFrame(
        [(1, 1000, "L")], "k bigint, t bigint, side string"
    ).select("k", F.timestamp_seconds("t").alias("lts"), "side")
    right = spark.createDataFrame(
        [(1, 399, "too_early"), (1, 400, "edge_lo"), (1, 1000, "edge_hi"),
         (1, 1001, "too_late"), (2, 500, "wrong_key")],
        "k bigint, t bigint, tag string",
    ).select("k", F.timestamp_seconds("t").alias("rts"), "tag")
    out = range_join(
        left, right, key="k", left_ts="lts", right_ts="rts",
        lower_seconds=600, upper_seconds=0,
    )
    tags = sorted(r["tag"] for r in out.collect())
    assert tags == ["edge_hi", "edge_lo"]


def test_multimodal_features_deterministic_unit_norm(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, "xyz")], "doc_id bigint, text string"
    ).withColumn("payload", F.encode(F.col("text"), "utf-8"))
    f1 = extract_features(df, "doc_id", "payload", feature_dim=16).collect()
    f2 = extract_features(df, "doc_id", "payload", feature_dim=16).collect()
    assert sorted(map(str, f1)) == sorted(map(str, f2))  # deterministic
    for r in f1:
        assert len(r["feature"]) == 16
        norm = sum(x * x for x in r["feature"]) ** 0.5
        assert abs(norm - 1.0) < 1e-5


@pytest.mark.parametrize("fn, codec", [
    ("decode_batches", "real"), ("resize_images", "jpeg"),
    ("sample_frames", "png"),
])
def test_multimodal_unknown_codec_raises_at_call_time(spark, fn, codec):
    """A codec the function does not implement is refused when the plan
    is built, not inside a Spark task."""
    from ubw_spark.operators import multimodal

    df = spark.createDataFrame([(1, bytearray(b"x"))], "id bigint, payload binary")
    with pytest.raises(ValueError, match="unknown codec"):
        getattr(multimodal, fn)(df, "id", "payload", codec=codec)


def test_ivf_ann_recall_vs_brute_force(spark, sf_dir):
    from ubw_spark.operators.ivf import ivf_ann_topk, train_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    centroids = train_ivf_centroids(emb, k=8, seed=42)
    assert len(centroids) == 8 and len(centroids[0]) == 64
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_ann_topk(emb, queries, centroids, k=5, nprobe=4)
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    a = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_seed_centroid_recall_vs_brute_force(spark, sf_dir):
    # The registered (oracled) query uses deterministic md5-seeded
    # centroids instead of KMeans — recall must still clear the bar.
    from ubw_spark.operators.ivf import ivf_ann_topk
    from ubw_spark.operators.ivf import seed_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    centroids = seed_ivf_centroids(emb, k=8)
    assert len(centroids) == 8 and len(centroids[0]) == 64
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_ann_topk(emb, queries, centroids, k=5, nprobe=4)
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    a = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF seed-centroid recall too low: {recall}"


def test_ivf_cells_partition_corpus(spark, sf_dir):
    from ubw_spark.operators.ivf import assign_ivf_cells, train_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = train_ivf_centroids(emb, k=8, seed=42)
    cells = assign_ivf_cells(emb, centroids).groupBy("ivf_cell").count().collect()
    assert len(cells) == 8  # every cell populated
    total = sum(r["count"] for r in cells)
    assert total == emb.count()


def test_connected_components_on_known_graph(spark):
    from ubw_spark.operators.components import connected_components

    # components: {1,2,3,4} (chain), {10,11}, isolated nodes absent
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint"
    )
    comp = {r["node"]: r["component"]
            for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_keep_list(spark):
    from ubw_spark.operators.components import dedup_keep_list

    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in [1, 2, 3, 4, 10, 11, 99]],
        "doc_id bigint, text string",
    )
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint"
    )
    kept = sorted(r["doc_id"] for r in
                  dedup_keep_list(df, pairs, "doc_id").collect())
    # min of each cluster survives + untouched 99
    assert kept == [1, 10, 99]


def test_lsh_hot_bucket_cap_bounds_degenerate_buckets(spark):
    """1,000 identical docs share every band bucket — uncapped that is
    ~500k pairs from one bucket (the 100 TB boilerplate scenario).  The
    cap drops those buckets (exact dedup owns them) while a genuine
    near-dup pair in a small bucket is still found."""
    from ubw_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
        oversized_buckets,
        portable_hash,
        word_shingles,
    )

    boiler = "this is the exact same boilerplate header text repeated on every page"
    rows = [(i, boiler) for i in range(1000)]
    rows.append((2001, "a genuinely unique document about spark shuffles and joins today"))
    rows.append((2002, "a genuinely unique document about spark shuffles and joins tonight"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    sh = df.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("__sh")
    ).select(
        "doc_id", F.transform("__sh", portable_hash).alias("__hv")
    )
    sig = sh.select(
        "doc_id", minhash_signature(F.col("__hv"), 64).alias("__sig")
    )
    pairs = lsh_candidate_pairs(sig, "doc_id", "__sig", max_bucket=64)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # the boilerplate cluster produced ZERO candidate pairs (dropped),
    # the real near-dup pair survived in its occupancy-2 buckets
    assert (2001, 2002) in got
    assert len(got) == 1

    # routing companion reports the dropped buckets with their occupancy
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(31))).alias("__band")
    banded = sig.select("doc_id", F.col("__sig"), band_idx).select(
        "doc_id",
        "__band",
        F.concat_ws(
            ",", F.slice(F.col("__sig"), F.col("__band") * 2 + 1, 2)
        ).alias("__key"),
    )
    dropped = oversized_buckets(banded, ["__band", "__key"], 64).collect()
    assert len(dropped) == 32  # one oversized bucket per band
    assert all(r["occupancy"] == 1000 for r in dropped)

    # and exact dedup owns the boilerplate cluster
    from ubw_spark.operators.dedup import exact_dedup

    kept = exact_dedup(df, "doc_id", "text")
    assert kept.count() == 3  # one boilerplate survivor + the two uniques


def test_simhash_hot_bucket_cap(spark):
    """Identical texts share all simhash bands; capped buckets emit no
    pairs while distinct near-dups still match."""
    rows = [(i, "same boilerplate text everywhere again and again") for i in range(200)]
    rows.append((901, "the quick brown fox jumps over the lazy dog near the river bank"))
    rows.append((902, "the quick brown fox jumps over the lazy dog near the river edge"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sig = simhash_signature(df, "doc_id", "text", shingle_k=1)
    pairs = simhash_near_pairs(
        sig, "doc_id", max_hamming=16, prefix_bits=16, max_bucket=64
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (901, 902) in got
    assert not any(a < 901 and b < 901 for a, b in got)


def test_winnow_doc_freq_cap(spark):
    """A fingerprint shared by >max_doc_freq docs (license boilerplate)
    is dropped from pair generation; low-df overlaps still pair."""
    from ubw_spark.operators.winnow import winnow_overlap_pairs

    shared = "copyright license header identical in every file of the corpus"
    rows = [(i, shared) for i in range(100)]
    rows.append((901, "def compute_shuffle_partitions(spark_conf, target_bytes): pass"))
    rows.append((902, "def compute_shuffle_partitions(spark_conf, target_rows): pass"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = winnow_overlap_pairs(
        df, "doc_id", "text", min_shared=3, max_doc_freq=64
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (901, 902) in got
    assert not any(a < 901 and b < 901 for a, b in got)


def test_embedding_near_dup_lsh_recall(spark, sf_dir):
    """LSH-bucketed embedding dedup finds most of what brute force
    finds, and NOTHING brute force doesn't (verification is exact)."""
    from ubw_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.45, method="brute"
        ).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.45, method="lsh", bits=4, tables=8
        ).collect()
    }
    assert approx <= exact  # no false positives, ever
    assert exact  # fixture sanity: threshold must catch something
    assert len(approx) / len(exact) >= 0.5


def test_grouped_robust_stats_matches_numpy(spark):
    import numpy as np

    from ubw_spark.operators.stats import grouped_robust_stats

    rows = [("a", float(x)) for x in [1, 2, 4, 8, 100]] + [
        ("b", float(x)) for x in [10, 10, 10, 10]
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {r["k"]: r for r in grouped_robust_stats(df, ["k"], "v").collect()}
    a = np.array([1, 2, 4, 8, 100.0])
    med = np.median(a)
    mad = np.median(np.abs(a - med))
    assert got["a"]["n"] == 5
    assert got["a"]["med"] == med
    assert got["a"]["mad"] == mad
    assert got["a"]["n_outliers"] == int((np.abs(a - med) > 3 * mad).sum())
    # degenerate group: mad 0, every deviation 0 -> no outliers
    assert got["b"]["mad"] == 0.0 and got["b"]["n_outliers"] == 0


def test_resize_images_contract(spark):
    from ubw_spark.operators.multimodal import resize_images

    df = spark.createDataFrame(
        [(1, bytearray(b"imgbytes-a")), (2, bytearray(b"imgbytes-b")), (3, None)],
        "id bigint, payload binary",
    )
    out = resize_images(df, "id", "payload", width=8, height=4).collect()
    assert len(out) == 3
    for r in out:
        assert r["width"] == 8 and r["height"] == 4
        assert r["n_bytes"] == 8 * 4 * 3 and len(r["payload"]) == 8 * 4 * 3
    # deterministic: same payload -> same resized bytes
    again = resize_images(df, "id", "payload", width=8, height=4).collect()
    assert {r["id"]: bytes(r["payload"]) for r in out} == {
        r["id"]: bytes(r["payload"]) for r in again
    }


def test_sample_frames_fanout(spark):
    from ubw_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, bytearray(b"video-a")), (2, bytearray(b"video-b"))],
        "id bigint, payload binary",
    )
    out = sample_frames(df, "id", "payload", n_frames=4, frame_interval_ms=500)
    rows = out.collect()
    assert len(rows) == 8  # 2 videos x 4 frames
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append((r["frame_idx"], r["ts_ms"]))
    for vid, frames in by_id.items():
        assert sorted(frames) == [(0, 0), (1, 500), (2, 1000), (3, 1500)]
    # frames differ per index but are deterministic
    import hashlib

    want = hashlib.sha256(b"video-a#2").digest()
    got = [bytes(r["frame"]) for r in rows if r["id"] == 1 and r["frame_idx"] == 2]
    assert got == [want]


def test_approx_sketches_accuracy(spark, sf_dir):
    """HLL distinct counts within 5% of exact; approx_percentile within
    2% of the exact percentile — the contract that justifies swapping
    them in at scale."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = (
        li.agg(
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("a"),
            F.countDistinct("l_orderkey").alias("e"),
            F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("ap"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("ep"),
        )
        .collect()[0]
    )
    assert abs(row["a"] - row["e"]) / row["e"] < 0.05
    assert abs(row["ap"] - row["ep"]) / row["ep"] < 0.02


def test_contamination_detects_planted_eval_leak(spark, sf_dir):
    """An eval doc copied (near-verbatim) from the training corpus must
    surface as a contamination pair; unrelated docs must not."""
    from ubw_spark.operators.dedup import minhash_contamination_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    corpus = docs.select("doc_id", "text")
    leak = docs.where(F.col("doc_id") == 3).select(
        F.lit(900001).cast("bigint").alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 6)").alias("text"),
    )
    clean = spark.createDataFrame(
        [(900002, "an entirely novel benchmark question about quantum chromodynamics")],
        "doc_id bigint, text string",
    )
    probe = leak.unionByName(clean)
    pairs = minhash_contamination_pairs(
        corpus, probe, "doc_id", "text", threshold=0.6
    )
    got = {(r["corpus_id"], r["probe_id"]) for r in pairs.collect()}
    assert (3, 900001) in got
    assert not any(p == 900002 for _c, p in got)


def test_quota_cap_keeps_best_and_caps(spark):
    """Cap=2 keeps exactly the 2 highest-priority rows per group; the
    hash tiebreak makes equal-priority survivors deterministic."""
    from ubw_spark.operators.curation import quota_cap

    rows = [(i, "g%d" % (i % 3), float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "id bigint, grp string, score double")
    kept = quota_cap(df, "grp", "id", cap=2, priority=[F.col("score").desc()])
    out = {(r["grp"], r["id"]) for r in kept.collect()}
    # per group of 10 members, the two largest scores survive
    assert out == {("g0", 27), ("g0", 24), ("g1", 28), ("g1", 25),
                   ("g2", 29), ("g2", 26)}
    # determinism: second run identical
    assert out == {(r["grp"], r["id"]) for r in kept.collect()}


def test_token_budget_mix_respects_allocations(spark):
    """A source under its allocation is kept whole; an over-budget
    source is sampled down close to its token allocation; weight-0
    sources are dropped."""
    from ubw_spark.operators.curation import token_budget_mix

    rows = [(i, "small" if i < 5 else ("big" if i < 505 else "zero"), 10)
            for i in range(600)]
    df = spark.createDataFrame(rows, "id bigint, src string, ntok int")
    kept = token_budget_mix(
        df, "src", F.col("ntok"), "id",
        weights={"small": 1.0, "big": 1.0}, budget=1100,
    )
    agg = {r["src"]: (r["n"], r["toks"]) for r in
           kept.groupBy("src").agg(F.count(F.lit(1)).alias("n"),
                                   F.sum("ntok").alias("toks")).collect()}
    assert agg["small"] == (5, 50)          # allocation 550 > 50 → whole
    assert "zero" not in agg                # weight 0 → dropped
    n_big, toks_big = agg["big"]
    # allocation 550 of 5000 tokens → ~11% of 500 docs; hash sampling is
    # in expectation, allow a generous band
    assert 300 <= toks_big <= 800, (n_big, toks_big)


def test_canonical_keep_prefers_quality_over_min_id(spark):
    """The best-scoring member of each cluster survives (not the min
    id); unclustered rows pass through untouched."""
    from ubw_spark.operators.components import dedup_canonical_keep

    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 7.0), (10, 1.0), (99, 0.0)],
        "id bigint, score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a bigint, id_b bigint"
    )
    kept = dedup_canonical_keep(
        docs, pairs, "id", priority=[F.col("score").desc()]
    )
    assert {r["id"] for r in kept.collect()} == {2, 10, 99}


def test_canonical_keep_null_ids_pass_through(spark):
    """code-review r11: NULL-id rows cannot appear in the pair graph,
    so ALL of them must survive — before the fix they coalesced into
    one window partition (partitionBy groups NULL keys together) and
    all but one were silently deleted."""
    from ubw_spark.operators.components import dedup_canonical_keep

    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (None, 1.0), (None, 2.0), (None, 3.0)],
        "id bigint, score double",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    kept = dedup_canonical_keep(
        docs, pairs, "id", priority=[F.col("score").desc()]
    ).collect()
    assert sorted(r["score"] for r in kept if r["id"] is None) == [
        1.0, 2.0, 3.0,
    ]
    assert {r["id"] for r in kept if r["id"] is not None} == {2}


def test_connected_components_nonconvergence_raises(spark):
    """code-review r11: exhausting max_iter with labels still moving
    must raise — the partial labels are min-of-k-hop neighborhoods, not
    components, and canonical-keep downstream would let duplicates
    survive silently."""
    import pytest

    from ubw_spark.operators.components import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(chain, max_iter=2)
    # and a max_iter that fits the diameter converges to one component
    comp = {
        r["node"]: r["component"]
        for r in connected_components(chain, max_iter=10).collect()
    }
    assert set(comp.values()) == {0}


def test_int8_quantize_roundtrip_error_bound(spark, sf_dir):
    """Dequantized values reconstruct within scale/2 per dimension;
    constant vectors reconstruct exactly (scale 0 path)."""
    from ubw_spark.operators.quantize import dequantize_int8, quantize_int8

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(100)
    )
    const = spark.createDataFrame(
        [(90001, [0.5] * 8)], "vec_id bigint, embedding array<float>"
    )
    q = dequantize_int8(quantize_int8(emb.unionByName(const)))
    err = q.select(
        "vec_id", "q_scale",
        F.aggregate(
            F.zip_with(
                F.transform("embedding", lambda x: x.cast("double")),
                "dequant",
                lambda a, b: F.abs(a - b),
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("max_err"),
    )
    rows = err.collect()
    assert all(r["max_err"] <= r["q_scale"] / 2 + 1e-12 for r in rows)
    const_row = [r for r in rows if r["vec_id"] == 90001][0]
    assert const_row["max_err"] == 0.0


def test_quantized_prerank_recall_vs_exact(spark, sf_dir):
    """Top-5 by quantized cosine must recover most of the exact top-5:
    int8 error (scale/2 per dim) barely moves cosines, so recall@5
    should be high — the property that makes the 4x-cheaper pre-rank
    scan usable."""
    from ubw_spark.operators.quantize import dequantize_int8, quantize_int8
    from ubw_spark.operators.similarity import cosine_col
    from pyspark.sql import Window

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
    )

    def topk(df, vcol):
        qs = df.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), F.col(vcol).alias("qv")
        )
        scored = df.join(
            F.broadcast(qs), F.col("vec_id") != F.col("qid")
        ).select(
            "qid", "vec_id",
            cosine_col(F.col("qv"), F.col(vcol)).alias("c"),
        )
        w = Window.partitionBy("qid").orderBy(F.col("c").desc(), "vec_id")
        return (
            scored.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= 5)
        )

    exact = {(r["qid"], r["vec_id"]) for r in topk(emb, "embedding").collect()}
    dq = dequantize_int8(quantize_int8(emb)).select("vec_id", "dequant")
    approx = {(r["qid"], r["vec_id"]) for r in topk(dq, "dequant").collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_label_centroids_match_float_mean(spark, sf_dir):
    """The dequantized integer-sum centroid reconstructs the float
    centroid within the quantization step per dimension."""
    from ubw_spark.queries import REGISTRY

    got = REGISTRY["embedding_label_centroids"].fn(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = F.transform("embedding", lambda x: x.cast("double"))
    b = emb.select(v.alias("v")).agg(
        F.min(F.array_min("v")).alias("mn"), F.max(F.array_max("v")).alias("mx")
    ).collect()[0]
    scale = (b["mx"] - b["mn"]) / 254.0
    ref = {
        (r["label"], r["dim"]): r["m"]
        for r in emb.select("label", F.posexplode(v).alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.avg("x").alias("m"))
        .collect()
    }
    for r in got:
        dequant = (r["qsum"] / r["n"]) * scale + b["mn"]
        assert abs(dequant - ref[(r["label"], r["dim"])]) <= scale / 2 + 1e-12


def test_audio_features_real_wav_roundtrip(spark):
    """extract_audio_features parses REAL stdlib-written WAV bytes:
    stereo 16-bit, 8-bit unsigned, and corrupt payloads."""
    import io
    import wave

    import numpy as np

    from ubw_spark.operators.multimodal import extract_audio_features

    def wav_bytes(nch, sw, sr, samples) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(sw)
            w.setframerate(sr)
            w.writeframes(samples.tobytes())
        return buf.getvalue()

    stereo = wav_bytes(
        2, 2, 44100, np.array([1000, -2000, 3000, -4000], dtype=np.int16)
    )
    eightbit = wav_bytes(1, 1, 8000, np.array([128, 228, 28], dtype=np.uint8))
    rows = [
        (1, bytearray(stereo)),
        (2, bytearray(eightbit)),
        (3, bytearray(b"not audio")),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id bigint, payload binary")
    out = {r["id"]: r for r in extract_audio_features(df, "id", "payload").collect()}

    s = out[1]
    assert (s["n_channels"], s["sample_rate"], s["n_samples"]) == (2, 44100, 2)
    assert s["peak"] == 4000
    want_rms = float(np.sqrt(np.mean(np.array([1000, -2000, 3000, -4000.0]) ** 2)))
    assert abs(s["rms"] - want_rms) < 1e-9

    e = out[2]
    assert (e["n_channels"], e["n_samples"], e["peak"]) == (1, 3, 100)

    assert out[3]["n_channels"] is None and out[4]["n_channels"] is None


def test_synthesize_wav_closed_form(spark):
    """synthesize_wav's clips decode to exactly the closed-form spec the
    SQL oracle predicts (peak == rms == 100 + id%900)."""
    from ubw_spark.operators.multimodal import (
        extract_audio_features,
        synthesize_wav,
    )

    df = spark.createDataFrame([(0,), (7,), (1234,)], "doc_id bigint")
    feats = {
        r["id"]: r
        for r in extract_audio_features(
            synthesize_wav(df, "doc_id"), "id", "payload"
        ).collect()
    }
    for i in (0, 7, 1234):
        amp, n = 100 + i % 900, 400 + i % 100
        r = feats[i]
        assert (r["n_channels"], r["sample_rate"], r["n_samples"]) == (1, 8000, n)
        assert r["duration_ms"] == n * 1000 // 8000
        assert r["peak"] == amp and r["rms"] == float(amp)


def test_minhash_index_write_probe_roundtrip(spark, sf_dir, tmp_path):
    """Persisted-index incremental dedup: a probe batch containing a
    near-copy of an indexed doc must surface the pair — with the full
    band sweep AND with the probe_bands=8 partition-pruned sweep (a
    ~0.95-Jaccard pair collides in essentially every band)."""
    from ubw_spark.operators.lsh_index import (
        probe_minhash_index,
        write_minhash_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    path = str(tmp_path / "idx")
    write_minhash_index(docs, "doc_id", "text", path)

    near = docs.where(F.col("doc_id") == 0).select(
        F.lit(100000).cast("bigint").alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 6)").alias("text"),
    )
    unrelated = spark.createDataFrame(
        [(100001, "totally unrelated words about nothing in particular")],
        "doc_id bigint, text string",
    )
    batch = near.unionByName(unrelated)

    for pb in (None, 8):
        pairs = probe_minhash_index(
            spark, path, batch, "doc_id", "text",
            probe_bands=pb, threshold=0.6,
        )
        found = {(r["corpus_id"], r["probe_id"]) for r in pairs.collect()}
        assert (0, 100000) in found, f"probe_bands={pb}"
        assert all(p != 100001 for _, p in found), f"probe_bands={pb}"


def test_minhash_index_probe_prunes_band_partitions(spark, sf_dir, tmp_path):
    """probe_bands must become a STATIC partition filter on the index
    scan — the knob only saves IO if it prunes at planning time."""
    from ubw_spark.operators.lsh_index import (
        probe_minhash_index,
        write_minhash_index,
    )
    from ubw_spark.plans.inspect import formatted_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    path = str(tmp_path / "idx")
    write_minhash_index(docs, "doc_id", "text", path)
    out = probe_minhash_index(
        spark, path, docs.limit(5), "doc_id", "text", probe_bands=8
    )
    plan = formatted_plan(out)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*band[^\]]*)\]", plan)
    assert m and "8" in m.group(1), f"no band partition filter:\n{plan[:2000]}"


def test_pq_encode_properties(spark, sf_dir):
    """Codes are length-m ints in [0, ksub); a SEED vector's subvectors
    are at distance 0 from their own centroid, so each seed encodes to
    its own centroid id in every subspace."""
    from ubw_spark.operators.pq import pq_encode, seed_pq_codebooks

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = seed_pq_codebooks(emb, m=8, ksub=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)

    seed_ids = [
        r["vec_id"]
        for r in emb.select(
            "vec_id", F.md5(F.col("vec_id").cast("string")).alias("h")
        ).orderBy("h", "vec_id").limit(16).collect()
    ]
    codes = {
        r["vec_id"]: r["pq_code"] for r in pq_encode(emb, books).collect()
    }
    for code in codes.values():
        assert len(code) == 8
        assert all(0 <= c < 16 for c in code)
    for ci, sid in enumerate(seed_ids):
        assert codes[sid] == [ci] * 8, f"seed {sid} should self-encode"


def test_pq_adc_recall_vs_brute_force(spark, sf_dir):
    """Trained (per-subspace KMeans) codebooks must beat or match the
    seeded ones and carry real ranking signal vs exact brute force.
    Measured recall@5, trained m=8/ksub=16: 0.34 at sf0.01, 0.18 at
    sf0.001 (near-uniform synthetic vectors cluster poorly at tiny
    scale — PQ distortion is high by construction there); thresholds
    sit under the measured floor with margin.  Everything here is
    deterministic (fixed seeds), so this is a regression pin, not a
    statistical test."""
    from ubw_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        seed_pq_codebooks,
        train_pq_codebooks,
    )
    from ubw_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.where(F.col("vec_id") < 10)
    queries = [(r["vec_id"], r["embedding"]) for r in queries_df.collect()]
    e = {(r["qid"], r["vec_id"])
         for r in brute_force_topk(emb, queries_df, k=5).collect()}

    def recall(books):
        codes = pq_encode(emb, books).select("vec_id", "pq_code")
        a = {(r["qid"], r["vec_id"])
             for r in pq_adc_topk(codes, queries, books, k=5).collect()}
        return len(a & e) / len(e)

    trained = recall(train_pq_codebooks(emb, m=8, ksub=16))
    assert trained >= 0.15, f"trained PQ recall too low: {trained}"
    seeded = recall(seed_pq_codebooks(emb, m=8, ksub=16))
    assert trained >= seeded, (trained, seeded)


def test_expectations_semantics(spark):
    from ubw_spark.operators.expectations import validate_expectations

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 50.0), (2, None, None), (None, "zz", -1.0)],
        "k bigint, s string, v double",
    )
    rep = {
        (r["check"], r["column"]): r
        for r in validate_expectations(df, [
            {"kind": "not_null", "column": "k"},
            {"kind": "unique", "column": "k"},
            {"kind": "in_range", "column": "v", "lo": 0.0, "hi": 10.0},
            {"kind": "matches", "column": "s", "pattern": "^[ab]$"},
            {"kind": "accepted_values", "column": "s", "values": ["a", "b"]},
            {"kind": "min_rows", "n": 10},
        ]).collect()
    }
    assert rep[("not_null", "k")]["violations"] == 1
    assert rep[("unique", "k")]["violations"] == 1  # two k=2 rows
    # NULL v skipped; 50.0 and -1.0 out of range
    assert rep[("in_range", "v")]["violations"] == 2
    assert rep[("matches", "s")]["violations"] == 1  # "zz"; NULL skipped
    assert rep[("accepted_values", "s")]["violations"] == 1
    assert rep[("min_rows", "*")]["violations"] == 6  # 10 - 4 rows
    assert all(r["total"] == 4 for r in rep.values())
    assert not rep[("unique", "k")]["passed"]


def test_expectations_validation_accumulates(spark):
    from ubw_spark.core.errors import SpecValidationError
    from ubw_spark.operators.expectations import validate_expectations

    df = spark.createDataFrame([(1,)], "k bigint")
    with pytest.raises(SpecValidationError) as ei:
        validate_expectations(df, [
            {"kind": "drop_table", "column": "k"},     # unknown kind
            {"kind": "not_null", "column": "nope"},    # unknown column
            {"kind": "in_range", "column": "k"},       # missing bounds
            {"kind": "matches", "column": "k"},        # missing pattern
            {"kind": "min_rows", "n": -1},             # bad n
        ])
    msg = str(ei.value)
    for frag in ("drop_table", "nope", "lo", "pattern", "min_rows"):
        assert frag in msg, frag


def test_expectations_single_scan_plan(spark, sf_dir):
    """The whole report must read the table ONCE — one scan node, no
    join of per-check subqueries (the N-scans-for-N-checks shape this
    operator exists to avoid)."""
    import re

    from ubw_spark.operators.expectations import validate_expectations
    from ubw_spark.plans.inspect import simple_plan

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rep = validate_expectations(o, [
        {"kind": "not_null", "column": "o_orderkey"},
        {"kind": "in_range", "column": "o_totalprice", "lo": 0.0, "hi": 1e9},
        {"kind": "matches", "column": "o_orderpriority", "pattern": "-"},
        {"kind": "min_rows", "n": 1},
    ])
    plan = simple_plan(rep)
    assert len(re.findall(r"Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_ivfpq_respects_probe_bound_and_adc_scores(spark, sf_dir):
    """Every IVF-PQ result must come from the query's probed cells, and
    its ADC score must equal the unrestricted PQ ADC score for the same
    pair (IVF bounds WHICH rows are scored, never HOW)."""
    from ubw_spark.operators.ivf import assign_ivf_cells
    from ubw_spark.operators.pq import (
        ivf_pq_topk,
        pq_adc_topk,
        pq_encode,
        seed_pq_codebooks,
    )
    from ubw_spark.operators.ivf import seed_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cells = seed_ivf_centroids(emb, k=8)
    books = seed_pq_codebooks(emb, m=8, ksub=16)
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id") < 3).collect()
    ]
    got = ivf_pq_topk(emb, queries, cells, books, k=5, nprobe=4).collect()
    assert {r["qid"] for r in got} == {0, 1, 2}

    cell_of = {
        r["vec_id"]: r["ivf_cell"]
        for r in assign_ivf_cells(emb, cells).select("vec_id", "ivf_cell").collect()
    }

    def probe(qv):
        d = [
            (sum((x - c) * (x - c) for x, c in zip(qv, cent)), ci)
            for ci, cent in enumerate(cells)
        ]
        return {ci for _, ci in sorted(d)[:4]}

    probes = {qid: probe([float(x) for x in v]) for qid, v in queries}
    for r in got:
        assert r["vec_id"] != r["qid"]
        assert cell_of[r["vec_id"]] in probes[r["qid"]], r

    codes = pq_encode(emb, books).select("vec_id", "pq_code")
    full = {
        (r["qid"], r["vec_id"]): r["approx_ip"]
        for r in pq_adc_topk(codes, queries, books, k=10**6).collect()
    }
    for r in got:
        assert full[(r["qid"], r["vec_id"])] == r["approx_ip"], r


def test_ivfpq_index_write_probe_matches_inmemory(spark, sf_dir, tmp_path):
    """The written IVFPQ store must return the same top-k as the
    in-memory composition, and its scan must carry a PartitionFilter on
    ivf_cell (the probe-reads-nprobe/k-of-the-data claim, mechanical)."""
    import re

    from ubw_spark.operators.pq import (
        ivf_pq_topk,
        probe_ivfpq_index,
        seed_pq_codebooks,
        write_ivfpq_index,
    )
    from ubw_spark.plans.inspect import formatted_plan
    from ubw_spark.operators.ivf import seed_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cells = seed_ivf_centroids(emb, k=8)
    books = seed_pq_codebooks(emb, m=8, ksub=16)
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id") < 3).collect()
    ]
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, cells, books, path)
    from_store = probe_ivfpq_index(
        spark, path, queries, cells, books, k=5, nprobe=4
    )
    in_memory = ivf_pq_topk(emb, queries, cells, books, k=5, nprobe=4)
    a = sorted(map(tuple, from_store.collect()))
    b = sorted(map(tuple, in_memory.collect()))
    assert a == b

    plan = formatted_plan(from_store)
    m = re.search(r"PartitionFilters: \[([^\]]*ivf_cell[^\]]*)\]", plan)
    assert m, f"no ivf_cell partition filter:\n{plan[:1500]}"


def test_minhash_index_compaction_removes_dropped_ids(spark, sf_dir, tmp_path):
    """write -> probe (match) -> compact away the matched corpus doc ->
    probe again (no match): the full index lifecycle."""
    from ubw_spark.operators.lsh_index import (
        compact_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    path = str(tmp_path / "idx")
    write_minhash_index(docs, "doc_id", "text", path)
    near = docs.where(F.col("doc_id") == 0).select(
        F.lit(100000).cast("bigint").alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 6)").alias("text"),
    )
    before = probe_minhash_index(
        spark, path, near, "doc_id", "text", threshold=0.6
    ).collect()
    assert any(r["corpus_id"] == 0 for r in before)

    compact_minhash_index(
        spark, path, spark.createDataFrame([(0,)], "corpus_id bigint")
    )
    after = probe_minhash_index(
        spark, path, near, "doc_id", "text", threshold=0.6
    ).collect()
    assert not any(r["corpus_id"] == 0 for r in after)
    # unrelated entries survive the rewrite (read via the manifest)
    from ubw_spark.operators.versioned import resolve_root

    assert spark.read.parquet(f"{resolve_root(path)}/docs").count() == 39


def test_minhash_index_shuffled_compaction_and_versioned_swap(
    spark, sf_dir, tmp_path
):
    """The corpus-fraction-drop posture: ``broadcast_drops=False`` plans
    shuffled anti-joins (no broadcast anywhere), and compaction swaps
    via the ``_CURRENT`` manifest — write-new, flip pointer, grace-keep
    the previous version, GC the one before that."""
    import os

    from ubw_spark.operators.lsh_index import (
        compact_minhash_index,
        compacted_index_frames,
        current_version,
        probe_minhash_index,
        write_minhash_index,
    )
    from ubw_spark.plans import broadcast_join_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    path = str(tmp_path / "idx")
    write_minhash_index(docs, "doc_id", "text", path)
    assert current_version(path) == 0

    drops = spark.createDataFrame([(0,), (1,)], "corpus_id bigint")
    # Plan shape: with autoBroadcast disabled, the only way a broadcast
    # appears is a hint in the operator — exactly the 100 TB bug.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b_sh, d_sh, s_sh = compacted_index_frames(
            spark, path, drops, broadcast_drops=False
        )
        assert broadcast_join_count(b_sh) == 0
        assert broadcast_join_count(d_sh) == 0
        assert broadcast_join_count(s_sh) == 0
        b_bc, d_bc, s_bc = compacted_index_frames(
            spark, path, drops, broadcast_drops=True
        )
        assert broadcast_join_count(b_bc) >= 1  # positive control
        assert broadcast_join_count(d_bc) >= 1
        assert broadcast_join_count(s_bc) >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)

    # A reader that resolved the manifest BEFORE the compaction flip:
    from ubw_spark.operators.versioned import resolve_root

    pre_flip_root = resolve_root(path)
    compact_minhash_index(spark, path, drops, broadcast_drops=False)
    assert current_version(path) == 1
    # ...still scans a complete grace-copy index after the flip,
    assert spark.read.parquet(f"{pre_flip_root}/docs").count() == 40
    # while new readers resolve the compacted version.
    assert spark.read.parquet(f"{resolve_root(path)}/docs").count() == 38
    near = docs.where(F.col("doc_id") == 0).select(
        F.lit(100000).cast("bigint").alias("doc_id"), "text"
    )
    hits = probe_minhash_index(
        spark, path, near, "doc_id", "text", threshold=0.6
    ).collect()
    assert not any(r["corpus_id"] in (0, 1) for r in hits)

    # Second compaction: v0 has had its grace cycle and is GC'd; v1
    # becomes the grace copy.
    compact_minhash_index(
        spark, path, spark.createDataFrame([(2,)], "corpus_id bigint")
    )
    assert current_version(path) == 2
    versions = sorted(d for d in os.listdir(path) if d.startswith("v"))
    assert versions == ["v00001", "v00002"]


def test_weighted_sample_per_group_exact_k_and_deterministic(spark):
    """Determinism is pinned against a PYTHON reference computation of
    the exact A-ES ranking (same md5 hash, same u, same key) — not by
    collecting the same Spark plan twice, which could never fail."""
    import hashlib
    import math

    from ubw_spark.operators.splits import weighted_sample_per_group

    rows = [(g, g * 100 + i, float(1 + i % 7)) for g in range(3) for i in range(40)]

    def expected(k=6):
        out = []
        for g in range(3):
            grp = [(gg, i, w) for gg, i, w in rows if gg == g]
            keyed = []
            for _, i, w in grp:
                b = int(
                    hashlib.md5(f"wsample:{i}".encode()).hexdigest()[:8], 16
                ) % 10_000
                u = (b + 1) / 10_001.0
                keyed.append((round(math.pow(u, 1.0 / w), 12), -i, i))
            keyed.sort(reverse=True)
            out += [(g, i) for _, _, i in keyed[:k]]
        return sorted(out)

    df = spark.createDataFrame(rows, ["grp", "id", "w"])
    got = sorted(
        (r.grp, r.id)
        for r in weighted_sample_per_group(df, "grp", "id", "w", k=6).collect()
    )
    assert got == expected()


def test_weighted_sample_top_bucket_does_not_hijack(spark):
    """Regression: u must lie in (0,1) EXCLUSIVE.  With u = 1.0 for the
    top hash bucket (the old /BUCKETS math), key = pow(1, 1/w) = 1
    outranks every row regardless of weight — id 11444 hashes to
    bucket 9999 and would always win.  A heavy-weight row must beat it."""
    from ubw_spark.operators.splits import weighted_sample_per_group

    rows = [("g", 11444, 0.001), ("g", 1, 1_000_000.0), ("g", 2, 0.001)]
    df = spark.createDataFrame(rows, ["grp", "id", "w"])
    got = weighted_sample_per_group(df, "grp", "id", "w", k=1).collect()
    assert got[0].id == 1, "weight must dominate the top hash bucket"


def test_weighted_sample_prefers_heavy_weights(spark):
    """E-S property: with one weight-1000 doc among 50 weight-1 docs,
    P(heavy selected at k=1) = 1000/1050 ~ 0.95 -> across 20 salts the
    heavy doc must win a clear majority."""
    from ubw_spark.operators.splits import weighted_sample_per_group

    rows = [("g", 0, 1000.0)] + [("g", i, 1.0) for i in range(1, 51)]
    df = spark.createDataFrame(rows, ["grp", "id", "w"])
    wins = 0
    for s in range(20):
        got = weighted_sample_per_group(
            df, "grp", "id", "w", k=1, salt=f"s{s}"
        ).collect()
        wins += got[0].id == 0
    assert wins >= 14, f"heavy doc won only {wins}/20"


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from ubw_spark.operators.splits import weighted_sample_per_group

    rows = [("g", 1, 0.0), ("g", 2, -3.0), ("g", 3, 2.0)]
    df = spark.createDataFrame(rows, ["grp", "id", "w"])
    got = [r.id for r in weighted_sample_per_group(
        df, "grp", "id", "w", k=5
    ).collect()]
    assert got == [3]


def test_quantile_gate_drops_expected_fraction(spark):
    from ubw_spark.operators.curation import quantile_gate

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], ["id", "score"]
    )
    kept = quantile_gate(df, "score", 0.2, keep="above")
    ids = sorted(r.id for r in kept.collect())
    # threshold = exact 0.2-quantile of 0..99 -> keeps ids >= ~19.8
    assert len(ids) == 80 and min(ids) == 20

    low = quantile_gate(df, "score", 0.2, keep="below")
    lids = sorted(r.id for r in low.collect())
    assert max(lids) <= 20 and len(lids) >= 20

    with pytest.raises(ValueError, match="above"):
        quantile_gate(df, "score", 0.2, keep="sideways")


def test_semantic_dedup_planted_clusters(spark):
    """SemDeDup on planted geometry: two tight clusters around known
    centroids; the near-identical pair in each cluster drops its higher
    id, singletons keep, and max_cell=1 disables comparisons (overflow
    rows are auto-kept, never silently dropped)."""
    from ubw_spark.operators.semdedup import (
        semantic_dedup_report,
        semantic_dup_pairs,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),    # cell 0
        (2, [0.99, 0.01, 0.0, 0.0]),  # cell 0, ~dup of 1 -> dropped
        (3, [0.0, 1.0, 0.0, 0.0]),    # cell 1
        (4, [0.01, 0.99, 0.0, 0.0]),  # cell 1, ~dup of 3 -> dropped
        (5, [0.6, 0.6, 0.2, 0.5]),    # nearer cell 0, no near-dup
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]

    pairs = semantic_dup_pairs(
        df, "vec_id", "embedding", cents, threshold=0.95
    ).collect()
    assert sorted((r.id_a, r.id_b) for r in pairs) == [(1, 2), (3, 4)]
    assert all(r.cos_sim >= 0.95 for r in pairs)

    rep = {
        r.vec_id: (r.cell, r.keep)
        for r in semantic_dedup_report(
            df, "vec_id", "embedding", cents, threshold=0.95
        ).collect()
    }
    assert len(rep) == 5  # every input row reported
    assert rep[1] == (0, 1) and rep[2] == (0, 0)
    assert rep[3] == (1, 1) and rep[4] == (1, 0)
    assert rep[5][1] == 1

    capped = semantic_dedup_report(
        df, "vec_id", "embedding", cents, threshold=0.95, max_cell=1
    ).collect()
    assert all(r.keep == 1 for r in capped)

    # checkpoint="local" truncates lineage after ONE assignment pass
    # (the cells frame feeds three branches) — results identical
    ckpt = {
        r.vec_id: (r.cell, r.keep)
        for r in semantic_dedup_report(
            df, "vec_id", "embedding", cents,
            threshold=0.95, checkpoint="local",
        ).collect()
    }
    assert ckpt == rep


def test_semdedup_assign_paths_agree(spark, sf_dir):
    """assign_ivf_cells dispatches on k: literal-fold expression below
    _VECTORIZED_ASSIGN_MIN_K, vectorized Arrow argmin at paper-scale k.  The
    two kernels must produce IDENTICAL assignments on real embeddings
    (same sequential-vs-BLAS float64 distances up to ~1e-13 drift, same
    lowest-cid tie-break) — the dispatch is a performance knob, never a
    results knob."""
    from ubw_spark.operators.ivf import _nearest_cells, assign_vectorized
    from ubw_spark.operators.ivf import seed_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = seed_ivf_centroids(emb, k=24)  # above the dispatch line
    lit = {
        r["vec_id"]: r["cell"]
        for r in emb.select(
            "vec_id",
            _nearest_cells(F.col("embedding"), cents, 1)[0].alias("cell"),
        ).collect()
    }
    vec = {
        r["vec_id"]: r["cell"]
        for r in assign_vectorized(
            emb.select("vec_id", "embedding"), cents, "embedding", "cell"
        ).collect()
    }
    assert lit == vec
    assert len(set(vec.values())) > 1  # sanity: not all one cell


@pytest.mark.parametrize("entry", ["assign_k4", "assign_k20", "pq_encode"])
def test_assign_vectorized_rejects_corrupt_vectors(spark, entry):
    """NULL or ragged vectors are a CONTRACT error with a diagnosis
    naming the column, whichever kernel the entry dispatches to: the
    literal fold below the k threshold and PQ encoding used to file
    them silently under cell / code 0, the Arrow argmin above it to
    fail with an opaque numpy shape error."""
    from ubw_spark.operators.ivf import assign_ivf_cells
    from ubw_spark.operators.pq import pq_encode

    if entry == "pq_encode":
        books = [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 0.0], [0.0, 1.0]]]

        def kernel(df):
            return pq_encode(df, books)

        out_col, expect = "pq_code", [0, 1]
    else:
        n_cells = 4 if entry == "assign_k4" else 20
        cents = [[float(i == j) for j in range(4)] for i in range(n_cells)]

        def kernel(df):
            return assign_ivf_cells(df, cents)

        out_col, expect = "ivf_cell", 0  # e0 and e3 tie: lowest cid
    ok = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    assert kernel(ok).collect()[0][out_col] == expect
    bad = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, None)],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(Exception, match="NULL or non-4-dim value in 'embedding'"):
        kernel(bad).collect()
    ragged = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(Exception, match="4-dim"):
        kernel(ragged).collect()
    if entry == "pq_encode":
        return
    # the driver-side probe-cell pick refuses the same vectors as queries
    from ubw_spark.operators.ivf import ivf_ann_topk

    for queries in (bad, ragged):
        with pytest.raises(ValueError, match="non-4-dim query vector"):
            ivf_ann_topk(ok, queries, cents, k=1, nprobe=1)
    # pre-existing out_col is replaced, not duplicated (withColumn parity)
    pre = ok.withColumn("ivf_cell", F.lit(99))
    assert kernel(pre).collect()[0]["ivf_cell"] == 0
    # ... IN PLACE: withColumn keeps the replaced column's position, so
    # both dispatch paths must emit the same column ORDER too — the
    # vectorized path used to drop-then-append, and positional consumers
    # (createDataFrame from rows, parquet append) would diverge on k
    pre2 = ok.select(
        "vec_id", F.lit(99).alias("ivf_cell"), F.col("embedding")
    )
    out = kernel(pre2)
    assert out.columns == ["vec_id", "ivf_cell", "embedding"]
    assert out.collect()[0]["ivf_cell"] == 0


def test_ivf_trained_recall_operating_point(spark, sf_dir):
    """Regression pin on the TRAINED-centroid operating point (VERDICT
    r9 #6): KMeans k=24 / nprobe=4 / recall@10 — the configuration
    class recorded at sf1 in COVERAGE.md (k=64, nprobe=4 → recall
    0.952 reading 6.2% of the corpus; tools/ann_recall.py regenerates).
    At this fixture's 500 vectors the same shape measures 0.665; the
    0.6 floor catches kernel regressions (wrong distance, broken
    tie-break, dropped cells) without flapping on KMeans seed noise.
    k=24 also forces the VECTORIZED assignment path through the full
    IVF probe flow."""
    from ubw_spark.operators.ivf import ivf_ann_topk, train_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_ivf_centroids(emb, k=24, seed=42)
    q = emb.where(F.col("vec_id") < 20)
    e = {
        (r["qid"], r["vec_id"])
        for r in brute_force_topk(emb, q, k=10).collect()
    }
    a = {
        (r["qid"], r["vec_id"])
        for r in ivf_ann_topk(emb, q, cents, k=10, nprobe=4).collect()
    }
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"trained-centroid recall regressed: {recall}"


def test_dsir_weights_favor_target_style(spark):
    """Planted distribution shift: the pool mixes two disjoint bigram
    styles; with style-A as target, every style-A doc outweighs every
    style-B doc, the featureless doc gets the neutral weight, and
    Gumbel top-k selects predominantly style-A."""
    from ubw_spark.operators.dsir import dsir_log_weights, dsir_select

    a = [(i, "alpha beta gamma delta alpha beta") for i in range(10)]
    b = [(i, "omega psi chi phi omega psi") for i in range(10, 20)]
    short = [(99, "solo")]  # < 2 tokens -> no bigram features
    pool = spark.createDataFrame(a + b + short, "doc_id bigint, text string")
    target = spark.createDataFrame(a[:5], "doc_id bigint, text string")

    w = {
        r.doc_id: (r.n_feats, r.log_weight)
        for r in dsir_log_weights(
            pool, target, "doc_id", "text", n=2, buckets=256
        ).collect()
    }
    assert len(w) == 21  # every pool row reported
    assert w[99] == (0, 0.0)  # neutral, not NULL
    a_w = [w[i][1] for i in range(10)]
    b_w = [w[i][1] for i in range(10, 20)]
    # relative ordering is the semantic guarantee (absolute sign depends
    # on the smoothing mass, which dominates at toy counts)
    assert min(a_w) > max(b_w) + 1.0

    sel = dsir_select(
        pool, target, "doc_id", "text", 10, n=2, buckets=256
    ).collect()
    assert [r.rank for r in sorted(sel, key=lambda r: r.rank)] == list(
        range(1, 11)
    )
    picked = {r.doc_id for r in sel}
    assert 99 not in picked  # featureless excluded
    # style-A dominates the resample (weights differ by several nats)
    assert len([i for i in picked if i < 10]) >= 8


def test_ivf_index_versioned_lifecycle(spark, sf_dir, tmp_path):
    """write → probe → append → compact for the IVF store under the
    shared versioned-manifest contract: the appended vector becomes
    findable, the compacted one stops surfacing, versions advance, and
    the shuffled-drop path plans no broadcast."""
    import os

    from ubw_spark.operators.ivf import (
        append_ivf_batch,
        compact_ivf_index,
        probe_ivf_index,
        write_ivf_index,
    )
    from ubw_spark.operators.versioned import current_version
    from ubw_spark.operators.ivf import seed_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    cents = seed_ivf_centroids(emb, k=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, cents, path)
    assert current_version(path) == 0

    queries = emb.where(F.col("vec_id") < 3)
    base = probe_ivf_index(spark, path, queries, cents, k=5, nprobe=4)
    assert base.count() > 0

    # append a clone of vec 0 under a fresh id: it must become the
    # top hit for query 0 (cosine 1.0), with no version bump
    clone = emb.where(F.col("vec_id") == 0).select(
        F.lit(900000).cast("bigint").alias("vec_id"), "embedding"
    )
    append_ivf_batch(clone, cents, path)
    assert current_version(path) == 0
    hits = probe_ivf_index(
        spark, path, queries.where(F.col("vec_id") == 0), cents, k=1, nprobe=4
    ).collect()
    assert hits[0]["vec_id"] == 900000 and hits[0]["cos_sim"] == 1.0

    compact_ivf_index(
        spark,
        path,
        spark.createDataFrame([(900000,)], "vec_id bigint"),
        broadcast_drops=False,
    )
    assert current_version(path) == 1
    after = probe_ivf_index(
        spark, path, queries.where(F.col("vec_id") == 0), cents, k=5, nprobe=4
    ).collect()
    assert all(r["vec_id"] != 900000 for r in after)
    # grace copy: v00000 still on disk until the next compaction
    assert sorted(
        d for d in os.listdir(path) if d.startswith("v0")
    ) == ["v00000", "v00001"]


def test_ivf_compaction_shuffled_path_plans_no_broadcast(spark, sf_dir, tmp_path):
    from ubw_spark.operators.ivf import write_ivf_index
    from ubw_spark.operators.versioned import resolve_root
    from ubw_spark.plans import broadcast_join_count
    from ubw_spark.operators.ivf import seed_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    cents = seed_ivf_centroids(emb, k=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, cents, path)
    drops = spark.createDataFrame([(0,)], "vec_id bigint")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        kept_sh = spark.read.parquet(resolve_root(path)).join(
            drops, "vec_id", "left_anti"
        )
        assert broadcast_join_count(kept_sh) == 0
        kept_bc = spark.read.parquet(resolve_root(path)).join(
            F.broadcast(drops), "vec_id", "left_anti"
        )
        assert broadcast_join_count(kept_bc) >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_ivfpq_index_compaction_retires_vectors(spark, sf_dir, tmp_path):
    """Compacting the code store drops the retired vector from every
    probe result and advances the manifest version, leaving the grace
    copy on disk."""
    import os

    from ubw_spark.operators.pq import (
        compact_ivfpq_index,
        probe_ivfpq_index,
        seed_pq_codebooks,
        write_ivfpq_index,
    )
    from ubw_spark.operators.versioned import current_version
    from ubw_spark.operators.ivf import seed_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(120)
    cells = seed_ivf_centroids(emb, k=4)
    books = seed_pq_codebooks(emb, m=8, ksub=16)
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id") < 2).collect()
    ]
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, cells, books, path)
    assert current_version(path) == 0

    before = probe_ivfpq_index(
        spark, path, queries, cells, books, k=5, nprobe=4
    ).collect()
    assert before
    victim = int(before[0]["vec_id"])

    compact_ivfpq_index(
        spark,
        path,
        spark.createDataFrame([(victim,)], "vec_id bigint"),
        broadcast_drops=False,
    )
    assert current_version(path) == 1
    after = probe_ivfpq_index(
        spark, path, queries, cells, books, k=5, nprobe=4
    ).collect()
    assert after and all(r["vec_id"] != victim for r in after)
    assert sorted(
        d for d in os.listdir(path) if d.startswith("v0")
    ) == ["v00000", "v00001"]


def test_versioned_store_stats_reports_metadata_only(spark, sf_dir, tmp_path):
    from ubw_spark.operators.ivf import compact_ivf_index, write_ivf_index
    from ubw_spark.operators.versioned import store_stats
    from ubw_spark.operators.ivf import seed_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(40)
    cents = seed_ivf_centroids(emb, k=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, cents, path)
    s0 = store_stats(path)
    assert s0["current"] == 0
    assert s0["versions"][0]["files"] >= 1 and s0["versions"][0]["bytes"] > 0

    compact_ivf_index(
        spark, path, spark.createDataFrame([(0,)], "vec_id bigint")
    )
    s1 = store_stats(path)
    assert s1["current"] == 1
    assert set(s1["versions"]) == {0, 1}  # grace copy + live


def test_lang_lm_scores_gibberish_worst_within_language(spark, tmp_path, sf_dir):
    """Semantic check beyond the oracle: within one language, a
    gibberish document (every token unique, nothing shared with the
    language's corpus) must score strictly worse than documents made of
    the language's common vocabulary — and a doc of another language is
    scored under ITS OWN model, not penalized by the first's."""
    import shutil as _sh

    from ubw_spark.queries.registry import REGISTRY

    rows = (
        [(i, " ".join(["bonjour le monde chaque jour"] * 4), "fr", "s", 100)
         for i in range(8)]
        + [(20, "zz9 qq8 vv7 kk6 jj5 hh4 gg3 ff2 ee1 dd0", "fr", "s", 100)]
        + [(30, "hello common words appear here often indeed", "en", "s", 100)]
    )
    d = str(tmp_path / "sf")
    import os

    os.makedirs(d)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    # the registry's table() reads <dir>/documents.parquet
    out = {
        r.doc_id: (r.lang, r.avg_neg_logprob)
        for r in REGISTRY["text_lang_lm_logprob"].fn(spark, d).collect()
    }
    fr_common = max(out[i][1] for i in range(8))
    assert out[20][0] == "fr" and out[20][1] > fr_common + 1.0
    # the lone-English doc self-scores under the en model: finite, and
    # far below the cross-language score it would get under fr
    assert out[30][0] == "en" and out[30][1] < out[20][1]


def test_let_binding_parity_and_single_eval(spark):
    """functions/hof.py `let`: identical results to the unbound
    formulation, for every context that lacks HOF-lambda CSE (Project,
    Filter, Generate).  word_shingles is the canonical user — compare
    against a plain Python shingler."""
    from ubw_spark.functions.hof import let
    from ubw_spark.operators.dedup import word_shingles

    rows = [
        (1, "a b c d e"),
        (2, "x y"),          # shorter than k -> empty
        (3, "one one one one"),  # duplicate windows -> distinct
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")

    def py_shingles(text, k=3):
        t = text.strip().lower().split()
        return sorted({" ".join(t[i : i + k]) for i in range(len(t) - k + 1)})

    # Project context
    got = {
        r["id"]: sorted(r["g"])
        for r in df.select(
            "id", word_shingles(F.col("text"), 3).alias("g")
        ).collect()
    }
    for i, text in rows:
        assert got[i] == py_shingles(text), (i, got[i])

    # Generate context (explode) — same multiset of grams
    exploded = sorted(
        r["g"]
        for r in df.select(
            F.explode(word_shingles(F.col("text"), 3)).alias("g")
        ).collect()
    )
    assert exploded == sorted(
        g for _, text in rows for g in py_shingles(text)
    )

    # generic let(): bound value visible, evaluated once semantically
    out = df.select(
        let(
            F.split(F.col("text"), " "),
            lambda t: F.size(t) + F.size(t),
        ).alias("twice")
    ).collect()
    assert [r["twice"] for r in out] == [10, 4, 8, 2]


def test_fence_identity_and_pushdown_block(spark):
    """functions/hof.py `fence`: value-identical to the unfenced column
    (incl. NULL), and a predicate on a fenced derived column stays ABOVE
    the projection instead of being pushdown-substituted into a per-row
    HOF re-evaluation."""
    from ubw_spark.functions.hof import fence
    from ubw_spark.operators.dedup import word_shingles
    from ubw_spark.plans.inspect import hof_filter_violations

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x"), (3, None)], "id bigint, text string"
    )
    a = df.select("id", F.size(word_shingles(F.col("text"), 3)).alias("n"))
    b = df.select(
        "id", fence(F.size(word_shingles(F.col("text"), 3))).alias("n")
    )
    assert sorted((r["id"], r["n"]) for r in a.collect()) == sorted(
        (r["id"], r["n"]) for r in b.collect()
    )
    # unfenced: predicate pushes below the projection -> flagged
    assert hof_filter_violations(a.where(F.col("n") > 0))
    # fenced: same result, clean plan
    fenced = b.where(F.col("n") > 0)
    assert hof_filter_violations(fenced) == []
    assert sorted(r["id"] for r in fenced.collect()) == [1]


def test_reliable_checkpoint_mode(spark, tmp_path):
    """VERDICT r8 #4: iterative operators accept checkpoint="reliable"
    — durable per-round truncation via the context's checkpoint dir
    (executor-loss-safe at cluster scale) — and refuse it loudly when
    no checkpoint dir is configured."""
    import pytest as _pytest

    from ubw_spark.operators.bpe import bpe_train_merges
    from ubw_spark.operators.components import connected_components
    from ubw_spark.operators.graph import pagerank_fixed

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint"
    )
    sc = spark.sparkContext
    had = not sc._jsc.sc().getCheckpointDir().isEmpty()
    if not had:
        with _pytest.raises(ValueError, match="setCheckpointDir"):
            connected_components(edges, checkpoint="reliable").collect()
    with _pytest.raises(ValueError, match="unknown checkpoint mode"):
        connected_components(edges, checkpoint="bogus").collect()

    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    comp = {r["node"]: r["component"]
            for r in connected_components(
                edges, checkpoint="reliable").collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # the durable state actually landed in the configured dir, and the
    # per-round slot GC bounded it: the edge list + the FINAL labels
    # survive, intermediate rounds were reclaimed (no one-dir-per-round
    # accumulation — the checkpoint-bucket-filling failure mode)
    import os
    dirs = []
    # setCheckpointDir nests a per-context uuid dir under the given path
    for root, names, _files in os.walk(str(tmp_path / "ckpt")):
        dirs.extend(n for n in names if n.startswith("ubw-truncate-"))
    assert len(dirs) == 2, dirs

    pr_edges = edges.withColumnRenamed("id_a", "u").withColumnRenamed(
        "id_b", "v"
    )
    local = {(r["node"], r["r"]) for r in pagerank_fixed(
        pr_edges, iterations=4, checkpoint_every=2).collect()}
    reliable = {(r["node"], r["r"]) for r in pagerank_fixed(
        pr_edges, iterations=4, checkpoint_every=2,
        checkpoint="reliable").collect()}
    assert local == reliable  # policy changes durability, never values

    docs = spark.createDataFrame(
        [("low lower lowest",), ("low low newer",)], "text string"
    )
    assert bpe_train_merges(docs, "text", 3) == bpe_train_merges(
        docs, "text", 3, checkpoint="reliable"
    )


def test_empty_adc_result_qid_type(spark):
    """Empty-queries ADC branch must match the populated branch's qid
    type for string-qid callers (schema-stable across micro-batches)."""
    from ubw_spark.operators.pq import pq_adc_topk, seed_pq_codebooks

    emb = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(20)],
        "vec_id bigint, embedding array<float>",
    )
    books = seed_pq_codebooks(emb, m=2, ksub=4)
    from ubw_spark.operators.pq import pq_encode

    codes = pq_encode(emb, books)
    empty_str = pq_adc_topk(codes, [], books, qid_type="string")
    assert dict(empty_str.dtypes)["qid"] == "string"
    assert empty_str.count() == 0
    # populated string-qid path agrees
    pop = pq_adc_topk(codes, [("q1", [0.5] * 8)], books, qid_type="string")
    assert dict(pop.dtypes)["qid"] == "string"


def test_simhash_recall_guaranteed_region_is_perfect(spark, sf_dir):
    """4×16-bit prefix banding pigeonhole: any pair within Hamming 3
    shares an untouched band, so recall in buckets 0-3 must be exactly
    1.0 (modulo the hot-bucket cap, which the audit slice never hits).
    A dent here is a broken band construction, not a tuning choice.
    Also pin that the canaries populate both regions: bucket 0 occupied
    (verbatim clones) and at least one bucket > 3 occupied (trimmed
    clones — the measured region must not be empty)."""
    from ubw_spark.queries import REGISTRY

    rows = (
        REGISTRY["simhash_recall_audit"].fn(spark, sf_dir).collect()
    )
    by_bucket = {r["ham_bucket"]: r for r in rows}
    assert 0 in by_bucket and by_bucket[0]["recall"] == 1.0
    for h, r in by_bucket.items():
        if h <= 3:
            assert r["recall"] == 1.0, f"guaranteed bucket {h}: {r}"
    assert any(h > 3 for h in by_bucket), "measured region empty"


def test_png_codec_roundtrip_all_filters():
    """Encode→decode is the identity for gray and RGB across sizes that
    exercise every scanline filter (encoder uses filter y%5, so any
    height ≥ 5 hits None/Sub/Up/Average/Paeth)."""
    import random

    from ubw_spark.operators.multimodal import png_decode, png_encode

    rng = random.Random(13)
    for (w, h, ch) in [(1, 1, 1), (4, 3, 1), (7, 6, 1), (5, 7, 3), (16, 16, 3)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        assert png_decode(png_encode(px, w, h, ch)) == (w, h, ch, px)


def test_png_codec_rejects_malformed():
    from ubw_spark.operators.multimodal import png_decode, png_encode
    import pytest as _pytest

    good = png_encode(bytes(range(12)), 4, 3)
    corrupted = bytearray(good)
    corrupted[-5] ^= 0xFF  # flip a byte inside the IEND CRC
    for bad in (b"", b"not a png", good[:-6], bytes(corrupted)):
        with _pytest.raises(ValueError):
            png_decode(bad)


def test_png_codec_matches_jvm_imageio(spark):
    """Spec compliance against an INDEPENDENT decoder: the JVM's
    javax.imageio reads our encoder's output and must see identical
    dimensions and pixel values (gray + RGB, all five filters)."""
    import random

    from ubw_spark.operators.multimodal import png_encode

    jvm = spark.sparkContext._jvm
    rng = random.Random(99)
    for (w, h, ch) in [(6, 7, 1), (5, 9, 3)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        stream = jvm.java.io.ByteArrayInputStream(
            bytearray(png_encode(px, w, h, ch))
        )
        img = jvm.javax.imageio.ImageIO.read(stream)
        assert img.getWidth() == w and img.getHeight() == h
        # raw raster samples, NOT getRGB: getRGB routes grayscale
        # through a linear-gray→sRGB color transform (gamma), which
        # would "fail" a byte-exact codec on Java's color management
        raster = img.getRaster()
        for y in range(h):
            for x in range(w):
                got = tuple(raster.getSample(x, y, b) for b in range(ch))
                i = (y * w + x) * ch
                assert got == tuple(px[i:i + ch]), (x, y)


def test_extract_image_features_routes_dirty_payloads(spark):
    """Undecodable payloads yield NULL features (routed, not raised) —
    dirty bytes are routine at corpus scale."""
    from ubw_spark.operators.multimodal import (
        extract_image_features,
        png_encode,
    )

    good = png_encode(bytes([10, 20, 30, 40]), 2, 2)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"JUNK")), (3, None)],
        "id bigint, payload binary",
    )
    rows = {r["id"]: r for r in extract_image_features(df, "id", "payload").collect()}
    assert rows[1]["sum_px"] == 100 and rows[1]["n_pixels"] == 4
    assert rows[1]["min_px"] == 10 and rows[1]["max_px"] == 40
    assert rows[2]["width"] is None and rows[3]["sum_px"] is None


def test_decode_batches_png_codec(spark):
    """codec='png' un-gates image feature extraction without PIL: real
    decode through the stdlib codec, column-pooled grayscale feature,
    dirty payloads routed to NULL."""
    from ubw_spark.operators.multimodal import decode_batches, png_encode

    # constant-gray image → every pooled feature value == v/255
    v, w, h = 120, 8, 4
    good = png_encode(bytes([v]) * (w * h), w, h)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"JUNK"))],
        "id bigint, payload binary",
    )
    rows = {
        r["id"]: r
        for r in decode_batches(
            df, "id", "payload", codec="png", feature_dim=4
        ).collect()
    }
    # feature column is array<float> — float32 round-trip, so approx
    assert rows[1]["feature"] == pytest.approx([v / 255.0] * 4, abs=1e-6)
    assert rows[2]["feature"] is None


def test_resize_images_png_codec_identity_and_shape(spark):
    """codec='png': identity-size resize of an RGB PNG returns the
    original interleaved bytes; any resize emits width*height*3."""
    import random

    from ubw_spark.operators.multimodal import png_encode, resize_images

    rng = random.Random(5)
    w, h = 6, 5
    px = bytes(rng.randrange(256) for _ in range(w * h * 3))
    df = spark.createDataFrame(
        [(1, bytearray(png_encode(px, w, h, 3)))], "id bigint, payload binary"
    )
    same = resize_images(
        df, "id", "payload", width=w, height=h, codec="png"
    ).collect()[0]
    assert bytes(same["payload"]) == px
    small = resize_images(
        df, "id", "payload", width=3, height=2, codec="png"
    ).collect()[0]
    assert small["n_bytes"] == 3 * 2 * 3


def test_sim_recall_matrix_covers_all_variants(spark, sf_dir):
    """sim_recall_report (VERDICT r12 #5) pins the four-variant ANN
    matrix: one row per config, IVF recall monotone in nprobe and
    exhaustive at nprobe = k_cells, IVFPQ candidates == IVF@4's (same
    probed cells), PQ exhaustive candidate count == 5·(N−1), and every
    recall consistent with its hits (milli fixed-point)."""
    from ubw_spark.queries import REGISTRY

    rows = {
        (r["variant"], r["param"]): r
        for r in REGISTRY["sim_recall_report"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {
        ("ivf", 1), ("ivf", 2), ("ivf", 4), ("ivf", 8),
        ("lsh", 16), ("pq", 8), ("ivfpq", 4),
    }
    ivf = [rows[("ivf", p)] for p in (1, 2, 4, 8)]
    assert all(
        a["recall_milli"] <= b["recall_milli"] for a, b in zip(ivf, ivf[1:])
    )
    # nprobe == k_cells probes every cell: exhaustive re-rank == recall 1
    assert rows[("ivf", 8)]["recall_milli"] == 1000
    assert (
        rows[("ivfpq", 4)]["n_candidates"]
        == rows[("ivf", 4)]["n_candidates"]
    )
    from ubw_spark.queries.registry import table as _table

    n_corpus = _table(spark, sf_dir, "embeddings").count()
    assert rows[("pq", 8)]["n_candidates"] == 5 * (n_corpus - 1)
    for r in rows.values():
        assert r["recall_milli"] == r["hits"] * 20
        assert 0 <= r["recall_milli"] <= 1000
    # quantization penalty: composed IVFPQ can never beat plain IVF at
    # the same nprobe (same candidates, coarser scores)
    assert (
        rows[("ivfpq", 4)]["recall_milli"]
        <= rows[("ivf", 4)]["recall_milli"]
    )


def test_minhash_signature_expr_matches_python(spark):
    import hashlib

    from ubw_spark.operators.dedup import (
        MERSENNE_P,
        _hash_params,
        minhash_signature,
        portable_hash,
    )

    df = spark.createDataFrame(
        [(["x y z", "y z w"],), (["solo gram here"],)], "sh array<string>"
    )
    hashed = df.select(
        F.transform("sh", portable_hash).alias("__hv"), "sh"
    )
    rows = hashed.select(
        minhash_signature("__hv", 8).alias("sig"), "sh"
    ).collect()
    for r in rows:
        hvs = [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
            for g in r["sh"]
        ]
        for i in range(8):
            a, b = _hash_params(i)
            assert r["sig"][i] == min((a * h + b) % MERSENNE_P for h in hvs)


def test_minhash_agreement_expr_counts(spark):
    from ubw_spark.operators.dedup import minhash_agreement

    df = spark.createDataFrame(
        [([1, 2, 3, 4], [1, 9, 3, 7])], "a array<bigint>, b array<bigint>"
    )
    n = df.select(
        minhash_agreement(F.col("a"), F.col("b"), 4).alias("n")
    ).collect()[0]["n"]
    assert n == 2


def test_minhash_pairs_materialized_equals_unmaterialized(spark, sf_dir):
    from ubw_spark.operators.dedup import minhash_dedup_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw = dict(k=3, num_hashes=64, bands=32, rows_per_band=2, threshold=0.4)
    mat = sorted(
        map(tuple, minhash_dedup_pairs(d, "doc_id", "text", **kw).collect())
    )
    unmat = sorted(
        map(
            tuple,
            minhash_dedup_pairs(
                d, "doc_id", "text", checkpoint=None, **kw
            ).collect(),
        )
    )
    assert mat == unmat and len(mat) > 0


def test_lsh_index_parallel_writes_complete_store(spark, tmp_path):
    """write_minhash_index submits its three store writes from a thread
    pool; the committed version must still hold all three stores plus
    both sidecars, and the manifest must flip only after all landed."""
    import os

    from ubw_spark.operators.lsh_index import write_minhash_index
    from ubw_spark.operators.versioned import SCHEMA_FILE, resolve_root

    docs = spark.range(24).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon token"),
            (F.col("id") % 4).cast("string"),
        ).alias("text"),
    )
    path = str(tmp_path / "lsh_par")
    write_minhash_index(docs, "doc_id", "text", path)
    root = resolve_root(path)
    for sub in ("bands", "docs", "sigs"):
        d = os.path.join(root, sub)
        assert os.path.isdir(d), f"missing store {sub}"
        assert os.path.exists(os.path.join(d, SCHEMA_FILE))
        assert any(f.endswith(".parquet") for _r, _d, fs in os.walk(d)
                   for f in fs)
    assert os.path.exists(os.path.join(root, "_LSH_PARAMS"))


# ---------------------------------------------------------------------------
# dedup.widen: the one compute-widening rule


def _round_robins(df) -> int:
    from ubw_spark.plans.inspect import simple_plan

    return simple_plan(df).count("RoundRobinPartitioning")


def _text_file(spark, path, files):
    spark.range(20_000).selectExpr(
        "id AS doc_id", "concat('token ', id, ' tail') AS text"
    ).repartition(files).write.parquet(path)
    return spark.read.parquet(path)


def test_widen_keeps_tiny_in_memory_frame(spark):
    from ubw_spark.operators.dedup import widen

    df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    assert _round_robins(widen(df)) == 0


def test_widen_spreads_one_split_file_above_the_floor(spark, tmp_path):
    from ubw_spark.operators.dedup import widen
    from ubw_spark.plans.inspect import simple_plan

    df = _text_file(spark, str(tmp_path / "one"), 1)
    assert df.rdd.getNumPartitions() == 1
    plan = df._jdf.queryExecution().optimizedPlan()
    size = int(plan.stats().sizeInBytes())
    par = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({par})" in simple_plan(
        widen(df, min_bytes=size)
    )
    assert _round_robins(widen(df, min_bytes=size + 1)) == 0


def test_widen_keeps_input_that_already_has_enough_splits(spark, tmp_path):
    from ubw_spark.operators.dedup import widen

    par = spark.sparkContext.defaultParallelism
    df = _text_file(spark, str(tmp_path / "wide"), par)
    assert df.rdd.getNumPartitions() >= par
    assert _round_robins(widen(df)) == 0


def test_widen_falls_back_to_widening_when_probes_raise(spark):
    """The probes go through private JVM APIs: a frame whose size and
    split probes raise must widen, not fail the map stage's build."""
    from ubw_spark.operators.dedup import widen

    df = spark.range(1_000_000)  # already session-wide, if it were probed

    class Unprobeable:
        sparkSession = df.sparkSession
        repartition = df.repartition

        @property
        def _jdf(self):
            raise RuntimeError("no JVM plan on this backend")

        @property
        def rdd(self):
            raise RuntimeError("no RDD API on this backend")

    assert _round_robins(widen(Unprobeable())) == 1


def test_short_docs_yield_empty_shingles_not_crash(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "now three words here")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", word_shingles(F.col("text"), 3).alias("s")
        ).collect()
    }
    assert out[1] == [] and out[2] == [] and out[3] == []
    assert len(out[4]) == 2
    # the full minhash pipeline also survives short docs
    pairs = minhash_dedup_pairs(df, "doc_id", "text", k=3)
    assert pairs.count() == 0


def test_char_ngrams_short_string(spark):
    from ubw_spark.functions.text import char_ngrams

    df = spark.createDataFrame([("ab",), ("abcd",)], "s string")
    out = [r["g"] for r in df.select(char_ngrams(F.col("s"), 3).alias("g")).collect()]
    assert out[0] == [] and sorted(out[1]) == ["abc", "bcd"]


def test_asof_join_no_chimera_columns(spark):
    """A NULL attribute on the true as-of row must stay NULL, not be
    backfilled from an older right row."""
    left = spark.createDataFrame(
        [(1, 300, "p1")], "user_id bigint, t bigint, pid string"
    ).select("user_id", F.timestamp_seconds("t").alias("ts"), "pid")
    right = spark.createDataFrame(
        [(1, 100, "c1", 5.0), (1, 200, "c2", None)],
        "user_id bigint, t bigint, cid string, v double",
    ).select("user_id", F.timestamp_seconds("t").alias("ts"), "cid", "v")
    out = asof_join(
        left, right, on="ts", by=["user_id"], right_cols=["cid", "v"]
    ).collect()[0]
    assert out["cid_right"] == "c2"
    assert out["v_right"] is None  # NOT 5.0 from the older row


def test_semdedup_rejects_nonpositive_pair_salt(spark):
    """pair_salt=0 would make pmod NULL and silently report zero
    duplicates (review finding, round 8) — must raise instead."""
    import pytest as _pytest

    from ubw_spark.operators.semdedup import semantic_dup_pairs

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="pair_salt"):
        semantic_dup_pairs(
            df, "vec_id", "embedding", [[1.0, 0.0]], pair_salt=0
        ).collect()


def test_dsir_featureless_target_raises(spark):
    """code-review r11: an empty/featureless target made every
    log-ratio NULL and the coalesce handed back neutral weights —
    dsir_select would silently degrade to uniform sampling."""
    from ubw_spark.operators.dsir import dsir_log_weights

    source = spark.createDataFrame(
        [(1, "some words here to featurize")], "id bigint, text string"
    )
    empty_target = spark.createDataFrame([], "id bigint, text string")
    with pytest.raises(Exception, match="NO features"):
        dsir_log_weights(source, empty_target, "id", "text").collect()


def test_pq_empty_queries_return_empty(spark):
    from ubw_spark.operators.pq import pq_adc_topk, pq_encode

    books = [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 1.0], [0.5, 0.5]]]
    vecs = spark.createDataFrame(
        [(1, [0.9, 0.1, 0.8, 0.9])], "vec_id bigint, embedding array<float>"
    )
    codes = pq_encode(vecs, books)
    out = pq_adc_topk(codes, [], books)
    assert out.columns == ["qid", "vec_id", "approx_ip"]
    assert out.count() == 0
