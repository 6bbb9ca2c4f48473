"""BM25 retrieval: scoring vs a pure-Python reference, and the
persisted inverted-index lifecycle (write → probe → append → compact),
whose contract is that NO lifecycle step may change a score."""

import math

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators.retrieval import (
    append_term_batch,
    bm25_topk,
    compact_term_index,
    probe_term_index,
    read_term_stats,
    write_term_index,
)

DOCS = [
    (0, "hash join beats sort join on small tables"),
    (1, "the scan is slow because the filter never pushed"),
    (2, "stream stream stream processing with watermarks"),
    (3, "hash partitioning makes the join shuffle balanced"),
    (4, "a slow hash join on a skewed stream"),
    (5, "completely unrelated words about gardening and tea"),
]


def bm25_reference(docs, query_terms, k1=1.2, b=0.75):
    """Straight-from-the-formula reference scorer (float64 math,
    rounding mirrored from the operator contract)."""
    toks = {i: t.lower().split() for i, t in docs}
    n = len(docs)
    avgdl = (sum(len(t) for t in toks.values()) * 1.0) / n
    dfs = {
        q: sum(1 for t in toks.values() if q in t) for q in query_terms
    }
    out = {}
    for i, t in toks.items():
        s, hits = 0.0, 0
        for q in query_terms:
            tf = t.count(q)
            if tf == 0:
                continue
            hits += 1
            idf = math.log(
                1.0 + (n - dfs[q] + 0.5) / (dfs[q] + 0.5)
            )
            s += round(
                idf
                * ((tf * (k1 + 1))
                   / (tf + k1 * ((1 - b) + b * len(t) / avgdl))),
                6,
            )
        if hits:
            out[i] = (hits, round(s, 4))
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_bm25_matches_reference(spark, docs_df):
    got = {
        r["doc_id"]: (r["n_terms_hit"], r["score"])
        for r in bm25_topk(
            docs_df, "doc_id", "text", "hash join slow stream", k=10
        ).collect()
    }
    want = bm25_reference(DOCS, ["hash", "join", "slow", "stream"])
    assert got == want
    # doc 5 has no query term: absent, not zero-scored
    assert 5 not in got


def test_bm25_ranking_sane(spark, docs_df):
    rows = bm25_topk(
        docs_df, "doc_id", "text", "stream", k=3
    ).collect()
    # doc 2 says "stream" 3× in a short doc — must rank first
    assert rows[0]["doc_id"] == 2
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_bm25_empty_and_unseen_queries(spark, docs_df):
    assert bm25_topk(docs_df, "doc_id", "text", "   ", k=5).count() == 0
    assert (
        bm25_topk(docs_df, "doc_id", "text", "zzz qqq", k=5).count() == 0
    )


def test_store_probe_equals_in_memory(spark, docs_df, tmp_path):
    path = str(tmp_path / "ti")
    write_term_index(docs_df, "doc_id", "text", path)
    q = "hash join slow stream"
    mem = sorted(
        bm25_topk(docs_df, "doc_id", "text", q, k=10).collect()
    )
    store = sorted(probe_term_index(spark, path, q, k=10).collect())
    assert [tuple(r) for r in mem] == [tuple(r) for r in store]


def test_append_then_probe_sees_whole_corpus(spark, docs_df, tmp_path):
    path = str(tmp_path / "ti")
    first = docs_df.where(F.col("doc_id") < 3)
    rest = docs_df.where(F.col("doc_id") >= 3)
    write_term_index(first, "doc_id", "text", path)
    append_term_batch(rest, "doc_id", "text", path)
    st = read_term_stats(path)
    assert st["n_docs"] == len(DOCS)
    assert st["total_tokens"] == sum(len(t.split()) for _, t in DOCS)
    q = "hash join slow stream"
    got = sorted(probe_term_index(spark, path, q, k=10).collect())
    want = sorted(
        bm25_topk(docs_df, "doc_id", "text", q, k=10).collect()
    )
    # append must land on the SAME scores as a from-scratch corpus:
    # df/N/avgdl all reflect the merged state
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


@pytest.mark.parametrize("bc", [True, False])
def test_compact_retires_docs_and_restats(spark, docs_df, tmp_path, bc):
    path = str(tmp_path / f"ti_{bc}")
    write_term_index(docs_df, "doc_id", "text", path)
    drops = spark.createDataFrame([(0,), (4,)], "doc_id bigint")
    compact_term_index(
        spark, path, drops, broadcast_drops=bc
    )
    kept_docs = [(i, t) for i, t in DOCS if i not in (0, 4)]
    st = read_term_stats(path)
    assert st["n_docs"] == len(kept_docs)
    assert st["total_tokens"] == sum(
        len(t.split()) for _, t in kept_docs
    )
    q = "hash join slow stream"
    kept_df = docs_df.where(~F.col("doc_id").isin([0, 4]))
    got = sorted(probe_term_index(spark, path, q, k=10).collect())
    want = sorted(
        bm25_topk(kept_df, "doc_id", "text", q, k=10).collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert all(r[0] not in (0, 4) for r in got)


def test_compact_can_retire_every_document(spark, docs_df, tmp_path):
    """code-review r11: full retirement (takedown of the last docs in a
    store) must commit — the restat used to schema-infer the empty new
    version dir and crash BEFORE the manifest flip, making the
    retirement permanently impossible.  The empty committed version
    stays readable (its pinned _SCHEMA, no data files) and reports zero
    documents."""
    path = str(tmp_path / "ti_all")
    write_term_index(docs_df, "doc_id", "text", path)
    all_ids = docs_df.select("doc_id")
    compact_term_index(spark, path, all_ids)
    st = read_term_stats(path)
    assert st["n_docs"] == 0 and st["total_tokens"] == 0
    # the store still resolves and probes to an empty result, not an
    # unreadable directory
    got = probe_term_index(spark, path, "hash join", k=5).collect()
    assert got == []


def test_probe_missing_sidecar_raises(spark, docs_df, tmp_path):
    # a bare parquet dir is NOT a term store: guessed stats would skew
    # every idf silently
    path = str(tmp_path / "bare")
    docs_df.write.parquet(path)
    with pytest.raises(ValueError, match="sidecar"):
        probe_term_index(spark, path, "hash")


def test_batch_probe_matches_per_query_topk(spark, docs_df, tmp_path):
    from ubw_spark.operators.retrieval import probe_term_index_batch

    path = str(tmp_path / "ti_batch")
    write_term_index(docs_df, "doc_id", "text", path)
    queries = [(1, "hash join"), (2, "slow stream"), (3, "gardening")]
    qdf = spark.createDataFrame(queries, "qid int, query string")
    got = {
        (r["qid"], r["doc_id"]): (r["n_terms_hit"], r["score"], r["rank"])
        for r in probe_term_index_batch(spark, path, qdf, k=3).collect()
    }
    for qid, text in queries:
        rows = bm25_topk(docs_df, "doc_id", "text", text, k=3).collect()
        for rank, r in enumerate(rows, start=1):
            assert got[(qid, r["doc_id"])] == (
                r["n_terms_hit"], r["score"], rank
            )
    # no stray rows beyond the per-query top-3s
    assert len(got) == sum(
        len(bm25_topk(spark.createDataFrame(DOCS, "doc_id bigint, text string"),
                      "doc_id", "text", t, k=3).collect())
        for _, t in queries
    )


def test_probe_correct_with_sparse_buckets(spark, docs_df, tmp_path):
    """Regression: with buckets=64 over a tiny vocabulary most buckets
    (almost surely including the top one) hold no terms.  The modulus
    must come from the sidecar — inferring max(tb)+1 from the partition
    dirs would re-hash every query term under a smaller modulus and
    probe the wrong partitions (silent zero hits)."""
    from ubw_spark.operators.retrieval import read_term_stats

    path = str(tmp_path / "ti64")
    write_term_index(docs_df, "doc_id", "text", path, buckets=64)
    assert read_term_stats(path)["buckets"] == 64
    q = "hash join slow stream"
    got = sorted(probe_term_index(spark, path, q, k=10).collect())
    want = sorted(bm25_topk(docs_df, "doc_id", "text", q, k=10).collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # appends must keep honoring the pinned modulus too
    more = spark.createDataFrame(
        [(99, "hash hash hash")], "doc_id bigint, text string"
    )
    append_term_batch(more, "doc_id", "text", path)
    after = probe_term_index(spark, path, "hash", k=3).collect()
    assert after[0]["doc_id"] == 99


def test_phrase_match_positions_and_map_only(spark):
    from ubw_spark.operators.retrieval import phrase_match
    from ubw_spark.plans import shuffle_count

    rows = [
        (0, "a b a b a b"),      # overlapping repeats: "a b" at 1,3,5
        (1, "b a"),              # reversed — no match
        (2, "a"),                # shorter than the phrase
        (3, "x a b"),            # single match at 2
        (4, None),               # null text excluded
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = phrase_match(df, "doc_id", "text", "a b")
    got = {r["doc_id"]: (r["n_occurrences"], r["first_pos"])
           for r in out.collect()}
    assert got == {0: (3, 1), 3: (1, 2)}
    assert shuffle_count(out) == 0
    # one-token phrase degenerates to term occurrence counting
    one = {r["doc_id"]: r["n_occurrences"]
           for r in phrase_match(df, "doc_id", "text", "a").collect()}
    assert one == {0: 3, 1: 1, 2: 1, 3: 1}


def test_hard_negatives_exclude_phrase_matches(spark, sf_dir):
    """Every mined negative scores on the bag of terms but does NOT
    contain the exact phrase."""
    from ubw_spark.operators.retrieval import phrase_match
    from ubw_spark.queries import REGISTRY

    negs = REGISTRY["search_hard_negatives"].fn(spark, sf_dir)
    rows = negs.collect()
    assert 0 < len(rows) <= 10
    assert all(r["score"] > 0 for r in rows)
    import os

    from pyspark.sql import functions as F

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pos_ids = {
        r["doc_id"]
        for r in phrase_match(d, "doc_id", "text", "hash join")
        .select("doc_id")
        .collect()
    }
    assert pos_ids  # the corpus does contain the phrase
    assert not ({r["doc_id"] for r in rows} & pos_ids)
    # and the negatives really are lexically confusable: they contain
    # at least one of the query terms
    neg_ids = [r["doc_id"] for r in rows]
    with_term = d.where(
        F.col("doc_id").isin(neg_ids)
        & (F.col("text").contains("hash") | F.col("text").contains("join"))
    ).count()
    assert with_term == len(neg_ids)


def test_append_is_versioned_and_replay_idempotent(
    spark, docs_df, tmp_path
):
    """ADVICE r8: append_term_batch must run the full rewrite cycle —
    a new version dir per append (never an in-place mutation of the
    live root) — and a replayed batch_id must be a no-op before any
    write (the append_cms_batch contract)."""
    from ubw_spark.operators.versioned import current_version

    path = str(tmp_path / "ti_v")
    first = docs_df.where(F.col("doc_id") < 3)
    rest = docs_df.where(F.col("doc_id") >= 3)
    write_term_index(first, "doc_id", "text", path)
    assert current_version(path) == 0
    append_term_batch(rest, "doc_id", "text", path, batch_id=7)
    assert current_version(path) == 1  # append = rewrite cycle, flip
    st = read_term_stats(path)
    assert st["n_docs"] == len(DOCS)
    assert st["last_batch_id"] == 7
    # replay the same micro-batch: stats AND postings must not move
    q = "hash join slow stream"
    before = sorted(probe_term_index(spark, path, q, k=10).collect())
    append_term_batch(rest, "doc_id", "text", path, batch_id=7)
    assert current_version(path) == 1  # no-op: no new version
    assert read_term_stats(path)["n_docs"] == len(DOCS)
    after = sorted(probe_term_index(spark, path, q, k=10).collect())
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    # a NEW batch id after the replay still folds in
    more = spark.createDataFrame(
        [(99, "hash hash hash")], "doc_id bigint, text string"
    )
    append_term_batch(more, "doc_id", "text", path, batch_id=8)
    assert read_term_stats(path)["n_docs"] == len(DOCS) + 1
    assert probe_term_index(spark, path, "hash", k=1).collect()[0][
        "doc_id"
    ] == 99


def test_compact_preserves_batch_high_water(spark, docs_df, tmp_path):
    """ADVICE r9: compaction rewrites the stats sidecar — it must carry
    last_batch_id through, or a micro-batch redelivered AFTER a
    compaction is re-folded (duplicate postings, double-counted stats),
    defeating the exactly-once contract the kill-and-replay test pins."""
    path = str(tmp_path / "ti_hw")
    first = docs_df.where(F.col("doc_id") < 3)
    rest = docs_df.where(F.col("doc_id") >= 3)
    write_term_index(first, "doc_id", "text", path)
    append_term_batch(rest, "doc_id", "text", path, batch_id=7)
    drops = spark.createDataFrame([(0,)], "doc_id bigint")
    compact_term_index(spark, path, drops)
    st = read_term_stats(path)
    assert st["last_batch_id"] == 7  # survived the sidecar rewrite
    # the redelivered batch after compaction must be a no-op
    n_before = st["n_docs"]
    append_term_batch(rest, "doc_id", "text", path, batch_id=7)
    assert read_term_stats(path)["n_docs"] == n_before


def test_append_recovers_from_torn_version_dir(spark, docs_df, tmp_path):
    """A crash between link_carryover and the manifest flip leaves a
    torn vNNNNN dir that begin_rewrite re-issues; the next append must
    clear it and succeed (not SameFileError on its own leftover
    hardlinks, not double-folded postings)."""
    from ubw_spark.operators.versioned import (
        begin_rewrite,
        link_carryover,
        resolve_root,
    )

    path = str(tmp_path / "ti_torn")
    first = docs_df.where(F.col("doc_id") < 3)
    rest = docs_df.where(F.col("doc_id") >= 3)
    write_term_index(first, "doc_id", "text", path)
    # simulate the crashed attempt: carryover done, no commit
    old_root = resolve_root(path)
    _new_v, torn_root = begin_rewrite(path)
    link_carryover(old_root, torn_root, skip_files=("_TERM_STATS",))
    # the retry (or any next batch) must fold exactly once
    append_term_batch(rest, "doc_id", "text", path, batch_id=1)
    st = read_term_stats(path)
    assert st["n_docs"] == len(DOCS)
    q = "hash join slow stream"
    got = sorted(probe_term_index(spark, path, q, k=10).collect())
    want = sorted(bm25_topk(docs_df, "doc_id", "text", q, k=10).collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_doc_postings_observation_matches_corpus_stats(spark):
    from pyspark.sql import Observation

    from ubw_spark.operators.retrieval import _corpus_stats, doc_postings

    # includes a whitespace-only doc (trims to "" which the shared
    # tokenizer splits to [""] — ONE empty token, counted in stats)
    # and a NULL-text doc (excluded everywhere)
    df = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "   "), (3, None), (4, "gamma")],
        "doc_id bigint, text string",
    )
    obs = Observation()
    postings = doc_postings(df, "doc_id", "text", stats_observation=obs)
    postings.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = _corpus_stats(df, "text").collect()[0]
    assert got["n_docs"] == want["n_docs"] == 3
    assert got["total_tokens"] == want["total_tokens"] == 5


def test_doc_postings_local_matches_exploded_form(spark):
    from ubw_spark.operators.retrieval import doc_postings, doc_postings_local

    rows = [
        (1, "the quick brown fox the the"),
        (2, ""),            # "" tokenizes to one empty token
        (3, None),          # NULL text: dropped by both forms
        (4, "a a a a a"),   # single repeated term
        (5, "  spaced   out   words "),
        (6, "dup dup nodup"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    a = doc_postings(df, "doc_id", "text")
    b = doc_postings_local(df, "doc_id", "text")
    assert a.columns == b.columns
    assert [f.dataType.simpleString() for f in a.schema.fields] == [
        f.dataType.simpleString() for f in b.schema.fields
    ]
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_bucketed_postings_single_exchange_and_fenced_kernel(spark):
    """The store-write frame has ONE exchange (the bucket repartition)
    and the sort+run-length kernel is fenced: the explode's inferred
    size() predicate must not re-run it at the scan."""
    from pyspark.sql import functions as F

    from ubw_spark.operators.retrieval import _bucketed_postings

    df = spark.createDataFrame(
        [(1, "x y x"), (2, "z")], "doc_id int, text string"
    )
    frame = _bucketed_postings(df, "doc_id", "text", 32).repartition("tb")
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("array_sort") == 1, plan
