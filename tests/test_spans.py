"""Exact duplicated-substring span extraction (operators/spans.py).

Planted-fixture tests: known shared sentences must come back as exact
token spans; unique text must not.  Mirrors the suffix-array
ExactSubstr semantics at k-token granularity.
"""

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators.spans import (
    cut_duplicate_spans,
    duplicate_spans,
    duplicated_token_fraction,
    token_gram_table,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


# 12 shared tokens -> with k=4 the shared block spans positions
# [start, start+11] in each doc that contains it.
SHARED = "the quick brown fox jumps over the lazy dog every single day"
UNIQUE_A = "alpha beta gamma delta epsilon zeta eta theta"
UNIQUE_B = "one two three four five six seven eight nine"


def test_shared_block_becomes_one_exact_span(spark):
    d = _docs(
        spark,
        [
            (1, SHARED + " " + UNIQUE_A),
            (2, UNIQUE_B + " " + SHARED),
        ],
    )
    out = duplicate_spans(d, "doc_id", "text", k=4).collect()
    spans = {r.doc_id: (r.span_start, r.span_end, r.span_tokens) for r in out}
    assert len(out) == 2
    # doc 1: shared block is tokens 0..11; doc 2: tokens 9..20.
    assert spans[1] == (0, 11, 12)
    assert spans[2] == (9, 20, 12)


def test_unique_docs_produce_no_spans(spark):
    d = _docs(spark, [(1, UNIQUE_A), (2, UNIQUE_B)])
    assert duplicate_spans(d, "doc_id", "text", k=4).count() == 0


def test_adjacent_duplicate_regions_merge(spark):
    # Two shared 4-token blocks separated by one shared token form one
    # contiguous 9-token duplicated region -> ONE span, not two.
    block = "aa bb cc dd ee ff gg hh ii"
    d = _docs(spark, [(1, block + " xx"), (2, "yy " + block)])
    out = duplicate_spans(d, "doc_id", "text", k=4).collect()
    spans = {r.doc_id: (r.span_start, r.span_end) for r in out}
    assert spans[1] == (0, 8)
    assert spans[2] == (1, 9)


def test_disjoint_regions_stay_separate_spans(spark):
    # Shared prefix and shared suffix with unique middles -> two spans
    # per doc, not merged across the gap.
    pre = "p1 p2 p3 p4 p5"
    suf = "s1 s2 s3 s4 s5"
    d = _docs(
        spark,
        [
            (1, pre + " u1 u2 u3 u4 u5 u6 " + suf),
            (2, pre + " v1 v2 v3 v4 v5 v6 " + suf),
        ],
    )
    out = duplicate_spans(d, "doc_id", "text", k=4)
    per_doc = (
        out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert {r.n for r in per_doc} == {2}
    starts = sorted(
        (r.span_start, r.span_end)
        for r in out.where(F.col("doc_id") == 1).collect()
    )
    assert starts == [(0, 4), (11, 15)]


def test_min_docs_three_ignores_pairs(spark):
    d = _docs(
        spark,
        [(1, SHARED), (2, SHARED), (3, UNIQUE_A + " " + UNIQUE_B)],
    )
    assert (
        duplicate_spans(d, "doc_id", "text", k=4, min_docs=3).count() == 0
    )
    assert (
        duplicate_spans(d, "doc_id", "text", k=4, min_docs=2).count() == 2
    )


def test_short_and_empty_docs_are_safe(spark):
    d = _docs(spark, [(1, "one two three"), (2, ""), (3, SHARED), (4, SHARED)])
    out = duplicate_spans(d, "doc_id", "text", k=4)
    assert {r.doc_id for r in out.collect()} == {3, 4}


def test_repeat_within_single_doc_is_not_cross_doc_dup(spark):
    # The same sentence twice in ONE doc: count(DISTINCT doc) == 1,
    # so no span (this operator targets cross-document duplication).
    d = _docs(spark, [(1, SHARED + " " + SHARED), (2, UNIQUE_A)])
    assert duplicate_spans(d, "doc_id", "text", k=4).count() == 0


def test_fraction_zero_filled_and_bounded(spark):
    d = _docs(
        spark,
        [(1, SHARED), (2, SHARED), (3, UNIQUE_A)],
    )
    out = duplicated_token_fraction(d, "doc_id", "text", k=4)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}, "every doc appears"
    assert rows[3].dup_tokens == 0 and rows[3].dup_fraction == 0.0
    # Docs 1/2 are the shared block exactly -> fully duplicated.
    assert rows[1].dup_fraction == 1.0
    assert rows[1].dup_tokens == rows[1].n_tokens
    assert all(0.0 <= r.dup_fraction <= 1.0 for r in rows.values())


def test_gram_table_positions_and_count(spark):
    d = _docs(spark, [(1, "a b c d e")])
    g = token_gram_table(d, "doc_id", "text", 4).collect()
    assert sorted(r["__pos"] for r in g) == [0, 1]


@pytest.mark.parametrize("k", [2, 8])
def test_spans_at_least_k_tokens(spark, k):
    d = _docs(spark, [(1, SHARED), (2, SHARED)])
    out = duplicate_spans(d, "doc_id", "text", k=k).collect()
    assert out and all(r.span_tokens >= k for r in out)


def test_cut_keeps_owner_copy_and_strips_others(spark):
    d = _docs(
        spark,
        [
            (1, SHARED),
            (2, UNIQUE_B + " " + SHARED),
            (3, SHARED + " " + UNIQUE_A),
        ],
    )
    out = {
        r.doc_id: r
        for r in cut_duplicate_spans(d, "doc_id", "text", k=4).collect()
    }
    # doc 1 owns every shared gram (min id) -> untouched, verbatim.
    assert out[1].clean_text == SHARED and out[1].n_removed == 0
    # docs 2/3 lose the shared block, keep their unique text.
    assert out[2].clean_text == UNIQUE_B
    assert out[2].n_removed == len(SHARED.split())
    assert out[3].clean_text == UNIQUE_A


def test_cut_preserves_case_and_outer_whitespace_semantics(spark):
    upper = SHARED.upper()
    d = _docs(spark, [(1, SHARED), (2, upper + " " + UNIQUE_A.upper())])
    out = {
        r.doc_id: r
        for r in cut_duplicate_spans(d, "doc_id", "text", k=4).collect()
    }
    # detection is case-insensitive; the kept tokens keep their case.
    assert out[2].clean_text == UNIQUE_A.upper()
    # untouched doc with internal double spaces passes through verbatim
    spaced = "zz1  zz2   zz3"
    d2 = _docs(spark, [(1, SHARED), (2, SHARED), (3, spaced)])
    out2 = {
        r.doc_id: r.clean_text
        for r in cut_duplicate_spans(d2, "doc_id", "text", k=4).collect()
    }
    assert out2[3] == spaced


def _brute_cut(docs, k, min_docs=2):
    from collections import defaultdict

    lt = {i: t.strip().lower().split() for i, t in docs}
    ot = {i: t.strip().split() for i, t in docs}
    gram_docs = defaultdict(set)
    for i, ts in lt.items():
        for p in range(len(ts) - k + 1):
            gram_docs[tuple(ts[p : p + k])].add(i)
    out = {}
    for i, ts in lt.items():
        cut = set()
        for p in range(len(ts) - k + 1):
            g = gram_docs[tuple(ts[p : p + k])]
            if len(g) >= min_docs and min(g) != i:
                cut |= set(range(p, p + k))
        if cut:
            out[i] = (
                " ".join(
                    t for j, t in enumerate(ot[i]) if j not in cut
                ),
                len(cut),
            )
        else:
            out[i] = (docs[i][1], 0)
    return out


def test_cut_random_corpora_match_brute_force(spark):
    import random

    rng = random.Random(99)
    words = [f"w{j}" for j in range(10)]
    docs = [
        (i, " ".join(rng.choices(words, k=rng.randrange(0, 25))))
        for i in range(30)
    ]
    want = _brute_cut(docs, k=3)
    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in cut_duplicate_spans(
            _docs(spark, docs), "doc_id", "text", k=3
        ).collect()
    }
    assert got == want


def test_cut_handles_large_heavily_duplicated_doc(spark):
    """10k-token doc, ~full duplication: the array_except rebuild must
    stay linear (this is the boilerplate-heavy shape the operator
    targets) and produce the exact expected remainder."""
    base = " ".join(f"t{i % 97}" for i in range(10_000))
    d = _docs(spark, [(1, base), (2, base + " uniq1 uniq2 uniq3 uniq4")])
    out = {
        r.doc_id: r
        for r in cut_duplicate_spans(d, "doc_id", "text", k=8).collect()
    }
    assert out[1].n_removed == 0  # owner keeps everything
    assert out[2].clean_text == "uniq1 uniq2 uniq3 uniq4"
    assert out[2].n_removed == 10_000


def test_gram_index_empty_corpus_and_empty_probe(spark):
    from ubw_spark.operators.spans import (
        probe_gram_index,
        write_gram_index,
    )

    tbl = "gram_idx_empty_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        empty = spark.createDataFrame([], "doc_id bigint, text string")
        write_gram_index(empty, "doc_id", "text", tbl, k=4)
        assert spark.table(tbl).count() == 0
        # probe against an empty index: every doc zero-filled
        out = probe_gram_index(
            spark, _docs(spark, [(1, SHARED)]), tbl, "doc_id", "text", k=4
        ).collect()
        assert out[0].dup_fraction == 0.0 and out[0].dup_tokens == 0
        # empty probe against the empty index: empty report
        assert (
            probe_gram_index(
                spark, empty, tbl, "doc_id", "text", k=4
            ).count()
            == 0
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_gram_index_lifecycle_write_probe_append(spark):
    """Incremental loop: batch-2's copy of a corpus doc is flagged;
    a novel doc is clean; after append, batch-3's copy of the novel
    doc is flagged too (dedup against batch-2 without re-hashing)."""
    from ubw_spark.operators.spans import (
        append_gram_index,
        probe_gram_index,
        write_gram_index,
    )

    tbl = "gram_idx_lifecycle_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        corpus = _docs(spark, [(1, SHARED), (2, UNIQUE_A + " " + UNIQUE_B)])
        write_gram_index(corpus, "doc_id", "text", tbl, k=4)

        novel = "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10"
        batch2 = _docs(spark, [(10, SHARED), (11, novel)])
        out = {
            r.doc_id: r.dup_fraction
            for r in probe_gram_index(
                spark, batch2, tbl, "doc_id", "text", k=4
            ).collect()
        }
        assert out[10] == 1.0 and out[11] == 0.0

        append_gram_index(spark, batch2, tbl, "doc_id", "text", k=4)
        batch3 = _docs(spark, [(20, novel)])
        out3 = probe_gram_index(
            spark, batch3, tbl, "doc_id", "text", k=4
        ).collect()
        assert out3[0].dup_fraction == 1.0

        # append is anti-joined: re-appending the same batch adds no rows
        n = spark.table(tbl).count()
        append_gram_index(spark, batch2, tbl, "doc_id", "text", k=4)
        assert spark.table(tbl).count() == n

        # probing or appending with a mismatched k raises instead of
        # silently reporting zero contamination
        with pytest.raises(ValueError, match="built with k=4"):
            probe_gram_index(spark, batch3, tbl, "doc_id", "text", k=8)
        with pytest.raises(ValueError, match="built with k=4"):
            append_gram_index(spark, batch3, tbl, "doc_id", "text", k=8)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_gram_index_legacy_scheme_refused_everywhere(spark):
    """A pre-thw1 index (no ubw.gram_hash tag — its gh values come from
    a different hash definition) must be refused by probe, append AND
    compact: old and new hashes never collide, so every operation would
    otherwise 'succeed' with silently wrong results — zero contamination
    reported, the index doubled on append, nothing removed on compact."""
    from ubw_spark.operators.spans import (
        append_gram_index,
        compact_gram_index,
        grams_of,
        probe_gram_index,
        write_gram_index,
    )

    tbl = "gram_idx_legacy_scheme_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        corpus = _docs(spark, [(1, SHARED)])
        write_gram_index(corpus, "doc_id", "text", tbl, k=4)
        # simulate a legacy index: strip the scheme tag
        spark.sql(
            f"ALTER TABLE {tbl} UNSET TBLPROPERTIES ('ubw.gram_hash')"
        )
        batch = _docs(spark, [(10, SHARED)])
        with pytest.raises(ValueError, match="pre-thw1"):
            probe_gram_index(spark, batch, tbl, "doc_id", "text", k=4)
        with pytest.raises(ValueError, match="pre-thw1"):
            append_gram_index(spark, batch, tbl, "doc_id", "text", k=4)
        retired = grams_of(corpus, "doc_id", "text", k=4)
        with pytest.raises(ValueError, match="pre-thw1"):
            compact_gram_index(spark, tbl, retired)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__compact")


def test_gram_index_probe_has_no_index_side_shuffle(spark):
    """The scale contract: probing shuffles ONLY the batch — the
    bucketed index scan feeds the join with no Exchange above it."""
    from ubw_spark.operators.spans import token_gram_table, write_gram_index
    from ubw_spark.plans.inspect import shuffle_count

    tbl = "gram_idx_plan_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        corpus = _docs(
            spark, [(i, f"{SHARED} tail{i} x{i} y{i} z{i}") for i in range(50)]
        )
        write_gram_index(corpus, "doc_id", "text", tbl, k=4, num_buckets=4)
        batch = _docs(spark, [(100, SHARED)])
        bg = token_gram_table(batch, "doc_id", "text", 4)
        idx = spark.table(tbl).select(F.col("gh").alias("__gh"))
        joined = bg.join(idx, "__gh")
        assert shuffle_count(joined) == 1, (
            "expected exactly one Exchange (batch side only); "
            "index side must be bucket-aligned"
        )
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_span_plans_are_linear_shapes(spark, sf_dir):
    """Scale-shape pins: the span pipeline is a bounded number of
    shuffles (gram hash x2 + doc id) and the cut path never plans a
    cartesian product — the per-row rebuild must stay a projection."""
    from ubw_spark.plans.inspect import shuffle_count, simple_plan
    from ubw_spark.queries import REGISTRY

    spans = REGISTRY["dedup_duplicate_spans"].fn(spark, sf_dir)
    # gh repartition ×2 branches + the per-doc id window — the r11
    # shape (explicit repartition replacing the no-op partial-distinct
    # combine; see duplicate_gram_positions' docstring) — plus room for
    # the compute-widening round-robin of the raw (id, text) rows, once
    # per gram branch (dedup.widen, which skips inputs below spans'
    # _WIDEN_MIN_BYTES floor)
    assert shuffle_count(spans) <= 5
    cut = REGISTRY["dedup_cut_spans"].fn(spark, sf_dir)
    p = simple_plan(cut)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert shuffle_count(cut) <= 7


def _brute_spans(docs, k, min_docs=2):
    """Reference implementation: hash-free gram index + interval merge."""
    from collections import defaultdict

    toks = {i: t.strip().lower().split() for i, t in docs}
    gram_docs = defaultdict(set)
    for i, ts in toks.items():
        for p in range(len(ts) - k + 1):
            gram_docs[tuple(ts[p : p + k])].add(i)
    out = set()
    for i, ts in toks.items():
        pos = [
            p
            for p in range(len(ts) - k + 1)
            if len(gram_docs[tuple(ts[p : p + k])]) >= min_docs
        ]
        spans = []
        for p in sorted(pos):
            e = p + k - 1
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], e)
            else:
                spans.append([p, e])
        out |= {(i, s, e) for s, e in spans}
    return out


def test_random_corpora_match_brute_force(spark):
    """Small-alphabet random corpora collide heavily, exercising every
    merge path; Spark must agree with the brute-force reference
    exactly."""
    import random

    rng = random.Random(1234)
    words = [f"w{j}" for j in range(12)]
    for trial in range(4):
        docs = [
            (i, " ".join(rng.choices(words, k=rng.randrange(0, 30))))
            for i in range(25)
        ]
        want = _brute_spans(docs, k=3)
        got = {
            (r.doc_id, r.span_start, r.span_end)
            for r in duplicate_spans(
                _docs(spark, docs), "doc_id", "text", k=3
            ).collect()
        }
        assert got == want, f"trial {trial}: {got ^ want}"


def test_gram_index_compaction_retires_grams_and_keeps_layout(spark):
    """Retire an eval doc's grams (decontamination loop): its probe
    report drops to zero, survivors stay probed, the k property and the
    zero-index-side-shuffle bucket alignment survive the DROP+RENAME
    swap, and re-appending a surviving doc restores its shared grams."""
    from ubw_spark.operators.spans import (
        append_gram_index,
        compact_gram_index,
        compacted_gram_rows,
        grams_of,
        probe_gram_index,
        write_gram_index,
    )
    from ubw_spark.plans import broadcast_join_count
    from ubw_spark.plans.inspect import shuffle_count

    tbl = "gram_idx_compact_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}__compact")
    try:
        corpus = _docs(
            spark, [(1, SHARED), (2, UNIQUE_A), (3, UNIQUE_B + " " + SHARED)]
        )
        write_gram_index(corpus, "doc_id", "text", tbl, k=4, num_buckets=4)

        probe = _docs(spark, [(10, SHARED), (11, UNIQUE_A)])
        before = {
            r.doc_id: r.dup_fraction
            for r in probe_gram_index(
                spark, probe, tbl, "doc_id", "text", k=4
            ).collect()
        }
        assert before[10] == 1.0 and before[11] == 1.0

        # Plan shape, both postures (autoBroadcast off → only a hint
        # can broadcast):
        retire = grams_of(_docs(spark, [(0, SHARED)]), "doc_id", "text", k=4)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            sh = compacted_gram_rows(
                spark, tbl, retire, broadcast_drops=False
            )
            assert broadcast_join_count(sh) == 0
            bc = compacted_gram_rows(spark, tbl, retire, broadcast_drops=True)
            assert broadcast_join_count(bc) >= 1  # positive control
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

        compact_gram_index(spark, tbl, retire, broadcast_drops=False)
        after = {
            r.doc_id: r.dup_fraction
            for r in probe_gram_index(
                spark, probe, tbl, "doc_id", "text", k=4
            ).collect()
        }
        assert after[10] == 0.0  # retired
        assert after[11] == 1.0  # survivor untouched

        # k property survived the swap: mismatched probe still raises
        with pytest.raises(ValueError, match="built with k=4"):
            probe_gram_index(spark, probe, tbl, "doc_id", "text", k=8)

        # bucket alignment survived: batch join has exactly one Exchange
        from ubw_spark.operators.spans import token_gram_table

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bg = token_gram_table(probe, "doc_id", "text", 4)
            idx = spark.table(tbl).select(F.col("gh").alias("__gh"))
            assert shuffle_count(bg.join(idx, "__gh")) == 1
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

        # doc 3 survived but shared SHARED's grams — conservative retire
        # removed them; re-append restores exactly those (novel again)
        append_gram_index(
            spark, corpus.where("doc_id = 3"), tbl, "doc_id", "text", k=4
        )
        restored = {
            r.doc_id: r.dup_fraction
            for r in probe_gram_index(
                spark, probe, tbl, "doc_id", "text", k=4
            ).collect()
        }
        assert restored[10] == 1.0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__compact")


def test_gram_probe_skew_guard_collapses_hot_gram(spark):
    """A degenerate batch document repeating one gram 10^4 times joins
    as ONE (doc, gram) row — and the coverage report is unchanged by
    the pre-aggregation (every covered position still counted once)."""
    from ubw_spark.operators.spans import (
        probe_gram_index,
        write_gram_index,
    )

    tbl = "gram_idx_skew_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        hot = " ".join(["a b c d"] * 2500)  # one 4-gram repeated
        corpus = _docs(spark, [(1, hot)])
        write_gram_index(corpus, "doc_id", "text", tbl, k=4)
        batch = _docs(spark, [(10, hot), (11, UNIQUE_A)])
        out = {
            r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_fraction)
            for r in probe_gram_index(
                spark, batch, tbl, "doc_id", "text", k=4
            ).collect()
        }
        assert out[10] == (10_000, 10_000, 1.0)
        assert out[11] == (8, 0, 0.0)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
