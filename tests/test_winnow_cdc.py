"""Winnowing fingerprint and SCD2 merge tests."""

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators.cdc import scd2_init, scd2_merge
from ubw_spark.operators.winnow import (
    fingerprint_index,
    winnow_fingerprints_df,
    winnow_overlap_pairs,
)


def test_winnow_guarantee_on_shared_substring(spark):
    """Winnowing guarantee: a shared run of length ≥ w+k-1 chars must
    yield at least one shared fingerprint."""
    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "AAAA " + shared + " BBBB"),
        (2, "CCCCCC " + shared + " DDDD"),
        (3, "totally unrelated content with different words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = winnow_overlap_pairs(df, "doc_id", "text", min_shared=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_winnow_fingerprints_deterministic(spark):
    df = spark.createDataFrame([(1, "hello world hello world")], "id bigint, text string")
    a = sorted(r["fingerprint"] for r in winnow_fingerprints_df(df, "id", "text").collect())
    b = sorted(r["fingerprint"] for r in winnow_fingerprints_df(df, "id", "text").collect())
    assert a == b and len(a) > 0


def test_fingerprint_index_df_counts(spark):
    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghij"), (3, "zzzzzzzzzz")],
        "doc_id bigint, text string",
    )
    idx = fingerprint_index(df, "doc_id", "text")
    shared = idx.where(F.size("doc_ids") >= 2).collect()
    assert all(set(r["doc_ids"]) == {1, 2} for r in shared)
    assert len(shared) > 0


@pytest.fixture()
def dim_v1(spark):
    snap = spark.createDataFrame(
        [(1, "alice", "NY", "2024-01-01 00:00:00"),
         (2, "bob", "LA", "2024-01-01 00:00:00")],
        "id bigint, name string, city string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return scd2_init(snap)


def test_scd2_init_all_current(dim_v1):
    rows = dim_v1.collect()
    assert len(rows) == 2 and all(r["is_current"] for r in rows)


def test_scd2_merge_change_insert_noop(spark, dim_v1):
    changes = spark.createDataFrame(
        [(1, "alice", "SF", "2024-02-01 00:00:00"),   # city change
         (2, "bob", "LA", "2024-02-01 00:00:00"),     # identical → no-op
         (3, "carol", "TX", "2024-02-01 00:00:00")],  # new key
        "id bigint, name string, city string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = scd2_merge(dim_v1, changes, keys=["id"])
    rows = {(r["id"], r["is_current"]): r for r in out.collect()}
    assert len(rows) == 4
    # alice: closed old NY version + current SF version
    assert rows[(1, False)]["city"] == "NY"
    assert str(rows[(1, False)]["valid_to"]).startswith("2024-02-01")
    assert rows[(1, True)]["city"] == "SF"
    # bob unchanged: still one current row with original valid_from
    assert rows[(2, True)]["city"] == "LA"
    assert str(rows[(2, True)]["valid_from"]).startswith("2024-01-01")
    # carol inserted as current
    assert rows[(3, True)]["city"] == "TX"


def test_scd2_merge_is_idempotent_for_identical_batch(spark, dim_v1):
    changes = spark.createDataFrame(
        [(1, "alice", "SF", "2024-02-01 00:00:00")],
        "id bigint, name string, city string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    once = scd2_merge(dim_v1, changes, keys=["id"])
    twice = scd2_merge(once, changes, keys=["id"])
    assert sorted(map(str, once.collect())) == sorted(map(str, twice.collect()))


def test_snapshot_diff_status_matrix(spark):
    """All four statuses from a hand-built pair of snapshots; content
    comparison is by normalized fingerprint (case/edge whitespace
    insensitive, like exact dedup)."""
    from ubw_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "id bigint, text string"
    )
    new = spark.createDataFrame(
        [(2, "beta"), (3, "gamma EDITED"), (4, "delta"), (5, "  ALPHA ")],
        "id bigint, text string",
    )
    out = {r["id"]: r["status"] for r in snapshot_diff(old, new, "id", "text").collect()}
    assert out == {
        1: "removed",
        2: "unchanged",
        3: "changed",
        4: "added",
        5: "added",
    }


def test_snapshot_diff_null_content_presence(spark):
    """code-review r11: presence must come from the side markers, not
    fingerprint nullness — md5(NULL) is NULL, so NULL-content rows used
    to read as absent and misclassify every status they touched."""
    from ubw_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (4, None)],
        "id bigint, text string",
    )
    new = spark.createDataFrame(
        [(1, "x"), (2, None), (3, None), (5, None)],
        "id bigint, text string",
    )
    out = {
        r["id"]: r["status"]
        for r in snapshot_diff(old, new, "id", "text").collect()
    }
    assert out == {
        1: "changed",    # NULL -> 'x' (was misreported 'added')
        2: "unchanged",  # NULL == NULL (was 'added')
        3: "changed",    # 'x' -> NULL
        4: "removed",    # present-old-only with NULL content (was 'added')
        5: "added",      # present-new-only with NULL content
    }


def test_scd2_merge_null_ts_rows_survive(spark):
    """code-review r11: a dimension row whose valid_from is NULL (NULL
    snapshot ts) must not vanish — presence is an explicit join marker,
    not valid_from nullness."""
    snap = spark.createDataFrame(
        [(1, "a", None), (2, "b", "2024-01-01 00:00:00")],
        "k bigint, v string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    dim = scd2_init(snap, "ts")
    changes = spark.createDataFrame(
        [(2, "b2", "2024-02-01 00:00:00")], "k bigint, v string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = scd2_merge(dim, changes, ["k"], "ts")
    by_key = {(r["k"], r["is_current"]): r for r in out.collect()}
    # key 1 (NULL valid_from) still present and current
    assert (1, True) in by_key and by_key[(1, True)]["v"] == "a"
    # key 2 closed + fresh
    assert by_key[(2, True)]["v"] == "b2"
    assert by_key[(2, False)]["v"] == "b"


def test_scd2_merge_requires_attr_cols(spark):
    snap = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "k bigint, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    dim = scd2_init(
        spark.createDataFrame(
            [(1, "a", None)], "k bigint, v string, ts timestamp"
        ),
        "ts",
    )
    with pytest.raises(ValueError, match="no attribute columns"):
        scd2_merge(dim, snap, ["k"], "ts")


class TestKeySkewReport:
    def test_shares_and_ranks(self, spark):
        from ubw_spark.operators.skew import key_skew_report

        rows = [("hot",)] * 60 + [("warm",)] * 30 + [("cold",)] * 10
        df = spark.createDataFrame(rows, "k string")
        out = key_skew_report(df, "k", k=2).collect()
        assert [(r["rnk"], r["key"], r["cnt"]) for r in out] == [
            (1, "hot", 60), (2, "warm", 30),
        ]
        r1 = out[0]
        assert (r1["n_keys"], r1["total_rows"], r1["share_milli"]) == (
            3, 100, 600
        )

    def test_tiebreak_on_key(self, spark):
        from ubw_spark.operators.skew import key_skew_report

        df = spark.createDataFrame([("b",), ("a",)], "k string")
        out = key_skew_report(df, "k", k=2).collect()
        assert [r["key"] for r in out] == ["a", "b"]

    def test_rank_window_grounded_by_limit(self, spark):
        from ubw_spark.operators.skew import key_skew_report
        from ubw_spark.plans.inspect import global_window_violations

        df = spark.createDataFrame([("a",), ("b",)], "k string")
        assert global_window_violations(key_skew_report(df, "k")) == []


def test_short_texts_yield_empty_winnow_not_crash(spark):
    df = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, "long enough text here")],
        "doc_id bigint, text string",
    )
    out = winnow_fingerprints_df(df, "doc_id", "text", k=5, window=4)
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 not in ids and 2 not in ids and 3 in ids


def test_scd2_handles_multiple_changes_per_key(spark):
    from ubw_spark.operators.cdc import scd2_init, scd2_merge

    snap = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00")], "id bigint, v string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    dim = scd2_init(snap)
    changes = spark.createDataFrame(
        [(1, "b", "2024-02-01 00:00:00"), (1, "c", "2024-03-01 00:00:00")],
        "id bigint, v string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = scd2_merge(dim, changes, keys=["id"])
    current = out.where("is_current").collect()
    assert len(current) == 1 and current[0]["v"] == "c"  # latest wins, once
    assert out.count() == 2  # old closed + new current
