"""Real-parquet smoke tests.

Round 5 shipped a regression the whole suite missed: the driver
regenerated events.parquet with a new timestamp encoding
(timestamp[us] no-tz → Spark TIMESTAMP_NTZ) and every timestamp test
synthesized its own data, so nothing went red until the external gate.
These tests read the ACTUAL /root/testdata parquet through the same
choke-point the driver path uses (registry.table), so a future
encoding change fails here in seconds.
"""

import datetime
import os

import pytest

from ubw_spark.queries.registry import REGISTRY, table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

needs_testdata = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "events.parquet")),
    reason="driver testdata not present",
)

EVENTS_QUERIES = sorted(
    n for n, q in REGISTRY.items() if "events" in q.tags or "temporal" in q.tags
)


@needs_testdata
def test_events_ts_normalized_to_session_timestamp(spark):
    """Whatever parquet encoding the driver ships (nanos-as-int64,
    timestamp[us] NTZ, or proper UTC micros), registry.table must hand
    queries a plain session TIMESTAMP so unix_micros/window() work."""
    df = table(spark, SF_DIR, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", dict(df.dtypes)
    # and the values are sane (2020s epoch range, not nanos-misread)
    row = df.selectExpr("min(ts) lo", "max(ts) hi").first()
    assert row.lo.year >= 2015 and row.hi.year <= 2040, row


@needs_testdata
@pytest.mark.parametrize("name", EVENTS_QUERIES)
def test_events_query_runs_on_real_parquet(spark, name):
    """Every events/temporal query executes end-to-end on the real
    driver parquet — the exact surface round 5 broke."""
    df = REGISTRY[name].fn(spark, SF_DIR)
    assert df.count() >= 0  # forces full execution


@needs_testdata
def test_all_tables_readable(spark):
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        df = table(spark, SF_DIR, t)
        assert len(df.columns) > 0, t
        assert df.limit(1).count() == 1, t


@needs_testdata
def test_events_ntz_cast_requires_utc_session(spark):
    """The NTZ→TIMESTAMP normalization in registry.table is only
    value-preserving under a UTC session timezone; a non-UTC session
    must fail LOUDLY instead of silently shifting every event by the
    local offset (ADVICE r6) — while UTC-by-rules ALIASES like Etc/UTC
    and a fixed +00:00 must pass (a name-equality guard rejected a real
    Etc/UTC box)."""
    import pyarrow.parquet as pq

    if str(pq.read_schema(os.path.join(SF_DIR, "events.parquet")).field("ts").type) != "timestamp[us]":
        pytest.skip("events.ts not NTZ-encoded in this testdata build")
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for bad in ("America/New_York", "Europe/London"):  # London: UTC in winter ONLY
            spark.conf.set("spark.sql.session.timeZone", bad)
            with pytest.raises(AssertionError, match="UTC"):
                table(spark, SF_DIR, "events").limit(1).collect()
        for good in ("UTC", "Etc/UTC", "GMT"):
            spark.conf.set("spark.sql.session.timeZone", good)
            assert table(spark, SF_DIR, "events").limit(1).count() == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_table_memo_returns_same_plan_per_key(spark, tmp_path):
    from ubw_spark.queries.registry import table

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (p1, p2):
        spark.range(3).toDF("k").write.parquet(f"{p}/t.parquet")
    d1 = table(spark, p1, "t")
    assert table(spark, p1, "t") is d1  # memo hit: identical object
    assert table(spark, p2, "t") is not d1  # different dir, own plan
    # the memo holds a PLAN, not results: actions still read the files
    assert d1.count() == 3


def test_table_memo_utc_guard_fires_on_hits(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ubw_spark.queries.registry import table

    # an NTZ-encoded events table (timestamp[us], no timezone)
    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array(
                [datetime.datetime(2024, 1, 1, 12, 0, 0)],
                pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = table(spark, str(tmp_path), "events")
        assert table(spark, str(tmp_path), "events") is df  # memoized
        # a later zone change must fail the HIT, not serve the plan
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(AssertionError, match="UTC"):
            table(spark, str(tmp_path), "events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
