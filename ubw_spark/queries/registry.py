"""Registry mapping query names to (Spark impl, DuckDB oracle SQL)."""

from __future__ import annotations

import hashlib
import os
import weakref
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # None → non-SQL-expressible, rows-only check
    tags: tuple[str, ...] = ()


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(name, fn, oracle, tags)
        return fn

    return deco


def _is_utc_equivalent(tz: str) -> bool:
    """True iff ``tz`` names a FIXED zero-offset zone (UTC by rules, any
    name).  Offsets are probed in both January and July across years so
    a DST zone that happens to sit at UTC when checked cannot pass."""
    import datetime as _dt

    try:
        from zoneinfo import ZoneInfo

        z = ZoneInfo(tz)
    except Exception:
        return tz in ("UTC", "Z", "+00:00")
    zero = _dt.timedelta(0)
    return all(
        _dt.datetime(y, m, 1, tzinfo=z).utcoffset() == zero
        for y in (2020, 2031)
        for m in (1, 7)
    )


#: Lazy-plan memo: (sf_dir, name) → DataFrame, per live SparkSession.
#: Returning the same DataFrame object is NOT result caching — a
#: DataFrame is an immutable logical plan, and every action on it
#: re-reads the parquet input.  What the memo removes is the 60-95 ms
#: per ``spark.read.parquet`` call (file listing + footer schema read +
#: py4j round-trips), which a full bench pass paid ~89 times (~6.7 s).
#: Keyed weakly on the session so a stopped/recreated session (tests)
#: never serves plans bound to a dead JVM context; keyed on the exact
#: ``(sf_dir, name)`` so distinct datasets never collide.  Callers that
#: rewrite files IN PLACE at a previously read path within one session
#: would see the old file listing — the repo convention (per-test tmp
#: dirs, immutable testdata) makes that a non-case.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    try:
        per = _TABLE_MEMO.setdefault(spark, {})
    except TypeError:  # un-weakref-able session stand-in (tests/mocks)
        return _read_table(spark, sf_dir, name)[0]
    key = (sf_dir, name)
    entry = per.get(key)
    if entry is None:
        entry = per[key] = _read_table(spark, sf_dir, name)
    df, needs_utc = entry
    if needs_utc:
        # The NTZ→TIMESTAMP plan was built (and is only value-
        # preserving) under a UTC-equivalent session zone; re-assert on
        # every hit so a session whose timezone was changed later still
        # fails loudly instead of serving a plan whose guard no longer
        # holds (the memoized plan froze the BUILD-time zone, which is
        # not what a caller reading "session-local cast" expects).
        _assert_utc_session(spark)
    return df


def store_path(kind: str, sf_dir: str) -> str:
    """Deterministic per-``sf_dir`` scratch location of a query's
    ``kind`` store (overwritten per run); at scale, the long-lived lake
    path the store lives at."""
    return f"/tmp/ubw_spark_{kind}_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]


def _assert_utc_session(spark: SparkSession) -> None:
    """Raise unless the session timezone is UTC by OFFSET RULES (any
    alias passes, a DST zone that merely straddles UTC does not) — see
    the NTZ branch below for why the cast demands it."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if not _is_utc_equivalent(tz):
        raise AssertionError(
            f"events.ts is TIMESTAMP_NTZ and the session timezone "
            f"is {tz!r}; the cast to TIMESTAMP is only "
            "value-preserving under UTC — build the session via "
            "ubw_spark.session.get_session or set "
            "spark.sql.session.timeZone=UTC"
        )


def _read_table(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[DataFrame, bool]:
    """(DataFrame, needs_utc_recheck) — the bool marks plans whose
    correctness depends on the session timezone staying UTC."""
    if name == "events":
        # events.parquet has shipped with two encodings for `ts`:
        #   - TIMESTAMP(NANOS): Spark rejects it by default; read the nanos
        #     as long and truncate to micros so the values match engines
        #     that read nanos-as-timestamp (DuckDB).
        #   - timestamp[us] without timezone: Spark 4.x reads TIMESTAMP_NTZ,
        #     which `unix_micros` & friends reject; cast to session-local
        #     TIMESTAMP (value-preserving under the UTC session pin).
        # This function is the single choke-point for table reads, so both
        # normalizations live here and nowhere else.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        elif dict(df.dtypes).get("ts") == "timestamp_ntz":
            # The NTZ→TIMESTAMP cast reinterprets the wall-clock value in
            # the SESSION timezone: value-preserving only when that zone
            # is UTC.  A session built outside get_session()/conftest on
            # a non-UTC box would silently shift every event timestamp by
            # the local offset — fail loudly instead (_assert_utc_session,
            # re-checked on every memo hit).
            _assert_utc_session(spark)
            return df.withColumn("ts", F.col("ts").cast("timestamp")), True
        return df, False
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")), False
