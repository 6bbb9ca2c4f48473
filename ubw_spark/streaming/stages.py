"""Structured Streaming over the same stage surface as batch.

The reference is strictly batch (SURVEY §2.9) — streaming is net-new.
Because an engine stage is just ``DataFrame → DataFrame``, the batch
window operators in ubw_spark.queries.events and these streaming stages
share their aggregation expressions; only the source (``readStream``)
and sink (``writeStream`` + watermark) differ.  Correctness strategy:
the batch twin of every streaming stage is oracle-checked against
DuckDB; tests then assert stream output == batch output on the same
files (file source, processAllAvailable).

Scale posture: watermarks bound state (no unbounded window state at
100 TB/day); ``stateful_running_totals`` shows applyInPandasWithState
for semantics the built-in windows can't express; sinks use
``foreachBatch`` with checkpointing.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def stream_shuffle_partitions(spark: SparkSession) -> int:
    """Shuffle/state partition count for Structured Streaming queries.

    A streaming query pays a FIXED per-micro-batch cost per shuffle
    partition: one state-store instance to open/commit/snapshot, one
    checkpoint delta file, and one sink file per non-empty partition,
    every batch.  Unlike batch queries AQE cannot coalesce these (AQE
    is disabled for stateful workloads), so inheriting the batch
    ``spark.sql.shuffle.partitions`` (sized to cores) multiplies the
    micro-batch lifecycle overhead by cores — measured round 13 at the
    sf0.1 bench: 32 state partitions × ~12 micro-batches dominated the
    two watermark/session streaming queries end to end.

    Sizing rule: state partitions should match STATE VOLUME and key
    cardinality, not the box's core count — and the count is sticky (a
    checkpoint pins it for the query's life), so it is derived here,
    not inherited: min(defaultParallelism, 4) — the bench's
    micro-batches carry ~10k rows, where even 4 partitions is
    parallelism-bound, not state-bound.  Callers pin it for the
    stream's life with ``session.pinned_conf``."""
    return max(1, min(spark.sparkContext.defaultParallelism, 4))


def read_stream(
    spark: SparkSession,
    path: str,
    schema: str | T.StructType = EVENTS_SCHEMA,
    fmt: str = "parquet",
    **options,
) -> DataFrame:
    """File-source stream (each new file = one micro-batch input)."""
    r = spark.readStream.format(fmt).schema(schema)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_extra: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window counts/sums; watermark bounds state retention."""
    wm = df.withWatermark(ts_col, watermark)
    return (
        wm.groupBy(F.window(ts_col, window), *(group_extra or []))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            *(group_extra or []),
            "n",
            "total_value",
        )
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    wm = df.withWatermark(ts_col, watermark)
    return (
        wm.groupBy(F.window(ts_col, window, slide))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    key: str = "user_id",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows (gap-merged in state when streaming)."""
    wm = df.withWatermark(ts_col, watermark)
    return (
        wm.groupBy(F.session_window(ts_col, gap), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            F.col(key),
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


_STATE_SCHEMA = "total double, n bigint"
_OUT_SCHEMA = "user_id bigint, total double, n bigint"


def stateful_running_totals(df: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (total, count) across micro-batches — the escape hatch for
    state machines the built-in windows can't express.

    State is one small tuple per key (bounded memory); timeouts would
    evict idle keys in production."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            n += int(len(pdf))
        state.update((total, n))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "total": [total], "n": [n]}
        )

    return (
        df.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def funnel_user_aggs() -> list:
    """The per-user conditional first-timestamp aggregates — shared by
    the batch query queries.tokens_funnel.events_funnel and
    stream_funnel_user_state below, so stream==batch equivalence is the
    same expression tree, not a re-implementation."""

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    return [
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    ]


def stream_funnel_user_state(df: DataFrame) -> DataFrame:
    """Streaming twin of queries.tokens_funnel.events_funnel, phase 1:
    per-user conditional first-timestamps as an incremental streaming
    aggregation (update/complete mode) — the SAME aggregate expressions
    as the batch query (:func:`funnel_user_aggs`).

    The funnel's second (global) aggregation cannot chain inside one
    streaming query (multiple stateful aggs are unsupported); the
    production shape is state → serving sink → ``funnel_summary`` over
    the sink, which is what the equivalence test drives.  State is one
    3-timestamp row per user; production adds a state TTL for idle
    users."""
    return df.groupBy("user_id").agg(*funnel_user_aggs())


_RET_STATE_SCHEMA = "days string"
_RET_OUT_SCHEMA = (
    "user_id bigint, cohort_day date, offsets array<int>, n_days int"
)


def stateful_retention_state(df: DataFrame, max_offset: int = 7) -> DataFrame:
    """Streaming twin of queries.events.events_retention_cohorts:
    per-user (cohort_day, active day-offsets ≤ max_offset) maintained
    across micro-batches with applyInPandasWithState.

    The batch query needs two shuffles and a self-join (min-day, then
    activity join); incrementally, each user's state is just the set of
    distinct active days — cohort and offsets are recomputed from the
    CURRENT min on every update, so a user's first-seen day arriving in
    a *later* micro-batch (out-of-order ingest) still converges to the
    batch answer instead of freezing a wrong cohort.  State is bounded:
    distinct days per user, days-string encoded (epoch ordinals), with
    production eviction via a retention-horizon timeout.  ``n_days``
    grows monotonically — sinks keep the row with the largest value per
    user (an idempotent upsert key)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import datetime

        import pandas as pd

        days: set[int] = (
            {int(x) for x in state.get[0].split(",") if x}
            if state.exists
            else set()
        )
        epoch = datetime.date(1970, 1, 1).toordinal()
        for pdf in pdfs:
            days.update(d.toordinal() - epoch for d in pdf["ts"].dt.date)
        state.update((",".join(str(d) for d in sorted(days)),))
        cohort = min(days)
        offs = sorted(d - cohort for d in days if d - cohort <= max_offset)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "cohort_day": [datetime.date.fromordinal(cohort + epoch)],
                "offsets": [offs],
                "n_days": [len(days)],
            }
        )

    return df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_RET_OUT_SCHEMA,
        stateStructType=_RET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once event dedup across micro-batches with BOUNDED state.

    Plain ``dropDuplicates(keys)`` only evicts state when the
    watermarked event-time column is part of the keys — with id-only
    keys its state grows forever.  ``dropDuplicatesWithinWatermark``
    evicts each key's state once the watermark passes its event time,
    which is the semantics replay-dedup actually wants (a replay
    arriving within the watermark window is dropped; later than that it
    would be late data anyway)."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_static_enrich(
    stream_df: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment: join each micro-batch
    against a static DataFrame, dim side broadcast (a shuffled
    stream-static join would re-shuffle every micro-batch against the
    same small table).

    Staleness contract, stated because it bites: the static side's
    FILE LISTING is fixed when its DataFrame is created — rows
    appended to a parquet dim later are NOT picked up by a running
    query.  For slowly-changing dims, re-read the dim inside a
    foreachBatch body (see write_stream_upsert) so each batch replans
    it fresh."""
    return stream_df.join(F.broadcast(dim), on=on, how=how)


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> Callable[[], DataFrame]:
    """Test/debug sink: run the stream into an in-memory table until all
    available data is processed; returns a thunk for the result table."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    spark = stream_df.sparkSession
    return lambda: spark.table(name)


def write_stream_upsert(
    stream_df: DataFrame,
    target_path: str,
    checkpoint: str,
    keys: list[str],
    ts_col: str = "ts",
    trigger_once: bool = True,
):
    """foreachBatch upsert sink: each micro-batch MERGEs into the target
    (anti-join + union emulation from sources.writers.upsert; with a
    lakehouse format this becomes a transactional MERGE INTO).

    The incremental-CDC pattern: state lives in the target table, not in
    streaming state, so the stream restarts cheaply and the target is
    always queryable."""
    import os

    from ubw_spark.sources.writers import upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as W
        from pyspark.sql import functions as Fx

        spark = batch_df.sparkSession
        # latest change per key wins — an explicit event-time ranking;
        # bare dropDuplicates keeps a partition-order-dependent row
        w = W.partitionBy(*keys).orderBy(Fx.col(ts_col).desc())
        latest = (
            batch_df.withColumn("__rn", Fx.row_number().over(w))
            .where(Fx.col("__rn") == 1)
            .drop("__rn")
        )
        if os.path.exists(target_path):
            target = spark.read.parquet(target_path)
            merged = upsert(target, latest, keys)
        else:
            merged = latest
        # write to a staging dir then swap — parquet has no transactions
        staging = target_path + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        final = spark.read.parquet(staging)
        final.write.mode("overwrite").parquet(target_path)

    w = stream_df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    *,
    lower: str = "1 hour",
    upper: str = "0 seconds",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join bounded by a time interval: right rows
    within [left_ts - lower, left_ts + upper] of the matching-key left
    row.

    Both sides are watermarked and the join condition bounds event time
    in BOTH directions, so Spark can evict state — an unbounded
    stream-stream join retains every row forever, which is the classic
    state leak.  Column names must already be disjoint apart from
    ``key`` aliases (rename before calling).  Outer variants emit
    unmatched rows only once the watermark passes."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(key) == F.col(f"{key}__r"))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {lower}"))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {upper}"))
    )
    r = r.withColumnRenamed(key, f"{key}__r")
    return l.join(r, cond, how).drop(f"{key}__r")
