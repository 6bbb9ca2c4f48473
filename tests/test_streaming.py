"""Streaming tests: stream output == batch output on the same files,
session windows, custom stateful operator, incremental file arrival."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ubw_spark.streaming import (
    read_stream,
    run_to_memory,
    session_window_agg,
    stateful_running_totals,
    tumbling_window_agg,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events re-materialized as a clean micro-timestamp parquet dir
    (the raw file uses TIMESTAMP(NANOS) which the streaming file source
    can't read directly)."""
    from ubw_spark.queries.registry import table

    out = str(tmp_path_factory.mktemp("events_stream"))
    df = table(spark, sf_dir, "events")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    return out


def batch_events(spark, events_dir):
    return spark.read.parquet(events_dir)


def test_stream_tumbling_equals_batch(spark, events_dir):
    stream = read_stream(spark, events_dir)
    agg = tumbling_window_agg(stream, group_extra=["event_type"])
    result = run_to_memory(agg, "tumbling_test")()
    batch = tumbling_window_agg(
        batch_events(spark, events_dir), group_extra=["event_type"]
    )
    got = {tuple(map(str, r)) for r in result.collect()}
    want = {tuple(map(str, r)) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_stream_session_window_runs(spark, events_dir):
    stream = read_stream(spark, events_dir)
    agg = session_window_agg(stream, gap="30 minutes")
    result = run_to_memory(agg, "session_test")()
    batch = session_window_agg(batch_events(spark, events_dir))
    assert result.count() == batch.count() > 0


def test_stateful_running_totals(spark, events_dir):
    stream = read_stream(spark, events_dir)
    out = stateful_running_totals(stream)
    result = run_to_memory(out, "stateful_test", output_mode="update")()
    # final state per user == batch sum/count
    batch = (
        batch_events(spark, events_dir)
        .groupBy("user_id")
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
    )
    got = {r["user_id"]: (round(r["total"], 4), r["n"]) for r in result.collect()}
    for r in batch.collect():
        assert got[r["user_id"]] == (round(r["total"], 4), r["n"])


def test_incremental_file_arrival(spark, events_dir, tmp_path):
    """Two files arriving in sequence → watermark-filtered append output
    grows across micro-batches (real incremental processing, not one
    big batch)."""
    inc_dir = str(tmp_path / "inc")
    os.makedirs(inc_dir)
    src = [f for f in os.listdir(events_dir) if f.endswith(".parquet")]
    df = spark.read.parquet(events_dir)
    jan_first_half = df.where(F.dayofmonth("ts") <= 15)
    jan_second_half = df.where(F.dayofmonth("ts") > 15)
    jan_first_half.coalesce(1).write.mode("overwrite").parquet(inc_dir + "/batch")
    for f in os.listdir(inc_dir + "/batch"):
        if f.endswith(".parquet"):
            shutil.move(f"{inc_dir}/batch/{f}", f"{inc_dir}/{f}")
    shutil.rmtree(inc_dir + "/batch")

    stream = read_stream(spark, inc_dir)
    agg = tumbling_window_agg(stream, window="1 day", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("inc_test")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    n1 = spark.table("inc_test").count()

    jan_second_half.coalesce(1).write.mode("overwrite").parquet(inc_dir + "/batch2")
    for f in os.listdir(inc_dir + "/batch2"):
        if f.endswith(".parquet"):
            shutil.move(f"{inc_dir}/batch2/{f}", f"{inc_dir}/b2_{f}")
    shutil.rmtree(inc_dir + "/batch2")
    q.processAllAvailable()
    n2 = spark.table("inc_test").count()
    q.stop()
    assert n2 > n1 > 0


def test_stream_dedup_drops_replayed_events(spark, events_dir, tmp_path):
    """The same file content arriving twice (replay) must not double
    output counts: dropDuplicates state absorbs the second delivery."""
    import glob

    from ubw_spark.streaming.stages import stream_dedup

    inc_dir = str(tmp_path / "replay")
    os.makedirs(inc_dir)
    src = glob.glob(f"{events_dir}/*.parquet")[0]
    shutil.copy(src, f"{inc_dir}/first.parquet")

    stream = read_stream(spark, inc_dir)
    deduped = stream_dedup(stream, ["event_id"], watermark="365 days")
    counts = deduped.groupBy().count()
    q = (
        counts.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    n1 = spark.table("dedup_test").collect()[0]["count"]
    # replay: same events, new file
    shutil.copy(src, f"{inc_dir}/replayed.parquet")
    q.processAllAvailable()
    n2 = spark.table("dedup_test").collect()[0]["count"]
    q.stop()
    assert n1 > 0 and n2 == n1, f"replay changed count: {n1} -> {n2}"


def test_stream_stream_interval_join(spark, events_dir):
    """Stream-stream join with watermarks: purchases join clicks of the
    same user within the preceding hour — both sides incremental, state
    bounded by watermark + interval condition.  Same stage function,
    stream and batch, equal results."""
    from ubw_spark.streaming import stream_stream_interval_join

    def sides(df):
        p = df.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"), "user_id",
            F.col("ts").alias("p_ts"),
        )
        c = df.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("c_id"), "user_id",
            F.col("ts").alias("c_ts"),
        )
        return p, c

    p, c = sides(read_stream(spark, events_dir))
    joined = stream_stream_interval_join(
        p, c, key="user_id", left_ts="p_ts", right_ts="c_ts", lower="1 hour"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    stream_n = spark.table("ss_join").count()
    q.stop()

    bp, bc = sides(spark.read.parquet(events_dir))
    batch_n = stream_stream_interval_join(
        bp, bc, key="user_id", left_ts="p_ts", right_ts="c_ts", lower="1 hour"
    ).count()
    assert stream_n == batch_n > 0


def test_foreachbatch_upsert_sink(spark, events_dir, tmp_path):
    """Incremental CDC: the stream upserts per-user latest values into a
    parquet target; replays/new batches update rather than append."""
    from ubw_spark.streaming.stages import write_stream_upsert

    target = str(tmp_path / "user_state")
    ckpt = str(tmp_path / "ckpt")
    stream = read_stream(spark, events_dir).select(
        "user_id", "event_id", "value", "ts"
    )
    q = write_stream_upsert(stream, target, ckpt, keys=["user_id"])
    q.awaitTermination(120)
    out = spark.read.parquet(target)
    users = out.count()
    batch_users = spark.read.parquet(events_dir).select("user_id").distinct().count()
    assert users == batch_users  # one row per key, not per event


def test_stream_funnel_equals_batch(spark, events_dir):
    """Funnel phase-1 state is a streaming agg built from the SAME
    aggregate expressions as the batch query; the global summary runs
    over the sink.  Stream == batch, end to end."""
    from ubw_spark.queries.tokens_funnel import funnel_summary, funnel_user_aggs
    from ubw_spark.streaming import stream_funnel_user_state

    stream = read_stream(spark, events_dir)
    state = run_to_memory(
        stream_funnel_user_state(stream), "funnel_state"
    )()
    got = funnel_summary(state).collect()[0]

    per_user = (
        batch_events(spark, events_dir)
        .groupBy("user_id")
        .agg(*funnel_user_aggs())
    )
    want = funnel_summary(per_user).collect()[0]
    assert tuple(got) == tuple(want)
    assert got["n_users"] > 0 and got["saw_view"] > 0


def test_stream_retention_equals_batch_across_batches(spark, events_dir, tmp_path):
    """Retention cohorts maintained incrementally across TWO micro-
    batches (files arriving in sequence) converge to the batch answer —
    including users whose cohort day only arrives in the second file."""
    from ubw_spark.streaming import stateful_retention_state
    from pyspark.sql import Window as W

    inc_dir = str(tmp_path / "ret_inc")
    os.makedirs(inc_dir)
    df = spark.read.parquet(events_dir)
    # split so SOME users' earliest day is in the SECOND file: stream in
    # reverse day order (second half of the month first)
    for i, part in enumerate(
        [df.where(F.dayofmonth("ts") > 15), df.where(F.dayofmonth("ts") <= 15)]
    ):
        staging = f"{inc_dir}/.b{i}"
        part.coalesce(1).write.mode("overwrite").parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                shutil.move(f"{staging}/{f}", f"{inc_dir}/b{i}_{f}")
        shutil.rmtree(staging)
        if i == 0:
            stream = read_stream(spark, inc_dir, maxFilesPerTrigger=1)
            q = (
                stateful_retention_state(stream)
                .writeStream.format("memory")
                .queryName("ret_state")
                .outputMode("update")
                .start()
            )
        q.processAllAvailable()
    q.stop()

    # latest state per user: n_days grows monotonically
    snap = spark.table("ret_state")
    w = W.partitionBy("user_id").orderBy(F.col("n_days").desc())
    latest = (
        snap.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
    )
    got = {
        tuple(r)
        for r in (
            latest.select(
                F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
                F.explode("offsets").alias("day_offset"),
            )
            .groupBy("cohort", "day_offset")
            .agg(F.count(F.lit(1)).alias("active_users"))
            .collect()
        )
    }

    # batch reference on the same data (events_retention_cohorts logic)
    ev = df.select("user_id", F.col("ts").cast("date").alias("day"))
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    want = {
        tuple(r)
        for r in (
            ev.join(firsts, "user_id")
            .select(
                "user_id",
                F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
                F.datediff("day", "cohort_day").alias("day_offset"),
            )
            .where(F.col("day_offset") <= 7)
            .distinct()
            .groupBy("cohort", "day_offset")
            .agg(F.count(F.lit(1)).alias("active_users"))
            .collect()
        )
    }
    assert got == want and len(want) > 0


def test_stream_sampling_filter_equals_batch(spark, events_dir):
    """The curation/sampling filters are stateless row predicates, so
    they apply to streams unchanged — membership on a stream equals
    membership on the same files in batch (no state, no watermark)."""
    from ubw_spark.operators.splits import stratified_sample

    stream = read_stream(spark, events_dir)
    kept = stratified_sample(
        stream, "event_type", "event_id",
        {"view": 0.5, "click": 0.25}, default_fraction=0.1,
    )
    result = run_to_memory(
        kept.select("event_id"), "sample_stream", output_mode="append"
    )()
    got = {r["event_id"] for r in result.collect()}
    want = {
        r["event_id"]
        for r in stratified_sample(
            batch_events(spark, events_dir), "event_type", "event_id",
            {"view": 0.5, "click": 0.25}, default_fraction=0.1,
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_incremental_dedup_probe_and_append(spark, sf_dir, tmp_path):
    """The production incremental-dedup loop over a stream: each
    micro-batch probes the persisted LSH index, flags near-dups, and
    appends only the novel docs back into the index — so batch 2 dedups
    against batch 1's survivors without any corpus recompute.  Proves
    the probe+append cycle end-to-end: a batch-2 near-copy of a batch-1
    doc is flagged AGAINST THE APPENDED DOC, which only works if the
    append between micro-batches landed."""
    from ubw_spark.operators.lsh_index import (
        append_minhash_batch,
        probe_minhash_index,
        write_minhash_index,
    )

    idx = str(tmp_path / "idx")
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    write_minhash_index(corpus, "doc_id", "text", idx)

    doc0_near = corpus.where(F.col("doc_id") == 0).select(
        F.lit(100000).cast("bigint").alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 6)").alias("text"),
    )
    novel_text = (
        "zebra quartz umbrella falcon nimbus oracle pylon quasar "
        "rivet sonar tundra vortex walrus xenon yonder"
    )
    batch1 = doc0_near.unionByName(
        spark.createDataFrame([(100001, novel_text)], "doc_id bigint, text string")
    )
    batch2 = spark.createDataFrame(
        [
            (100002, novel_text.rsplit(" ", 1)[0]),  # near-copy of 100001
            (100003, "entirely different closing words about window shuffles"),
        ],
        "doc_id bigint, text string",
    )

    inc = str(tmp_path / "incoming")
    os.makedirs(inc)

    def arrive(df, name):
        staging = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                shutil.move(f"{staging}/{f}", f"{inc}/{name}.parquet")
        shutil.rmtree(staging)

    flagged: dict[int, int] = {}  # probe_id -> corpus_id it matched

    def handle(bdf, _bid):
        pairs = probe_minhash_index(
            bdf.sparkSession, idx, bdf, "doc_id", "text", threshold=0.5
        ).collect()
        for r in pairs:
            flagged[r["probe_id"]] = r["corpus_id"]
        dup_ids = [r["probe_id"] for r in pairs]
        novel = bdf.where(~F.col("doc_id").isin(dup_ids))
        append_minhash_batch(novel, "doc_id", "text", idx)

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(inc)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        arrive(batch1, "b1")
        q.processAllAvailable()
        assert flagged.get(100000) == 0  # near-copy of corpus doc 0
        assert 100001 not in flagged  # novel → appended

        arrive(batch2, "b2")
        q.processAllAvailable()
        # flagged against the doc APPENDED in batch 1, not the corpus
        assert flagged.get(100002) == 100001
        assert 100003 not in flagged
    finally:
        q.stop()


def test_stream_incremental_substring_decontamination(spark, tmp_path):
    """Same foreachBatch loop over the EXACT-substring gram index
    (operators/spans.py): each micro-batch probes membership against
    the bucketed gram table, drops contaminated docs (dup_fraction
    above threshold), and appends only clean docs' grams — batch 2's
    copy of a batch-1 doc is flagged against the APPENDED grams."""
    from ubw_spark.operators.spans import (
        append_gram_index,
        probe_gram_index,
        write_gram_index,
    )

    tbl = "gram_idx_stream_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    corpus_text = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima"
    )
    novel_text = (
        "mike november oscar papa quebec romeo sierra tango uniform "
        "victor whiskey xray"
    )
    other_text = (
        "one swift amber cloud drifts over nine quiet harbor towns "
        "tonight again"
    )
    try:
        write_gram_index(
            spark.createDataFrame(
                [(1, corpus_text)], "doc_id bigint, text string"
            ),
            "doc_id", "text", tbl, k=4,
        )

        inc = str(tmp_path / "ginc")
        os.makedirs(inc)

        def arrive(rows, name):
            df = spark.createDataFrame(rows, "doc_id bigint, text string")
            staging = str(tmp_path / f"gstage_{name}")
            df.coalesce(1).write.mode("overwrite").parquet(staging)
            for f in os.listdir(staging):
                if f.endswith(".parquet"):
                    shutil.move(f"{staging}/{f}", f"{inc}/{name}.parquet")
            shutil.rmtree(staging)

        fractions: dict[int, float] = {}

        def handle(bdf, _bid):
            rep = probe_gram_index(
                bdf.sparkSession, bdf, tbl, "doc_id", "text", k=4
            ).collect()
            for r in rep:
                fractions[r["doc_id"]] = r["dup_fraction"]
            clean_ids = [
                r["doc_id"] for r in rep if r["dup_fraction"] < 0.5
            ]
            append_gram_index(
                bdf.sparkSession,
                bdf.where(F.col("doc_id").isin(clean_ids)),
                tbl, "doc_id", "text", k=4,
            )

        stream = spark.readStream.schema(
            "doc_id bigint, text string"
        ).parquet(inc)
        q = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", str(tmp_path / "gckpt"))
            .start()
        )
        try:
            arrive([(10, corpus_text), (11, novel_text)], "b1")
            q.processAllAvailable()
            assert fractions[10] == 1.0  # copy of indexed corpus doc
            assert fractions[11] == 0.0  # novel → grams appended

            arrive([(20, novel_text), (21, other_text)], "b2")
            q.processAllAvailable()
            assert fractions[20] == 1.0  # flagged vs batch-1 append
            assert fractions[21] == 0.0
        finally:
            q.stop()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_stream_quality_gate_rejects_bad_batches(spark, tmp_path):
    """foreachBatch data-contract gate: each micro-batch runs the
    single-scan expectations report and only batches with zero
    violations land in the target — the write-pipeline gating pattern
    the validate verb exists for."""
    from ubw_spark.operators.expectations import validate_expectations

    inc = str(tmp_path / "incoming")
    target = str(tmp_path / "accepted")
    os.makedirs(inc)
    good = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k bigint, s string, v double"
    )
    bad = spark.createDataFrame(
        [(3, "c", 30.0), (3, None, -5.0)], "k bigint, s string, v double"
    )  # duplicate key, NULL s, v out of range

    def arrive(df, name):
        staging = str(tmp_path / f"st_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                shutil.move(f"{staging}/{f}", f"{inc}/{name}.parquet")
        shutil.rmtree(staging)

    rejected: list[int] = []

    def gate(bdf, bid):
        rep = validate_expectations(bdf, [
            {"kind": "not_null", "column": "s"},
            {"kind": "unique", "column": "k"},
            {"kind": "in_range", "column": "v", "lo": 0.0, "hi": 100.0},
        ])
        if rep.where(~F.col("passed")).count():
            rejected.append(bid)
            return
        bdf.write.mode("append").parquet(target)

    stream = spark.readStream.schema("k bigint, s string, v double").parquet(inc)
    q = (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        arrive(good, "b1")
        q.processAllAvailable()
        arrive(bad, "b2")
        q.processAllAvailable()
    finally:
        q.stop()
    accepted = {r["k"] for r in spark.read.parquet(target).collect()}
    assert accepted == {1, 2}  # bad batch fully rejected
    assert len(rejected) == 1


def test_stream_static_enrich_matches_batch_and_broadcasts(spark, events_dir):
    """Stream-static dim enrichment: streamed result == the same join
    done in batch, and the dim side is a broadcast join (a per-batch
    shuffle against a static small table is the anti-pattern)."""
    from ubw_spark.streaming import read_stream, run_to_memory, stream_static_enrich

    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"),
         ("purchase", "revenue"), ("error", "ops")],
        "event_type string, category string",
    )
    stream = read_stream(spark, events_dir)
    enriched = stream_static_enrich(
        stream.select("event_id", "event_type"), dim, on="event_type"
    )
    got = run_to_memory(
        enriched.groupBy("category").count(), "enrich_test"
    )()
    want = (
        batch_events(spark, events_dir)
        .join(dim, "event_type", "left")
        .groupBy("category")
        .count()
    )
    g = {(r.category, r["count"]) for r in got.collect()}
    w = {(r.category, r["count"]) for r in want.collect()}
    assert g == w and len(w) >= 2

    # plan check on the batch twin (streaming plans are per-batch, the
    # join strategy is the same): dim side must broadcast
    from ubw_spark.plans.inspect import has_broadcast_join

    assert has_broadcast_join(
        stream_static_enrich(
            batch_events(spark, events_dir).select("event_id", "event_type"),
            dim, on="event_type",
        )
    )


def test_stream_incremental_ann_ingest_dedup_and_append(spark, sf_dir, tmp_path):
    """The third index kind run incrementally: each micro-batch of
    embeddings probes the persisted IVF store for an existing
    near-identical vector (cos >= 0.999), drops matches, and appends
    only novel vectors — batch 2's replay of a batch-1 vector is caught
    against the APPENDED store, exactly like the LSH and gram loops."""
    from ubw_spark.operators.ivf import append_ivf_batch, probe_ivf_index
    from ubw_spark.operators.ivf import write_ivf_index
    from ubw_spark.queries.scale_ops import seed_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    cents = seed_ivf_centroids(emb, k=4)
    idx = str(tmp_path / "aivf")
    write_ivf_index(emb.where(F.col("vec_id") < 40), cents, idx)

    base = {
        r["vec_id"]: r["embedding"]
        for r in emb.where(F.col("vec_id").isin(0, 45)).collect()
    }
    inc = str(tmp_path / "ainc")
    os.makedirs(inc)

    def arrive(rows, name):
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        staging = str(tmp_path / f"astage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                shutil.move(f"{staging}/{f}", f"{inc}/{name}.parquet")
        shutil.rmtree(staging)

    appended: dict[int, bool] = {}

    def handle(bdf, _bid):
        sp = bdf.sparkSession
        hits = probe_ivf_index(
            sp, idx, bdf, cents, k=1, nprobe=4
        ).where(F.col("cos_sim") >= 0.999)
        dup_ids = [r["qid"] for r in hits.collect()]
        batch_ids = [r["vec_id"] for r in bdf.select("vec_id").collect()]
        for i in batch_ids:
            appended[i] = i not in dup_ids
        novel = bdf.where(~F.col("vec_id").isin(dup_ids))
        append_ivf_batch(novel, cents, idx)

    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<float>"
    ).parquet(inc)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ackpt"))
        .start()
    )
    try:
        # batch 1: a replay of indexed vec 0 (dup) + unindexed vec 45 (novel)
        arrive(
            [(100, base[0]), (101, base[45])], "b1"
        )
        q.processAllAvailable()
        assert appended[100] is False  # replay of the indexed corpus
        assert appended[101] is True   # novel -> appended

        # batch 2: replay of batch-1's APPENDED vector -> now a dup
        arrive([(200, base[45])], "b2")
        q.processAllAvailable()
        assert appended[200] is False
    finally:
        q.stop()


def test_stream_incremental_bloom_decontamination(spark, tmp_path):
    """The foreachBatch loop over the BLOOM store — the cheapest of the
    three incremental decontamination kinds (map-only probe, OR-merge
    append): each micro-batch probes the persisted filter, drops docs
    with any benchmark gram hit, and folds the clean docs' grams into
    the store.  A batch-2 copy of a batch-1 clean doc is flagged
    against the APPENDED filter — same semantics as the LSH and gram
    loops, at a fraction of the shuffle cost."""
    from ubw_spark.operators.bloom import (
        append_bloom_store,
        probe_bloom_store,
        write_bloom_store,
    )

    path = str(tmp_path / "bloom_store")
    eval_text = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima"
    )
    novel_text = (
        "mike november oscar papa quebec romeo sierra tango uniform "
        "victor whiskey xray"
    )
    other_text = (
        "one swift amber cloud drifts over nine quiet harbor towns "
        "tonight again"
    )
    write_bloom_store(
        spark.createDataFrame([(1, eval_text)], "doc_id bigint, text string"),
        "text", path, n=3,
    )

    inc = str(tmp_path / "binc")
    os.makedirs(inc)

    def arrive(rows, name):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        staging = str(tmp_path / f"bstage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                shutil.move(f"{staging}/{f}", f"{inc}/{name}.parquet")
        shutil.rmtree(staging)

    hits: dict[int, int] = {}

    def handle(bdf, _bid):
        rep = probe_bloom_store(
            bdf.sparkSession, bdf, "doc_id", "text", path
        ).collect()
        for r in rep:
            hits[r["doc_id"]] = r["hit_grams"]
        clean_ids = [r["doc_id"] for r in rep if r["hit_grams"] == 0]
        append_bloom_store(
            bdf.sparkSession,
            bdf.where(F.col("doc_id").isin(clean_ids)),
            "text", path,
        )

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(inc)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "bckpt"))
        .start()
    )
    try:
        arrive([(10, eval_text), (11, novel_text)], "b1")
        q.processAllAvailable()
        assert hits[10] > 0  # copy of the eval doc -> flagged
        assert hits[11] == 0  # novel -> grams folded into the filter

        arrive([(20, novel_text), (21, other_text)], "b2")
        q.processAllAvailable()
        assert hits[20] > 0  # flagged vs the batch-1 OR-merge append
        assert hits[21] == 0
    finally:
        q.stop()


def test_stream_incremental_term_index_search(spark, tmp_path):
    """foreachBatch loop over the TERM (BM25) index: each micro-batch
    of documents is appended to the persisted inverted index, and a
    standing query re-asked after each batch sees the new docs ranked
    — the live-search ingest loop.  Scores after streaming appends
    must equal a from-scratch index over the same corpus (df/N/avgdl
    all exact-merged via the stats sidecar)."""
    from ubw_spark.operators.retrieval import (
        append_term_batch,
        bm25_topk,
        probe_term_index,
        write_term_index,
    )

    path = str(tmp_path / "term_store")
    seed = [(1, "hash join on the build side"), (2, "sort merge join")]
    write_term_index(
        spark.createDataFrame(seed, "doc_id bigint, text string"),
        "doc_id", "text", path,
    )

    inc = str(tmp_path / "tinc")
    os.makedirs(inc)

    def arrive(rows, name):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        staging = str(tmp_path / f"tstage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                shutil.move(f"{staging}/{f}", f"{inc}/{name}.parquet")
        shutil.rmtree(staging)

    def handle(bdf, bid):
        # foreachBatch is at-least-once: the batch_id high-water mark
        # in the stats sidecar makes a redelivered batch a no-op
        append_term_batch(bdf, "doc_id", "text", path, batch_id=bid)

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(inc)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "tckpt"))
        .start()
    )
    b1 = [(10, "hash join hash join hash join"), (11, "scan and filter")]
    b2 = [(20, "a slow hash aggregate"), (21, "broadcast hash join wins")]
    try:
        arrive(b1, "b1")
        q.processAllAvailable()
        top = probe_term_index(spark, path, "hash join", k=5).collect()
        # the tf-stuffed batch-1 doc must now lead the ranking
        assert top[0]["doc_id"] == 10

        arrive(b2, "b2")
        q.processAllAvailable()
    finally:
        q.stop()

    all_docs = spark.createDataFrame(
        seed + b1 + b2, "doc_id bigint, text string"
    )
    got = sorted(
        tuple(r)
        for r in probe_term_index(spark, path, "hash join", k=10).collect()
    )
    want = sorted(
        tuple(r)
        for r in bm25_topk(all_docs, "doc_id", "text", "hash join", k=10)
        .collect()
    )
    assert got == want


def test_stream_incremental_cms_frequency(spark, tmp_path):
    """foreachBatch loop over the CMS store — streaming frequency
    tracking with fixed state: each micro-batch of documents folds its
    token sketch into the persisted store (ADD-merge, cost ∝ batch +
    cells), and a standing heavy-hitter probe after each batch reflects
    everything seen so far.  Final estimates must equal a one-shot
    sketch over the concatenated batches (add-merge is exact)."""
    from ubw_spark.functions.text import tokens as _tok
    from ubw_spark.operators.sketches import (
        append_cms_batch,
        cms_build,
        load_cms,
        probe_cms_store,
        write_cms_store,
    )

    path = str(tmp_path / "cms_store")
    empty = spark.createDataFrame([], "word string")
    write_cms_store(cms_build(empty, "word", width=32, depth=3), path)

    inc = str(tmp_path / "cinc")
    os.makedirs(inc)

    def arrive(rows, name):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        staging = str(tmp_path / f"cstage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                shutil.move(f"{staging}/{f}", f"{inc}/{name}.parquet")
        shutil.rmtree(staging)

    seen: list[tuple[int, str]] = []
    est_after: dict[int, int] = {}

    def handle(bdf, bid):
        words = bdf.select(F.explode(_tok(F.col("text"))).alias("word"))
        # batch_id makes the ADD-merge replay-safe: foreachBatch is
        # at-least-once, and re-folding a delivered batch would
        # double-count (OR-merge bloom is naturally idempotent; ADD
        # needs the high-water mark)
        append_cms_batch(bdf.sparkSession, words, "word", path, batch_id=bid)
        probe = bdf.sparkSession.createDataFrame([("ping",)], "word string")
        r = probe_cms_store(
            bdf.sparkSession, probe, "word", path
        ).first()
        est_after[len(est_after)] = r["est"]

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(inc)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "cckpt"))
        .start()
    )
    b1 = [(1, "ping pong ping net"), (2, "serve ping return")]
    b2 = [(3, "ping ping rally"), (4, "net serve fault")]
    try:
        arrive(b1, "b1")
        q.processAllAvailable()
        arrive(b2, "b2")
        q.processAllAvailable()
    finally:
        q.stop()
    seen = b1 + b2
    # monotone: later batches can only raise an estimate
    assert est_after[0] >= 3  # 'ping' x3 in batch 1
    assert est_after[1] >= est_after[0]
    # exactness of the streamed accumulation: store == one-shot sketch
    whole = cms_build(
        spark.createDataFrame(seen, "doc_id bigint, text string").select(
            F.explode(_tok(F.col("text"))).alias("word")
        ),
        "word", width=32, depth=3,
    )
    stored, _ = load_cms(spark, path)
    assert stored.exceptAll(whole).count() == 0
    assert whole.exceptAll(stored).count() == 0
    # replaying an already-folded micro-batch is a no-op (at-least-once
    # delivery must not double-count)
    replay = spark.createDataFrame(b1, "doc_id bigint, text string").select(
        F.explode(_tok(F.col("text"))).alias("word")
    )
    append_cms_batch(spark, replay, "word", path, batch_id=0)
    after, _ = load_cms(spark, path)
    assert after.exceptAll(whole).count() == 0
    assert whole.exceptAll(after).count() == 0


def test_stream_materialized_view_maintenance(spark, tmp_path):
    """foreachBatch loop over the persisted aggregate store
    (operators/incremental.py) — a STREAMING MATERIALIZED VIEW: each
    micro-batch of events folds in as an all-insert delta (cost ∝
    batch + |groups|, history never replayed), the batch_id high-water
    mark makes redelivery a no-op (ADD-merge is not idempotent), and
    the final state must equal a from-scratch aggregate of everything
    that arrived — bit-for-bit, since the measures are integer cents."""
    from ubw_spark.operators.incremental import (
        fold_batch_into_agg_store,
        grouped_agg,
        load_agg_store,
        write_agg_store,
    )

    def measures():
        return {
            "cnt": F.lit(1).cast("long"),
            "cents": F.round(F.col("value") * 100, 0).cast("long"),
        }

    path = str(tmp_path / "agg_store")
    empty = spark.createDataFrame([], "kind string, value double")
    write_agg_store(grouped_agg(empty, ["kind"], measures()), path)

    inc = str(tmp_path / "minc")
    os.makedirs(inc)

    def arrive(rows, name):
        df = spark.createDataFrame(rows, "kind string, value double")
        staging = str(tmp_path / f"mstage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                shutil.move(f"{staging}/{f}", f"{inc}/{name}.parquet")
        shutil.rmtree(staging)

    def handle(bdf, bid):
        delta = bdf.withColumn("op", F.lit(1))
        fold_batch_into_agg_store(
            bdf.sparkSession, delta, ["kind"], measures(), path,
            count_col="cnt", batch_id=bid,
        )

    stream = spark.readStream.schema("kind string, value double").parquet(inc)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "mckpt"))
        .start()
    )
    b1 = [("a", 1.25), ("a", 2.00), ("b", 0.50)]
    b2 = [("a", 0.75), ("c", 3.00)]
    try:
        arrive(b1, "b1")
        q.processAllAvailable()
        arrive(b2, "b2")
        q.processAllAvailable()
    finally:
        q.stop()

    state, params = load_agg_store(spark, path)
    got = {r["kind"]: (r["cnt"], r["cents"]) for r in state.collect()}
    everything = spark.createDataFrame(b1 + b2, "kind string, value double")
    want = {
        r["kind"]: (r["cnt"], r["cents"])
        for r in grouped_agg(everything, ["kind"], measures()).collect()
    }
    assert got == want == {"a": (3, 400), "b": (1, 50), "c": (1, 300)}

    # redelivery of an already-folded batch id is a no-op
    replay = spark.createDataFrame(b2, "kind string, value double")
    fold_batch_into_agg_store(
        spark, replay.withColumn("op", F.lit(1)), ["kind"], measures(),
        path, count_col="cnt", batch_id=params["last_batch_id"],
    )
    state2, _ = load_agg_store(spark, path)
    assert {
        r["kind"]: (r["cnt"], r["cents"]) for r in state2.collect()
    } == want


def test_stream_quantile_hist_store_ingest(spark, tmp_path):
    """foreachBatch loop over the QUANTILE-HISTOGRAM store — the
    metric-monitoring shape: each micro-batch of order values folds
    into the persisted cells via the replay-safe batch_id path, and
    after every batch the store's quantile estimates equal the
    in-memory estimates over everything ingested so far (ADD-merge ==
    build-on-union, cell for cell)."""
    from ubw_spark.operators.qsketch import (
        append_hist_batch,
        hist_build,
        hist_quantiles,
        load_hist,
        probe_hist_quantiles,
        write_hist_store,
    )

    path = str(tmp_path / "qh_store")
    lo, hi, nb = 0, 1000, 20
    # seed the store with an empty histogram (no rows yet)
    empty = spark.createDataFrame([], "v long")
    write_hist_store(hist_build(empty, "v", lo=lo, hi=hi, nbins=nb), path)

    inc = str(tmp_path / "qinc")
    os.makedirs(inc)

    def arrive(vals, name):
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        staging = str(tmp_path / f"qstage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                shutil.move(f"{staging}/{f}", f"{inc}/{name}.parquet")
        shutil.rmtree(staging)

    def handle(bdf, bid):
        append_hist_batch(bdf.sparkSession, bdf, "v", path, batch_id=bid)

    stream = spark.readStream.schema("v long").parquet(inc)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "qckpt"))
        .start()
    )
    b1 = list(range(0, 500, 5))    # 100 values in [0, 500)
    b2 = list(range(500, 1000, 5))  # 100 values in [500, 1000)
    try:
        arrive(b1, "b1")
        q.processAllAvailable()
        got1 = {
            r["q_milli"]: r["est"]
            for r in probe_hist_quantiles(spark, path, [500]).collect()
        }
        mem1 = hist_build(
            spark.createDataFrame([(v,) for v in b1], "v long"),
            "v", lo=lo, hi=hi, nbins=nb,
        )
        want1 = {
            r["q_milli"]: r["est"]
            for r in hist_quantiles(mem1, [500]).collect()
        }
        assert got1 == want1

        arrive(b2, "b2")
        q.processAllAvailable()
        cells, p = load_hist(spark, path)
        assert sum(r["cnt"] for r in cells.collect()) == 200
        assert p["last_batch_id"] is not None
        mem = hist_build(
            spark.createDataFrame([(v,) for v in b1 + b2], "v long"),
            "v", lo=lo, hi=hi, nbins=nb,
        )
        got = {
            r["q_milli"]: r["est"]
            for r in probe_hist_quantiles(spark, path, [500, 900]).collect()
        }
        want = {
            r["q_milli"]: r["est"]
            for r in hist_quantiles(mem, [500, 900]).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_stream_agg_store_kill_and_replay(spark, tmp_path):
    """VERDICT r8 #7 — the failure path of the streaming materialized
    view: the handler folds batch 0 into the store and then CRASHES
    before foreachBatch returns, so the checkpoint never records the
    commit.  On restart Structured Streaming redelivers batch 0 with
    the SAME batch_id — exactly the at-least-once double-count window
    — and the sidecar high-water mark must turn the redelivery into a
    no-op.  maintained == recomputed proves the ADD-merge store is
    exactly-once end-to-end, not just under manual replay."""
    from ubw_spark.operators.incremental import (
        fold_batch_into_agg_store,
        grouped_agg,
        load_agg_store,
        write_agg_store,
    )

    def measures():
        return {
            "cnt": F.lit(1).cast("long"),
            "cents": F.round(F.col("value") * 100, 0).cast("long"),
        }

    path = str(tmp_path / "agg_store_kr")
    empty = spark.createDataFrame([], "kind string, value double")
    write_agg_store(grouped_agg(empty, ["kind"], measures()), path)

    inc = str(tmp_path / "krinc")
    os.makedirs(inc)

    def arrive(rows, name):
        df = spark.createDataFrame(rows, "kind string, value double")
        staging = str(tmp_path / f"krstage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                shutil.move(f"{staging}/{f}", f"{inc}/{name}.parquet")
        shutil.rmtree(staging)

    crash_armed = {"on": True}

    def handle(bdf, bid):
        delta = bdf.withColumn("op", F.lit(1))
        fold_batch_into_agg_store(
            bdf.sparkSession, delta, ["kind"], measures(), path,
            count_col="cnt", batch_id=bid,
        )
        if bid == 0 and crash_armed["on"]:
            crash_armed["on"] = False
            # the fold landed (manifest flipped) but foreachBatch dies
            # before the streaming commit — the redelivery window
            raise RuntimeError("injected crash between fold and commit")

    ckpt = str(tmp_path / "krckpt")

    def start():
        return (
            spark.readStream.schema("kind string, value double")
            .parquet(inc)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .start()
        )

    b1 = [("a", 1.25), ("a", 2.00), ("b", 0.50)]
    b2 = [("a", 0.75), ("c", 3.00)]
    q = start()
    arrive(b1, "b1")
    with pytest.raises(Exception):  # the injected crash kills the query
        q.processAllAvailable()
    q.stop()
    # batch 0 folded exactly once before the crash
    _, params = load_agg_store(spark, path)
    assert params["last_batch_id"] == 0

    q = start()  # restart from the same checkpoint → batch 0 REDELIVERED
    try:
        q.processAllAvailable()  # replay of batch 0: high-water no-op
        arrive(b2, "b2")
        q.processAllAvailable()
    finally:
        q.stop()

    state, params = load_agg_store(spark, path)
    assert params["last_batch_id"] == 1
    got = {r["kind"]: (r["cnt"], r["cents"]) for r in state.collect()}
    everything = spark.createDataFrame(b1 + b2, "kind string, value double")
    want = {
        r["kind"]: (r["cnt"], r["cents"])
        for r in grouped_agg(everything, ["kind"], measures()).collect()
    }
    assert got == want == {"a": (3, 400), "b": (1, 50), "c": (1, 300)}


def test_stream_tumbling_watermark_out_of_order_is_real(spark, sf_dir):
    """The gated watermark query's value rests on its input being
    genuinely out-of-order: the demoted slice (crc32(event_id)%7==0)
    must be non-empty at every sf, and some demoted event must be OLDER
    than a native event of its own arrival slot or earlier."""
    from ubw_spark.queries.registry import table

    # table(), not raw spark.read: the registry choke-point normalizes
    # the two shipped ts encodings (TIMESTAMP(NANOS) vs micros), same
    # as the production query under test
    ev = table(spark, sf_dir, "events")
    lo_day = ev.agg(F.min("ts")).first()[0].date()
    chunk = (F.datediff(F.col("ts"), F.lit(lo_day)) / F.lit(10)).cast("int")
    demoted = ev.where(F.crc32(F.col("event_id").cast("string")) % 7 == 0)
    n_late = demoted.count()
    assert n_late > 0
    # a demoted chunk-c event arrives in slot c+1, AFTER slot c's
    # natives — all of chunk c's non-demoted events, which include
    # NEWER timestamps with probability ~1 at any sf; assert directly:
    per_chunk = (
        ev.withColumn("__c", chunk)
        .withColumn(
            "__late", F.crc32(F.col("event_id").cast("string")) % 7 == 0
        )
        .groupBy("__c")
        .agg(
            F.max(F.when(~F.col("__late"), F.col("ts"))).alias("max_native"),
            F.min(F.when(F.col("__late"), F.col("ts"))).alias("min_late"),
        )
        .collect()
    )
    assert any(
        r["min_late"] is not None
        and r["max_native"] is not None
        and r["min_late"] < r["max_native"]
        for r in per_chunk
    ), "no demoted event is actually older than a same-slot-or-earlier native"


def test_stream_tumbling_watermark_matches_batch(spark, sf_dir):
    """stream(out-of-order, watermarked, append) == batch, row for row
    — the pytest twin of the registered oracle check."""
    from ubw_spark.queries import REGISTRY

    streamed = REGISTRY["stream_tumbling_watermark"].fn(spark, sf_dir)
    batch = REGISTRY["events_tumbling_hourly"].fn(spark, sf_dir)
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_stream_session_window_matches_batch(spark, sf_dir):
    """Stateful streaming sessionization (merging session_window state
    across out-of-order micro-batches) == the batch gap-rule twin,
    row for row — the pytest twin of the registered oracle check."""
    from ubw_spark.queries import REGISTRY

    streamed = REGISTRY["stream_session_window_stateful"].fn(spark, sf_dir)
    batch = (
        REGISTRY["events_sessionize"]
        .fn(spark, sf_dir)
        .select("user_id", "session_start", "n_events", "session_cents")
    )
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def _session_stream_agg(spark, incoming, schema):
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(incoming)
    )
    return (
        stream.withWatermark("ts", "10 days")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") * 100, 0)
            .cast("long")
            .alias("session_cents"),
        )
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            "n_events",
            "session_cents",
        )
    )


def test_stream_session_kill_and_replay_exactly_once(spark, sf_dir, tmp_path):
    """Kill-and-replay exactly-once (VERDICT r12 #1): the stateful
    session stream is STOPPED mid-run after a few committed
    micro-batches (simulating an executor/driver loss), restarted from
    the same checkpoint, and must still produce exactly the batch
    answer — no dropped sessions (state restored), no duplicated
    appends (file-sink transaction log makes batch replay idempotent).
    A third restart with no new data must append nothing."""
    import time

    from ubw_spark.queries.events import _stage_out_of_order_arrivals
    from ubw_spark.queries.registry import table

    ev = table(spark, sf_dir, "events")
    base = str(tmp_path / "killreplay")
    incoming = _stage_out_of_order_arrivals(spark, ev, base)
    ckpt, sink = f"{base}/ckpt", f"{base}/out"
    files = sorted(os.listdir(incoming))
    assert len(files) >= 4, "need several micro-batches to kill between"
    # hold back the 2 sentinel flush files + the last data chunk: no
    # matter how fast the early runs go, they CANNOT finalize every
    # session — the restart provably carries open-session state forward
    held = [f for f in files if f.startswith("s")] + [
        f for f in files if f.startswith("b")
    ][-1:]
    holding = str(tmp_path / "holding")
    os.makedirs(holding)
    for f in held:
        os.rename(f"{incoming}/{f}", f"{holding}/{f}")  # rename keeps mtime

    def start():
        return (
            _session_stream_agg(spark, incoming, ev.schema)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # run 1: kill mid-run — stop() as soon as the first micro-batch
    # reports progress (best-effort; the held-back files guarantee
    # incompleteness even if the stop lands after the last present file)
    q = start()
    deadline = time.time() + 120
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.1)
    q.stop()
    q.awaitTermination(60)

    # run 2: restart from the same checkpoint; must resume (skip
    # committed batches, restore session state) and finish what's there
    q2 = start()
    assert q2.awaitTermination(240), "resumed run did not finish"

    # run 3: late data arrives AFTER the restart cycle — the held-back
    # chunk and sentinels; open sessions in restored state must absorb
    # the late rows and then finalize
    for f in held:
        os.rename(f"{holding}/{f}", f"{incoming}/{f}")
    q3 = start()
    assert q3.awaitTermination(240), "post-arrival run did not finish"

    # run 4: no new files — replay must append NOTHING
    n_after_resume = spark.read.parquet(sink).count()
    q4 = start()
    assert q4.awaitTermination(120)
    final = spark.read.parquet(sink)
    assert final.count() == n_after_resume, "idle replay duplicated rows"

    batch = {
        tuple(r)
        for r in table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") * 100, 0)
            .cast("long")
            .alias("session_cents"),
        )
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            "n_events",
            "session_cents",
        )
        .collect()
    }
    got = {tuple(r) for r in final.collect()}
    assert got == batch, (
        f"kill-and-replay diverged from batch: {len(got)} vs {len(batch)}"
    )
    # exactly-once also means no duplicate session rows in the sink
    assert final.count() == final.distinct().count()


def test_stream_shuffle_partitions(spark, monkeypatch):
    from ubw_spark.streaming.stages import (
        shuffle_partitions_override,
        stream_shuffle_partitions,
    )

    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    n = stream_shuffle_partitions(spark)
    assert 1 <= n <= 4
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "13")
    assert stream_shuffle_partitions(spark) == 13
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with shuffle_partitions_override(spark, 3):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before
