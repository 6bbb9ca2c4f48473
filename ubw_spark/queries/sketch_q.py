"""Count-min sketch queries (operators/sketches.py).

Every cell of the sketch is the same md5 arithmetic in Spark and
DuckDB, so the sketch CONTENT — not just derived statistics — is
oracle-checked: build, probe, and the one-sided-error audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubw_spark.functions.text import tokens
from ubw_spark.operators.sketches import cms_build, cms_estimate
from ubw_spark.queries.registry import register, store_path, table
from ubw_spark.functions.literals import literal_frame

_PROBES = ["key", "table", "spark", "row", "zz_absent_zz"]


def _en_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").where(F.col("lang") == "en")
    return d.select(F.explode(tokens(F.col("text"))).alias("word"))


def _truth_for_probes(
    spark: SparkSession, sf_dir: str, probes: DataFrame
) -> DataFrame:
    toks = _en_tokens(spark, sf_dir)
    return (
        toks.join(F.broadcast(probes), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )


#: Shared by the in-memory query and the persisted-store probe: the
#: store lifecycle (write half, ADD-merge append the other half, load,
#: probe) must not change a single estimate.
_WORDFREQ_ORACLE = r"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
      FROM documents WHERE lang = 'en'),
    sk AS (
      SELECT i, ('0x' || substr(md5('cms:' || i::VARCHAR || ':' || word),
                 1, 8))::BIGINT % 1024 AS bucket, count(*)::BIGINT AS cnt
      FROM tok, (SELECT unnest(generate_series(0, 3)) AS i)
      GROUP BY 1, 2),
    cells AS (
      SELECT word, i, ('0x' || substr(md5('cms:' || i::VARCHAR || ':'
                 || word), 1, 8))::BIGINT % 1024 AS bucket
      FROM (SELECT unnest(['key','table','spark','row','zz_absent_zz'])
              AS word),
           (SELECT unnest(generate_series(0, 3)) AS i)),
    est AS (
      SELECT c.word, min(coalesce(sk.cnt, 0))::BIGINT AS est
      FROM cells c LEFT JOIN sk USING (i, bucket) GROUP BY 1),
    tru AS (SELECT word, count(*)::BIGINT AS true_cnt FROM tok GROUP BY 1)
    SELECT e.word, e.est, coalesce(t.true_cnt, 0)::BIGINT AS true_cnt
    FROM est e LEFT JOIN tru t USING (word)
    """


@register(
    "sketch_cms_wordfreq",
    oracle=_WORDFREQ_ORACLE,
    tags=("sketch", "llm"),
)
def sketch_cms_wordfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 4x1024 count-min sketch over the English token stream,
    probe five words (one absent from the corpus), and report estimate
    vs truth.  Scale: the sketch shuffle is bounded at 4096 cells no
    matter the corpus; the truth side exists only for the audit and
    filters to the probe set BEFORE aggregating."""
    toks = _en_tokens(spark, sf_dir)
    probes = literal_frame(spark, [(w,) for w in _PROBES], "word string")
    sk = cms_build(toks, "word", width=1024, depth=4)
    est = cms_estimate(sk, probes, "word", width=1024, depth=4)
    tru = _truth_for_probes(spark, sf_dir, probes)
    return est.join(tru, "word", "left").select(
        "word",
        "est",
        F.coalesce(F.col("true_cnt"), F.lit(0).cast("long")).alias(
            "true_cnt"
        ),
    )


@register(
    "sketch_cms_error_audit",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
      FROM documents WHERE lang = 'en'),
    tru AS (SELECT word, count(*)::BIGINT AS true_cnt FROM tok GROUP BY 1),
    sk AS (
      SELECT i, ('0x' || substr(md5('cms:' || i::VARCHAR || ':' || word),
                 1, 8))::BIGINT % 64 AS bucket, count(*)::BIGINT AS cnt
      FROM tok, (SELECT unnest(generate_series(0, 3)) AS i)
      GROUP BY 1, 2),
    cells AS (
      SELECT word, i, ('0x' || substr(md5('cms:' || i::VARCHAR || ':'
                 || word), 1, 8))::BIGINT % 64 AS bucket
      FROM tru, (SELECT unnest(generate_series(0, 3)) AS i)),
    est AS (
      SELECT c.word, min(coalesce(sk.cnt, 0))::BIGINT AS est
      FROM cells c LEFT JOIN sk USING (i, bucket) GROUP BY 1)
    SELECT count(*) AS n_words,
           sum(CASE WHEN e.est = t.true_cnt THEN 1 ELSE 0 END)::BIGINT
             AS n_exact,
           sum(e.est - t.true_cnt)::BIGINT AS total_overcount,
           max(e.est - t.true_cnt) AS max_overcount
    FROM est e JOIN tru t USING (word)
    """,
    tags=("sketch", "llm"),
)
def sketch_cms_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided-error audit on a deliberately tight 4x64 sketch: for
    EVERY distinct token compare estimate to truth — never under, and
    the audit quantifies the collision overcount (the bloom-FP-audit
    pattern applied to frequencies).  At 100 TB the audit runs on a
    sample; the sketch itself stays 256 cells."""
    toks = _en_tokens(spark, sf_dir)
    tru = toks.groupBy("word").agg(F.count(F.lit(1)).alias("true_cnt"))
    sk = cms_build(toks, "word", width=64, depth=4)
    # est rides along tru's rows map-only — no rejoin needed
    j = cms_estimate(sk, tru, "word", width=64, depth=4)
    over = F.col("est") - F.col("true_cnt")
    return j.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum((F.col("est") == F.col("true_cnt")).cast("long")).alias(
            "n_exact"
        ),
        F.sum(over).alias("total_overcount"),
        F.max(over).alias("max_overcount"),
    )


@register(
    "sketch_cms_store_probe",
    oracle=_WORDFREQ_ORACLE,
    tags=("sketch", "llm", "index"),
)
def sketch_cms_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED lifecycle: sketch HALF the corpus (even doc ids),
    write the versioned store, ADD-merge-append the other half's
    sketch, probe from the store — and the oracle is the in-memory
    query's, over the FULL corpus: write → append → load must not
    change a single estimate (the bloom/term-store contract).

    Scale: every store step moves ≤ depth×width cells; each half is
    scanned once to build its own sketch, never re-read by the
    append."""
    from ubw_spark.operators.iterate import truncate
    from ubw_spark.operators.sketches import (
        append_cms_cells,
        probe_cms_store,
        write_cms_store,
    )

    path = store_path("cms_store", sf_dir)
    d = table(spark, sf_dir, "documents").where(F.col("lang") == "en")
    # pmod + coalesce: plain % keeps the dividend's sign and NULL%2 is
    # NULL — either would silently drop docs from BOTH halves while the
    # oracle sketches the full corpus
    parity_col = F.coalesce(F.pmod(F.col("doc_id"), F.lit(2)), F.lit(0))
    # ONE corpus pass (round 13, guide §1.2/§8): the word-count table
    # with per-parity counts feeds both halves' sketches (weighted
    # cms_build — Σ weights over distinct words == Σ 1 over
    # occurrences, cell-for-cell) and the probe truth — previously the
    # corpus was tokenized three times.  State is the word-frequency
    # table, the standard vocabulary-sized intermediate.
    counts = (
        d.select(
            parity_col.alias("__par"),
            F.explode(tokens(F.col("text"))).alias("word"),
        )
        .groupBy("word")
        .agg(
            F.sum(F.when(F.col("__par") == 0, 1).otherwise(0)).alias("__c0"),
            F.sum(F.when(F.col("__par") == 1, 1).otherwise(0)).alias("__c1"),
        )
    )
    counts = truncate(counts, "local", eager=False)
    write_cms_store(
        cms_build(
            counts.where(F.col("__c0") > 0), "word",
            width=1024, depth=4, weight_col="__c0",
        ),
        path,
    )
    append_cms_cells(
        spark,
        cms_build(
            counts.where(F.col("__c1") > 0), "word",
            width=1024, depth=4, weight_col="__c1",
        ),
        path,
    )

    probes = literal_frame(spark, [(w,) for w in _PROBES], "word string")
    est = probe_cms_store(spark, probes, "word", path)
    tru = (
        counts.join(F.broadcast(probes), "word")
        .select(
            "word",
            (F.col("__c0") + F.col("__c1")).cast("long").alias("true_cnt"),
        )
    )
    return est.join(tru, "word", "left").select(
        "word",
        "est",
        F.coalesce(F.col("true_cnt"), F.lit(0).cast("long")).alias(
            "true_cnt"
        ),
    )


@register(
    "sketch_heavy_hitters",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
      FROM documents WHERE lang = 'en'),
    sk AS (
      SELECT i, ('0x' || substr(md5('cms:' || i::VARCHAR || ':' || word),
                 1, 8))::BIGINT % 64 AS bucket, count(*)::BIGINT AS cnt
      FROM tok, (SELECT unnest(generate_series(0, 3)) AS i)
      GROUP BY 1, 2),
    words AS (SELECT DISTINCT word FROM tok),
    cells AS (
      SELECT word, i, ('0x' || substr(md5('cms:' || i::VARCHAR || ':'
                 || word), 1, 8))::BIGINT % 64 AS bucket
      FROM words, (SELECT unnest(generate_series(0, 3)) AS i)),
    est AS (
      SELECT c.word, min(coalesce(sk.cnt, 0))::BIGINT AS est
      FROM cells c LEFT JOIN sk USING (i, bucket) GROUP BY 1),
    cand AS (SELECT word FROM est WHERE est >= 60),
    exact AS (
      SELECT t.word, count(*)::BIGINT AS n
      FROM tok t JOIN cand USING (word) GROUP BY 1)
    SELECT word, n FROM exact WHERE n >= 60
    ORDER BY n DESC, word
    """,
    tags=("sketch", "llm"),
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase heavy hitters — the production USE of the sketch: a
    tight 4x64 sketch screens the stream (no false negatives: est >=
    true, so every word with >= 60 occurrences survives), then the
    EXACT count runs only over candidate rows.

    Scale: phase 1 state is 256 cells; phase 2's groupBy aggregates
    only the rows whose word passed the screen (a broadcast semi-join
    of the candidate list — answer-sized, not vocab-sized) — the
    exact-count shuffle shrinks from every distinct token to the few
    that might be hot.  The final ``n >= 60`` re-check discards the
    screen's false positives, so the output is EXACT."""
    toks = _en_tokens(spark, sf_dir)
    sk = cms_build(toks, "word", width=64, depth=4)
    vocab = toks.distinct()
    cand = (
        cms_estimate(sk, vocab, "word")
        .where(F.col("est") >= 60)
        .select("word")
    )
    exact = (
        toks.join(F.broadcast(cand), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 60)
    )
    return exact.orderBy(F.desc("n"), "word")


@register(
    "sketch_join_size_estimate",
    oracle="""
    WITH k AS (SELECT l_partkey::VARCHAR AS item FROM lineitem
               WHERE l_partkey IS NOT NULL),
    sk AS (SELECT i, ('0x' || substr(md5('cms:' || i::VARCHAR || ':'
                                     || item), 1, 8))::BIGINT
                     % 16384 AS bucket,
                  count(*)::BIGINT AS cnt
           FROM k, (SELECT unnest(generate_series(0, 3)) AS i)
           GROUP BY 1, 2),
    dot AS (SELECT i, sum(cnt * cnt) AS dot FROM sk GROUP BY 1),
    e AS (SELECT CAST(min(dot) AS BIGINT) AS est FROM dot),
    x AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact
          FROM (SELECT count(*)::BIGINT AS c FROM k GROUP BY item))
    SELECT e.est, x.exact, e.est - x.exact AS overcount FROM e, x
    """,
    tags=("sketch", "agg", "llm"),
)
def sketch_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join-size estimation from a sketch: est ≥ exact Σ c(k)² for
    lineitem's part key (the co-occurrence / pair-join blow-up number a
    planner wants BEFORE running the join), via the CMS inner product
    min_i Σ_b cell² — never undercounts, collisions only add.  The
    exact truth rides along for the audit.

    Scale: the estimate reads depth×width cells (64k here), not the
    table; the truth aggregate exists only because the oracle audits
    the overcount — a production planner runs the sketch side alone."""
    from ubw_spark.operators.sketches import cms_inner_product

    k = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey").isNotNull())
        .select(F.col("l_partkey").cast("string").alias("item"))
    )
    sk = cms_build(k, "item", width=16384, depth=4)
    est = cms_inner_product(sk, sk)
    exact = (
        k.groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("exact"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est", "exact", (F.col("est") - F.col("exact")).alias("overcount")
    )
