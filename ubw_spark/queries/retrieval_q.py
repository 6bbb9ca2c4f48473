"""BM25 retrieval queries — in-memory scoring and the persisted
inverted-index probe, sharing ONE oracle (the store layout must not
change a single score).

Float contract: all SQL constants use ``e0`` notation so DuckDB plans
DOUBLE arithmetic (a bare ``1.2`` is DECIMAL there, which would diverge
from Spark's doubles); each addend rounds at 6 dp before the per-doc
sum, output+ordering at 4 dp — the repo's cross-engine summation rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubw_spark.operators.retrieval import bm25_topk, probe_term_index
from ubw_spark.queries.registry import register, table
from ubw_spark.functions.literals import literal_frame

#: The shared benchmark query — terms chosen from the synthetic corpus
#: vocabulary so tf/df/dl all vary across the hit set.
QUERY = "hash join slow stream"
TOP_K = 10

def _bm25_sql(k: int) -> str:
    """The BM25 oracle with a parametric LIMIT so the hybrid-fusion
    query can reuse the exact same lexical list at a different k."""
    return _BM25_ORACLE_BODY + f"\n    ORDER BY score DESC, doc_id LIMIT {k}"


def _bm25_body(terms: tuple[str, ...]) -> str:
    """The BM25 oracle body with a parametric term list — hard-negative
    mining reuses the scoring CTEs under a different query."""
    inlist = ", ".join(f"'{t}'" for t in terms)
    return _BM25_BODY_TEMPLATE.replace("__TERMS__", inlist)


_BM25_BODY_TEMPLATE = r"""
    WITH dl AS (
      SELECT doc_id,
             length(regexp_split_to_array(trim(lower(text)), '\s+')) AS dl
      FROM documents WHERE text IS NOT NULL),
    stats AS (
      SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total FROM dl),
    tf AS (
      SELECT doc_id, w AS term, count(*)::BIGINT AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
            FROM documents WHERE text IS NOT NULL)
      WHERE w IN (__TERMS__)
      GROUP BY doc_id, w),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             round(
               ln(1e0 + (s.n_docs - dfs.df + 0.5e0) / (dfs.df + 0.5e0))
               * ((tf.tf * (1.2e0 + 1e0)) /
                  (tf.tf + 1.2e0 *
                   ((1e0 - 0.75e0) + 0.75e0 * d.dl
                    / ((s.total * 1.0e0) / s.n_docs)))),
               6) AS addend
      FROM tf
      JOIN dfs USING (term)
      JOIN dl d ON tf.doc_id = d.doc_id
      CROSS JOIN stats s)
    SELECT doc_id,
           count(*)::BIGINT AS n_terms_hit,
           round(sum(addend), 4) AS score
    FROM scored GROUP BY doc_id"""

_BM25_ORACLE_BODY = _bm25_body(("hash", "join", "slow", "stream"))
_BM25_ORACLE = _bm25_sql(TOP_K)


@register(
    "search_bm25_topk",
    oracle=_BM25_ORACLE,
    tags=("search", "text", "retrieval"),
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed keyword query: the query-term filter
    lands directly on the exploded tokens (only hit rows shuffle), df
    and corpus stats are broadcast-sized aggregates, and the top-k is a
    TakeOrderedAndProject (plan-asserted in tests/test_plans.py)."""
    d = table(spark, sf_dir, "documents")
    return bm25_topk(d, "doc_id", "text", QUERY, k=TOP_K)


@register(
    "search_bm25_store_probe",
    oracle=_BM25_ORACLE,
    tags=("search", "retrieval", "index"),
)
def search_bm25_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED form: write the inverted index (term-hash-bucketed
    parquet through the versioned-manifest store), then answer the same
    query from postings alone — the probe names its buckets driver-side
    (static partition filter) and never rereads corpus text.  Same
    oracle as the in-memory query: the lifecycle must not change a
    score.  Timing includes the index write, which at 100 TB amortizes
    across every query (the dedup_incremental_index_probe contract)."""
    import hashlib

    from ubw_spark.operators.retrieval import write_term_index

    d = table(spark, sf_dir, "documents")
    path = "/tmp/ubw_spark_term_store_" + hashlib.md5(
        sf_dir.encode()
    ).hexdigest()[:10]
    write_term_index(d, "doc_id", "text", path)
    return probe_term_index(spark, path, QUERY, k=TOP_K)


@register(
    "stream_term_index_ingest",
    oracle=_BM25_ORACLE,
    tags=("search", "retrieval", "index", "streaming"),
)
def stream_term_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live-search ingest loop EXECUTED AS A REAL STRUCTURED
    STREAMING QUERY under the driver gate (VERDICT r10 #7): the corpus
    arrives as micro-batch parquet files through ``readStream`` with
    ``maxFilesPerTrigger=1`` → ``foreachBatch(append_term_batch)`` with
    a checkpoint (at-least-once; the store's batch_id high-water mark
    makes the fold exactly-once), and the standing BM25 query is then
    answered from the streamed-in store alone.

    Oracle = the SAME batch BM25 SQL as ``search_bm25_store_probe``:
    a store assembled by streaming appends must be score-identical to
    a from-scratch batch build (df/N/avgdl exact-merge via the stats
    sidecar).  Streaming is net-new vs the reference (SURVEY §2.9 —
    the reference is strictly batch, framework/FQuery.scala never
    leaves finite relations); at 100 TB this loop is the continuous
    ingest posture: each micro-batch shuffles only its own postings,
    the corpus-sized store is extended by hardlink carryover, never
    rewritten."""
    import uuid

    from ubw_spark.operators.retrieval import (
        append_term_batch,
        write_term_index,
    )
    from ubw_spark.artifacts import register_artifact

    d = table(spark, sf_dir, "documents")
    # fresh per-CALL scratch: a reused checkpoint would make the
    # framework skip "already processed" files on a second invocation
    # in the same session (plan lints + correctness both call fn twice)
    run = uuid.uuid4().hex[:10]
    base = f"/tmp/ubw_spark_stream_term_{run}"
    incoming, ckpt, store = f"{base}/in", f"{base}/ckpt", f"{base}/store"
    register_artifact(base)
    import os

    os.makedirs(incoming, exist_ok=True)

    # seed the store with slice 0, stream slices 1..3 as one file each.
    # ONE repartition-by-slice pass writes all three arrival files (the
    # events-staging pattern): the per-slice filter-and-write loop
    # re-scanned the corpus once per slice — 3× the read volume for a
    # headline query (round 13; guide §1.2 don't repeat passes).
    seed = d.where(F.col("doc_id") % 4 == 0)
    write_term_index(seed, "doc_id", "text", store)
    stage = f"{base}/stage"
    (
        d.where(F.col("doc_id") % 4 != 0)
        .withColumn("__slice", F.pmod(F.col("doc_id"), F.lit(4)).cast("int"))
        .repartition(F.col("__slice"))
        .write.mode("overwrite")
        .partitionBy("__slice")
        .parquet(stage)
    )
    for d_name in sorted(os.listdir(stage)):
        if not d_name.startswith("__slice="):
            continue
        i = int(d_name.split("=", 1)[1])
        parts = [
            f for f in os.listdir(f"{stage}/{d_name}")
            if f.endswith(".parquet")
        ]
        if len(parts) != 1:
            # repartition(col) puts a slice's rows in one partition →
            # exactly one file; a split would stream a slice as TWO
            # micro-batches and change the batch_id bookkeeping under
            # test — fail loud (same guard as the events staging).
            raise RuntimeError(
                f"stream_term_index_ingest: slice {i} wrote "
                f"{len(parts)} files; expected exactly 1"
            )
        dst = f"{incoming}/b{i}.parquet"
        os.rename(f"{stage}/{d_name}/{parts[0]}", dst)
        # pin (mtime, path) batch order: the one-pass write's tasks
        # finish in arbitrary order, and the file source sorts by
        # mtime first (append order is semantically commutative here —
        # add-merge postings + batch_id high-water mark — but the
        # staged order should stay deterministic like events staging)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def handle(bdf: DataFrame, batch_id: int) -> None:
        # the one-file micro-batch is widened inside the append
        # (dedup.widen) before the tokenize-heavy postings map
        append_term_batch(bdf, "doc_id", "text", store, batch_id=batch_id)

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(incoming)
    )
    # Streaming-sized shuffle partitions for the per-micro-batch
    # postings build inside foreachBatch (see
    # streaming/stages.py::stream_shuffle_partitions): stateless here,
    # but each batch still pays per-partition task + sink-file cost
    # that AQE cannot coalesce under the streaming runner.
    from ubw_spark.streaming.stages import (
        shuffle_partitions_override,
        stream_shuffle_partitions,
    )

    with shuffle_partitions_override(
        spark, stream_shuffle_partitions(spark)
    ):
        q = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(300)
        finally:
            q.stop()
    if not finished:
        # a timed-out availableNow stream means some slice was never
        # folded — probing the partial store would return silently
        # wrong scores as the query result
        raise RuntimeError(
            "stream_term_index_ingest: streaming ingest did not finish "
            "within 300s — refusing to probe a partially-ingested store"
        )
    return probe_term_index(spark, store, QUERY, k=TOP_K)


_RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
_LIST_K = 20


@register(
    "search_hybrid_rrf",
    oracle=rf"""
    WITH lex0 AS ({_bm25_sql(_LIST_K)}),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id)::INTEGER
               AS lex_rank
      FROM lex0),
    dense0 AS (
      SELECT vec_id,
             round(list_cosine_similarity(qe::DOUBLE[],
                                          embedding::DOUBLE[]), 4) AS cs
      FROM embeddings
      CROSS JOIN (SELECT embedding AS qe FROM embeddings
                  WHERE vec_id = 0)
      WHERE vec_id <> 0),
    dense AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY cs DESC, vec_id)::INTEGER
               AS dense_rank
      FROM (SELECT * FROM dense0 ORDER BY cs DESC, vec_id
            LIMIT {_LIST_K})),
    fused AS (
      SELECT coalesce(l.doc_id, d.vec_id) AS doc_id,
             l.lex_rank, d.dense_rank,
             round(coalesce(1e0 / (60 + l.lex_rank), 0e0)
                   + coalesce(1e0 / (60 + d.dense_rank), 0e0), 6) AS rrf
      FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.vec_id)
    SELECT doc_id, lex_rank, dense_rank, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    tags=("search", "retrieval", "hybrid"),
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: the BM25 lexical
    top-20 and the dense cosine top-20 (query = embedding 0) each
    contribute 1/(60 + rank); docs surfacing in both lists rise.  This
    is THE production RAG ranker shape — scores from different systems
    never share a scale, ranks always do.  Both rank windows sit on
    already-LIMITed 20-row inputs (grounded per the global-window
    lint); the fusion join is 20×20 rows; the whole query costs its two
    input lists."""
    from pyspark.sql import Window

    from ubw_spark.queries.similarity import cosine

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")

    lex = bm25_topk(d, "doc_id", "text", QUERY, k=_LIST_K).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("lex_rank"),
    )
    q = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("__qe")
    )
    dense = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("__qe"), F.col("embedding")), 4)
            .alias("__cs"),
        )
        .orderBy(F.desc("__cs"), "vec_id")
        .limit(_LIST_K)
        .select(
            "vec_id",
            F.row_number()
            .over(Window.orderBy(F.desc("__cs"), "vec_id"))
            .alias("dense_rank"),
        )
    )
    from ubw_spark.operators.retrieval import rrf_fuse

    return rrf_fuse(
        lex,
        dense.withColumnRenamed("vec_id", "doc_id"),
        id_col="doc_id",
        k=10,
        rrf_k=_RRF_K,
    )


@register(
    "search_bm25_batch",
    oracle=r"""
    WITH q(qid, query) AS (VALUES
      (1, 'hash join'), (2, 'slow scan'), (3, 'stream merge window')),
    qt AS (
      SELECT DISTINCT qid, u.t AS term
      FROM q, unnest(regexp_split_to_array(trim(lower(query)), '\s+')) u(t)
      WHERE u.t <> ''),
    dl AS (
      SELECT doc_id,
             length(regexp_split_to_array(trim(lower(text)), '\s+')) AS dl
      FROM documents WHERE text IS NOT NULL),
    stats AS (
      SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total FROM dl),
    tf AS (
      SELECT doc_id, w AS term, count(*)::BIGINT AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
            FROM documents WHERE text IS NOT NULL)
      WHERE w IN (SELECT term FROM qt)
      GROUP BY doc_id, w),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    scored AS (
      SELECT qt.qid, tf.doc_id,
             round(
               ln(1e0 + (s.n_docs - dfs.df + 0.5e0) / (dfs.df + 0.5e0))
               * ((tf.tf * (1.2e0 + 1e0)) /
                  (tf.tf + 1.2e0 *
                   ((1e0 - 0.75e0) + 0.75e0 * d.dl
                    / ((s.total * 1.0e0) / s.n_docs)))),
               6) AS addend
      FROM qt
      JOIN tf USING (term)
      JOIN dfs USING (term)
      JOIN dl d ON tf.doc_id = d.doc_id
      CROSS JOIN stats s),
    agg AS (
      SELECT qid, doc_id,
             count(*)::BIGINT AS n_terms_hit,
             round(sum(addend), 4) AS score
      FROM scored GROUP BY qid, doc_id),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id)::INTEGER
               AS rank
      FROM agg)
    SELECT qid, doc_id, n_terms_hit, score, rank FROM r WHERE rank <= 5
    """,
    tags=("search", "retrieval", "index"),
)
def search_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A QUERY LOG against the persisted index: three queries scored in
    one pass, top-5 each.  The batch's (qid, term) rows broadcast into
    the postings join; the scan keeps a static tb partition filter
    whose value list is bounded by the bucket count (≤32 ints
    collected) no matter how large the log grows; per-query ranking is
    a window partitioned by qid."""
    import hashlib

    from ubw_spark.operators.retrieval import (
        probe_term_index_batch,
        write_term_index,
    )

    d = table(spark, sf_dir, "documents")
    path = "/tmp/ubw_spark_term_store_" + hashlib.md5(
        sf_dir.encode()
    ).hexdigest()[:10]
    write_term_index(d, "doc_id", "text", path)
    queries = literal_frame(
        spark,
        [(1, "hash join"), (2, "slow scan"), (3, "stream merge window")],
        "qid int, query string",
    )
    return probe_term_index_batch(spark, path, queries, k=5)


@register(
    "search_phrase_match",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
      FROM documents WHERE text IS NOT NULL),
    p AS (
      SELECT doc_id,
             list_filter(generate_series(1, len(tk) - 1),
                         i -> array_to_string(tk[i:i+1], ' ')
                              = 'hash join') AS pos
      FROM t)
    SELECT doc_id,
           len(pos)::INTEGER AS n_occurrences,
           pos[1]::INTEGER AS first_pos
    FROM p WHERE len(pos) > 0
    """,
    tags=("search", "text", "retrieval"),
)
def search_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact consecutive-token phrase search ("hash join") — the
    ordered-sequence capability BM25's bag-of-terms gives up.  Map-only
    per-row higher-order filter over the let-bound token array: no
    shuffle, no explode; the plan is one streaming pass."""
    from ubw_spark.operators.retrieval import phrase_match

    d = table(spark, sf_dir, "documents")
    return phrase_match(d, "doc_id", "text", "hash join")


_HARD_NEG_ORACLE = (
    "SELECT doc_id, n_terms_hit, score FROM (\n"
    + _bm25_body(("hash", "join"))
    + "\n    ORDER BY score DESC, doc_id LIMIT 20) cand\n"
    + r"""
    WHERE doc_id NOT IN (
      SELECT doc_id FROM (
        SELECT doc_id,
               list_filter(generate_series(1, len(tk) - 1),
                           i -> array_to_string(tk[i:i+1], ' ')
                                = 'hash join') AS pos
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS tk
              FROM documents WHERE text IS NOT NULL))
      WHERE len(pos) > 0)
    ORDER BY score DESC, doc_id LIMIT 10
"""
)


@register(
    "search_hard_negatives",
    oracle=_HARD_NEG_ORACLE,
    tags=("search", "retrieval", "training"),
)
def search_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retriever training: documents that
    score high on the query's BAG of terms ('hash', 'join') yet do NOT
    contain the exact phrase "hash join" — lexically confusable
    non-answers, the negatives contrastive training wants most
    (positives = phrase matches, candidates = BM25 top-20, negatives =
    candidates minus positives, top-10).

    Scale: candidate generation is the BM25 top-k plan (term-filtered
    explode, TakeOrdered); the positive set is a map-only phrase
    filter; the anti-join runs on a 20-row candidate list — the
    expensive side is bounded BEFORE the exclusion, never after."""
    from ubw_spark.operators.retrieval import phrase_match

    d = table(spark, sf_dir, "documents")
    cands = bm25_topk(d, "doc_id", "text", "hash join", k=20)
    pos = phrase_match(d, "doc_id", "text", "hash join").select("doc_id")
    return (
        cands.join(pos, "doc_id", "left_anti")
        .orderBy(F.desc("score"), "doc_id")
        .limit(10)
    )


# -- IR evaluation: MRR / NDCG@k / P@k / recall@k over real BM25 runs --

#: Three benchmark queries with different hit profiles; relevance is
#: CONJUNCTIVE term containment (a doc is relevant iff it contains
#: every query term) — deterministic, SQL-expressible qrels.
EVAL_QUERIES: list[tuple[int, tuple[str, ...]]] = [
    (0, ("hash", "join", "slow", "stream")),
    (1, ("filter", "scan", "big")),
    (2, ("window", "stream", "table")),
]
_EVAL_K = 10


def _qrels_sql(qid: int, terms: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{t}'" for t in terms)
    return (
        f"SELECT {qid} AS qid, doc_id FROM documents WHERE text IS NOT NULL "
        f"AND list_has_all(regexp_split_to_array(trim(lower(text)), "
        f"'\\s+'), [{arr}])"
    )


_EVAL_ORACLE = (
    "WITH "
    + ", ".join(
        f"run{qid} AS (SELECT doc_id, score FROM ({_bm25_body(terms)} "
        f"ORDER BY score DESC, doc_id LIMIT {_EVAL_K}))"
        for qid, terms in EVAL_QUERIES
    )
    + ", run AS (SELECT qid, doc_id, row_number() OVER "
    "(PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk FROM ("
    + " UNION ALL ".join(
        f"SELECT {qid} AS qid, * FROM run{qid}" for qid, _ in EVAL_QUERIES
    )
    + ")), qrels AS ("
    + " UNION ALL ".join(_qrels_sql(qid, t) for qid, t in EVAL_QUERIES)
    + """),
    nrel AS (SELECT qid, count(*)::BIGINT AS n_rel FROM qrels GROUP BY qid),
    lab AS (
      SELECT r.qid, r.rnk,
             CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM run r LEFT JOIN qrels q
        ON r.qid = q.qid AND r.doc_id = q.doc_id),
    agg AS (
      SELECT qid, sum(rel)::BIGINT AS hits,
             min(CASE WHEN rel = 1 THEN rnk END)::BIGINT AS first_rel_rank,
             sum(CASE WHEN rel = 1
                      THEN CAST(round(1000e0 / log2(rnk + 1)) AS BIGINT)
                      ELSE 0 END)::BIGINT AS dcg_milli
      FROM lab GROUP BY qid),
    base AS (SELECT coalesce(a.qid, n.qid) AS qid,
                    coalesce(a.hits, 0)::BIGINT AS hits,
                    a.first_rel_rank,
                    coalesce(a.dcg_milli, 0)::BIGINT AS dcg_milli,
                    coalesce(n.n_rel, 0)::BIGINT AS n_rel
             FROM agg a FULL JOIN nrel n ON a.qid = n.qid),
    idcg AS (
      SELECT b.qid,
             coalesce((SELECT sum(CAST(round(1000e0 / log2(i + 1)) AS BIGINT))
                       FROM unnest(generate_series(1, least(b.n_rel, """
    + str(_EVAL_K)
    + """))) t(i)), 0)::BIGINT AS idcg_milli
      FROM base b)
    SELECT b.qid, b.n_rel, b.hits, b.first_rel_rank,
           CASE WHEN b.first_rel_rank IS NOT NULL
                THEN round(1e0 / b.first_rel_rank, 6) ELSE 0e0 END AS rr,
           (b.hits * 1000) // """
    + str(_EVAL_K)
    + """ AS p_at_k_milli,
           CASE WHEN b.n_rel > 0 THEN (b.hits * 1000) // b.n_rel END
             AS recall_milli,
           b.dcg_milli, i.idcg_milli,
           CASE WHEN i.idcg_milli > 0
                THEN round(b.dcg_milli::DOUBLE / i.idcg_milli::DOUBLE, 6)
                ELSE 0e0 END AS ndcg
    FROM base b JOIN idcg i USING (qid)
    """
)


@register(
    "search_eval_metrics",
    oracle=_EVAL_ORACLE,
    tags=("search", "retrieval", "eval"),
)
def search_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR evaluation of the BM25 retriever itself (operators/ireval.py):
    three benchmark queries run top-10, judged against conjunctive
    term-containment qrels — per query one row of (n_rel, hits,
    first_rel_rank, rr, p@k, recall@k, DCG/IDCG in exact integer
    milli-gains, NDCG).  The lexical sibling of ``sim_recall_report``:
    retrieval quality as driver-visible, oracle-checked evidence.

    Scale: runs are |queries|×k rows by construction; qrels reduce to
    n_rel per query before the recall division; IDCG is a ≤k-term
    JVM-side fold — the evaluation never rescans corpus text beyond
    the relevance filter (map-only token containment).  This entry
    scores its three runs in-memory (one term-filtered scan each); a
    LARGE eval set runs the whole query log through
    probe_term_index_batch instead — one partition-pruned index pass
    for any number of queries (the search_bm25_batch plan) — and feeds
    the same ranking_metrics."""
    from functools import reduce as _reduce

    from pyspark.sql import Window

    from ubw_spark.functions.text import tokens
    from ubw_spark.operators.ireval import ranking_metrics

    d = table(spark, sf_dir, "documents")
    runs, rels = [], []
    for qid, terms in EVAL_QUERIES:
        top = bm25_topk(d, "doc_id", "text", " ".join(terms), k=_EVAL_K)
        runs.append(
            top.select(F.lit(qid).alias("qid"), "doc_id", "score")
        )
        cond = _reduce(
            lambda a, b: a & b,
            [F.array_contains(tokens(F.col("text")), t) for t in terms],
        )
        rels.append(
            d.where(F.col("text").isNotNull() & cond).select(
                F.lit(qid).alias("qid"), "doc_id"
            )
        )
    run = _reduce(lambda a, b: a.unionByName(b), runs).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("score"), "doc_id")
        ),
    )
    qrels = _reduce(lambda a, b: a.unionByName(b), rels)
    return ranking_metrics(run, qrels, k=_EVAL_K).orderBy("qid")


_EVAL_MACRO_ORACLE = (
    "WITH perq AS (" + _EVAL_ORACLE + """)
    SELECT count(*)::BIGINT AS n_queries,
           round(sum(CAST(round(rr * 1e6, 0) AS BIGINT))::DOUBLE
                 / (count(*) * 1e6), 6) AS mrr,
           round(sum(CAST(round(ndcg * 1e6, 0) AS BIGINT))::DOUBLE
                 / (count(*) * 1e6), 6) AS mean_ndcg,
           round(sum(p_at_k_milli)::DOUBLE / (count(*) * 1e3), 6)
             AS mean_p_at_k,
           CASE WHEN count(recall_milli) > 0
                THEN round(sum(recall_milli)::DOUBLE
                           / (count(recall_milli) * 1e3), 6)
           END AS mean_recall
    FROM perq
    """
)


@register(
    "search_eval_macro",
    oracle=_EVAL_MACRO_ORACLE,
    tags=("search", "retrieval", "eval"),
)
def search_eval_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fleet-level readout of ``search_eval_metrics``: macro MRR /
    mean NDCG / mean P@k / mean recall over the benchmark queries, via
    exact micro-int sums + one mirrored division each
    (operators/ireval.py::macro_metrics) — the single row a retrieval
    dashboard tracks run-over-run."""
    from ubw_spark.operators.ireval import macro_metrics

    return macro_metrics(search_eval_metrics(spark, sf_dir))
