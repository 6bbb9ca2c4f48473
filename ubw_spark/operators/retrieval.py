"""BM25 lexical retrieval over the document corpus — the keyword half
of the RAG/search stack (the ANN operators in similarity.py/ivf.py/pq.py
are the dense half; :func:`rrf_fuse` is the standard way to combine).

Scoring is Robertson/Spärck Jones BM25 (Okapi, "+1" idf variant so
every addend is positive):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(d, t) = idf(t) * (tf * (k1+1)) / (tf + k1*(1 - b + b*dl/avgdl))

Scale posture — why this is not "grep on a cluster":

- the query-term filter lands IMMEDIATELY after tokenization, so the
  only rows that ever shuffle are (doc, query-term) hits — at 100 TB
  and a 5-term query that's ~|matching docs|×5 rows, not the token
  stream;
- document frequency is a ``groupBy(term)`` aggregate over those hits
  (map-side combine — a hot stopword costs one partial per partition)
  broadcast back; corpus stats (N, total tokens) are a one-row
  aggregate broadcast the same way every curation operator here
  broadcasts its reduced aggregate;
- top-k is ``ORDER BY score LIMIT k`` → TakeOrderedAndProject, never a
  global sort;
- the PERSISTED form (:func:`write_term_index`) is a classic inverted
  index laid out as parquet partitioned by a portable hash bucket of
  the term: a probe computes its query terms' buckets DRIVER-SIDE (the
  same md5 the executors use) and reads only those partitions — static
  partition filter, the lsh_index.py `probe_bands` trick applied to
  vocabulary instead of signatures.  Posting rows carry the doc length
  (Lucene stores norms in the postings for the same reason): scoring
  never rejoins the corpus.

NULL-text documents are excluded from postings AND corpus stats by
contract (a null row tokenizes to nothing, so it could never be
retrieved; counting it only in N would make compaction's
restat-from-postings drift from the write-time stats).

Cross-engine float contract (the repo rule memoryized from
dsir_select): every per-(doc, term) addend is rounded to 6 dp before
the per-doc sum, and the sum is rounded to 4 dp for output + ordering,
with doc id as the final tiebreak — the DuckDB oracle mirrors the
operation ORDER token for token.

Reference parity: extends the reference's query surface
(documentation/doc-01.md query pipelines) with the retrieval operator a
training-data/RAG user needs; the reference has no search operator, so
this is net-new capability, same as the ANN family.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ubw_spark.functions.text import tokens
from ubw_spark.operators.dedup import portable_hash, widen
from ubw_spark.operators.versioned import FileStore

__all__ = [
    "doc_postings",
    "bm25_topk",
    "rrf_fuse",
    "phrase_match",
    "write_term_index",
    "append_term_batch",
    "probe_term_index",
    "probe_term_index_batch",
    "compact_term_index",
]

#: Sidecar pinning the exact-mergeable corpus stats (doc count, total
#: token count) AND the bucket modulus.  avgdl is DERIVED at read time
#: — storing the division result would make append merges inexact.
#: Buckets must be pinned, not inferred from the ``tb=`` directory
#: names: a corpus whose terms happen to leave the top bucket empty
#: would make a max(tb)+1 guess undercount, and every subsequent probe
#: would hash query terms under the wrong modulus — the silent-zero
#: failure class the bloom params sidecar exists for.
STATS_FILE = "_TERM_STATS"

#: The posting store: one part at the version root, partitioned by the
#: term bucket.  Its sidecar moves with the data, so appends run the
#: crash-atomic carryover cycle (versioned.FileStore.append).
_STORE = FileStore(STATS_FILE, "term index", ((None, "tb"),))

_K1 = 1.2
_B = 0.75

#: Java's ``\s`` (as used by the shared corpus tokenizer's
#: ``split(..., '\\s+')``) is ASCII-only; Python's ``str.split()`` and
#: ``re`` ``\s`` are Unicode-aware.  The query must tokenize EXACTLY
#: like the corpus or df lookups silently miss (e.g. a non-breaking
#: space would split a term Python-side that the index stored whole).
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _term_bucket_py(term: str, buckets: int) -> int:
    """Driver-side twin of ``portable_hash(term) % buckets`` — same md5
    prefix, so a probe can name its partitions without running a job."""
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % buckets


def query_terms(query: str) -> list[str]:
    """Distinct query tokens under the corpus tokenizer's semantics
    (functions/text.py::tokens — lower, trim, split on ASCII
    whitespace; see ``_ASCII_WS``).  Sorted for deterministic plan
    literals."""
    return sorted(
        {t for t in _ASCII_WS.split(query.strip().lower()) if t}
    )


def doc_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    stats_observation=None,
) -> DataFrame:
    """(id, term, tf, dl) — the posting rows BM25 scores from.  dl is
    denormalized onto every posting (8 bytes) so scoring never joins
    back to the corpus; tf comes from one hash aggregate with map-side
    partials over the exploded tokens.  NULL-text rows are excluded
    (module contract).

    ``stats_observation``: a ``pyspark.sql.Observation`` to attach at
    the one-row-per-doc stage (BEFORE the explode drops zero-token
    docs), collecting (n_docs, total_tokens) — the exact population
    :func:`_corpus_stats` aggregates — as a side product of whatever
    action executes the postings.  Lets the index writers fold the
    stats pass into the postings pass: one corpus/batch scan, not two
    (round 13; guide §1.2).  An Observation is single-use — pass a
    fresh one per call."""
    toks0 = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    )
    if stats_observation is not None:
        toks0 = toks0.observe(
            stats_observation,
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(F.size("__t")), F.lit(0))
            .cast("long")
            .alias("total_tokens"),
        )
    toks = toks0.select(
        id_col,
        F.size("__t").alias("dl"),
        F.explode("__t").alias("term"),
    )
    return toks.groupBy(id_col, "term", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )


def doc_postings_local(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    stats_observation=None,
) -> DataFrame:
    """Shuffle-free twin of :func:`doc_postings` — identical
    (id, term, dl, tf) rows, but tf is computed INSIDE each document's
    token array (sort + run-length over the sorted runs, all JVM
    higher-order functions) instead of explode → hash aggregate.

    Why both exist: the exploded form lets a query-term filter land on
    the raw tokens BEFORE the tf aggregate — right when only a handful
    of terms matter (bm25_topk).  The index writers need EVERY posting,
    and there the exploded form's (id, term, dl) aggregation exchange
    moves exactly the same rows the bucket repartition moves again one
    operator later; this form emits finished postings map-side so the
    bucket exchange is the ONLY shuffle in the store write
    (guide §2.4: remove shuffles outright — round 13).

    Equivalence: a term's tf is the length of its run in the sorted
    token array; runs are delimited by the positions where the sorted
    array changes value.  Zero-token docs yield an empty run list and
    drop out, exactly as explode drops them."""
    toks0 = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    )
    if stats_observation is not None:
        toks0 = toks0.observe(
            stats_observation,
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(F.size("__t")), F.lit(0))
            .cast("long")
            .alias("total_tokens"),
        )
    # Separate selects keep __s/__st let-bound: CollapseProject will
    # not inline a non-trivial expression referenced more than once,
    # so array_sort runs once per doc, the run-start positions once.
    sorted_ = toks0.select(
        F.col(id_col),
        F.size("__t").alias("dl"),
        F.array_sort("__t").alias("__s"),
    )
    # 1-based positions where a new run starts.  sequence() needs the
    # empty-array guard: sequence(1, 0) counts DOWN ([1, 0]) and would
    # fabricate a posting from nothing.
    starts = sorted_.select(
        id_col,
        "dl",
        "__s",
        F.expr(
            # try_element_at: ANSI element_at throws on index 0 (the
            # i = 1 probe's left neighbour) and on the lookahead past
            # the last run below.
            "CASE WHEN size(__s) = 0 THEN array() "
            "ELSE filter(sequence(1, size(__s)), "
            "i -> i = 1 OR element_at(__s, i) != try_element_at(__s, i - 1)) "
            "END"
        ).alias("__st"),
    )
    from ubw_spark.functions.hof import fence

    posts = starts.select(
        id_col,
        "dl",
        # fence: explode infers a size(__posts) > 0 filter that would
        # otherwise be pushed to the scan and re-run the whole
        # sort+run-length kernel per row (the _nearest_cells shape).
        fence(
            F.expr(
                # (p, j): p = this run's 1-based start, j = 0-based
                # index into __st; the run ends where the next run
                # starts (or at size + 1 for the last run).
                "transform(__st, (p, j) -> named_struct("
                "'term', element_at(__s, p), "
                "'tf', CAST(coalesce(try_element_at(__st, j + 2), "
                "size(__s) + 1) - p AS BIGINT)))"
            )
        ).alias("__posts"),
    )
    return posts.select(
        id_col, "dl", F.explode("__posts").alias("__p")
    ).select(
        id_col,
        F.col("__p.term").alias("term"),
        "dl",
        F.col("__p.tf").alias("tf"),
    )


def _corpus_stats(df: DataFrame, text_col: str) -> DataFrame:
    """One row: (n_docs, total_tokens) over every non-NULL-text doc
    (BM25's avgdl averages every retrievable document, matched or
    not)."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.size(tokens(F.col(text_col))).alias("__dl"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__dl").cast("long").alias("total_tokens"),
        )
    )


def _bm25_addend(n_docs_col, total_tokens_col, k1: float, b: float):
    """The per-(doc, term) contribution, 6 dp-rounded — ONE definition
    of the cross-engine float contract (operation order mirrored token
    for token by every SQL oracle), shared by the single-query and
    batch scorers.  Expects ``tf``/``dl``/``__df`` columns in scope."""
    avgdl = (total_tokens_col * F.lit(1.0)) / n_docs_col
    idf = F.log(
        F.lit(1.0)
        + (n_docs_col - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        (F.lit(1.0) - F.lit(b)) + F.lit(b) * F.col("dl") / avgdl
    )
    return F.round(idf * ((F.col("tf") * F.lit(k1 + 1)) / denom), 6)


def _score_topk(
    pf: DataFrame,
    id_col: str,
    n_docs_col,
    total_tokens_col,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Shared scoring tail: ``pf`` = posting rows already filtered to
    the query terms, carrying (id, term, tf, dl) plus the one-row
    stats columns.  df per term is a ``groupBy(term)`` AGGREGATE
    (unique rows per (doc, term), so row count = doc count) broadcast
    back — deliberately NOT a count window partitioned by term: the
    aggregate combines map-side, so a hot term (a stopword in the
    query) costs one partial per partition, while the window would
    sort that term's ENTIRE posting list in a single task — the exact
    skew shape the repo's window lint exists to keep out of plans.
    The price is recomputing the pf subtree for the aggregate; in the
    persisted-index paths (the 100 TB paths) that recompute is a
    bucket-pruned, predicate-pushed index scan, not a corpus pass."""
    dfs = pf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    j = pf.join(broadcast(dfs), "term")
    addend = _bm25_addend(n_docs_col, total_tokens_col, k1, b)
    scored = j.select(F.col(id_col), addend.alias("__a")).groupBy(
        id_col
    ).agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        F.round(F.sum("__a"), 4).alias("score"),
    )
    return scored.orderBy(
        F.col("score").desc(), F.col(id_col)
    ).limit(k)


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    *,
    k: int = 10,
    k1: float = _K1,
    b: float = _B,
) -> DataFrame:
    """In-memory BM25 top-k: (id, n_terms_hit, score), score-desc with
    id tiebreak.  The query-term ``isin`` filter sits directly on the
    exploded tokens, so only hit rows reach the tf aggregate.  This is
    the ad-hoc / oracle-twin form — it scans the corpus for postings,
    df, and stats; the persisted index (:func:`probe_term_index`) is
    the repeated-query path."""
    qts = query_terms(query)
    if not qts:
        # empty query matches nothing — keep the schema
        return df.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_terms_hit"),
            F.lit(0.0).alias("score"),
        ).where(F.lit(False))
    stats = _corpus_stats(df, text_col)
    pf = doc_postings(
        df.select(id_col, text_col), id_col, text_col
    ).where(F.col("term").isin(qts))
    withstats = pf.crossJoin(broadcast(stats))
    return _score_topk(
        withstats, id_col,
        F.col("n_docs"), F.col("total_tokens"), k, k1, b,
    )


def rrf_fuse(
    lex: DataFrame,
    dense: DataFrame,
    *,
    id_col: str,
    k: int,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): each list
    contributes ``1/(rrf_k + rank)``; ranks from different systems fuse
    where raw scores never could (they share no scale).  Inputs are
    ``(id_col, lex_rank)`` and ``(id_col, dense_rank)`` — both already
    top-N lists, so the full-outer join is N×N rows and the 6 dp
    round + (rrf desc, id) ordering is engine-stable.  ONE definition
    shared by the registered query and the RAG example — the fusion
    arithmetic must match the oracle everywhere."""
    return (
        lex.join(dense, id_col, "full_outer")
        .select(
            id_col,
            "lex_rank",
            "dense_rank",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(rrf_k) + F.col("dense_rank")),
                    F.lit(0.0),
                ),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), id_col)
        .limit(k)
    )


def phrase_match(
    df: DataFrame,
    id_col: str,
    text_col: str,
    phrase: str,
) -> DataFrame:
    """Exact phrase search — the capability BM25's bag-of-terms scoring
    gives up: (id, n_occurrences, first_pos) for every document
    containing the n-token phrase as CONSECUTIVE tokens (1-based token
    position).  Map-only: the token array is let-bound (split once —
    the no-CSE rule), candidate start positions are filtered with a
    JVM higher-order function, and docs shorter than the phrase never
    build a window.  No shuffle, no explode — at 100 TB this is a
    single streaming pass with the filter as the only cost."""
    from ubw_spark.functions.hof import let

    # NOT query_terms(): a phrase is an ordered sequence — sorting or
    # deduping its tokens would change what is matched
    pts = [t for t in _ASCII_WS.split(phrase.strip().lower()) if t]
    if not pts:
        raise ValueError("empty phrase")
    n = len(pts)
    target = " ".join(pts)

    def positions(t):
        # sequence(1, 0) counts DOWN in Spark — guard docs shorter
        # than the phrase (the quality.py bigram rule)
        return F.when(
            F.size(t) >= n,
            F.filter(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.array_join(F.slice(t, i, n), " ") == target,
            ),
        ).otherwise(F.array().cast("array<int>"))

    pos = let(tokens(F.col(text_col)), positions)
    # fence: the occurrence count is filtered below — without it the
    # predicate gets pushdown-substituted into a Filter that re-runs
    # the whole HOF pipeline per row (the functions/hof.py rule; the
    # registry-wide lint test_plans.py::hof_filter_violations catches
    # exactly this shape)
    from ubw_spark.functions.hof import fence

    out = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        fence(F.size(pos)).alias("n_occurrences"),
        # try_: with the filter above the projection (fence), this IS
        # evaluated on no-match rows — plain element_at would raise on
        # the empty array under ANSI
        F.try_element_at(pos, F.lit(1)).alias("first_pos"),
    )
    return out.where(F.col("n_occurrences") > 0)


# ---------------------------------------------------------------- store


def _stats(n_docs: int, total_tokens: int, buckets: int) -> dict:
    return {"n_docs": n_docs, "total_tokens": total_tokens, "buckets": buckets}


def read_term_stats(path: str) -> dict:
    """{n_docs, total_tokens, buckets} of the LIVE store version;
    raises when the sidecar is missing — scoring with guessed corpus
    stats skews every idf/avgdl silently (the bloom params-sidecar
    rule)."""
    return _STORE.open(path)[1]


def _bucketed_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int,
    *,
    stats_observation=None,
) -> DataFrame:
    # The writers need every posting (no term filter to push down), so
    # the shuffle-free form applies: the bucket repartition that
    # follows is the ONLY exchange in the store write — plus, for an
    # input with fewer splits than cores, the widening round-robin
    # FIRST (dedup.widen): tokenize + run-length tf is the CPU-heavy
    # map, and a one-file micro-batch (the foreachBatch append case)
    # otherwise runs it on a single task (measured ~1.2 s/append serial
    # vs ~0.5 s widened at sf0.1).
    return doc_postings_local(
        widen(df), id_col, text_col, stats_observation=stats_observation
    ).withColumn("tb", portable_hash(F.col("term")) % buckets)


def write_term_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    *,
    buckets: int = 32,
) -> None:
    """Materialize the inverted index: posting rows partitioned by the
    term's portable hash bucket (``tb``), plus the stats sidecar (which
    pins ``buckets`` — every later probe/append hashes under the
    pinned modulus).  ``repartition("tb")`` before ``partitionBy``
    keeps each bucket in O(1) files (the write_minhash_index
    rationale).  Versioned-manifest lifecycle throughout
    (operators/versioned.py).  The stats ride an Observation on the
    postings write (see :func:`doc_postings`): one corpus scan, not
    two."""
    from pyspark.sql import Observation

    obs = Observation()
    posts = _bucketed_postings(
        df, id_col, text_col, buckets, stats_observation=obs
    )
    _STORE.write(
        path,
        (posts,),
        # {n_docs, total_tokens} observed during the write
        lambda: _stats(**obs.get, buckets=buckets),
    )


def append_term_batch(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    *,
    batch_id: int | None = None,
) -> None:
    """Fold a new document batch into the index: the batch's posting
    files land in the bucket partitions (under the sidecar's pinned
    modulus) and the stats sidecar merges EXACTLY (counts add; avgdl
    is derived, never stored).  Ids must be unique across appends
    (lakehouse contract, as in append_minhash_batch); removals go
    through compaction.

    Crash-safe via the full versioned rewrite cycle: the new version
    dir = hardlinks to every live posting file (link_carryover —
    O(files) metadata, never O(corpus bytes)) + the batch's new files
    + the merged sidecar, then ONE manifest flip.  The old in-place
    append-then-overwrite left a torn store on a crash between the two
    writes and let a concurrent probe read new postings under old
    stats; here a reader resolves either the old version or the new
    one, both complete.

    ADD-merge stats are NOT replay-idempotent: streaming callers
    (foreachBatch is at-least-once) MUST pass the framework's
    ``batch_id`` — the sidecar keeps the high-water mark and an
    already-folded id is a no-op BEFORE any write (the
    append_cms_batch contract).  A batch whose read-back schema differs
    from the pinned ``_SCHEMA`` is refused before any write."""
    from pyspark.sql import Observation

    obs = Observation()
    _STORE.append(
        path,
        lambda old: (
            _bucketed_postings(
                batch, id_col, text_col, old["buckets"],
                stats_observation=obs,
            ),
        ),
        # the counts observed during the write add to the live ones
        restat=lambda old, _root: _stats(
            **{k: old[k] + v for k, v in obs.get.items()},
            buckets=old["buckets"],
        ),
        batch_id=batch_id,
    )


def probe_term_index(
    spark: SparkSession,
    path: str,
    query: str,
    *,
    k: int = 10,
    k1: float = _K1,
    b: float = _B,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k against the persisted index WITHOUT touching corpus
    text: the query terms' buckets are computed driver-side with the
    same md5 (and the sidecar's pinned modulus) the write used, so the
    scan carries a static partition filter (PartitionFilters,
    plan-asserted in tests) and reads only |query-term buckets| /
    buckets of the index; the term ``isin`` predicate pushes into the
    parquet scan of those partitions.  The version root is resolved
    ONCE — stats and postings always come from the same version."""
    qts = query_terms(query)
    root, stats = _STORE.open(path)
    idx = _STORE.read(spark, root)
    # Empty query OR fully-retired store → empty result up front: with
    # n_docs = 0 the avgdl literal is total/0, which ANSI constant
    # folding rejects at PLAN time even though no row would evaluate it.
    if not qts or stats["n_docs"] == 0:
        return idx.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_terms_hit"),
            F.lit(0.0).alias("score"),
        ).where(F.lit(False))
    bs = sorted({_term_bucket_py(t, stats["buckets"]) for t in qts})
    pf = idx.where(
        F.col("tb").isin(bs) & F.col("term").isin(qts)
    )
    return _score_topk(
        pf, id_col,
        F.lit(stats["n_docs"]),
        F.lit(stats["total_tokens"]),
        k, k1, b,
    )


def probe_term_index_batch(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    *,
    k: int = 10,
    k1: float = _K1,
    b: float = _B,
    id_col: str = "doc_id",
    qid_col: str = "qid",
    query_col: str = "query",
) -> DataFrame:
    """BM25 top-k for a BATCH of queries (a query log, not one
    string): (qid, doc_id, n_terms_hit, score, rank) with rank ≤ k per
    qid.

    The batch's (qid, term) rows join the postings on term with the
    term side BROADCAST (a query log is tiny next to an index), and
    the scan still carries a static ``tb`` partition filter: the
    batch's distinct buckets are collected first — bounded by the
    BUCKET COUNT (≤32 ints) no matter how many queries the log holds,
    so the collect is one micro-job, never a scale risk.  (Dynamic
    partition pruning would express the same thing without the
    micro-job, but Spark's DPP heuristics decline this join shape —
    deterministic beats occasionally-optimal for an index contract.)

    df per term comes from a ``groupBy(term)`` aggregate over the
    pruned postings BEFORE the per-qid replication join (computing it
    after would multiply df by the number of queries sharing the term;
    a (qid, term) count window would concentrate a hot term's postings
    in one task — the _score_topk skew rationale)."""
    from pyspark.sql import Window

    root, stats = _STORE.open(path)
    if stats["n_docs"] == 0:
        # fully-retired store: same plan-time ANSI divide-by-zero guard
        # as probe_term_index
        idx0 = _STORE.read(spark, root)
        return queries.select(
            F.col(qid_col).alias("qid"),
            F.lit(None).cast(idx0.schema[id_col].dataType).alias(id_col),
            F.lit(0).cast("long").alias("n_terms_hit"),
            F.lit(0.0).alias("score"),
            F.lit(1).alias("rank"),
        ).where(F.lit(False))
    qt = (
        queries.select(
            F.col(qid_col).alias("qid"),
            F.explode(
                F.array_distinct(tokens(F.col(query_col)))
            ).alias("term"),
        )
        .where(F.col("term") != "")
        .withColumn(
            "tb", portable_hash(F.col("term")) % stats["buckets"]
        )
    )
    # bounded: ≤ `buckets` distinct values regardless of batch size
    bs = sorted(r["tb"] for r in qt.select("tb").distinct().collect())
    idx = _STORE.read(spark, root)
    hit = idx.where(F.col("tb").isin(bs)).join(
        broadcast(qt.select("term").distinct()), "term", "left_semi"
    )
    dfs = hit.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    j = hit.join(broadcast(qt.select("qid", "term")), "term").join(
        broadcast(dfs), "term"
    )
    addend = _bm25_addend(
        F.lit(stats["n_docs"]), F.lit(stats["total_tokens"]), k1, b
    )
    scored = (
        j.select("qid", F.col(id_col), addend.alias("__a"))
        .groupBy("qid", id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.round(F.sum("__a"), 4).alias("score"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col(id_col)
        )
    )
    return scored.withColumn("rank", rn).where(F.col("rank") <= k)


def compact_term_index(
    spark: SparkSession,
    path: str,
    drop_ids: DataFrame,
    *,
    id_col: str = "doc_id",
    broadcast_drops: bool = True,
) -> None:
    """Retire documents: anti-join their postings out into a fresh
    version dir (bucket layout + pinned modulus preserved) and
    RECOMPUTE the stats sidecar from the survivors — dl is on every
    posting, so one distinct-(id, dl) aggregate over the kept rows
    restores exact (n_docs, total_tokens) without the corpus (sound
    because NULL-text docs are excluded from stats everywhere — module
    contract).  ``broadcast_drops=False`` plans a shuffled anti-join
    for corpus-fraction drop sets (the two-posture compaction rule,
    versioned.py)."""

    def restat(old: dict, new_root: str) -> dict:
        # the pinned read matters: a full retirement (takedown of the
        # last documents) leaves zero part files, which a
        # schema-INFERRING read would fail on before the commit
        kept = _STORE.read(spark, new_root)
        st = (
            kept.select(id_col, "dl")
            .distinct()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("t"),
            )
            .collect()[0]  # one row: two bigints
        )
        return _stats(st["n"], st["t"], old["buckets"])

    _STORE.compact(
        spark, path, drop_ids, id_col,
        broadcast_drops=broadcast_drops, restat=restat,
    )
