"""Product quantization (PQ) — the compressed candidate store for
billion-vector ANN (Jégou et al., "Product Quantization for Nearest
Neighbor Search", IEEE TPAMI 2011; the layout FAISS calls IVF-PQ).

A dim-64 float32 vector is 256 bytes; its PQ code here is m=8 small
ints (one byte each at ksub≤256) — a 32× smaller scan footprint than
floats, vs 4× for int8 affine quantization (operators/quantize.py).
Search uses **asymmetric distance computation (ADC)**: the query stays
exact; per subspace a ksub-entry lookup table of ⟨query_sub, centroid⟩
inner products is precomputed (m·ksub dot products TOTAL, driver-side),
and scoring a corpus vector is m table lookups + adds — no per-dimension
math touches the corpus at query time.

Scale shape: encoding is map-only JVM array expressions (no UDF, no
shuffle); ADC scoring is one corpus-codes scan with the query tables as
broadcast plan literals; only the partitioned top-k window shuffles —
and it shuffles (qid, vec_id, score) rows, never vectors.

Codebooks: production trains per-subspace KMeans; the REGISTERED query
uses md5-seeded deterministic codebooks (:func:`seed_pq_codebooks`,
same device as ivf.py's seed centroids) so encode → ADC → top-k is
oracle-checkable end-to-end in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ubw_spark.operators.ivf import (
    _probe_cells,
    assign_ivf_cells,
    centroid_params,
    seed_rows,
)
from ubw_spark.operators.similarity import _array_sql, require_dim, rerank_topk
from ubw_spark.operators.versioned import FileStore


def seed_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    rows: list | None = None,
) -> list[list[list[float]]]:
    """Deterministic, SQL-expressible codebooks: subspace j's centroids
    are the j-th subvectors of the ksub corpus vectors with smallest
    md5(vec_id) — reproducible in any engine with md5, like ivf.py's
    seed centroids.  Collect is bounded: ksub × dim floats.  Returns
    ``codebooks[j][c] = list[dsub floats]``.

    ``rows``: pre-collected md5-ordered seed rows (≥ ksub, see
    ivf.seed_rows) — one shared driver collect for callers seeding
    several quantizer families."""
    if rows is None:
        rows = seed_rows(emb, ksub)
    rows = rows[:ksub]
    dim = len(rows[0]["embedding"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [
            [float(x) for x in r["embedding"][j * dsub : (j + 1) * dsub]]
            for r in rows
        ]
        for j in range(m)
    ]


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    sample_size: int = 100_000,
) -> list[list[list[float]]]:
    """Production codebooks: per-subspace distributed KMeans over ONE
    cached bounded sample (same sampling rationale as
    ivf.train_ivf_centroids — Lloyd's needs enough points to place ksub
    centroids, not the whole corpus); each of the m fits reads the
    sample sliced by an array expression.  Returns the same
    ``codebooks[j][c]`` shape as :func:`seed_pq_codebooks`."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dim = len(corpus.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    sample = corpus.select(v.alias("__v"))
    n = sample.count()
    if n > sample_size:
        sample = sample.sample(
            fraction=min(1.0, 1.1 * sample_size / n), seed=seed
        )
    sample = sample.cache()
    books = []
    try:
        for j in range(m):
            sub = sample.select(
                array_to_vector(
                    F.slice(F.col("__v"), j * dsub + 1, dsub)
                ).alias("features")
            )
            model = KMeans(k=ksub, seed=seed + j, maxIter=max_iter).fit(sub)
            books.append([c.tolist() for c in model.clusterCenters()])
    finally:
        sample.unpersist()
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Add ``out_col``: array<int> of length m, code j = argmin over the
    subspace-j codebook of squared L2 distance (ties → lowest centroid
    id).  Pure JVM array expressions: per subspace the codebook is a
    2-D array literal, ``transform``'s (element, index) lambda scores
    every centroid, and ``array_sort`` on (distance, cid) structs takes
    the head — struct ordering compares distance first, cid second,
    which IS the deterministic argmin.

    The expression is emitted as ONE generated-SQL string per subspace
    rather than composed Column objects: an m×ksub codebook otherwise
    costs thousands of py4j round trips at PLAN BUILD time (measured
    ~5 s of driver stall for 8×16×8 before any job ran).  The string is
    generated from our own collected floats — no user input reaches it,
    so the JSON-DSL no-expr-strings safety contract is untouched.  The
    fold is the same left-to-right (x−y)² sum the DuckDB oracle
    mirrors.  A NULL or wrong-dim vector raises at execution
    (:func:`~ubw_spark.operators.similarity.require_dim`) instead of
    encoding to code 0."""

    # NOTE (round 14): hoisting the m codebooks into one flat constant
    # indexed by an outer transform lambda (the
    # similarity.hyperplane_bucket_array form) was tried and REVERTED —
    # values identical, but execution got SLOWER (sim_pq_ann_topk
    # alternating A/B: 1.58/1.87 s per-subspace form vs 2.66/2.72 s
    # hoisted; sim_ivfpq 1.91/2.02 vs 2.40/3.27).  The per-subspace
    # form keeps slice() bounds constant, which the interpreted HOF
    # path evaluates measurably faster than the lambda-indexed lookup.
    codes = []
    for j, book in enumerate(codebooks):
        dsub = len(book[0])
        codes.append(F.expr(
            f"array_sort(transform({_array_sql(book)}, (c, i) -> "
            f"struct(aggregate(zip_with(slice(__pqv, {j * dsub + 1}, {dsub}), c, "
            "(x, y) -> (x-y)*(x-y)), 0.0D, (a, t) -> a + t) AS d, "
            "i AS c)))[0].c"
        ))
    dim = sum(len(book[0]) for book in codebooks)
    return (
        require_dim(df, vec_col, dim, "pq_encode")
        .withColumn(
            "__pqv", F.transform(F.col(vec_col), lambda x: x.cast("double"))
        )
        .withColumn(out_col, F.array(*codes))
        .drop("__pqv")
    )


def _adc_sum_sql(
    q: list[float], codebooks: list[list[list[float]]], code_col: str
) -> str:
    """The per-query ADC score as generated SQL: m element_at lookups
    into plan-literal ⟨q_sub, centroid⟩ tables, rounded to 4 dp.  Plain
    left-to-right float64 sums (the oracle's list_inner_product folds
    the same way); emitted as SQL text for the same plan-build-cost
    reason as pq_encode.  Shared by all three ADC scorers — the fold
    order and the element_at +1 contract live in ONE place."""
    terms = []
    for j, book in enumerate(codebooks):
        dsub = len(book[0])
        qsub = q[j * dsub : (j + 1) * dsub]
        table = [sum(qs * cs for qs, cs in zip(qsub, cent)) for cent in book]
        terms.append(
            f"element_at({_array_sql(table)}, element_at({code_col}, {j + 1}) + 1)"
        )
    return f"round({' + '.join(terms)}, 4)"


#: Params sidecar for the written IVFPQ store: probing with drifted
#: cell centroids OR codebooks silently probes wrong cells / decodes
#: against wrong tables (the IVF pin rationale, doubled).
PQ_PARAMS_FILE = "_IVFPQ_PARAMS"

#: The code store: one part at the version root, partitioned by cell.
_STORE = FileStore(PQ_PARAMS_FILE, "ivfpq index", ((None, "ivf_cell"),))


def _ivfpq_params(
    cell_centroids: list[list[float]], codebooks: list[list[list[float]]]
) -> dict:
    return {
        "cells": centroid_params(cell_centroids),
        "codebooks": [centroid_params(book) for book in codebooks],
    }


def _empty_adc_result(
    frame: DataFrame, id_col: str, qid_type: str = "bigint"
) -> DataFrame:
    """Zero-row (qid, id, approx_ip) result — the empty-``queries``
    branch of the three ADC scorers.  F.explode(F.array()) of zero
    structs is a VOID element whose field extraction fails ANALYSIS, so
    without this branch an empty micro-batch killed the job where every
    DataFrame-input ANN path just returns no rows.  With an EMPTY
    queries list the qid type is non-inferable (the populated path
    types it from ``F.lit(qid)``), so callers with non-bigint qids pass
    ``qid_type`` to keep the two branches schema-identical across
    micro-batches."""
    return frame.select(
        F.lit(None).cast(qid_type).alias("qid"),
        F.col(id_col),
        F.lit(0.0).alias("approx_ip"),
    ).where(F.lit(False))


def _adc_topk(
    codes: DataFrame,
    queries: list[tuple],
    codebooks: list[list[list[float]]],
    id_col: str,
    code_col: str,
    k: int,
    qid_type: str,
    cells: list[list[int]] | None = None,
) -> DataFrame:
    """The one ADC scorer.  Per query, one struct of (qid, optional
    probe-cell test, ADC score) with the lookup tables as plan
    literals; every code row scores ALL queries in one scan (exploded),
    keeps rows in the query's probe cells (``cells[i]`` for query i,
    when given) other than the query itself, and
    :func:`~ubw_spark.operators.similarity.rerank_topk` keeps each
    query's top k.  Shuffles (qid, id, score) rows, never vectors."""
    if not queries:
        return _empty_adc_result(codes, id_col, qid_type)
    per_query = []
    for i, (qid, vec) in enumerate(queries):
        fields = [F.lit(qid).alias("qid")]
        if cells is not None:
            fields.append(
                F.expr(
                    "array_contains(array("
                    + ",".join(str(c) for c in cells[i])
                    + "), ivf_cell)"
                ).alias("in_probe")
            )
        q = [float(x) for x in vec]
        fields.append(
            F.expr(_adc_sum_sql(q, codebooks, code_col)).alias("approx_ip")
        )
        per_query.append(F.struct(*fields))
    keep = F.col(id_col) != F.col("__q.qid")
    if cells is not None:
        keep = F.col("__q.in_probe") & keep
    scored = (
        codes.select(F.col(id_col), F.explode(F.array(*per_query)).alias("__q"))
        .where(keep)
        .select(
            F.col("__q.qid").alias("qid"),
            id_col,
            F.col("__q.approx_ip").alias("approx_ip"),
        )
    )
    return rerank_topk(scored, k, id_col, "approx_ip")


def pq_adc_topk(
    codes: DataFrame,
    queries: list[tuple],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    k: int = 5,
    qid_type: str = "bigint",
) -> DataFrame:
    """ADC top-k: ``queries`` is a small collected list of
    ``(qid, vector)`` (driver-bounded, like IVF's centroid collect).
    Per query, the m×ksub inner-product tables are computed driver-side
    and embedded as plan literals; every corpus code row then scores
    ALL queries in one scan via m element_at lookups per query
    (exploded), and a per-qid window keeps the top k.  Returns
    (qid, vec_id, approx_ip) with the same 4-dp round + id tiebreak
    contract as the other ANN paths."""
    return _adc_topk(codes, queries, codebooks, id_col, code_col, k, qid_type)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: list[tuple],
    cell_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    qid_type: str = "bigint",
) -> DataFrame:
    """IVF-PQ: the composed billion-vector layout (coarse cells bound
    the candidate set, PQ codes bound the bytes scanned per candidate —
    what FAISS calls IVFPQ).  One pass assigns cells + encodes codes
    (both map-only); per query only rows in its ``nprobe`` nearest
    cells are ADC-scored, so at 100 TB the scan reads nprobe/k_cells of
    a cell-partitioned code store (see ivf.write_ivf_index for the
    layout) and each row costs m table lookups.

    Probe cells are picked driver-side from the collected queries
    (bounded like every centroid collect); ordering is squared-L2 with
    cid tiebreak — the same argmin contract as cell assignment."""
    coded = pq_encode(
        assign_ivf_cells(corpus, cell_centroids, vec_col), codebooks
    ).select(id_col, "ivf_cell", "pq_code")
    return _adc_topk(
        coded, queries, codebooks, id_col, "pq_code", k, qid_type,
        _probe_cells(queries, cell_centroids, nprobe),
    )


def write_ivfpq_index(
    corpus: DataFrame,
    cell_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVFPQ candidate store: (id, pq_code) rows written
    ``partitionBy(ivf_cell)`` — the layout where a probe reads
    nprobe/k_cells of the data AND each row is the m-byte code, not the
    float vector.  ``repartition("ivf_cell")`` first for O(1) files per
    cell (the ivf.write_ivf_index rationale)."""
    coded = pq_encode(
        assign_ivf_cells(corpus, cell_centroids, vec_col), codebooks
    ).select(id_col, "ivf_cell", "pq_code")
    _STORE.write(path, (coded,), _ivfpq_params(cell_centroids, codebooks))


def probe_ivfpq_index(
    spark,
    path: str,
    queries: list[tuple],
    cell_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    k: int = 5,
    nprobe: int = 4,
    qid_type: str = "bigint",
) -> DataFrame:
    """ADC top-k against a written IVFPQ store, reading ONLY the probed
    cells' partitions: the union of every query's probe set becomes a
    static ``isin`` on the partition column (PartitionFilters in the
    plan — the same pattern as ivf.probe_ivf_index), and the per-query
    cell bound + ADC scoring then run exactly as :func:`ivf_pq_topk`.
    Corpus text/vectors are never read — only m-int codes."""
    root, _ = _STORE.open(path, _ivfpq_params(cell_centroids, codebooks))
    coded = _STORE.read(spark, root)
    cells = _probe_cells(queries, cell_centroids, nprobe)
    if queries:
        coded = coded.where(
            F.col("ivf_cell").isin(sorted({c for cs in cells for c in cs}))
        )
    return _adc_topk(
        coded, queries, codebooks, id_col, "pq_code", k, qid_type, cells
    )


def compact_ivfpq_index(
    spark,
    path: str,
    drop_ids,
    id_col: str = "vec_id",
    *,
    broadcast_drops: bool = True,
) -> None:
    """Rewrite the code store without ``drop_ids`` — the IVFPQ member
    of the shared index-compaction contract (see
    ivf.compact_ivf_index; the rows here are m-int codes, so the
    rewrite moves 32× fewer bytes than the raw-vector store).
    ``broadcast_drops=False`` plans a shuffled anti-join for
    corpus-fraction drop sets; cell partitioning and the params pin
    preserved; swap via the versioned-manifest flip
    (versioned.FileStore.compact)."""
    _STORE.compact(
        spark, path, drop_ids, id_col, broadcast_drops=broadcast_drops
    )
