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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ubw_spark.operators.versioned import (
    begin_rewrite,
    commit_rewrite,
    compact_partitioned_store,
    pin_schema,
    read_pinned_parquet,
    read_sidecar,
    resolve_root,
    write_sidecar,
)


def seed_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rows: list | None = None,
) -> list[list[list[float]]]:
    """Deterministic, SQL-expressible codebooks: subspace j's centroids
    are the j-th subvectors of the ksub corpus vectors with smallest
    md5(id) — reproducible in any engine with md5, like ivf.py's seed
    centroids.  Collect is bounded: ksub × dim floats.  Returns
    ``codebooks[j][c] = list[dsub floats]``.

    ``rows``: pre-collected md5-ordered seed rows (≥ ksub, see
    queries.scale_ops.seed_rows) — one shared driver collect for
    callers seeding several quantizer families."""
    if rows is not None:
        rows = rows[:ksub]
    else:
        rows = (
            emb.select(
                id_col, vec_col,
                F.md5(F.col(id_col).cast("string")).alias("__h"),
            )
            .orderBy("__h", id_col)
            .limit(ksub)
            .collect()
        )
    dim = len(rows[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [
            [float(x) for x in r[vec_col][j * dsub : (j + 1) * dsub]]
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
    mirrors."""

    # NOTE (round 14): hoisting the m codebooks into one flat constant
    # indexed by an outer transform lambda (the
    # similarity.hyperplane_bucket_array form) was tried and REVERTED —
    # values identical, but execution got SLOWER (sim_pq_ann_topk
    # alternating A/B: 1.58/1.87 s per-subspace form vs 2.66/2.72 s
    # hoisted; sim_ivfpq 1.91/2.02 vs 2.40/3.27).  The per-subspace
    # form keeps slice() bounds constant, which the interpreted HOF
    # path evaluates measurably faster than the lambda-indexed lookup.
    def book_sql(book: list[list[float]]) -> str:
        return "array(" + ",".join(
            "array(" + ",".join(f"{float(c)!r}D" for c in cent) + ")"
            for cent in book
        ) + ")"

    codes = []
    for j, book in enumerate(codebooks):
        dsub = len(book[0])
        codes.append(F.expr(
            f"array_sort(transform({book_sql(book)}, (c, i) -> "
            f"struct(aggregate(zip_with(slice(__pqv, {j * dsub + 1}, {dsub}), c, "
            "(x, y) -> (x-y)*(x-y)), 0.0D, (a, t) -> a + t) AS d, "
            "i AS c)))[0].c"
        ))
    return (
        df.withColumn(
            "__pqv", F.transform(F.col(vec_col), lambda x: x.cast("double"))
        )
        .withColumn(out_col, F.array(*codes))
        .drop("__pqv")
    )


def _nearest_cells_py(
    q: list[float], cell_centroids: list[list[float]], nprobe: int
) -> list[int]:
    """Driver-side probe-cell pick — the shared ivf definition (ONE
    fold order + cid tie-break for every path that picks cells: the
    written store and the in-memory scorer must probe the same
    cells)."""
    from ubw_spark.operators.ivf import nearest_cells_py

    return nearest_cells_py(q, cell_centroids, nprobe)


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
        tbl = "array(" + ",".join(f"{t!r}D" for t in table) + ")"
        terms.append(
            f"element_at({tbl}, element_at({code_col}, {j + 1}) + 1)"
        )
    return f"round({' + '.join(terms)}, 4)"


#: Params sidecar for the written IVFPQ store: probing with drifted
#: cell centroids OR codebooks silently probes wrong cells / decodes
#: against wrong tables (the IVF pin rationale, doubled).
PQ_PARAMS_FILE = "_IVFPQ_PARAMS"


def _ivfpq_params(
    cell_centroids: list[list[float]], codebooks: list[list[list[float]]]
) -> dict:
    from ubw_spark.operators.ivf import centroid_params

    return {
        "cells": centroid_params(cell_centroids),
        "codebooks": [centroid_params(book) for book in codebooks],
    }


def _check_ivfpq_params(
    root: str,
    cell_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
) -> None:
    stored = read_sidecar(root, PQ_PARAMS_FILE, "ivfpq index")
    got = _ivfpq_params(cell_centroids, codebooks)
    if stored != got:
        raise ValueError(
            f"ivfpq index at {root} was built with a different "
            "quantizer/codebook set — probing with drifted parameters "
            "silently scores wrong; use the training-time tables or "
            "rebuild the index"
        )


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
    if not queries:
        return _empty_adc_result(codes, id_col, qid_type)
    per_query = []
    for qid, vec in queries:
        q = [float(x) for x in vec]
        per_query.append(
            F.struct(
                F.lit(qid).alias("qid"),
                F.expr(_adc_sum_sql(q, codebooks, code_col)).alias(
                    "approx_ip"
                ),
            )
        )
    scored = (
        codes.select(
            F.col(id_col), F.explode(F.array(*per_query)).alias("__q")
        )
        .select(
            F.col("__q.qid").alias("qid"),
            id_col,
            F.col("__q.approx_ip").alias("approx_ip"),
        )
        .where(F.col(id_col) != F.col("qid"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("approx_ip").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


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
    from ubw_spark.operators.ivf import assign_ivf_cells

    coded = pq_encode(
        assign_ivf_cells(corpus, cell_centroids, vec_col), codebooks
    ).select(id_col, "ivf_cell", "pq_code")
    if not queries:
        return _empty_adc_result(coded, id_col, qid_type)

    per_query = []
    for qid, vec in queries:
        q = [float(x) for x in vec]
        cells = _nearest_cells_py(q, cell_centroids, nprobe)
        per_query.append(
            F.struct(
                F.lit(qid).alias("qid"),
                F.expr(
                    "array_contains(array("
                    + ",".join(str(c) for c in cells)
                    + "), ivf_cell)"
                ).alias("in_probe"),
                F.expr(_adc_sum_sql(q, codebooks, "pq_code")).alias(
                    "approx_ip"
                ),
            )
        )
    scored = (
        coded.select(
            F.col(id_col), F.explode(F.array(*per_query)).alias("__q")
        )
        .where(F.col("__q.in_probe") & (F.col(id_col) != F.col("__q.qid")))
        .select(
            F.col("__q.qid").alias("qid"),
            id_col,
            F.col("__q.approx_ip").alias("approx_ip"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("approx_ip").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
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
    from ubw_spark.operators.ivf import assign_ivf_cells

    new_v, root = begin_rewrite(path)
    coded = pq_encode(
        assign_ivf_cells(corpus, cell_centroids, vec_col), codebooks
    ).select(id_col, "ivf_cell", "pq_code")
    (
        coded.repartition("ivf_cell")
        .write.mode("overwrite")
        .partitionBy("ivf_cell")
        .parquet(root)
    )
    pin_schema(root, coded.schema, ("ivf_cell",))
    write_sidecar(root, PQ_PARAMS_FILE, _ivfpq_params(cell_centroids, codebooks))
    commit_rewrite(path, new_v)


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
    root = resolve_root(path)
    _check_ivfpq_params(root, cell_centroids, codebooks)
    if not queries:
        return _empty_adc_result(
            read_pinned_parquet(spark, root), id_col, qid_type
        )
    probes = {
        qid: _nearest_cells_py([float(x) for x in vec], cell_centroids, nprobe)
        for qid, vec in queries
    }
    all_cells = sorted({c for cells in probes.values() for c in cells})
    coded = read_pinned_parquet(spark, root).where(
        F.col("ivf_cell").isin(all_cells)
    )
    per_query = []
    for qid, vec in queries:
        q = [float(x) for x in vec]
        per_query.append(
            F.struct(
                F.lit(qid).alias("qid"),
                F.expr(
                    "array_contains(array("
                    + ",".join(str(c) for c in probes[qid])
                    + "), ivf_cell)"
                ).alias("in_probe"),
                F.expr(_adc_sum_sql(q, codebooks, "pq_code")).alias(
                    "approx_ip"
                ),
            )
        )
    scored = (
        coded.select(
            F.col(id_col), F.explode(F.array(*per_query)).alias("__q")
        )
        .where(F.col("__q.in_probe") & (F.col(id_col) != F.col("__q.qid")))
        .select(
            F.col("__q.qid").alias("qid"),
            id_col,
            F.col("__q.approx_ip").alias("approx_ip"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("approx_ip").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
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
    corpus-fraction drop sets; cell partitioning preserved; swap via
    the versioned-manifest flip — one shared body for both
    cell-partitioned stores (versioned.compact_partitioned_store)."""
    stored = read_sidecar(resolve_root(path), PQ_PARAMS_FILE, "ivfpq index")
    compact_partitioned_store(
        spark, path, drop_ids, id_col, "ivf_cell",
        broadcast_drops=broadcast_drops,
        pre_commit=lambda new_root: write_sidecar(
            new_root, PQ_PARAMS_FILE, stored
        ),
    )
