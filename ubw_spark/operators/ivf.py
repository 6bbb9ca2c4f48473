"""IVF (inverted-file) approximate nearest neighbor — the scale path the
brief names alongside LSH: a coarse k-means quantizer assigns every
vector to its nearest centroid; queries probe only the ``nprobe``
closest cells.

Spark-first shape:

- training: `pyspark.ml.clustering.KMeans` (distributed Lloyd's) on a
  sample — the model is tiny (k × dim floats) and rides into the plan as
  literals, so assignment is a map-only expression, not a UDF or join.
- index build: one column (`ivf_cell`) added to the corpus — at 100 TB
  you'd additionally `repartition(ivf_cell).write.partitionBy(ivf_cell)`
  so a probe reads only nprobe/k of the data (partition pruning).
- search: probe cells → candidates = corpus rows in those cells →
  exact cosine re-rank.  Candidate volume ≈ N × nprobe / k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ubw_spark.functions.hof import fence

from ubw_spark.operators.similarity import _array_sql, probe_topk, require_dim
from ubw_spark.operators.versioned import FileStore


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    sample_size: int = 100_000,
) -> list[list[float]]:
    """Distributed k-means on a bounded sample; returns centroids as
    plain lists (the 'model' — small enough to be plan literals).

    A coarse quantizer needs only enough points to place k centroids —
    Lloyd's over all of a 100 TB corpus is the training bottleneck, and
    a ~100k-vector sample gives statistically identical cells.  The
    sample fraction comes from a cheap count; seed fixed so training is
    deterministic."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.select(array_to_vector(F.col(vec_col)).alias("features"))
    n = vecs.count()
    if n > sample_size:
        # oversample slightly so the Bernoulli draw lands >= ~sample_size
        vecs = vecs.sample(fraction=min(1.0, 1.1 * sample_size / n), seed=seed)
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(vecs)
    return [c.tolist() for c in model.clusterCenters()]


def seed_ivf_centroids(
    emb: DataFrame, k: int = 8, *, rows: list | None = None
) -> list[list[float]]:
    """Deterministic, SQL-expressible coarse quantizer: the k corpus
    vectors with smallest md5(vec_id).  Used by the REGISTERED query so
    the full IVF path (cell assign → probe → exact re-rank) is oracled
    end-to-end in DuckDB; production training stays
    :func:`train_ivf_centroids` (distributed KMeans — not SQL).
    Collect is bounded: k × dim floats.

    ``rows``: pre-collected md5-ordered seed rows (≥ k, from
    :func:`seed_rows`) — lets a caller seeding several families
    (sim_recall_report: IVF k=8 + PQ ksub=16 from the SAME ordering)
    pay ONE driver collect instead of one per family."""
    if rows is None:
        rows = seed_rows(emb, k)
    return [[float(x) for x in r["embedding"]] for r in rows[:k]]


def seed_rows(emb: DataFrame, n: int) -> list:
    """The shared md5-ordered seed collect: the n corpus rows with
    smallest (md5(vec_id), vec_id) — the ONE ordering every seeded
    quantizer family (IVF centroids, PQ codebooks) slices prefixes of,
    so a family needing k ≤ n seeds reads rows[:k] bit-identically to
    its own limit(k) collect."""
    return (
        emb.select(
            "vec_id",
            "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("__h"),
        )
        .orderBy("__h", "vec_id")
        .limit(n)
        .collect()
    )


def _nearest_cells(vec: Column, centroids: list[list[float]], n: int) -> Column:
    """Indices of the n nearest centroids (squared L2), as an array
    expression over centroid literals.

    The whole ranking is ONE generated-SQL expression (the pq.py
    `_adc_sum_sql` pattern): building it through F.aggregate/F.zip_with
    cost 2 py4j lambda round-trips per centroid — ~1 s of driver time
    per assign_ivf_cells call in sim_recall_report (cProfile: 9.7 s of
    `_create_lambda` across one bench pass) — where one expr() parse is
    ~2 ms.  The parsed tree is identical (same casts, same fold order,
    same lowest-cid tie-break), so assignments are bit-for-bit
    unchanged (pinned by test_semdedup_assign_paths_agree).  Callers
    pick cells through :func:`assign_ivf_cells` (one cell per row) or
    :func:`nearest_cells_py` (a query's probe cells, driver-side)."""
    from ubw_spark.operators.dedup import _col_sql

    v = _col_sql(vec)
    # ONE flat centroid constant looked up by the transform index
    # lambda (round 14, the hyperplane_bucket_array hoist): the
    # round-13 form built k separate named_struct subtrees each with
    # its own zip_with over inline centroid literals — k HOF subtrees
    # to analyze and fold per action.  Values bit-identical: same
    # (a−b)² products, same left-to-right fold, same (d, c) struct
    # sort with lowest-cid tie-break (still pinned by
    # test_semdedup_assign_paths_agree).
    ranked = (
        f"array_sort(transform({_array_sql(centroids)}, (c, i) -> "
        "named_struct('d', aggregate(zip_with("
        f"{v}, c, "
        "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)"
        "), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), "
        "'c', i)))"
    )
    # fence: every caller joins or explodes on the result, and the
    # inferred isnotnull predicates would otherwise be pushdown-
    # substituted, re-running the full centroid-distance pipeline per
    # row just to check a null (hof_filter_violations)
    return fence(
        F.expr(f"transform(slice({ranked}, 1, {int(n)}), s -> s.c)")
    )


#: Above this k, single-cell assignment switches from inlined centroid
#: literals to the Arrow-batched argmin kernel: the literal expression
#: embeds k copies of the distance fold (never codegen'd — interpreted
#: per (row, centroid), measured 75 s for 20k×625×64), and merely
#: BUILDING it costs k·dim py4j F.lit round-trips.  Same distances,
#: same lowest-cid tie-break (pinned by test_semdedup_assign_paths_agree).
_VECTORIZED_ASSIGN_MIN_K = 17


def assign_vectorized(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "ivf_cell",
) -> DataFrame:
    """Arrow-batched nearest-centroid assignment for paper-scale k —
    one float64 BLAS matmul per batch instead of k interpreted
    higher-order folds per row; all input columns pass through.

    Map-only: the centroid matrix rides the task closure (k·dim
    doubles), no shuffle.  Distances are |a|² + |c|² − 2a·c in float64;
    drift vs the sequential Σ(a−c)² fold is ~1e-13 against measured
    1st-vs-2nd-nearest gaps of ~8e-8 in the test corpora, and
    np.argmin's first-minimum IS the lowest-cid tie-break.  Row chunks
    cap the n×k distance block at ~32 MB regardless of k.  Vector shape
    is checked by the :func:`assign_ivf_cells` entry, not here."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    # mirror withColumn's replace-IN-PLACE semantics (the literal
    # path): a pre-existing out_col keeps its position, a new one
    # appends — the two dispatch paths must emit identical column
    # order or positional consumers (createDataFrame from rows,
    # schema hashing, parquet append) diverge on the k threshold
    final_cols = list(df.columns) if out_col in df.columns else (
        df.columns + [out_col]
    )
    if out_col in df.columns:
        df = df.drop(out_col)
    out_schema = StructType(
        df.schema.fields + [StructField(out_col, IntegerType(), False)]
    )
    cmat = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    c2 = (cmat * cmat).sum(axis=1)
    chunk = max(1, (1 << 22) // max(1, cmat.shape[0]))

    def assign(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            a = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            a2 = (a * a).sum(axis=1)
            cell = np.empty(n, dtype=np.int32)
            for lo in range(0, n, chunk):
                hi = min(n, lo + chunk)
                d2 = (
                    a2[lo:hi, None]
                    + c2[None, :]
                    - 2.0 * (a[lo:hi] @ cmat.T)
                )
                cell[lo:hi] = d2.argmin(axis=1)
            pdf = pdf.copy()
            pdf[out_col] = cell
            yield pdf

    return df.mapInPandas(assign, out_schema).select(*final_cols)


#: Params sidecar pinning the quantizer a cell store was built with.
#: Probing with DIFFERENT centroids silently probes the wrong cells
#: (recall collapses with no error) — the same silent-undercount class
#: the bloom/CMS/gram/LSH param pins exist for.
IVF_PARAMS_FILE = "_IVF_PARAMS"

#: The cell store: one part at the version root, partitioned by cell.
_STORE = FileStore(IVF_PARAMS_FILE, "ivf index", ((None, "ivf_cell"),))


def centroid_params(centroids: list[list[float]]) -> dict:
    """Fingerprint of a centroid (or codebook) table for the sidecar —
    shape + md5 over the float-normalized JSON, so any numeric drift in
    any cell is a mismatch."""
    import hashlib
    import json

    norm = [[float(x) for x in c] for c in centroids]
    return {
        "n_cells": len(norm),
        "dim": len(norm[0]) if norm else 0,
        "md5": hashlib.md5(json.dumps(norm).encode()).hexdigest(),
    }


def nearest_cells_py(
    q: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """Driver-side nearest-cell pick for an already-collected query
    vector: squared-L2, plain left-to-right float64 fold (the SAME
    operation order as the ``_nearest_cells`` plan-literal fold, so the
    two paths agree bit-for-bit incl. the lowest-cid tie-break)."""
    d = [
        (sum((x - c) * (x - c) for x, c in zip(q, cent)), ci)
        for ci, cent in enumerate(centroids)
    ]
    return [ci for _, ci in sorted(d)[:nprobe]]


def assign_ivf_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "ivf_cell",
) -> DataFrame:
    """Map-only cell assignment (nearest centroid) into ``out_col`` —
    the one k dispatch.  Small k inlines the centroids as plan
    literals; paper-scale k takes the vectorized Arrow kernel (see
    :data:`_VECTORIZED_ASSIGN_MIN_K`) — identical assignments either
    way.  A NULL or wrong-dim vector raises at execution on both paths
    (:func:`~ubw_spark.operators.similarity.require_dim`) instead of
    landing in cell 0."""
    corpus = require_dim(corpus, vec_col, len(centroids[0]), "assign_ivf_cells")
    if len(centroids) < _VECTORIZED_ASSIGN_MIN_K:
        return corpus.withColumn(
            out_col, _nearest_cells(F.col(vec_col), centroids, 1)[0]
        )
    return assign_vectorized(corpus, centroids, vec_col, out_col)


def _probe_cells(
    queries: list[tuple], centroids: list[list[float]], nprobe: int
) -> list[list[int]]:
    """The probe-cell pick of every IVF and IVF-PQ search: each
    ``(qid, vector)`` query's ``nprobe`` nearest cells, picked
    driver-side with :func:`nearest_cells_py` (queries are
    broadcast-sized by contract).  A NULL or wrong-dim query vector is
    refused here: zip would silently truncate it."""
    dim = len(centroids[0])
    picks = []
    for qid, vec in queries:
        if vec is None or len(vec) != dim:
            raise ValueError(
                f"IVF probe: NULL or non-{dim}-dim query vector for "
                f"qid={qid!r} — filter corrupt embeddings upstream "
                "(module contract: vector columns are non-null, fixed-dim)"
            )
        picks.append(nearest_cells_py([float(x) for x in vec], centroids, nprobe))
    return picks


def _probe_frame(
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> tuple[DataFrame, list[int]]:
    """The (qid, __qv, ivf_cell) probe rows of an IVF search, one per
    query and probed cell (:func:`_probe_cells`), plus the sorted union
    of probed cells.

    ``queries`` is collected ONCE: evaluating its plan twice (once for
    a cell list, again inside the join) silently lost candidates when
    it was non-deterministic (sample(), unordered limit, re-read of
    mutable storage), and an in-plan pick paid the k·dim literal
    expression build per call.  ``literal_frame``, not createDataFrame:
    the probe rows join every consuming job, and a pickled local RDD
    would launch a Python worker per job."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ubw_spark.functions.literals import literal_frame

    q_rows = [
        (r["qid"], r["__qv"])
        for r in queries.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("__qv")
        ).collect()
    ]
    rows = [
        (qid, qv, cell)
        for (qid, qv), cells in zip(q_rows, _probe_cells(q_rows, centroids, nprobe))
        for cell in cells
    ]
    probes = literal_frame(
        queries.sparkSession,
        rows,
        StructType(
            [
                StructField("qid", queries.schema[id_col].dataType, True),
                StructField("__qv", queries.schema[vec_col].dataType, True),
                StructField("ivf_cell", IntegerType(), True),
            ]
        ),
    )
    return probes, sorted({cell for _, _, cell in rows})


def write_ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the 100 TB layout: cell-assign, then write
    ``partitionBy(ivf_cell)`` so every cell is its own partition
    directory.  ``repartition("ivf_cell")`` first, so each cell's rows
    coalesce into O(1) files instead of (num_tasks × num_cells) small
    files — the classic partitionBy small-file explosion.

    The store is VERSIONED (operators/versioned.py): rewrites land in a
    fresh ``vNNNNN/`` dir and the ``_CURRENT`` manifest flips in one
    small-object write — same lifecycle as the LSH and gram indexes."""
    _STORE.write(
        path,
        (assign_ivf_cells(corpus, centroids, vec_col),),
        centroid_params(centroids),
    )


def probe_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Search against a written IVF index, reading ONLY the probed
    cells' partitions.

    The probe cell set is collected driver-side and applied as a static
    ``isin`` predicate on the partition column — bounded by the number
    of centroids (cells ≤ len(centroids), a few ints), this is the
    pattern that turns a probe into a partition-pruned scan reading
    ~nprobe/k of the corpus (PartitionFilters in the plan, asserted in
    tests/test_plans.py) rather than relying on runtime DPP.  The
    subsequent broadcast join on ivf_cell then only fans candidates out
    of the surviving partitions.  The probe rows come from
    :func:`_probe_frame`, the same pick :func:`ivf_ann_topk` makes."""
    root, _ = _STORE.open(path, centroid_params(centroids))
    probes, cells = _probe_frame(queries, centroids, id_col, vec_col, nprobe)
    indexed = _STORE.read(spark, root).where(F.col("ivf_cell").isin(cells))
    return probe_topk(indexed, probes, "ivf_cell", id_col, vec_col, k)


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe the nprobe nearest cells per query; exact-cosine re-rank
    candidates only.  Join key is the small int cell id; probe cells
    are picked driver-side exactly as :func:`probe_ivf_index` picks
    them."""
    probes, _ = _probe_frame(queries, centroids, id_col, vec_col, nprobe)
    return probe_topk(
        assign_ivf_cells(corpus, centroids, vec_col),
        probes, "ivf_cell", id_col, vec_col, k,
    )


def append_ivf_batch(
    batch: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Fold a new vector batch into the written index: cell-assign and
    append into the live version's cell partitions — additive, so
    racing readers see either file set, both complete (the batch is
    simply not yet visible in the older one).  Ids must be unique
    across appends; removals go through :func:`compact_ivf_index`.  A
    batch whose read-back schema differs from the pinned ``_SCHEMA``
    (e.g. an ``int`` id into a ``bigint`` store) is refused before
    anything lands."""
    _STORE.append(
        path,
        lambda _stored: (assign_ivf_cells(batch, centroids, vec_col),),
        params=centroid_params(centroids),
    )


def compact_ivf_index(
    spark,
    path: str,
    drop_ids: DataFrame,
    id_col: str = "vec_id",
    *,
    broadcast_drops: bool = True,
) -> None:
    """Rewrite the cell store without ``drop_ids`` (one column of ids)
    — retired vectors (deleted documents, dedup losers) must stop
    surfacing as neighbors.  Same two-posture anti-join as the LSH
    index compaction: ``broadcast_drops=False`` for corpus-fraction
    drop sets plans a shuffled anti-join (no broadcast limit in the
    path).  Cell partitioning and the quantizer pin are preserved
    (compaction changes membership, never cell geometry); the swap is
    the shared versioned-manifest flip (operators/versioned.py) —
    write new version, one small-object pointer write, grace-keep the
    previous."""
    _STORE.compact(
        spark, path, drop_ids, id_col, broadcast_drops=broadcast_drops
    )
