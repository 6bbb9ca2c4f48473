"""Distributed PCA over an embedding column — the whitening /
dimensionality-reduction step an embedding pipeline runs before ANN
indexing or PQ (FAISS's OPQ/PCAR pretransforms are this exact shape).

The classic two-phase layout for tall-skinny data (n rows ≫ d dims):

1. **Covariance as an aggregate** — cov = E[x xᵀ] − E[x]E[x]ᵀ, where
   every term is a plain distributed SUM.  Two implementations:

   - ``method="sql"``: double posexplode → one hash aggregate over
     (i, j) keys with map-side partials.  Pure Catalyst — this is the
     DuckDB-oracle twin (`embedding_pca_variance`).
   - ``method="numpy"``: Arrow-batched ``mapInPandas`` accumulating
     Xᵀ X per PARTITION, emitting d(d+1)/2 (+d+1) rows per partition —
     the 100 TB path: the explode never materializes (BLAS does the
     outer products), and the shuffle carries |partitions| × d² rows
     no matter how large the corpus is.  Parity with the sql path is
     pinned in tests.

2. **Eigh on the driver** — the d×d covariance collect is bounded
   (d=64 → 4096 doubles; the pq.py codebook-collect class), eigenpairs
   come from ``numpy.linalg.eigh``, and each eigenvector is
   sign-canonicalized (largest-|component| made positive) so the fit
   is deterministic run to run.

3. **Projection is map-only** — the r×d component matrix rides into
   the plan as array literals; each row centers once (let-bound) and
   takes r dot products JVM-side.  No shuffle, no Python.

Numerical note: cov via raw second moments cancels catastrophically
when |mean| ≫ stddev; embeddings are ~zero-centered by construction
(and the oracle needs the closed form), so the raw-moment formula is
the right trade here.  A heavily off-center corpus should be coarsely
shifted first — the projection already centers exactly.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ubw_spark.functions.hof import let
from ubw_spark.operators.versioned import MergeStore

__all__ = [
    "covariance_matrix",
    "pca_fit",
    "pca_project",
    "write_moments_store",
    "append_moments_batch",
    "pca_fit_from_store",
]


def covariance_matrix(
    emb: DataFrame, vec_col: str, *, method: str = "sql"
) -> DataFrame:
    """(i, j, cov) for the upper triangle i ≤ j — POPULATION covariance
    rounded at 6 dp with the oracle's exact operation order:
    ``sxy / n - (si / n) * (sj / n)``."""
    if method == "sql":
        agg = _sql_moments(emb, vec_col)
    elif method == "numpy":
        agg = _numpy_moments(emb, vec_col)
    else:
        raise ValueError(f"unknown covariance method {method!r}")
    return agg.select(
        "i",
        "j",
        F.round(
            F.col("sxy") / F.col("n")
            - (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n")),
            6,
        ).alias("cov"),
    )


def _sql_moments(emb: DataFrame, vec_col: str) -> DataFrame:
    """Upper-triangle raw moments via double posexplode + one (i, j)
    hash aggregate with map-side partials — the oracle twin."""
    pairs = (
        emb.select(
            F.posexplode(F.col(vec_col)).alias("i", "__xi"),
            F.col(vec_col).alias("__v"),
        )
        .select(
            "i",
            F.col("__xi").cast("double").alias("xi"),
            F.posexplode("__v").alias("j", "__xj"),
        )
        .where(F.col("j") >= F.col("i"))
        .select("i", "j", "xi", F.col("__xj").cast("double").alias("xj"))
    )
    return pairs.groupBy("i", "j").agg(
        F.sum(F.col("xi") * F.col("xj")).alias("sxy"),
        F.sum("xi").alias("si"),
        F.sum("xj").alias("sj"),
        F.count(F.lit(1)).alias("n"),
    )


def _numpy_moments(emb: DataFrame, vec_col: str) -> DataFrame:
    """Per-partition BLAS accumulation of (Σ xᵢxⱼ, Σ xᵢ, Σ xⱼ, n) for
    i ≤ j, then one tiny (i, j) hash aggregate — the shuffle carries
    |partitions| × d(d+1)/2 rows regardless of corpus size."""
    schema = "i int, j int, sxy double, si double, sj double, n long"

    def acc(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        g = s = None
        n = 0
        for pdf in batches:
            col = pdf[vec_col].dropna()
            if not len(col):
                continue
            x = np.asarray(col.tolist(), dtype="float64")
            g = x.T @ x if g is None else g + x.T @ x
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            n += len(x)
        if g is None:
            return
        d = g.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": iu.astype("int32"),
                "j": ju.astype("int32"),
                "sxy": g[iu, ju],
                "si": s[iu],
                "sj": s[ju],
                "n": np.full(len(iu), n, dtype="int64"),
            }
        )

    return _sum_moments(emb.select(vec_col).mapInPandas(acc, schema))


def _sum_moments(*parts: DataFrame) -> DataFrame:
    """(i, j) re-aggregated union of moment frames — exact, since raw
    moments are plain sums."""
    return (
        reduce(DataFrame.unionByName, parts)
        .groupBy("i", "j")
        .agg(
            F.sum("sxy").alias("sxy"),
            F.sum("si").alias("si"),
            F.sum("sj").alias("sj"),
            F.sum("n").alias("n"),
        )
    )


def pca_fit(
    emb: DataFrame,
    vec_col: str,
    r: int,
    *,
    method: str = "numpy",
) -> dict:
    """Top-r eigenpairs of the corpus covariance: ``{mean, eigvals,
    components}`` with components sign-canonicalized (the
    largest-|component| entry of each eigenvector made positive —
    eigh's sign is arbitrary and this pins determinism).  The only
    eager step collects d(d+1)/2 covariance entries + the d-vector
    mean — bounded by DIMENSION, never by corpus size."""
    # ONE corpus scan: the moments aggregate already carries si/n, so
    # cov AND mean both come from the same d(d+1)/2-row collect
    agg = (
        _numpy_moments(emb, vec_col)
        if method == "numpy"
        else _sql_moments(emb, vec_col)
    )
    return _fit_from_moment_rows(agg.collect(), r)


def _fit_from_moment_rows(rows, r: int) -> dict:
    """Driver-side tail shared by :func:`pca_fit` and
    :func:`pca_fit_from_store`: moments → covariance + mean → eigh →
    sign-canonicalized top-r components."""
    import numpy as np

    d = max(row["j"] for row in rows) + 1
    if r > d:
        raise ValueError(
            f"pca_fit: r={r} components requested but the vectors have "
            f"only d={d} dimensions — r must be <= d"
        )
    cov = np.zeros((d, d))
    mean = np.zeros(d)
    for row in rows:
        i, j, n = row["i"], row["j"], row["n"]
        c = row["sxy"] / n - (row["si"] / n) * (row["sj"] / n)
        cov[i, j] = cov[j, i] = c
        if i == j:
            mean[i] = row["si"] / n
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:r]
    comps = v[:, order].T  # r × d
    flip = np.sign(
        comps[np.arange(r), np.abs(comps).argmax(axis=1)]
    )
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    return {
        "mean": mean.tolist(),
        "eigvals": w[order].tolist(),
        "components": comps.tolist(),
    }


def pca_project(
    emb: DataFrame, vec_col: str, model: dict, *, out_col: str = "pc"
) -> DataFrame:
    """Map-only projection onto the fitted components: center once
    (let-bound — the no-CSE rule for HOF subtrees) then r JVM-side dot
    products against the component rows as array literals.  Output is
    ``array<double>`` of length r alongside the input columns."""
    mean_arr = F.array(*[F.lit(float(m)) for m in model["mean"]])

    def dots(centered):
        cols = []
        for comp in model["components"]:
            warr = F.array(*[F.lit(float(w)) for w in comp])
            cols.append(
                F.aggregate(
                    F.zip_with(centered, warr, lambda x, w: x * w),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
        return F.array(*cols)

    centered = F.zip_with(
        F.col(vec_col), mean_arr, lambda x, m: x.cast("double") - m
    )
    return emb.withColumn(out_col, let(centered, dots))


# ---------------------------------------------------------------- store

#: Sidecar pinning append bookkeeping (the replay high-water mark).
MOMENTS_PARAMS = "_PCA_PARAMS"

_STORE = MergeStore(MOMENTS_PARAMS, "pca-moments", _sum_moments)


def _moments(emb: DataFrame, vec_col: str, method: str) -> DataFrame:
    if method == "numpy":
        return _numpy_moments(emb, vec_col)
    return _sql_moments(emb, vec_col)


def write_moments_store(
    emb: DataFrame, vec_col: str, path: str, *, method: str = "numpy"
) -> None:
    """Persist the raw-moment rows (d(d+1)/2 per write) as a versioned
    store — the incremental-PCA artifact: raw moments are plain SUMS,
    so batches MERGE EXACTLY by (i, j) addition, which a covariance or
    eigenvector store never could.  A nightly re-fit reads this store
    instead of re-scanning the corpus."""
    _STORE.write(_moments(emb, vec_col, method), path, {})


def append_moments_batch(
    batch: DataFrame,
    vec_col: str,
    path: str,
    *,
    method: str = "numpy",
    batch_id: int | None = None,
) -> None:
    """Fold a new batch's moments into the store: sums are
    associative, so append-then-fit equals fit-from-scratch (pinned in
    tests).  Cost ∝ the batch plus the d(d+1)/2-row store itself,
    never the corpus.

    The new version holds the (i, j) re-aggregated union of live +
    batch rows, so the store stays at exactly d(d+1)/2 rows however
    many appends land.  ADD-merge is not replay-idempotent: streaming
    callers MUST pass ``batch_id`` (versioned.MergeStore.fold)."""
    _STORE.fold(
        batch.sparkSession, path,
        lambda _: _moments(batch, vec_col, method), batch_id=batch_id,
    )


def pca_fit_from_store(spark, path: str, r: int) -> dict:
    """Fit from the persisted moments alone (no corpus access): one
    (i, j) re-aggregation over ≤ |appends| × d(d+1)/2 rows, then the
    shared driver-side eigh tail."""
    moments, _ = _STORE.load(spark, path)
    return _fit_from_moment_rows(_sum_moments(moments).collect(), r)
