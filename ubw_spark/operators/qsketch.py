"""Fixed-bin quantile histogram: bounded-state quantile estimation for
unbounded streams — the quantile member of the sketch trio (frequency =
count-min in operators/sketches.py, distinct = HLL in operators/hll.py).

At 100 TB an exact percentile needs a full sort (or an opaque
approx_percentile whose internals no oracle can mirror).  A fixed-bin
histogram over a pinned integer value range bounds the state at
``nbins`` counters regardless of input size, merges across dumps by
CELL-WISE ADDITION (like the CMS), and answers any quantile to within
one bin width: for bin width w, the estimate's error is < w
deterministically — pick nbins from the precision you need, not from
the data volume.

Spark shape: building is one map-only integer bucketize (exact `div`
arithmetic — no float binning, so every cell is oracle-checkable) plus
a groupBy whose key space is AT MOST nbins.  Quantile estimation
re-aggregates the ≤nbins cells (grounding the cumulative window for
the registry's global-window lint — bounded input, one task is
correct), cross-joins the requested quantiles against them, and
linearly interpolates inside the picked bin with literally mirrored
double arithmetic.

The (lo, hi, nbins) range rides in the ``cnt`` column METADATA and in
the persisted store's sidecar; merge/estimate raise on a mismatch —
cross-range cells don't align and would silently mis-bin (the CMS
width/depth rule).

Values must be INTEGER GRAIN (cents, milliseconds): both the bucketize
and the merge stay exact, and the truncate-vs-floor division difference
between engines is neutralized by the clamp (any negative quotient
lands in bin 0 on both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ubw_spark.operators.versioned import MergeStore

__all__ = [
    "hist_build",
    "grouped_hist_build",
    "hist_merge",
    "hist_quantiles",
    "grouped_hist_quantiles",
    "write_hist_store",
    "load_hist",
    "append_hist_batch",
    "probe_hist_quantiles",
    "winsorized_mean",
]

PARAMS_FILE = "_QH_PARAMS"


def _validate(lo: int, hi: int, nbins: int) -> None:
    if hi <= lo or nbins < 2:
        raise ValueError(f"need hi > lo and nbins >= 2; got [{lo},{hi}) x{nbins}")


def _shape(cells: DataFrame) -> tuple[int | None, int | None, int | None]:
    if "cnt" not in cells.columns:
        return None, None, None
    m = cells.schema["cnt"].metadata
    return m.get("qh_lo"), m.get("qh_hi"), m.get("qh_bins")


def _check_shape(cells: DataFrame, where: str) -> tuple[int, int, int]:
    lo, hi, nb = _shape(cells)
    if lo is None or hi is None or nb is None:
        raise ValueError(
            f"{where}: input is not a hist_build histogram "
            "(missing qh_lo/qh_hi/qh_bins metadata on `cnt`)"
        )
    return lo, hi, nb


def hist_build(
    df: DataFrame,
    value_col: str,
    *,
    lo: int,
    hi: int,
    nbins: int = 256,
) -> DataFrame:
    """Histogram an integer-grain column into ``(bin, cnt)`` cells — at
    most ``nbins`` rows however large ``df`` is; (lo, hi, nbins) are
    pinned in the ``cnt`` metadata.

    bin = clamp((v − lo)·nbins div (hi − lo), 0, nbins−1): exact
    integer arithmetic, out-of-range values clamp into the edge bins
    (they stay counted — a sketch that silently drops outliers would
    corrupt every later quantile).  NULLs are filtered (count(col)
    semantics, the HLL rule)."""
    return grouped_hist_build(df, [], value_col, lo=lo, hi=hi, nbins=nbins)


def grouped_hist_build(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    lo: int,
    hi: int,
    nbins: int = 256,
) -> DataFrame:
    """:func:`hist_build` per group: ``(group_cols…, bin, cnt)`` — at
    most groups×nbins rows, the per-segment monitoring shape (one
    histogram per priority/tenant/language under a SHARED pinned
    range, so segments stay comparable and mergeable)."""
    _validate(lo, hi, nbins)
    v = F.col(value_col).cast("long")
    raw = F.expr(f"((__v - {lo}) * {nbins}) div ({hi} - {lo})")
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
    return (
        df.where(v.isNotNull())
        .select(*group_cols, v.alias("__v"))
        .select(*group_cols, bucket.cast("int").alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(
            F.count(F.lit(1)).alias(
                "cnt", metadata={"qh_lo": lo, "qh_hi": hi, "qh_bins": nbins}
            )
        )
    )


def hist_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise sum — hist(A ∪ B) exactly; raises on a range/bin
    mismatch (cross-range cells would silently mis-bin) and on any
    input that is not exactly ``(bin, cnt)`` — the groupBy('bin')
    below would otherwise silently collapse a grouped_hist_build
    result's segments into one histogram (the same guard
    write_hist_store applies)."""
    for side, name in ((a, "a"), (b, "b")):
        if set(side.columns) != {"bin", "cnt"}:
            raise ValueError(
                "hist_merge: input %s must have exactly columns "
                "{bin, cnt}, got %s — merge grouped histograms "
                "per-segment, not through hist_merge" % (name, side.columns)
            )
    sa, sb = _check_shape(a, "hist_merge"), _check_shape(b, "hist_merge")
    if sa != sb:
        raise ValueError(f"hist_merge: shape mismatch {sa} vs {sb}")
    lo, hi, nb = sa
    return (
        a.unionByName(b)
        .groupBy("bin")
        .agg(
            F.sum("cnt").alias(
                "cnt", metadata={"qh_lo": lo, "qh_hi": hi, "qh_bins": nb}
            )
        )
    )


def hist_quantiles(
    cells: DataFrame, q_millis: list[int], *, dp: int = 6
) -> DataFrame:
    """Quantile estimates from histogram cells: one row
    ``(q_milli, n, est)`` per requested quantile (e.g. 500 = median),
    linearly interpolated inside the first bin whose cumulative count
    reaches q·n.

    est = lo + (bin + (target − cum_prev)/cnt) · (hi − lo)/nbins,
    computed in mirrored double arithmetic over exact integer cells —
    deterministic error < one bin width.

    The cells re-aggregate first (≤nbins groups), which both dedups
    multi-source unions and grounds the unpartitioned cumulative window
    at a statically bounded cardinality."""
    return grouped_hist_quantiles(
        cells, [], q_millis, dp=dp, _where="hist_quantiles"
    )


def grouped_hist_quantiles(
    cells: DataFrame,
    group_cols: list[str],
    q_millis: list[int],
    *,
    dp: int = 6,
    _where: str = "grouped_hist_quantiles",
) -> DataFrame:
    """:func:`hist_quantiles` per group over :func:`grouped_hist_build`
    cells: ``(group_cols…, q_milli, n, est)`` — every segment's
    percentile curve from one bounded cell table.

    The cumulative window partitions by the group (≤nbins rows per
    partition); per-group totals join back NULL-SAFELY on the group key
    (a NULL group is a real segment — groupBy keeps it, so a
    null-unsafe join would silently drop its curve) — a broadcastable
    aggregate when groups are few, a plain keyed join otherwise."""
    lo, hi, nb = _check_shape(cells, _where)
    if not q_millis or any(q < 1 or q > 1000 for q in q_millis):
        raise ValueError(f"q_millis must be within [1, 1000]: {q_millis}")
    agg = cells.groupBy(*group_cols, "bin").agg(F.sum("cnt").alias("cnt"))
    cum = agg.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy(*group_cols)
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    nq = cells.groupBy(*group_cols).agg(F.sum("cnt").alias("n")).select(
        *group_cols,
        "n",
        F.explode(
            F.array(*[F.lit(int(q)) for q in q_millis])
        ).alias("q_milli"),
    )
    target = F.col("q_milli").cast("double") * F.col("n").cast("double") / 1000
    if group_cols:
        # nq's group columns are renamed before the join: cum and nq
        # share lineage (both derive from `cells`), and same-name
        # references would resolve ambiguously.
        nqr = nq.select(
            *[F.col(c).alias(f"__g_{c}") for c in group_cols],
            "n",
            "q_milli",
        )
        cond = None
        for c in group_cols:
            eq = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
            cond = eq if cond is None else (cond & eq)
        cand = cum.join(nqr, cond).drop(
            *[f"__g_{c}" for c in group_cols]
        )
    else:
        cand = cum.crossJoin(F.broadcast(nq))
    cand = cand.where(F.col("cum").cast("double") >= target)
    picked = cand.groupBy(*group_cols, "q_milli", "n").agg(
        F.min_by(F.struct("bin", "cnt", "cum"), F.col("bin")).alias("s")
    )
    bin_d = F.col("s.bin").cast("double")
    cnt_d = F.col("s.cnt").cast("double")
    cum_prev_d = (F.col("s.cum") - F.col("s.cnt")).cast("double")
    width = (F.lit(hi) - F.lit(lo)) / F.lit(nb)
    est = F.lit(lo) + (bin_d + (target - cum_prev_d) / cnt_d) * width
    return picked.select(
        *group_cols, "q_milli", "n", F.round(est, dp).alias("est")
    )


# ---------------------------------------------------------------------------
# Persisted histogram store (versioned.MergeStore): bounded cells,
# ADD-merge appends, batch_id high-water mark for replay safety.

_STORE = MergeStore(
    PARAMS_FILE,
    "qh",
    hist_merge,
    repin=lambda df, p: df.select(
        "bin",
        F.col("cnt").alias(
            "cnt",
            metadata={
                "qh_lo": p["lo"], "qh_hi": p["hi"], "qh_bins": p["nbins"],
            },
        ),
    ),
)


def read_hist_params(path: str) -> dict:
    """(lo, hi, nbins[, last_batch_id]) of the LIVE store version."""
    return _STORE.params(path)


def write_hist_store(cells: DataFrame, path: str) -> None:
    """Persist histogram cells (≤nbins rows) + the range sidecar as a
    new store version.  GLOBAL histograms only: grouped cells are
    rejected — load_hist reads back (bin, cnt) and would silently
    collapse every segment into one curve."""
    if set(cells.columns) != {"bin", "cnt"}:
        raise ValueError(
            "write_hist_store: expected exactly (bin, cnt) cells; got "
            f"{cells.columns} — grouped histograms have no store "
            "lifecycle (reading one back would merge the segments)"
        )
    lo, hi, nb = _check_shape(cells, "write_hist_store")
    _STORE.write(cells, path, {"lo": lo, "hi": hi, "nbins": nb})


def load_hist(spark, path: str) -> tuple[DataFrame, dict]:
    """(cells, params) from the live version, range re-pinned from the
    sidecar onto the column metadata."""
    return _STORE.load(spark, path)


def append_hist_batch(
    spark,
    batch: DataFrame,
    value_col: str,
    path: str,
    *,
    batch_id: int | None = None,
) -> None:
    """Fold a new batch into the persisted histogram WITHOUT reading
    old batches: hist(A ∪ B) == hist(A) + hist(B) cell-for-cell.  The
    range comes from the store's sidecar; the batch cannot override it.

    ADD-merge is not replay-idempotent: at-least-once callers
    (foreachBatch) MUST pass ``batch_id`` — the sidecar keeps the
    high-water mark and an already-folded id is a no-op."""
    _STORE.fold(spark, path, lambda p: hist_build(
        batch, value_col, lo=p["lo"], hi=p["hi"], nbins=p["nbins"]
    ), batch_id=batch_id)


def append_hist_cells(
    spark, cells: DataFrame, path: str, *, batch_id: int | None = None
) -> None:
    """:func:`append_hist_batch` for ALREADY-BUILT cells — the same
    ADD-merge + versioned flip, minus the batch scan.  Lets one
    ``grouped_hist_build`` corpus pass feed several lifecycle steps
    (round 13, guide §1.2).  Shape safety is unchanged: ``hist_merge``
    raises when the cells' pinned (lo, hi, nbins) differ from the
    store sidecar's."""
    _STORE.fold(spark, path, lambda _: cells, batch_id=batch_id)


def probe_hist_quantiles(
    spark, path: str, q_millis: list[int]
) -> DataFrame:
    """hist_quantiles against the persisted store, under the range the
    store was built with."""
    cells, _ = load_hist(spark, path)
    return hist_quantiles(cells, q_millis)


def winsorized_mean(
    values: DataFrame,
    value_col: str,
    cells: DataFrame,
    *,
    q_milli: int = 990,
    dp: int = 6,
) -> DataFrame:
    """Robust mean via sketch-derived winsorization: clamp the
    integer-grain column at the histogram's q-th percentile estimate,
    then take the exact mean — ONE row ``(n, cut, clipped, mean_raw,
    mean_winsorized)``.

    The cut comes from :func:`hist_quantiles` (deterministic sub-bin
    error), so the expensive part of a trimmed statistic — finding the
    cut point — costs nbins cells instead of a sort; the clamp and both
    means are a second map-only pass with exact integer sums.  The raw
    mean rides along so the output quantifies what the tail clipping
    changed."""
    est = grouped_hist_quantiles(
        cells, [], [q_milli], dp=dp, _where="winsorized_mean"
    )
    cut = est.select(F.round("est", 0).cast("long").alias("cut"))
    x = F.col(value_col).cast("long")
    w = values.where(x.isNotNull()).select(x.alias("__c")).crossJoin(
        F.broadcast(cut)
    )
    clamped = F.least(F.col("__c"), F.col("cut"))
    return w.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("cut").alias("cut"),
        F.sum(F.when(F.col("__c") > F.col("cut"), 1).otherwise(0)).alias(
            "clipped"
        ),
        F.round(
            F.sum(F.col("__c")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            dp,
        ).alias("mean_raw"),
        F.round(
            F.sum(clamped).cast("double")
            / F.count(F.lit(1)).cast("double"),
            dp,
        ).alias("mean_winsorized"),
    )
