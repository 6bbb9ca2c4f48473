"""Count-min sketch: fixed-size frequency tracking for unbounded streams.

At 100 TB the exact token-frequency table is itself huge (billions of
distinct n-grams); a count-min sketch (Cormode & Muthukrishnan 2005)
bounds the state at ``depth x width`` counters REGARDLESS of corpus
size, at the price of one-sided error: estimates never undercount,
and overcount by at most eps*N with probability 1-delta
(width ~ e/eps, depth ~ ln(1/delta)).  The production uses: heavy-
hitter screening before an exact pass, frequency features for quality
scoring, and cross-dump frequency drift without re-reading old dumps
(sketches MERGE by cell-wise addition — ``cms_merge``).

Spark shape: building is one explode (depth rows per item, map-only)
plus one map-side-combining groupBy whose key space is AT MOST
depth*width — the shuffle is bounded by the sketch size, not the data.
Estimation is MAP-ONLY on the probe side: ``depth`` broadcast joins
(one per sketch row) and a ``least`` across the looked-up cells — no
explode, no groupBy, zero probe-side exchanges (plan-asserted).
Hashes are the portable md5 recipe so every cell is oracle-checkable
in SQL.

The sketch's (width, depth) ride in the ``cnt`` column's METADATA
(``versioned.ShapePin``: zero runtime cost, survives projection/union/
parquet), and both ``cms_merge`` and ``cms_estimate`` fail loudly on a
shape mismatch —
merging or probing across shapes would silently UNDERCOUNT, breaking
the module's one invariant (the Bloom store's m-mismatch rule).

Reference parity: extends the reference's aggregate vocabulary
(SURVEY.md §2.4; no sketch surface exists there) with the LLM-pipeline
frequency primitive, same pattern as the Bloom decontamination family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ubw_spark.operators.dedup import portable_hash
from ubw_spark.operators.versioned import MergeStore, ShapePin, cell_merge


def _cell_bucket(item_col: Column, i: int, width: int) -> Column:
    """Row i's bucket for an item — THE hash recipe (md5 salted with
    ``cms:{i}:``), shared by build and estimate and mirrored literally
    by the SQL oracles."""
    return portable_hash(F.concat(F.lit(f"cms:{i}:"), item_col)) % width


def _validate(width: int, depth: int) -> None:
    if width < 2 or depth < 1:
        raise ValueError(f"need width >= 2, depth >= 1; got {width}x{depth}")


_SHAPE = ShapePin(
    "cnt", {"width": "cms_width", "depth": "cms_depth"}, "a cms_build sketch"
)


def cms_pairs(item_col: Column, width: int, depth: int) -> Column:
    """``array<struct<i,bucket>>`` — the depth hash cells of an item."""
    _validate(width, depth)
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                _cell_bucket(item_col, i, width).alias("bucket"),
            )
            for i in range(depth)
        ]
    )


def cms_build(
    df: DataFrame,
    item_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Sketch a column of items into ``(i, bucket, cnt)`` cells —
    at most depth*width rows however large ``df`` is; (width, depth)
    are pinned in the ``cnt`` column metadata.

    ``weight_col`` counts each row with a weight (e.g. token counts
    pre-aggregated per document) instead of 1."""
    cols = [F.explode(cms_pairs(F.col(item_col), width, depth)).alias("p")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("__w"))
    w = F.col("__w") if weight_col is not None else F.lit(1).cast("long")
    return (
        df.select(*cols)
        .groupBy(F.col("p.i").alias("i"), F.col("p.bucket").alias("bucket"))
        .agg(_SHAPE.pin(F.sum(w), {"width": width, "depth": depth}))
    )


#: cms_merge(a, b): cell-wise sum of two sketches — sketch(A ∪ B)
#: exactly (tested); the cross-dump merge needs no access to either
#: dump's rows.  Raises on a (width, depth) mismatch: cross-shape cells
#: don't align, and the merged estimates would silently UNDERCOUNT.
cms_merge = cell_merge(
    ("i", "bucket"), {"cnt": F.sum}, where="cms_merge", shape=_SHAPE
)


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str,
    *,
    width: int | None = None,
    depth: int | None = None,
) -> DataFrame:
    """Estimated count per probe ROW (``est`` appended to the probe's
    columns): min over the item's depth cells, missing cell = 0.
    Callers wanting one row per distinct item pass distinct probes.

    MAP-ONLY on the probe side: one broadcast join per sketch row —
    each is bounded at ``width`` cells BY CONSTRUCTION, so these are
    the rare broadcasts safe at any corpus scale — then ``least``
    across the looked-up counts (coalesced to 0 FIRST: least skips
    NULLs).  No explode, no distinct, no groupBy: probes stream
    through without a single exchange, so estimation composes into
    map-side filter pipelines (heavy-hitter screening) at 100 TB.

    ``width``/``depth`` default to the sketch's pinned shape; passing
    them explicitly asserts the caller's expectation and raises on a
    mismatch — probing with the wrong shape would undercount
    silently."""
    shape = tuple(_SHAPE.of(sketch, "cms_estimate").values())
    if width is None and depth is None:
        width, depth = shape
    elif (width, depth) != shape:
        raise ValueError(
            f"cms_estimate: sketch is {shape[0]}x{shape[1]}, "
            f"probed as {width}x{depth}"
        )
    _validate(width, depth)
    out = probes
    for i in range(depth):
        row_i = sketch.where(F.col("i") == i).select(
            F.col("bucket").alias(f"__b{i}"), F.col("cnt").alias(f"__c{i}")
        )
        out = out.withColumn(
            f"__b{i}", _cell_bucket(F.col(item_col), i, width)
        ).join(F.broadcast(row_i), f"__b{i}", "left")
    cells = [
        F.coalesce(F.col(f"__c{i}"), F.lit(0).cast("long"))
        for i in range(depth)
    ]
    est = cells[0] if depth == 1 else F.least(*cells)
    return out.withColumn("est", est).drop(
        *[f"__b{i}" for i in range(depth)],
        *[f"__c{i}" for i in range(depth)],
    )


# ---------------------------------------------------------------------------
# Persisted sketch store (versioned.MergeStore).  The sketch is bounded
# at depth*width cells, so every lifecycle step moves sketch-sized data
# only; the corpus is touched once per batch, to BUILD its sketch.

PARAMS_FILE = "_CMS_PARAMS"

_STORE = MergeStore(PARAMS_FILE, "cms", cms_merge, _SHAPE)


def read_cms_params(path: str) -> dict:
    """(width, depth[, last_batch_id]) of the LIVE store version;
    raises if the sidecar is missing."""
    return _STORE.params(path)


def write_cms_store(sketch: DataFrame, path: str) -> None:
    """Persist a sketch (≤ depth*width cells) + its shape sidecar as
    a new store version."""
    _STORE.write(sketch, path)


def load_cms(spark, path: str) -> tuple[DataFrame, dict]:
    """(sketch, params) from the live store version, the shape
    re-pinned from the sidecar onto the ``cnt`` metadata."""
    return _STORE.load(spark, path)


def append_cms_batch(
    spark,
    batch: DataFrame,
    item_col: str,
    path: str,
    *,
    weight_col: str | None = None,
    batch_id: int | None = None,
) -> None:
    """Fold a new batch into the persisted sketch WITHOUT rebuilding:
    sketch(A ∪ B) == sketch(A) + sketch(B) cell-for-cell, so the append
    is one batch-sized build plus a cell-wise add — cost ∝ batch +
    depth*width, never ∝ the accumulated corpus.  Shape comes from the
    store's sidecar; the batch CANNOT override it.

    ADD-merge is NOT naturally idempotent (unlike the bloom store's
    OR-merge): a redelivered batch would double-count.  Streaming
    callers (foreachBatch is at-least-once) MUST pass the framework's
    ``batch_id`` — the sidecar records the high-water mark and an
    already-folded id becomes a no-op on replay."""
    _STORE.fold(spark, path, lambda p: cms_build(
        batch, item_col,
        width=p["width"], depth=p["depth"], weight_col=weight_col,
    ), batch_id=batch_id)


def append_cms_cells(
    spark, cells: DataFrame, path: str, *, batch_id: int | None = None
) -> None:
    """:func:`append_cms_batch` for an ALREADY-BUILT sketch — the same
    ADD-merge + versioned flip, minus the batch scan.  Lets one corpus
    pass (e.g. a materialized word-count table feeding
    ``cms_build(weight_col=...)``) serve several lifecycle steps
    (round 13, guide §1.2).  Shape safety is unchanged: ``cms_merge``
    raises when the cells' pinned (width, depth) differ from the store
    sidecar's.  The batch_id replay contract is the caller's to honour
    exactly as with raw batches."""
    _STORE.fold(spark, path, lambda _: cells, batch_id=batch_id)


def probe_cms_store(
    spark, probes: DataFrame, item_col: str, path: str
) -> DataFrame:
    """cms_estimate against the persisted sketch, under the shape the
    store was built with — the probe side stays map-only."""
    sk, _ = load_cms(spark, path)
    return cms_estimate(sk, probes, item_col)


def cms_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-size estimation from two sketches (Cormode & Muthukrishnan
    2005, §4.2): ``est = min_i Σ_bucket a[i,b]·b[i,b]`` upper-bounds —
    and with depth rows tightly estimates — ``|A ⋈ B|`` on the sketched
    key, i.e. Σ_k cntA(k)·cntB(k).  ONE row ``(est)``; never
    undercounts (every true pair lands in aligned cells; collisions
    only add).

    The planner use: size a prospective join (or a self-join — pass the
    same sketch twice for Σ c(k)², the co-occurrence blow-up number)
    from two sketch-sized summaries WITHOUT touching either table —
    at 100 TB the estimate costs depth×width cells from each side.

    Shape: a cell-aligned inner join of two ≤depth×width frames (both
    broadcastable by construction), one aggregate per row i, min across
    the depth partial sums.  Raises on shape mismatch (cells wouldn't
    align — the cms_merge rule).  Missing cells are zero on either
    side, so the inner join IS the product (0·x terms drop out) — but a
    row i with NO aligned cells contributes dot = 0, not "absent": the
    depth spine below coalesces empty rows back in, otherwise disjoint
    key sets would return NULL and a partially-disjoint pair would skip
    its zero rows and over-estimate (min over a SUBSET of the rows the
    formula demands)."""
    depth = _SHAPE.same((a, b), "cms_inner_product")["depth"]
    prod = (
        a.select("i", "bucket", F.col("cnt").alias("__ca"))
        .join(
            b.select("i", "bucket", F.col("cnt").alias("__cb")),
            ["i", "bucket"],
        )
        .groupBy("i")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__dot"))
    )
    spine = a.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("i")
    )
    grounded = spine.join(prod, "i", "left").select(
        F.coalesce(F.col("__dot"), F.lit(0).cast("long")).alias("__dot")
    )
    return grounded.agg(F.min("__dot").alias("est"))
