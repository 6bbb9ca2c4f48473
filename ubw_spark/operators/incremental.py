"""Incremental aggregate maintenance: fold a row delta into a
materialized grouped aggregate without rescanning the base table.

A 100 TB corpus's dashboards and data cards hang off grouped aggregates
(counts, sums per source/lang/day).  Recomputing them per dump costs a
full scan; the incremental-view-maintenance identity (Griffin & Libkin
SIGMOD'95; the delta rule for SUM/COUNT) says a DECOMPOSABLE aggregate
only needs the delta: agg(new) = agg(old) ⊕ agg(±delta rows).  Updates
are modeled as delete-old-row + insert-new-row, which makes group
migration (a row whose GROUP changed) and group extinction (count
reaching zero) fall out of the same arithmetic.

Spark shape: ``row_delta`` reduces both snapshots to (key, md5
fingerprint, carried columns) and full-outer-joins on the KEY — the
shuffle carries fingerprints plus only the columns the aggregate needs,
never document bodies (the snapshot_diff discipline, operators/cdc.py).
``apply_delta_to_agg`` is a delta-sized groupBy plus a state-sized
full-outer join keyed on the group — cost ∝ delta + |groups|, with the
base table untouched.  SUM inputs should be pre-discretized per row
(e.g. long cents): integer sums are order-independent, so maintained
and from-scratch aggregates are bit-identical, not just close.

Reference parity: the reference's CRUD writes (SURVEY.md §2.2 S7)
update base rows; this adds the derived-aggregate half of that story.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ubw_spark.operators.versioned import MergeStore


def row_delta(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    val_cols: list[str],
) -> DataFrame:
    """Signed row delta between snapshots: op = +1 for rows only in
    ``new``, -1 for rows only in ``old``, and BOTH rows for a changed
    key (delete old values, insert new values) — so a changed group
    column migrates the row between groups with no special casing.

    Change detection fingerprints ``val_cols`` as JSON (nulls kept:
    ``concat_ws`` SKIPS nulls, so (NULL,'x') and ('x',NULL) would
    collide and a value move would vanish from the delta) with md5
    map-side; the full-outer join shuffles (key, fingerprint,
    val_cols) only, and matches NULL keys to themselves (eqNullSafe —
    plain equality would re-emit every unchanged NULL-keyed row as a
    spurious delete+insert pair)."""
    if not val_cols:
        raise ValueError("row_delta: need at least one value column")

    def prep(df: DataFrame, tag: str) -> DataFrame:
        fp = F.md5(
            F.to_json(
                F.struct(*[F.col(c) for c in val_cols]),
                {"ignoreNullFields": "false"},
            )
        )
        return df.select(
            *[F.col(k).alias(f"__{tag}_{k}") for k in key_cols],
            fp.alias(f"__fp_{tag}"),
            *[F.col(c).alias(f"__{tag}_{c}") for c in val_cols],
        )

    po, pn = prep(old, "old"), prep(new, "new")
    cond = [
        po[f"__old_{k}"].eqNullSafe(pn[f"__new_{k}"]) for k in key_cols
    ]
    j = po.join(pn, cond, "full_outer")
    old_present = F.col("__fp_old").isNotNull()
    new_present = F.col("__fp_new").isNotNull()
    changed = old_present & new_present & (
        F.col("__fp_old") != F.col("__fp_new")
    )

    def side(tag: str, op: int, keep) -> DataFrame:
        return j.where(keep).select(
            *[F.col(f"__{tag}_{k}").alias(k) for k in key_cols],
            *[F.col(f"__{tag}_{c}").alias(c) for c in val_cols],
            F.lit(op).alias("op"),
        )

    dels = side("old", -1, (old_present & ~new_present) | changed)
    ins = side("new", +1, (~old_present & new_present) | changed)
    return dels.unionByName(ins)


def apply_delta_to_agg(
    state: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    measures: dict[str, Column],
    *,
    count_col: str | None = None,
) -> DataFrame:
    """agg(new) from agg(old) + a signed row delta, for COUNT/SUM
    measures.  ``state`` has (group_cols, *measures) — typically a
    previously materialized result of :func:`grouped_agg`; ``measures``
    maps each measure name to its PER-ROW contribution expression
    (``F.lit(1)`` for a count), evaluated against delta rows and summed
    with the sign.

    ``count_col`` names the measure that counts rows: groups where it
    nets to zero are extinct and dropped, matching a from-scratch
    aggregate exactly.  It must be a row COUNT — inferring extinction
    from "all measures zero" would delete a live group whose VALUES
    happen to sum to zero, so without a ``count_col`` no group is
    dropped (zero-measure groups stay, and the caller owns tombstone
    semantics).

    One delta-sized groupBy (map-side combine), one |groups|-sized
    full-outer join — null-safe on the group key, since NULL is a
    legitimate group ("ungrouped" rows) and an equality join would
    split it into two output rows.  The base table is never read."""
    if not measures:
        raise ValueError("apply_delta_to_agg: need at least one measure")
    if count_col is not None and count_col not in measures:
        raise ValueError(
            f"apply_delta_to_agg: count_col {count_col!r} is not a measure"
        )
    d = delta.groupBy(*group_cols).agg(
        *[
            F.sum(F.col("op") * expr).alias(f"__d_{name}")
            for name, expr in measures.items()
        ]
    )
    d = d.select(
        *[F.col(g).alias(f"__g_{g}") for g in group_cols],
        F.lit(True).alias("__in_delta"),
        *[F.col(f"__d_{name}") for name in measures],
    )
    cond = [
        state[g].eqNullSafe(d[f"__g_{g}"]) for g in group_cols
    ]
    j = state.join(d, cond, "full_outer")
    zero = F.lit(0).cast("long")
    # the group value comes from whichever side is present — a NULL in
    # state's column is ambiguous (absent row vs NULL group), the
    # presence flag is not
    group_out = [
        F.when(F.col("__in_delta").isNotNull(), F.col(f"__g_{g}"))
        .otherwise(state[g])
        .alias(g)
        for g in group_cols
    ]
    # NULL-preserving fold: SUM is NULL iff every input is NULL, so a
    # group whose measure is NULL on BOTH sides must stay NULL — a
    # plain coalesce-to-0 fold would emit 0 there and break the
    # maintained == recomputed bit-identity grouped_agg promises.
    out_cols = [
        F.when(
            F.col(name).isNull() & F.col(f"__d_{name}").isNull(),
            F.lit(None),  # untyped NULL unifies with the sum branch
        )
        .otherwise(
            F.coalesce(F.col(name), zero)
            + F.coalesce(F.col(f"__d_{name}"), zero)
        )
        .alias(name)
        for name in measures
    ]
    merged = j.select(*group_out, *out_cols)
    if count_col is None:
        return merged
    return merged.where(F.col(count_col) != 0)


def grouped_agg(
    df: DataFrame, group_cols: list[str], measures: dict[str, Column]
) -> DataFrame:
    """The from-scratch twin of :func:`apply_delta_to_agg`: sum each
    per-row measure per group.  Used to seed the state and, in tests,
    to prove maintained == recomputed bit-for-bit."""
    return df.groupBy(*group_cols).agg(
        *[F.sum(expr).alias(name) for name, expr in measures.items()]
    )


def join_delta(
    a_old: DataFrame,
    delta_a: DataFrame,
    b_old: DataFrame,
    delta_b: DataFrame,
    on: list[tuple[str, str]],
) -> DataFrame:
    """Signed row delta of the JOIN VIEW A ⋈ B from the base deltas —
    the bag-algebra bilinearity (Griffin & Libkin):

        Δ(A ⋈ B) = ΔA ⋈ B_old  +  A_old ⋈ ΔB  +  ΔA ⋈ ΔB

    with the third term's sign the PRODUCT of the row signs (a changed
    order joined to a changed customer contributes delete×delete,
    delete×insert, … exactly once each).  Feeding the result to
    :func:`apply_delta_to_agg` maintains an aggregate OVER the join
    without ever re-running the full join — the classic IVM pipeline.

    ``on``: [(a_col, b_col), ...] equi-join pairs.  Non-join column
    names must be disjoint across the sides (they all survive into the
    delta rows).  Inputs: ``delta_a``/``delta_b`` as produced by
    :func:`row_delta` (an ``op`` column of ±1); ``a_old``/``b_old`` are
    the PRIOR snapshots — every term joins a delta-sized side against a
    base keyed on the join column, so the work is ∝ delta × fan-out,
    not |A|·|B|."""
    dup = {c for c in a_old.columns if c != "op"} & {
        c for c in b_old.columns if c != "op"
    }
    if dup:
        raise ValueError(
            f"join_delta: non-join columns must be disjoint; both sides "
            f"have {sorted(dup)}"
        )

    def tag(df: DataFrame, side: str, signed: bool) -> DataFrame:
        if signed:
            if "op" not in df.columns:
                raise ValueError(
                    f"join_delta: delta_{side} has no `op` column — pass "
                    "a row_delta output"
                )
            return df.withColumnRenamed("op", f"__op_{side}")
        return df

    def term(left: DataFrame, right: DataFrame, op: Column) -> DataFrame:
        cond = [
            left[ac] == right[bc] for ac, bc in on
        ]
        out_cols = [
            left[c] for c in left.columns if not c.startswith("__op_")
        ] + [right[c] for c in right.columns if not c.startswith("__op_")]
        return left.join(right, cond).select(*out_cols, op.alias("op"))

    da = tag(delta_a, "a", True)
    db = tag(delta_b, "b", True)
    t1 = term(da, b_old, F.col("__op_a"))
    t2 = term(a_old, db, F.col("__op_b"))
    t3 = term(da, db, F.col("__op_a") * F.col("__op_b"))
    return t1.unionByName(t2).unionByName(t3)


# ---------------------------------------------------------------------------
# Persisted aggregate store (versioned.MergeStore) — a STREAMING
# MATERIALIZED VIEW when driven from foreachBatch.  Folding is ADD-merge
# (apply_delta_to_agg), so the sidecar keeps a batch_id high-water mark;
# state moved per fold is |groups| rows.

AGG_PARAMS_FILE = "_AGG_PARAMS"

_STORE = MergeStore(AGG_PARAMS_FILE, "agg", apply_delta_to_agg)


def write_agg_store(state: DataFrame, path: str) -> None:
    """Persist a grouped aggregate (e.g. a grouped_agg result) as a new
    store version."""
    _STORE.write(state, path, {})


def load_agg_store(spark, path: str) -> tuple[DataFrame, dict]:
    """(state, params) from the live version."""
    return _STORE.load(spark, path)


def fold_batch_into_agg_store(
    spark,
    delta: DataFrame,
    group_cols: list[str],
    measures: dict[str, Column],
    path: str,
    *,
    count_col: str | None = None,
    batch_id: int | None = None,
) -> None:
    """Fold a signed row delta (append-only streams: all op = +1) into
    the persisted aggregate — cost ∝ delta + |groups|, the base stream
    history is never replayed.  ADD-merge double-counts on redelivery,
    so streaming callers MUST pass foreachBatch's ``batch_id``: the
    sidecar records the high-water mark and an already-folded id
    becomes a no-op (the append_cms_batch contract; the HLL store's
    max-merge needs none of this)."""
    _STORE.fold(
        spark, path, lambda _: delta, batch_id=batch_id,
        group_cols=group_cols, measures=measures, count_col=count_col,
    )
