"""HyperLogLog: bounded-state distinct counting for unbounded corpora.

At 100 TB "how many distinct tokens / URLs / users" is itself a
shuffle-heavy query (`count(distinct)` moves every distinct value), and
the answer is often needed per dump, per shard, and for unions of dumps
without re-reading them.  HyperLogLog (Flajolet et al. 2007) bounds the
state at ``m = 2^p`` registers regardless of cardinality, with relative
error ~1.04/sqrt(m), and registers MERGE by cell-wise MAX — so the
cross-dump union costs register-sized data only.

Spark shape: building is one map-only projection (bucket + rho per
item) and one map-side-combining groupBy whose key space is at most
``m`` — the shuffle is bounded by the sketch, not the data.  Estimation
is a register-sized aggregate.  Unlike the count-min store (add-merge,
needs a replay high-water mark), MAX-merge is IDEMPOTENT: a redelivered
batch folds in as a no-op, so the persisted store needs no batch_id
bookkeeping — the Bloom OR-merge property, for cardinalities.

Portability: both hashes are the md5 recipe (operators/dedup.py::
portable_hash) and the rank is an exact 32-term integer comparison sum
(no log2 floats), so every REGISTER — not just the estimate — is
oracle-checkable in SQL.  The estimate itself does one division and
(in the small-range branch) one ln on identical doubles; outputs are
rounded to 6dp, far above any single-libm-call divergence.

Reference parity: extends the reference's aggregate vocabulary
(SURVEY.md §2.4 countDistinct) with the mergeable-sketch form, same
pattern as the Bloom and CMS families.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ubw_spark.operators.dedup import portable_hash
from ubw_spark.operators.versioned import MergeStore, ShapePin, cell_merge

#: rho is computed from a 32-bit uniform hash value.
_HASH_BITS = 32


def _validate(p: int) -> None:
    if not 4 <= p <= 16:
        raise ValueError(f"need 4 <= p <= 16; got p={p}")


def alpha(m: int) -> float:
    """Flajolet's bias-correction constant.  Python-computed and embedded
    as the SAME literal in the Spark plan and the SQL oracle, so both
    engines multiply by the identical double."""
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def hll_bucket(item_col: Column, p: int) -> Column:
    """Register index in [0, 2^p) — md5 salted with ``hll:b:``."""
    return portable_hash(F.concat(F.lit("hll:b:"), item_col)) % (1 << p)


def hll_rho(item_col: Column | str) -> Column:
    """Rank = leading zeros of the 32-bit ``hll:r:`` hash, plus one
    (w = 0 → 33).  Exact integer logic — a sum of 32 comparisons
    against power-of-two literals, mirrored term-for-term by the SQL
    oracle (:func:`rho_sql` generates the identical CASE chain) —
    instead of float log2, whose rounding at exact powers of two
    differs across engines.

    The hash is let-bound (``transform(array(h), w -> ...)`` — 32
    references to a bound value, ONE md5 per row; an inline variable
    would embed 32 copies of the md5 tree, the no-CSE trap of
    functions/hof.py), and the whole expression is emitted as ONE
    generated-SQL string: building the 32-term chain through the Column
    API cost ~0.45 s of py4j round trips per ``hll_build`` call at
    plan-build time (round-13 measurement), ~1 ms as text."""
    from ubw_spark.operators.dedup import _col_sql

    ref = _col_sql(item_col)
    hash_sql = (
        "cast(conv(substring(md5(concat('hll:r:', "
        f"{ref})), 1, 8), 16, 10) as bigint)"
    )
    rank = "1 + " + " + ".join(
        f"(CASE WHEN w < {1 << (_HASH_BITS - j)} THEN 1 ELSE 0 END)"
        for j in range(1, _HASH_BITS + 1)
    )
    return F.expr(
        f"element_at(transform(array({hash_sql}), w -> ({rank})), 1)"
    )


def rho_sql(expr: str) -> str:
    """The DuckDB mirror of :func:`hll_rho` over hash expression
    ``expr`` — generated term-for-term so the two engines cannot
    drift."""
    cases = " + ".join(
        f"(CASE WHEN {expr} < {1 << (_HASH_BITS - j)} THEN 1 ELSE 0 END)"
        for j in range(1, _HASH_BITS + 1)
    )
    return f"(1 + {cases})"


_SHAPE = ShapePin("r", {"p": "hll_p"}, "an hll_build register set", "precision")


def hll_build(
    df: DataFrame,
    item_col: str,
    *,
    p: int = 12,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Registers ``(*group_cols, bucket, r)`` — at most m = 2^p rows
    per group however large ``df`` is; ``p`` rides in the ``r`` column
    metadata (the CMS shape-pin pattern).  Map-only per row, then one
    bounded groupBy with map-side combine."""
    _validate(p)
    group_cols = list(group_cols or [])
    item = F.col(item_col)
    # NULL items don't count toward cardinality (count_distinct
    # semantics) — unfiltered they'd hash to a bogus (NULL bucket,
    # rho=1) register, since the comparison-sum falls through to 1 on
    # NULL instead of propagating it
    df = df.where(item.isNotNull())
    return (
        df.select(
            *group_cols,
            hll_bucket(item, p).alias("bucket"),
            hll_rho(item).alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(_SHAPE.pin(F.max("rho"), {"p": p}))
    )


#: hll_merge(a, b): register-wise MAX per group — registers(A ∪ B)
#: exactly (tested), and IDEMPOTENT: merging a sketch with itself (or a
#: replayed batch) is a no-op.  Raises on a precision mismatch (cross-p
#: registers don't align) and on differing group columns.
hll_merge = cell_merge(
    ("bucket",), {"r": F.max}, where="hll_merge", shape=_SHAPE, grouped=True
)


def hll_estimate(
    registers: DataFrame, *, group_cols: list[str] | None = None
) -> DataFrame:
    """Cardinality estimate per group (``est`` double, rounded 6dp) from
    a register set — a register-sized aggregate, nothing corpus-sized.

    raw = alpha * m^2 / (V + sum(2^-r)) with V = empty registers (each
    contributes 2^-0 = 1); small-range correction switches to linear
    counting m*ln(m/V) when raw <= 2.5m and V > 0.  The 2^-r addends
    are exact powers of two whose sum is order-independent in doubles
    (span 2^-33..2^11 < 53 mantissa bits for p <= 16, r <= 33), so the
    only engine-sensitive steps are one division and one ln — rounded
    away at 6dp."""
    p = _SHAPE.of(registers, "hll_estimate")["p"]
    m = 1 << p
    a = alpha(m)
    group_cols = list(group_cols or [])
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("sum_pow"),
    )
    v = F.lit(m) - F.col("n_present")
    raw = F.lit(a * m * m) / (v.cast("double") + F.col("sum_pow"))
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return agg.select(*group_cols, F.round(est, 6).alias("est"))


def _f(x: float) -> str:
    """A float literal DuckDB types as DOUBLE — bare ``0.72`` parses as
    DECIMAL and silently switches the arithmetic off doubles."""
    return f"{x!r}e0"


def estimate_sql(p: int, registers_cte: str, group_by: str = "") -> str:
    """DuckDB mirror of :func:`hll_estimate` over a CTE named
    ``registers_cte`` with columns (bucket, r[, group cols]).
    ``group_by``: comma-led column list (e.g. ``"lang"``) or empty."""
    m = 1 << p
    a = alpha(m)
    sel = f"{group_by}, " if group_by else ""
    grp = f"GROUP BY {group_by}" if group_by else ""
    raw = (
        f"({_f(a)} * {m} * {m}) / "
        f"(({m} - count(*)) + sum(power(2.0e0, -r)))"
    )
    return f"""
    SELECT {sel}round(
      CASE WHEN {raw} <= {_f(2.5 * m)}
            AND ({m} - count(*)) > 0
           THEN {_f(float(m))} * ln({_f(float(m))} / ({m} - count(*)))
           ELSE {raw}
      END, 6) AS est
    FROM {registers_cte} {grp}
    """


# ---------------------------------------------------------------------------
# Persisted register store (versioned.MergeStore).  MAX-merge is
# idempotent, so appends take no batch_id: a replayed batch folds in as
# a no-op (the Bloom OR-merge property).

PARAMS_FILE = "_HLL_PARAMS"

_STORE = MergeStore(PARAMS_FILE, "hll", hll_merge, _SHAPE)


def write_hll_store(registers: DataFrame, path: str) -> None:
    """Persist an (ungrouped) register set (<= 2^p rows) + its
    precision sidecar as a new store version."""
    extra = [c for c in registers.columns if c not in ("bucket", "r")]
    if extra:
        raise ValueError(
            f"write_hll_store: store registers must be ungrouped "
            f"(bucket, r); got extra columns {extra}"
        )
    _STORE.write(registers, path)


def load_hll(spark, path: str) -> tuple[DataFrame, dict]:
    """(registers, params) from the live store version, precision
    re-pinned from the sidecar onto the ``r`` metadata."""
    return _STORE.load(spark, path)


def append_hll_batch(spark, batch: DataFrame, item_col: str, path: str) -> None:
    """Fold a new batch into the persisted registers WITHOUT rebuilding:
    registers(A ∪ B) == max(registers(A), registers(B)) cell-for-cell,
    so the append costs one batch-sized build plus a register-sized
    max — and because MAX-merge is idempotent, a replayed batch is a
    semantic no-op and no batch_id bookkeeping exists here (contrast
    ``append_cms_batch``).  Precision comes from the store's sidecar;
    the batch cannot override it."""
    _STORE.fold(spark, path, lambda p: hll_build(batch, item_col, p=p["p"]))


def append_hll_registers(spark, registers: DataFrame, path: str) -> None:
    """:func:`append_hll_batch` for ALREADY-BUILT registers — the same
    MAX-merge + versioned flip, minus the batch scan.  Lets one grouped
    corpus pass (``hll_build(group_cols=[...])``, or registers derived
    from a materialized distinct-item table) feed several lifecycle
    steps instead of re-scanning the corpus per step (round 13, guide
    §1.2).  Precision safety is unchanged: ``hll_merge`` raises when
    the registers' pinned p differs from the store sidecar's, and
    rejects grouped inputs (extra columns)."""
    _STORE.fold(spark, path, lambda _: registers)


def estimate_hll_store(spark, path: str) -> DataFrame:
    """One-row cardinality estimate from the persisted registers."""
    regs, _ = load_hll(spark, path)
    return hll_estimate(regs)
