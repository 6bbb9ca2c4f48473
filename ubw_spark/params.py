"""QueryParams → DataFrame compiler (the reference's param-application layer).

Implements, with the reference's silent-ignore semantics:

- L1 dynamic multi-column sort: runtime ``orders=[(name, is_desc), ...]``;
  keys on non-orderable columns silently dropped; NULLS LAST always;
  **effective keys emitted in spec-declaration order, not request order**
  (doc-02.md:124-133, FIXTURES.md G3).
- L2 orderTarget redirection: request on ``name`` sorts by its
  ``order_target`` sibling (Sample05.scala:29, doc-02.md:130-133).
- L3 paging: ``drop/take`` and 1-based ``page_index/page_size``
  (SlickParam, doc-02.md:135) → Spark ``offset``/``limit`` (pushed down by
  Catalyst's LimitPushDown; deterministic only atop a total order).
- L4 default sort direction: ``default_desc`` consumed when an order
  request omits direction (``orders=["name"]``).
- P3/P4 pruning: hidden (``visible=False``) columns are dropped from the
  output but remain usable as sort keys (doc-02.md:144-167) — we orderBy
  *before* the final projection, and Catalyst still prunes the scan.
- P5-P8 filters: runtime dict ``{"name": {"like": "%x%"}, "age": {"eq": 3}}``
  compiled against each column's declared filter capabilities; unknown
  columns/operators ignored (doc-01.md:148-152, Sample09.scala:31-56).
- P6 optional predicate conjunction: absent params produce no filter node
  at all (Sample04.scala:7-16).

Pre-flight validation accumulates all problems (AtomicException analog)
instead of failing one at a time — see ubw_spark.core.errors.

Scale notes: everything here compiles to a single declarative plan —
filter → orderBy → offset/limit → project — so Catalyst gets full
pushdown/pruning freedom.  A global orderBy is a range-partitioned
shuffle; at 100 TB paging deep into a total order is inherently
expensive, so ``limit`` without deep offset stays cheap
(TakeOrderedAndProject) while deep offsets are re-expressed as KEYSET
pagination: ``QueryParams(after_key={...})`` compiles the last-seen
sort-key row into a lexicographic strictly-after predicate (NULLS-LAST
exact), so every page costs one TakeOrderedAndProject regardless of
depth — see :func:`_keyset_predicate` and the oracled
``engine_keyset_paging`` query.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ubw_spark.core.errors import ErrorAccumulator
from ubw_spark.core.spec import ColumnSpec, QuerySpec

# The filter-operator whitelist (P7).  `like` additionally requires the
# column to be declared likeable.
_FILTER_OPS: dict[str, Any] = {
    "eq": lambda c, v: c == F.lit(v),
    "ne": lambda c, v: c != F.lit(v),
    "gt": lambda c, v: c > F.lit(v),
    "ge": lambda c, v: c >= F.lit(v),
    "lt": lambda c, v: c < F.lit(v),
    "le": lambda c, v: c <= F.lit(v),
    "like": lambda c, v: c.like(v),
    "in": lambda c, v: c.isin(list(v)),
    "between": lambda c, v: c.between(v[0], v[1]),
    "isnull": lambda c, v: c.isNull() if v else c.isNotNull(),
}


@dataclass(frozen=True)
class QueryParams:
    """Runtime parameters applied to a QuerySpec — all optional."""

    orders: tuple = ()  # [(name, is_desc)] or [name] (uses default_desc)
    filters: dict[str, dict[str, Any]] = field(default_factory=dict)
    drop: int | None = None
    take: int | None = None
    page_index: int | None = None  # 1-based
    page_size: int | None = None
    select: tuple | None = None  # list-driven projection (P4); None = all
    after_key: dict[str, Any] | None = None  # keyset paging boundary

    def __init__(
        self,
        orders: list | tuple = (),
        filters: dict[str, dict[str, Any]] | None = None,
        drop: int | None = None,
        take: int | None = None,
        page_index: int | None = None,
        page_size: int | None = None,
        select: list | tuple | None = None,
        after_key: dict[str, Any] | None = None,
    ):
        object.__setattr__(self, "orders", tuple(orders))
        object.__setattr__(self, "filters", dict(filters or {}))
        object.__setattr__(self, "drop", drop)
        object.__setattr__(self, "take", take)
        object.__setattr__(self, "page_index", page_index)
        object.__setattr__(self, "page_size", page_size)
        object.__setattr__(
            self, "select", tuple(select) if select is not None else None
        )
        # `is not None`, not truthiness: an empty cursor dict must reach
        # _keyset_predicate and raise there (a service passing a hollow
        # client cursor would otherwise silently get page 1).
        object.__setattr__(
            self, "after_key", dict(after_key) if after_key is not None else None
        )

    def offset_limit(self) -> tuple[int | None, int | None]:
        if self.page_index is not None and self.page_size is not None:
            return (self.page_index - 1) * self.page_size, self.page_size
        return self.drop, self.take


def _normalize_orders(orders: tuple) -> list[tuple[str, bool | None]]:
    out: list[tuple[str, bool | None]] = []
    for o in orders:
        if isinstance(o, str):
            out.append((o, None))  # direction from spec default (L4)
        else:
            name, is_desc = o
            out.append((name, bool(is_desc)))
    return out


def _effective_order_keys(
    spec: QuerySpec, orders: tuple
) -> list[tuple[ColumnSpec, bool]]:
    """Resolve requested order keys to (target spec, is_desc) pairs.

    Redirects through order_target, drops keys whose target is not
    orderable (silent-ignore), and — matching the reference's generated
    SQL (doc-02.md:130) — returns keys in *spec declaration order*.
    """
    smap = spec.spec_map()
    requested: dict[str, bool] = {}
    for name, is_desc in _normalize_orders(orders):
        s = smap.get(name)
        if s is None:
            continue  # unknown column: ignore
        if s.order_target is not None:
            # Declaring a redirect is itself the orderability opt-in.
            target = smap.get(s.order_target)
            if target is None:
                continue
        elif s.orderable:
            target = s
        else:
            continue  # non-orderable, no redirect: silently dropped
        direction = is_desc if is_desc is not None else target.default_desc
        requested.setdefault(target.name, direction)
    # re-emit in declaration order
    return [
        (s, requested[s.name]) for s in spec.columns if s.name in requested
    ]


def _keyset_predicate(
    keys: list[tuple[ColumnSpec, bool]],
    after_key: dict[str, Any],
    dtypes: dict[str, str] | None = None,
) -> Column:
    """Compile the last-seen sort-key row into a lexicographic
    strictly-after predicate — keyset pagination, the deep-offset
    answer (docs/SCALE.md): OFFSET n must sort-and-discard n rows on
    every page, while this predicate is sargable, pushes toward the
    scan, and keeps every page at TakeOrderedAndProject cost.

    For effective keys (k1, d1), (k2, d2), ... and boundary values
    (v1, v2, ...):

        after = (k1 STRICTLY-AFTER v1)
             OR (k1 AT v1 AND k2 STRICTLY-AFTER v2) OR ...

    honoring NULLS-LAST exactly: a non-null boundary is strictly
    passed by ``k > v`` (``<`` for desc) OR ``k IS NULL`` (nulls sort
    after every value in BOTH directions here); a NULL boundary admits
    no strictly-after value at that level, only deeper-level ties
    (``k IS NULL`` is the tie condition).  With the standard contract
    — the key set ends in a unique tiebreak column — page N+1 under
    this predicate is row-for-row the OFFSET equivalent (oracled by
    ``engine_keyset_paging``).

    Raises (never silently ignores) when ``after_key`` does not cover
    exactly the effective sort columns: a partial boundary would
    silently return rows from the wrong page — a correctness hazard,
    not a capability negotiation like the orders/filters whitelists.
    Boundary VALUES go through the same JSON-layer coercion as filter
    operands (``_coerce_operand``) when ``dtypes`` is provided — an
    un-coercible value raises the same loud ValueError instead of an
    opaque ANSI cast failure mid-job (boundaries normally come from a
    previous page's row and are type-correct; a JSON layer can hand a
    string where a date/number belongs).
    """
    eff_names = [s.name for s, _ in keys]
    if sorted(after_key) != sorted(eff_names):
        raise ValueError(
            f"after_key must name exactly the effective sort columns "
            f"{eff_names}, got {sorted(after_key)} — keyset paging "
            "needs the full boundary row (include a unique tiebreak "
            "key in orders)"
        )
    if dtypes is not None:
        coerced: dict[str, Any] = {}
        for name, v in after_key.items():
            if v is None:
                coerced[name] = None
                continue
            ok, cv = _coerce_boundary(dtypes.get(name, "string"), v)
            if not ok:
                raise ValueError(
                    f"after_key[{name!r}] = {v!r} is not coercible to "
                    f"column type {dtypes.get(name, 'string')} — a "
                    "malformed boundary would silently page from the "
                    "wrong position"
                )
            coerced[name] = cv
        after_key = coerced
    disjuncts: list[Column] = []
    for i, (s, is_desc) in enumerate(keys):
        conj: list[Column] = []
        for s_prev, _ in keys[:i]:
            v_prev = after_key[s_prev.name]
            conj.append(
                F.col(s_prev.name).isNull()
                if v_prev is None
                else F.col(s_prev.name) == F.lit(v_prev)
            )
        v = after_key[s.name]
        if v is None:
            continue  # nothing sorts strictly after NULL (nulls last)
        c = F.col(s.name)
        strict = (c < F.lit(v)) if is_desc else (c > F.lit(v))
        conj.append(strict | c.isNull())
        disjuncts.append(reduce(lambda a, b: a & b, conj))
    if not disjuncts:
        return F.lit(False)  # boundary row is all-NULL: nothing after
    return reduce(lambda a, b: a | b, disjuncts)


def validate_params(spec: QuerySpec, params: QueryParams) -> list[str]:
    """Pre-flight check returning ALL problems (U2 analog).  The engine's
    default behavior is silent-ignore per the reference; this is the
    opt-in strict mode for clients that want the accumulated report."""
    acc = ErrorAccumulator()
    smap = spec.spec_map()
    for name, is_desc in _normalize_orders(params.orders):
        s = smap.get(name)
        if s is None:
            acc.add(f"order key '{name}' is not a declared column")
        elif not s.orderable and s.order_target is None:
            acc.add(f"order key '{name}' is not orderable")
        elif s.order_target is not None and s.order_target not in smap:
            acc.add(
                f"order key '{name}' redirects to unknown column "
                f"'{s.order_target}'"
            )
    for name, ops in params.filters.items():
        s = smap.get(name)
        if s is None:
            acc.add(f"filter column '{name}' is not a declared column")
            continue
        if not s.filterable:
            acc.add(f"filter column '{name}' is not filterable")
            continue
        for op in ops:
            if op not in _FILTER_OPS:
                acc.add(f"filter operator '{op}' on '{name}' is unknown")
            elif op == "like" and not s.likeable:
                acc.add(f"column '{name}' does not allow 'like'")
    return acc.problems


def apply_params(
    df: DataFrame,
    spec: QuerySpec,
    params: QueryParams | None = None,
    *,
    strict: bool = False,
) -> DataFrame:
    """Compile (base df, spec, params) → final DataFrame.

    Plan shape: project-all-spec-columns → filter → orderBy →
    offset/limit → project-visible.  Hidden sort keys work because the
    outer projection happens after orderBy; Catalyst's ColumnPruning
    still reaches the scan.
    """
    params = params or QueryParams()
    if strict:
        acc = ErrorAccumulator()
        acc.problems = validate_params(spec, params)
        acc.raise_if_any()

    eff_spec = spec.restrict(list(params.select) if params.select else None)
    # Keep every declared column in scope for filters and hidden sort keys.
    out = spec.frame(df, all_columns=True)

    # one schema analysis serves both the filter and keyset paths —
    # each dict(out.dtypes) is a py4j round trip on the per-request
    # compile path (a memoized frame's schema is already cached)
    dtypes = dict(out.dtypes)
    pred = _rebind_pred_to_projection(spec, params.filters, dtypes)

    keys = _effective_order_keys(spec, params.orders)

    offset, limit = params.offset_limit()
    if params.after_key is not None:
        # Keyset page: boundary predicate instead of a growing OFFSET —
        # combining both would double-skip, so it is a hard error.  The
        # check is on the REQUEST fields, not the computed offset:
        # page_index=1 or drop=0 compute to a zero offset but still
        # declare offset-mode paging, and letting page 1 through would
        # defer the error to page 2 (the worst place to learn it).
        if (
            params.drop is not None
            or params.page_index is not None
            or params.page_size is not None
        ):
            raise ValueError(
                "after_key (keyset paging) and drop/page_index/page_size "
                "(offset paging) are mutually exclusive — the boundary "
                "row already encodes the page position; use take for "
                "the keyset page size"
            )
        if not keys:
            raise ValueError(
                "after_key requires orders: keyset paging is only "
                "defined over the effective sort columns"
            )
        after = _keyset_predicate(keys, params.after_key, dtypes)
        pred = after if pred is None else pred & after
        offset = None
    if pred is not None:  # one Filter node, one analysis pass
        out = out.where(pred)

    if keys:
        out = out.orderBy(
            *[
                (F.col(s.name).desc_nulls_last() if d else F.col(s.name).asc_nulls_last())
                for s, d in keys
            ]
        )

    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)

    visible = [c.name for c in eff_spec.visible_columns()]
    if visible == [c.name for c in spec.columns]:
        return out  # the frame's columns already: no identity Project
    return out.select(*visible)


_NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _coerce_operand(dtype: str, v: Any) -> tuple[bool, Any]:
    """Coerce a JSON-layer operand to the column's type.  Returns
    (ok, coerced).  Un-coercible operands make the predicate a silent
    no-op — the reference's contract for out-of-range filter params
    (doc-01.md:148-152) — instead of an ANSI runtime cast error."""
    base = dtype.split("(")[0]
    try:
        if base in _NUMERIC_TYPES or base == "decimal":
            if isinstance(v, bool) or v is None:
                return False, None
            if isinstance(v, (int, float)):
                return True, v
            if isinstance(v, str) and v.strip():
                f = float(v)
                return True, int(f) if f.is_integer() and base not in ("float", "double") else f
            return False, None
        if base == "string":
            return (v is not None), None if v is None else str(v)
        if base in ("date", "timestamp", "timestamp_ntz"):
            return isinstance(v, str) and bool(v.strip()), v
        if base == "boolean":
            return isinstance(v, bool), v
        return True, v  # exotic types: pass through
    except (TypeError, ValueError):
        return False, None


_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _coerce_boundary(dtype: str, v: Any) -> tuple[bool, Any]:
    """Keyset-boundary coercion — stricter AND more permissive than the
    filter-operand path in exactly the ways a page cursor needs:

    - values that are ALREADY the column's native Python type pass
      through untouched (a boundary normally comes from a collected
      Row: ``datetime``/``date`` for timestamp/date columns and
      ``Decimal`` for decimals are type-correct, but
      ``_coerce_operand`` — built for JSON operands — only accepts
      strings there and would reject a perfectly valid cursor);
    - integer- and decimal-typed columns parse strings WITHOUT a
      ``float()`` round-trip (``int()`` / ``Decimal()``): a JSON bigint
      or decimal cursor above 2^53 would round to the nearest even
      double and silently page from the wrong row — the exact hazard
      this path exists to prevent;
    - date/timestamp STRING boundaries must actually parse as ISO
      dates/timestamps: the filter path's any-non-empty-string rule is
      fine for a silent-no-op filter, but a junk cursor here becomes
      ``col > lit('zz')`` — an ANSI CAST_INVALID_INPUT mid-job (or,
      ANSI off, a silently empty page forever) instead of this
      function's documented loud ValueError."""
    import datetime
    import decimal as _decimal

    base = dtype.split("(")[0]
    if base in ("date",) and isinstance(v, datetime.date) and not isinstance(
        v, datetime.datetime
    ):
        return True, v
    if base in ("timestamp", "timestamp_ntz") and isinstance(
        v, datetime.datetime
    ):
        return True, v
    if (base in _NUMERIC_TYPES or base == "decimal") and isinstance(
        v, _decimal.Decimal
    ):
        return True, v
    if isinstance(v, str):
        s = v.strip()
        if base in _INT_TYPES and re.fullmatch(r"[+-]?\d+", s):
            return True, int(s)
        if base == "decimal" and re.fullmatch(r"[+-]?\d+(\.\d+)?", s):
            return True, _decimal.Decimal(s)
        if base == "date":
            try:
                return True, datetime.date.fromisoformat(s)
            except ValueError:
                return False, None
        if base in ("timestamp", "timestamp_ntz"):
            try:
                return True, datetime.datetime.fromisoformat(s)
            except ValueError:
                return False, None
    return _coerce_operand(dtype, v)


def _coerce_for_op(dtype: str, op: str, operand: Any) -> tuple[bool, Any]:
    if op == "isnull":
        return isinstance(operand, bool), operand
    if op in ("in", "between"):
        if not isinstance(operand, (list, tuple)):
            return False, None
        if op == "between" and len(operand) != 2:
            return False, None
        out = []
        for v in operand:
            ok, cv = _coerce_operand(dtype, v)
            if not ok:
                return False, None
            out.append(cv)
        return True, out
    if op == "like":
        return isinstance(operand, str), operand
    return _coerce_operand(dtype, operand)


def _rebind_pred_to_projection(
    spec: QuerySpec,
    filters: dict[str, dict[str, Any]],
    dtypes: dict[str, str],
) -> Column | None:
    """Filters run on the projected frame, so operands compare against the
    *output* columns (post-rename, post-default) by name.  Returns None
    when nothing applies (P6: no Filter node at all)."""
    smap = spec.spec_map()
    preds: list[Column] = []
    for name, ops in (filters or {}).items():
        s = smap.get(name)
        if s is None or not s.filterable:
            continue
        if not isinstance(ops, dict):
            continue
        c = F.col(s.name)
        dtype = dtypes.get(s.name, "string")
        for op, operand in ops.items():
            fn = _FILTER_OPS.get(op)
            if fn is None or (op == "like" and not s.likeable):
                continue
            ok, coerced = _coerce_for_op(dtype, op, operand)
            if not ok:
                continue
            preds.append(fn(c, coerced))
    return reduce(lambda a, b: a & b, preds) if preds else None
