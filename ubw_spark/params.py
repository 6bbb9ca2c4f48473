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

The request contract: the :class:`QueryParams` constructor is the one
reader of a request's shape, given as kwargs or as a JSON dict's keys;
``None`` for a key means "not given".  A malformed ``orders``,
``filters`` or ``select`` entry is dropped and recorded in
``QueryParams.problems``: a bare string is one name (PySpark's
``orderBy("a")``), an order direction must be a boolean or 0/1.  A malformed
``drop``/``take``/``page_index``/``page_size``/``after_key`` raises
SpecValidationError naming the key, as ignoring it would serve a page
the client did not ask for (docs/SCALE.md "Request path" has the rules).

One walk, :func:`_resolve`, decides which order keys and filters a
request may use and returns the constructor's problems followed by one
for each key it leaves out.  Its callers differ only in what they do
with those problems:
:func:`apply_params` ignores them (the reference's silent-ignore
contract), :func:`validate_params` returns them (U2: the accumulated
report, AtomicException analog), and the JSON ``update`` verb raises them
all at once through ``ErrorAccumulator``.  One coercion, :func:`_coerce`,
turns every filter operand and keyset boundary into a literal of its
column's type: native date/datetime/Decimal values pass, numeric strings
parse exactly (never through float), temporal strings must parse as ISO.
An operand it refuses is one more problem (a filter that is not
applied); a boundary it refuses raises ValueError.

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

import datetime
import re
from dataclasses import dataclass, field
from decimal import Decimal, InvalidOperation
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ubw_spark.core.errors import SpecValidationError
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


_INT_MAX = 2**31 - 1  # Spark's LIMIT, OFFSET and their sum are 32-bit


def order_entry(o: Any) -> tuple[str, bool | None] | None:
    """The one reading of an order entry: a bare name (direction None,
    omitted) or a ``[name, is_desc]`` pair whose ``is_desc`` is a
    boolean, 0/1 (JSON's other boolean) or None; None when ``o`` is
    neither (``"asc"`` is no boolean)."""
    if isinstance(o, str):
        return o, None
    if isinstance(o, (list, tuple)) and len(o) == 2 and isinstance(o[0], str):
        d = o[1]
        if d is None or (type(d) in (bool, int) and d in (0, 1)):
            return o[0], None if d is None else bool(d)
    return None


def sort_columns(keys: list[tuple[str, bool]]) -> list[Column]:
    """``(name, is_desc)`` keys as sort columns, NULLS LAST both ways."""
    return [F.col(n).desc_nulls_last() if d else F.col(n).asc_nulls_last()
            for n, d in keys]


def _entries(key: str, value: Any, read, what: str, problems: list) -> tuple:
    """A list-valued key's entries through ``read``: None is no entry, a
    bare string is one, and an entry ``read`` maps to None is dropped
    and recorded in ``problems``."""
    if value is None or isinstance(value, str):
        value = [] if value is None else [value]
    elif not isinstance(value, (list, tuple)):
        problems.append(f"{key}: must be a list, got {value!r}")
        return ()
    got = [(i, v, read(v)) for i, v in enumerate(value)]
    problems.extend(f"{key}[{i}]: {v!r} is not {what}" for i, v, r in got if r is None)
    return tuple(r for _, _, r in got if r is not None)


@dataclass(frozen=True)
class QueryParams:
    """Runtime parameters applied to a QuerySpec — all optional.  The
    constructor is the one reader of a request's shape (module
    docstring); ``problems`` lists the entries it dropped."""

    orders: tuple = ()  # ((name, is_desc or None for default_desc), ...)
    filters: dict[str, dict[str, Any]] = field(default_factory=dict)
    drop: int | None = None
    take: int | None = None
    page_index: int | None = None  # 1-based
    page_size: int | None = None
    select: tuple | None = None  # list-driven projection (P4); None = all
    after_key: dict[str, Any] | None = None  # keyset paging boundary
    problems: tuple = ()

    def __init__(self, orders=(), filters=None, drop=None, take=None,
                 page_index=None, page_size=None, select=None, after_key=None):
        problems: list[str] = []
        parsed = _entries("orders", orders, order_entry,
                          "a name or a [name, is_desc] pair", problems)
        names = _entries("select", select, lambda n: n if isinstance(n, str) else None,
                         "a column name", problems)
        fs = filters if isinstance(filters, dict) else {}
        if filters is not None and fs is not filters:
            problems.append(f"filters: must be an object, got {filters!r}")
        problems += [f"filters.{k}: operators must be an object"
                     for k, o in fs.items() if not isinstance(o, dict)]
        # `is not None`, not truthiness: an empty cursor dict must reach
        # _keyset_predicate and raise there (a hollow client cursor would
        # otherwise silently get page 1).
        self.__dict__.update(
            orders=parsed,
            filters={k: dict(o) for k, o in fs.items() if isinstance(o, dict)},
            drop=drop, take=take, page_index=page_index, page_size=page_size,
            select=None if select is None else names,
            after_key=dict(after_key) if isinstance(after_key, dict) else after_key,
            problems=tuple(problems),
        )
        # Checked on the request fields, not the computed offset: drop=0
        # or page_index=1 still declare offset paging, and letting page 1
        # through would defer the error to page 2.
        if after_key is not None and (drop, page_index, page_size) != (None,) * 3:
            raise ValueError(
                "after_key (keyset paging) and drop/page_index/page_size "
                "(offset paging) are mutually exclusive — the boundary "
                "row already encodes the page position; use take for "
                "the keyset page size"
            )
        ints = {"drop": (drop, 0), "take": (take, 0),
                "page_index": (page_index, 1), "page_size": (page_size, 1)}
        bad = [f"{k}: must be an integer >= {lo}, got {v!r}"
               for k, (v, lo) in ints.items()
               if v is not None and (type(v) is not int or v < lo)]
        paged = [k for k in ("page_index", "page_size") if ints[k][0] is not None]
        if len(paged) == 1 or paged and (drop, take) != (None, None):
            bad.append(f"{paged[0]}: page_index and page_size come together, "
                       "without drop/take")
        if not isinstance(after_key, (dict, type(None))):
            bad.append(f"after_key: must be an object, got {after_key!r}")
        if not bad and sum(n or 0 for n in self.offset_limit()) > _INT_MAX:
            ends = paged or [k for k in ("drop", "take") if ints[k][0] is not None]
            bad.append(f"{'/'.join(ends)}: the page ends past row {_INT_MAX}")
        if bad:
            raise SpecValidationError(bad)

    def offset_limit(self) -> tuple[int | None, int | None]:
        if self.page_index is not None and self.page_size is not None:
            return (self.page_index - 1) * self.page_size, self.page_size
        return self.drop, self.take


def _resolve(
    spec: QuerySpec, params: QueryParams, dtypes: dict[str, str] | None
) -> tuple[list[tuple[ColumnSpec, bool]], Column | None, list[str]]:
    """The one capability walk: which order keys and filters of
    ``params`` the spec admits.  Returns ``(keys, predicate, problems)``:

    - ``keys``: (target spec, is_desc) pairs after the order_target
      redirect, in *spec declaration order* — the reference's generated
      SQL (doc-02.md:130);
    - ``predicate``: the AND of every admitted filter, or None when none
      applies (P6: no Filter node at all).  Filters compare against the
      projected columns by name;
    - ``problems``: ``params.problems``, then one ``"orders.<key>: why"``
      or ``"filters.<key>: why"`` message per key left out.

    With ``dtypes=None`` operands are neither checked nor compiled."""
    smap = spec.spec_map()
    problems = list(params.problems)
    requested: dict[str, bool] = {}
    for name, is_desc in params.orders:
        s = smap.get(name)
        if s is None:
            problems.append(f"orders.{name}: not a declared column")
            continue
        if s.order_target is not None:
            # Declaring a redirect is itself the orderability opt-in.
            target = smap.get(s.order_target)
            why = f"redirects to unknown column '{s.order_target}'"
        else:
            target, why = (s if s.orderable else None), "not orderable"
        if target is None:
            problems.append(f"orders.{name}: {why}")
            continue
        requested.setdefault(
            target.name, target.default_desc if is_desc is None else is_desc
        )
    keys = [(s, requested[s.name]) for s in spec.columns if s.name in requested]

    preds: list[Column] = []
    for name, ops in params.filters.items():
        s = smap.get(name)
        if s is None:
            problems.append(f"filters.{name}: not a declared column")
            continue
        if not s.filterable:
            problems.append(f"filters.{name}: not filterable")
            continue
        for op, operand in ops.items():
            fn = _FILTER_OPS.get(op)
            if fn is None:
                problems.append(f"filters.{name}: unknown op '{op}'")
            elif op == "like" and not s.likeable:
                problems.append(f"filters.{name}: 'like' not allowed")
            elif dtypes is not None:
                dtype = dtypes.get(name, "string")
                ok, v = _operand(dtype, op, operand)
                if ok:
                    preds.append(fn(F.col(name), v))
                else:
                    problems.append(
                        f"filters.{name}: {op} operand {operand!r} does not "
                        f"fit {dtype}"
                    )
    return keys, reduce(lambda a, b: a & b, preds) if preds else None, problems


def _keyset_predicate(
    keys: list[tuple[ColumnSpec, bool]],
    after_key: dict[str, Any],
    dtypes: dict[str, str],
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
    Boundary VALUES go through :func:`_coerce`, as filter operands do,
    but an un-coercible one raises that ValueError instead of being
    ignored (boundaries normally come from a previous page's row and
    are type-correct; a JSON layer can hand a string where a date or
    number belongs).
    """
    eff_names = [s.name for s, _ in keys]
    if sorted(after_key) != sorted(eff_names):
        raise ValueError(
            f"after_key must name exactly the effective sort columns "
            f"{eff_names}, got {sorted(after_key)} — keyset paging "
            "needs the full boundary row (include a unique tiebreak "
            "key in orders)"
        )
    coerced: dict[str, Any] = {}
    for name, v in after_key.items():
        ok, coerced[name] = (True, None) if v is None else _coerce(dtypes[name], v)
        if not ok:
            raise ValueError(
                f"after_key[{name!r}] = {v!r} is not coercible to column "
                f"type {dtypes[name]} — a malformed boundary would silently "
                "page from the wrong position"
            )
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
    """Every request entry ``apply_params`` would ignore, one message
    each (U2: the accumulated report, for clients that want it instead
    of the silent ignore).  Operands are not checked."""
    return _resolve(spec, params, None)[2]


def apply_params(
    df: DataFrame,
    spec: QuerySpec,
    params: QueryParams | None = None,
) -> DataFrame:
    """Compile (base df, spec, params) → final DataFrame.

    Plan shape: project-all-spec-columns → filter → orderBy →
    offset/limit → drop-hidden.  Hidden sort keys work because the
    outer projection happens after orderBy; Catalyst's ColumnPruning
    still reaches the scan.
    """
    params = params or QueryParams()
    eff_spec = spec.restrict(list(params.select) if params.select else None)
    # Keep every declared column in scope for filters and hidden sort keys.
    out = spec.frame(df, all_columns=True)

    # one schema analysis serves both the filter and keyset paths —
    # each dict(out.dtypes) is a py4j round trip on the per-request
    # compile path (a memoized frame's schema is already cached)
    dtypes = dict(out.dtypes)
    keys, pred, _ignored = _resolve(spec, params, dtypes)

    offset, limit = params.offset_limit()
    if params.after_key is not None:
        # Keyset page: boundary predicate instead of a growing OFFSET
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
        out = out.orderBy(*sort_columns([(s.name, d) for s, d in keys]))

    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)

    # one drop (a single string Seq) rather than a select that builds a
    # JVM Column per visible name; restrict keeps declaration order
    visible = {c.name for c in eff_spec.visible_columns()}
    hidden = [c.name for c in spec.columns if c.name not in visible]
    return out.drop(*hidden) if hidden else out


#: A LIKE pattern Spark accepts: a backslash escapes only ``_``, ``%`` or itself.
_LIKE = re.compile(r"(?:[^\\]|\\[_%\\])*", re.S)

_INT_TYPES = ("tinyint", "smallint", "int", "bigint")
_NUMERIC_TYPES = _INT_TYPES + ("float", "double", "decimal")
_LONG = range(-(2**63), 2**63)


def _coerce(dtype: str, v: Any) -> tuple[bool, Any]:
    """Coerce one operand (a filter operand or a keyset boundary value)
    to a literal for a column of Spark type ``dtype``.  Returns
    ``(ok, value)``; ``ok`` is False when ``v`` cannot be one:

    - native ``date``, ``datetime`` and ``Decimal`` values pass through;
    - integer and decimal strings parse exactly with ``int()`` and
      ``Decimal()``, never through ``float`` (a bigint above 2^53 would
      round to its even neighbour and select the wrong row); a number
      no 64-bit integer holds becomes a ``Decimal``, and one no Spark
      decimal holds is refused;
    - a temporal string must parse with ``datetime.fromisoformat`` (a
      junk one would fail the job with CAST_INVALID_INPUT), and a date
      column keeps only the date part, as Spark's cast does."""
    base = dtype.split("(")[0]
    if v is None:
        return False, None
    if base == "string":
        return True, str(v)
    if base == "boolean":
        return isinstance(v, bool), v
    if base in ("date", "timestamp", "timestamp_ntz"):
        if isinstance(v, datetime.date):
            return True, v
        try:
            t = datetime.datetime.fromisoformat(v.strip())
        except (AttributeError, ValueError):
            return False, None
        return True, t.date() if base == "date" else t
    if base not in _NUMERIC_TYPES:
        return True, v  # exotic types: pass through
    if isinstance(v, bool) or not isinstance(v, (int, float, Decimal, str)):
        return False, None
    if isinstance(v, (float, Decimal)) or (isinstance(v, int) and v in _LONG):
        return True, v
    try:  # a string, or an int no JVM long holds
        if base in ("float", "double"):
            return True, float(v)
        d = Decimal(v)
    except (ValueError, InvalidOperation):
        return False, None
    _, digits, exp = d.as_tuple()
    if not d.is_finite() or max(len(digits) + max(exp, 0), -exp) > 38:
        return False, None  # no Spark decimal literal holds it
    if base in _INT_TYPES and d == d.to_integral_value() and int(d) in _LONG:
        return True, int(d)
    return True, d


def _operand(dtype: str, op: str, operand: Any) -> tuple[bool, Any]:
    """The operand shape each filter op takes, elements via _coerce."""
    if op == "isnull":
        return isinstance(operand, bool), operand
    if op == "like":
        return isinstance(operand, str) and bool(_LIKE.fullmatch(operand)), operand
    if op not in ("in", "between"):
        return _coerce(dtype, operand)
    if not isinstance(operand, (list, tuple)) or (
        op == "between" and len(operand) != 2
    ):
        return False, None
    coerced = [_coerce(dtype, v) for v in operand]
    return all(ok for ok, _ in coerced), [v for _, v in coerced]
