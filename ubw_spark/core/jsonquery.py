"""JSON-driven query compiler — the reference's pain-point #7:
"generate a SQL plan from a complex JSON describing the table",
including inter-table joins, multi-dimensional aggregation, dynamic
filters/orders/paging (doc-01.md:136-158; dynamic-table motivation
doc-03.md:71-84).

A single dict describes the whole query::

    {
      "from": "lineitem",
      "joins": [{"table": "orders", "on": [["l_orderkey", "o_orderkey"]],
                 "how": "inner", "broadcast": false}],
      "columns": [
        {"name": "flag", "expr": "l_returnflag"},
        {"name": "rev",  "fn": "mul", "args": [
            {"expr": "l_extendedprice"},
            {"fn": "sub", "args": [{"lit": 1}, {"expr": "l_discount"}]}]}
      ],
      "group_by": ["flag"],
      "aggs": [{"name": "total_rev", "fn": "sum", "arg": "rev"},
               {"name": "n", "fn": "count"}],
      "windows": [                            # post-agg window functions
        {"name": "rk", "fn": "rank", "partition_by": ["flag"],
         "order_by": [["total_rev", true]]}],
      "filters": {"flag": {"eq": "R"}},       # QueryParams filter DSL
      "orders": [["total_rev", true]],        # (a filter on "rk" = QUALIFY)
      "take": 10
    }

Safety: expressions are data, not code — only the whitelisted ``_FNS``
vocabulary is reachable, so a hostile JSON cannot escape into arbitrary
SQL/py (no expr() strings).  Validation accumulates every problem
(unknown table/column/function) before any execution, like the
reference's AtomicException (AtomicGen.scala:18-37).

Scoping rules (by design): ``group_by`` and ``aggs[].arg`` reference
PROJECTED column names (the ``columns`` block runs first; aggregates
fold its output), not raw scope columns — project a source column to
aggregate it.  ``count`` takes no arg (or the literal ``"*"``) for a
row count.  Semi/anti joins are pure left-side filters: their right
tables never contribute output columns, so right-side names are not in
scope after them and same-named right columns are not a collision.

Scale: the compiler only *declares* the plan — joins/aggs land in
Catalyst exactly as hand-written DataFrame code would, with optional
per-join broadcast hints from the JSON.
"""

from __future__ import annotations

from dataclasses import fields, replace
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast as _broadcast
from pyspark.sql.window import Window

from ubw_spark.core.errors import ErrorAccumulator, SpecValidationError
from ubw_spark.core.spec import ColumnSpec, QuerySpec
from ubw_spark.params import (
    QueryParams, _resolve, apply_params, order_entry, sort_columns,
)

# The scalar-function vocabulary reachable from JSON (§2.8 surface).
_FNS: dict[str, Callable[..., Column]] = {
    "add": lambda a, b: a + b,
    "sub": lambda a, b: a - b,
    "mul": lambda a, b: a * b,
    "div": lambda a, b: a / b,
    "neg": lambda a: -a,
    "abs": F.abs,
    # scale variants instead of int-literal plumbing: JSON stays data-only
    "round2": lambda a: F.round(a, 2),
    "round4": lambda a: F.round(a, 4),
    "coalesce": F.coalesce,
    "concat": F.concat,
    "concat_ws": lambda *args: F.concat_ws("-", *args),
    "upper": F.upper,
    "lower": F.lower,
    "trim": F.trim,
    "length": F.length,
    "year": F.year,
    "month": F.month,
    "day": F.dayofmonth,
    "cast_double": lambda a: a.cast("double"),
    "cast_long": lambda a: a.cast("long"),
    "cast_decimal": lambda a: a.cast("decimal(12,4)"),
    "when": lambda cond, t, f: F.when(cond, t).otherwise(f),
    "gt": lambda a, b: a > b,
    "lt": lambda a, b: a < b,
    "eq": lambda a, b: a == b,
}

_AGGS: dict[str, Callable[..., Column]] = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": lambda c=None: F.count(F.lit(1)) if c is None else F.count(c),
    "count_distinct": F.countDistinct,
}

# Window-function vocabulary (the reference wishlist's one missing DSL
# capability, doc-01.md:136-158).  Three shapes, dispatched by name:
# ranking (no argument), offset (lag/lead with an integer offset), and
# windowed aggregates (optionally framed).
_WIN_RANKING: dict[str, Callable[[], Column]] = {
    "rank": F.rank,
    "dense_rank": F.dense_rank,
    "row_number": F.row_number,
    "percent_rank": F.percent_rank,
    "cume_dist": F.cume_dist,
}
_WIN_OFFSET: dict[str, Callable[..., Column]] = {"lag": F.lag, "lead": F.lead}
_WIN_AGGS = _AGGS  # same aggregate vocabulary, evaluated .over(window)

# join 'how' vocabulary — Spark accepts more spellings, the spec pins
# this set so an unknown/misspelled how is an accumulated error, not a
# raw IllegalArgumentException out of the JVM
_SEMI_ANTI_HOWS = {"semi", "left_semi", "leftsemi", "anti", "left_anti", "leftanti"}
# joins where the right side contributes rows with NO left match — a
# same-named join key's right copy carries those rows and cannot be
# dropped (every spelling Spark accepts must be here, or that spelling
# silently mis-keys right-only rows)
_RIGHT_PRESERVING_HOWS = {
    "right",
    "right_outer",
    "rightouter",
    "full",
    "full_outer",
    "fullouter",
    "outer",
}
_JOIN_HOWS = (
    {"inner", "left", "left_outer", "leftouter"}
    | _RIGHT_PRESERVING_HOWS
    | _SEMI_ANTI_HOWS
)

#: A JSON query's request keys: QueryParams' fields but the Python-only
#: select and the constructor's problems output.
_REQUEST_KEYS = [
    f.name for f in fields(QueryParams) if f.name not in ("select", "problems")
]

_FRAME_BOUNDS = {
    "unbounded_preceding": Window.unboundedPreceding,
    "unbounded_following": Window.unboundedFollowing,
    "current": Window.currentRow,
}


def _frame_bound(v: Any, acc: ErrorAccumulator, path: str) -> int:
    if isinstance(v, int) and not isinstance(v, bool):
        return v
    b = _FRAME_BOUNDS.get(v)
    if b is None:
        acc.add(
            f"{path}: frame bound must be int, 'unbounded_preceding', "
            f"'unbounded_following' or 'current', got {v!r}"
        )
        return Window.currentRow
    return b


def _compile_window(
    wdef: dict[str, Any],
    in_scope: set[str],
    acc: ErrorAccumulator,
    path: str,
) -> Column | None:
    """One window node → a Column (fn OVER partition/order/frame).

    Scale note: an empty ``partition_by`` funnels the whole table through
    ONE task — exactly the plan you must not ship at 100 TB — so it is
    rejected unless the node opts in with ``"global": true`` (legitimate
    for post-aggregation frames whose input is already small)."""
    fname = wdef.get("fn")
    part = wdef.get("partition_by", [])
    order = wdef.get("order_by", [])
    for c in part:
        if c not in in_scope:
            acc.add(f"{path}: partition_by column '{c}' not in scope")
    norm_order: list[tuple[str, bool]] = []
    for o in order if isinstance(order, list) else [order]:
        name, is_desc = order_entry(o) or (None, None)
        if name in in_scope:
            norm_order.append((name, bool(is_desc)))  # bare name: ascending
        else:
            acc.add(f"{path}: order_by {o!r} is not a column in scope")
    if not part and not wdef.get("global"):
        acc.add(
            f"{path}: empty partition_by funnels the whole input through "
            "one task; set \"global\": true to accept that (small inputs only)"
        )

    w = Window.partitionBy(*[F.col(c) for c in part])
    if norm_order:
        w = w.orderBy(*sort_columns(norm_order))

    if fname in _WIN_RANKING:
        if not norm_order:
            acc.add(f"{path}: '{fname}' requires order_by")
            return None
        return _WIN_RANKING[fname]().over(w)
    if fname in _WIN_OFFSET:
        arg = wdef.get("arg")
        if arg is None or not norm_order:
            acc.add(f"{path}: '{fname}' requires 'arg' and order_by")
            return None
        if arg not in in_scope:
            acc.add(f"{path}: arg column '{arg}' not in scope")
            return None
        offset = wdef.get("offset", 1)
        if not isinstance(offset, int) or isinstance(offset, bool):
            acc.add(f"{path}: 'offset' must be an integer")
            return None
        return _WIN_OFFSET[fname](F.col(arg), offset).over(w)
    if fname in _WIN_AGGS:
        arg = wdef.get("arg")
        if arg is not None and arg not in in_scope:
            acc.add(f"{path}: arg column '{arg}' not in scope")
            return None
        if arg is None and fname != "count":
            acc.add(f"{path}: '{fname}' requires 'arg'")
            return None
        frame = wdef.get("frame")
        if frame is not None:
            ftype = frame.get("type", "rows")
            start = _frame_bound(frame.get("start", "unbounded_preceding"), acc, path)
            end = _frame_bound(frame.get("end", "current"), acc, path)
            if ftype == "rows":
                w = w.rowsBetween(start, end)
            elif ftype == "range":
                w = w.rangeBetween(start, end)
            else:
                acc.add(f"{path}: frame type must be 'rows' or 'range'")
        col = _WIN_AGGS[fname](arg) if arg is not None else _WIN_AGGS[fname]()
        return col.over(w)
    acc.add(f"{path}: unknown window function '{fname}'")
    return None


def _compile_expr(
    node: Any,
    acc: ErrorAccumulator,
    path: str,
    scope: set[str] | None = None,
) -> Column:
    """Recursively compile an expression node: {"expr": col} |
    {"lit": v} | {"fn": name, "args": [...]} | bare string = column.

    ``scope``: when provided, every column reference (bare string or
    {"expr": ...}) is validated against it — otherwise a typo'd name
    inside a nested fn escapes the accumulator and surfaces as a raw
    AnalysisException from Spark's eager analysis."""

    def ref(name: Any, where: str) -> Column:
        if scope is not None and not (isinstance(name, str) and name in scope):
            acc.add(f"{where}: source column '{name}' not in scope")
            return F.lit(None)
        return F.col(name)

    if isinstance(node, str):
        return ref(node, path)
    if not isinstance(node, dict):
        acc.add(f"{path}: expression node must be str or object, got {type(node).__name__}")
        return F.lit(None)
    if "expr" in node:
        return ref(node["expr"], path)
    if "lit" in node:
        if isinstance(node["lit"], (dict, list)):
            acc.add(f"{path}: 'lit' must be a scalar, got {node['lit']!r}")
            return F.lit(None)
        return F.lit(node["lit"])
    if "fn" in node:
        fn = _FNS.get(node["fn"]) if isinstance(node["fn"], str) else None
        if fn is None:
            acc.add(f"{path}: unknown function {node['fn']!r}")
            return F.lit(None)
        if not isinstance(node.get("args", []), list):
            acc.add(f"{path}.args: must be a list, got {node['args']!r}")
            return F.lit(None)
        args = [
            _compile_expr(a, acc, f"{path}.args[{i}]", scope)
            for i, a in enumerate(node.get("args", []))
        ]
        try:
            return fn(*args)
        except TypeError as e:
            acc.add(f"{path}: bad arity for '{node['fn']}': {e}")
            return F.lit(None)
    acc.add(f"{path}: expression object needs 'expr', 'lit' or 'fn'")
    return F.lit(None)


# Set-operation vocabulary (§2.7 surface reachable from JSON — the
# reference wishlist's union/except verbs, doc-01.md:136-158).  ANSI
# semantics: bare verbs deduplicate, _all variants keep duplicates.
_SETOPS: dict[str, Callable[[DataFrame, DataFrame], DataFrame]] = {
    "union": lambda a, b: a.unionByName(b),  # distinct applied once after
    "union_all": lambda a, b: a.unionByName(b),
    "intersect": lambda a, b: a.intersect(b),
    "intersect_all": lambda a, b: a.intersectAll(b),
    "except": lambda a, b: a.subtract(b),
    "except_all": lambda a, b: a.exceptAll(b),
}


def _compile_setop(
    spark: SparkSession,
    node: Any,
    tables: Callable[[str], DataFrame],
    acc: ErrorAccumulator,
) -> DataFrame | None:
    """``{"op": verb, "queries": [spec, ...]}`` → combined DataFrame.

    Branches are full query specs compiled recursively; their problems
    accumulate under a ``setop.queries[i]`` path instead of aborting at
    the first bad branch.  Column-name sets must agree across branches
    (positional union is a silent-corruption machine on JSON input);
    every branch is aligned to the FIRST branch's column order, so
    intersect/except compare the same columns positionally."""
    if not isinstance(node, dict):
        acc.add("setop: must be an object {op, queries}")
        return None
    op = node.get("op")
    fn = _SETOPS.get(op) if isinstance(op, str) else None
    if fn is None:
        acc.add(f"setop: unknown op '{op}' (one of {sorted(_SETOPS)})")
        return None
    branches = node.get("queries")
    if not isinstance(branches, list) or len(branches) < 2:
        acc.add("setop: 'queries' must list at least two query specs")
        return None
    frames: list[DataFrame | None] = []
    for i, sub in enumerate(branches):
        try:
            frames.append(compile_json_query(spark, sub, tables))
        except SpecValidationError as e:
            frames.append(None)
            for p in e.problems:
                acc.add(f"setop.queries[{i}]: {p}")
    # schema check runs over every branch that DID compile — a broken
    # branch must not mask a mismatch in its siblings (accumulate-all)
    anchor = next((f_ for f_ in frames if f_ is not None), None)
    ok = anchor is not None and None not in frames
    if anchor is not None:
        first_cols = anchor.columns
        for i, f_ in enumerate(frames):
            if f_ is not None and sorted(f_.columns) != sorted(first_cols):
                acc.add(
                    f"setop.queries[{i}]: columns {sorted(f_.columns)} do "
                    f"not match queries[0] {sorted(first_cols)}"
                )
                ok = False
    if not ok:
        return None
    out = frames[0]
    for f_ in frames[1:]:
        out = fn(out, f_.select(*first_cols))
    if op == "union":
        out = out.distinct()
    return out


def compile_json_query(
    spark: SparkSession,
    spec: dict[str, Any],
    tables: Callable[[str], DataFrame],
) -> DataFrame:
    """Compile the JSON query description to a DataFrame.

    ``tables`` resolves a table name to a DataFrame (injection point for
    catalogs / sf_dir readers).  Raises SpecValidationError listing ALL
    problems found during compilation.

    A spec is either a scan pipeline (``from`` + joins/columns/aggs) or
    a set operation over sub-specs (``setop`` — union / union_all /
    intersect / intersect_all / except / except_all); both forms share
    the post-blocks (windows, filters, orders, paging)."""
    if not isinstance(spec, dict):
        raise SpecValidationError([f"a query must be an object, got {spec!r}"])
    acc = ErrorAccumulator()

    if "setop" in spec:
        for k in ("from", "joins", "columns", "group_by", "aggs"):
            if k in spec:
                acc.add(f"'setop' is exclusive with '{k}' (push it into a branch)")
        combined = _compile_setop(spark, spec["setop"], tables, acc)
        acc.raise_if_any()
        return _apply_post_blocks(spark, combined, spec, acc)

    base_name = spec.get("from")
    if not base_name:
        acc.add("'from' table is required")
        acc.raise_if_any()
    try:
        df = tables(base_name)
    except Exception as e:
        acc.add(f"cannot resolve table '{base_name}': {e}")
        acc.raise_if_any()

    available = set(df.columns)
    for j_i, join in enumerate(spec.get("joins", [])):
        if not isinstance(join, dict):
            acc.add(f"joins[{j_i}]: must be an object, got {join!r}")
            continue
        jname = join.get("table")
        try:
            right = tables(jname)
        except Exception as e:
            acc.add(f"joins[{j_i}]: cannot resolve table '{jname}': {e}")
            continue
        on = join.get("on", [])
        if not on:
            acc.add(f"joins[{j_i}]: 'on' pairs required (no implicit cross joins)")
            continue
        how = join.get("how", "inner")
        if how not in _JOIN_HOWS:
            acc.add(
                f"joins[{j_i}]: unknown how '{how}' (one of "
                f"{sorted(_JOIN_HOWS)})"
            )
            # bring the columns into scope anyway so later references
            # validate against the intended schema instead of cascading
            # spurious not-in-scope errors (the broken-join convention)
            available |= set(right.columns)
            continue
        # semi/anti joins are pure left-side filters: no right column
        # ever reaches the output, so right-side name collisions are
        # harmless and right columns must NOT enter later scope
        semi_anti = how in _SEMI_ANTI_HOWS
        problems_before = len(acc.problems)
        right_keys: set[str] = set()
        for pair in on:
            lcol, rcol = pair
            right_keys.add(rcol)
            if lcol not in available:
                acc.add(f"joins[{j_i}]: left key '{lcol}' not in scope")
            if rcol not in right.columns:
                acc.add(f"joins[{j_i}]: right key '{rcol}' not in '{jname}'")
        # Same-named columns across the two sides make every later
        # reference AMBIGUOUS at analysis (AMBIGUOUS_REFERENCE — a raw
        # AnalysisException, not the accumulated contract).  Same-named
        # JOIN KEYS are the normal case and are handled by dropping the
        # right copy after an inner/left/semi join (its value equals the
        # kept left key); for right/full joins the right key carries
        # right-only rows, so the collision must be renamed instead.
        shared_keys = {
            rcol for lcol, rcol in on if lcol == rcol and rcol in available
        }
        overlap = (available & set(right.columns)) - shared_keys
        if overlap and not semi_anti:
            acc.add(
                f"joins[{j_i}]: column name collision with scope "
                f"{sorted(overlap)} — every later reference would be "
                "ambiguous; rename in the source table or join a "
                "projected view"
            )
        if shared_keys and how in _RIGHT_PRESERVING_HOWS:
            acc.add(
                f"joins[{j_i}]: same-named join key(s) "
                f"{sorted(shared_keys)} with how='{how}' — the right "
                "copy carries right-only rows and cannot be dropped; "
                "use distinct key names for outer joins"
            )
        if len(acc.problems) > problems_before:
            # THIS join is broken — still bring its columns into scope so
            # later joins/columns validate against the intended schema
            # instead of cascading spurious not-in-scope errors
            # (semi/anti never contribute columns, broken or not)
            if not semi_anti:
                available |= set(right.columns)
            continue
        # side-qualified references (df[...]/right[...]), the same fix
        # _apply_lookups carries: unqualified F.col on a same-named key
        # is ambiguous the moment both sides are in the join
        conds = [df[lcol] == right[rcol] for lcol, rcol in on]
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        rhs = _broadcast(right) if join.get("broadcast") else right
        df = df.join(rhs, cond, how)
        if not semi_anti:
            for rcol in sorted(shared_keys):
                df = df.drop(right[rcol])
            available |= set(right.columns) - shared_keys

    # derived/selected columns; absent "columns" = select the whole
    # scope (SQL *); an explicitly EMPTY list is a spec error — the
    # zero-column df.select() it used to compile to "succeeds" with
    # data-less rows
    if "columns" not in spec:
        cdefs = [{"name": c, "expr": c} for c in df.columns]
    else:
        cdefs = spec.get("columns") or []
        if not cdefs:
            acc.add("'columns' must name at least one column (omit the "
                    "key entirely to select the whole scope)")
        elif not isinstance(cdefs, list) or not all(isinstance(c, dict) for c in cdefs):
            acc.add(f"'columns' must be a list of objects, got {cdefs!r}")
            cdefs = []
    col_specs: list[ColumnSpec] = []
    for c_i, cdef in enumerate(cdefs):
        name = cdef.get("name")
        if not name or not isinstance(name, str):
            acc.add(f"columns[{c_i}]: 'name' required")
            continue
        # {"expr": src} wins over "fn"/"lit", as in any expression node
        node = {k: v for k, v in cdef.items() if k != "name"}
        expr = _compile_expr(node, acc, f"columns[{c_i}]", scope=available)
        col_specs.append(
            ColumnSpec(
                name,
                expr=expr,
                orderable=bool(cdef.get("orderable", True)),
                filterable=bool(cdef.get("filterable", True)),
                likeable=bool(cdef.get("likeable", True)),
                describe=cdef.get("describe"),
                visible=bool(cdef.get("visible", True)),
            )
        )
    acc.raise_if_any()

    projected = df.select(*[cs.column() for cs in col_specs])

    # aggregation block (multi-dimensional: list of dims incl. none;
    # group_type cube/rollup → all grouping sets in ONE pass)
    group_by = spec.get("group_by")
    group_type = spec.get("group_type", "groupby")
    aggs = spec.get("aggs", [])
    if group_type not in ("groupby", "cube", "rollup"):
        acc.add(f"unknown group_type '{group_type}'")
    if group_by and not aggs:
        # silently returning UNGROUPED rows is the worst reading of
        # this spec; distinct dimension rows are one count() away
        acc.add(
            "'group_by' requires 'aggs' — for bare distinct dimension "
            'rows add e.g. {"name": "n", "fn": "count"}'
        )
    proj_cols = {cs.name for cs in col_specs}
    if group_by:
        for g_i, g in enumerate(group_by):
            if g not in proj_cols:
                acc.add(
                    f"group_by[{g_i}]: '{g}' is not a projected column"
                )
    if aggs:
        agg_cols = []
        for a_i, adef in enumerate(aggs):
            if not isinstance(adef, dict):
                acc.add(f"aggs[{a_i}]: must be an object, got {adef!r}")
                continue
            fn = _AGGS.get(adef.get("fn"))
            if fn is None:
                acc.add(f"aggs[{a_i}]: unknown aggregate '{adef.get('fn')}'")
                continue
            arg = adef.get("arg")
            if arg == "*" and adef.get("fn") == "count":
                # SQL count(*) — row count, no column reference to
                # validate against the projection
                arg = None
            elif arg is not None and arg not in proj_cols:
                acc.add(
                    f"aggs[{a_i}]: arg '{arg}' must be a projected "
                    "column (aggregates run AFTER projection; project "
                    "the source column or use count with arg '*')"
                )
                continue
            try:
                col = fn(arg) if arg is not None else fn()
            except TypeError:
                acc.add(
                    f"aggs[{a_i}]: '{adef.get('fn')}' requires 'arg'"
                )
                continue
            # optional unary post-chain over the AGGREGATE output (names
            # from the scalar vocabulary): the money convention —
            # exact decimal sum, then ["round2", "cast_double"] — stays
            # expressible from pure JSON at any data magnitude
            for p_i, pname in enumerate(adef.get("post", [])):
                pfn = _FNS.get(pname)
                if pfn is None:
                    acc.add(f"aggs[{a_i}].post[{p_i}]: unknown fn '{pname}'")
                    continue
                try:
                    col = pfn(col)
                except TypeError:
                    acc.add(
                        f"aggs[{a_i}].post[{p_i}]: '{pname}' is not unary"
                    )
            agg_cols.append(col.alias(adef.get("name", f"agg{a_i}")))
        acc.raise_if_any()
        if group_by:
            grouped = {
                "groupby": projected.groupBy,
                "cube": projected.cube,
                "rollup": projected.rollup,
            }[group_type](*group_by)
            projected = grouped.agg(*agg_cols)
        else:
            projected = projected.agg(*agg_cols)

    return _apply_post_blocks(spark, projected, spec, acc, caps=col_specs)


def _apply_post_blocks(
    spark: SparkSession,
    projected: DataFrame,
    spec: dict[str, Any],
    acc: ErrorAccumulator,
    caps: list[ColumnSpec] | None = None,
) -> DataFrame:
    """The blocks shared by scan and setop specs: windows, then runtime
    filters / orders / paging.

    Windows are computed AFTER aggregation (SQL evaluation order),
    BEFORE the params block, so a filter on a window column gives
    QUALIFY semantics (top-k per group = rank window + {"rk": {"le": k}}).
    Windows apply in declaration order; a later window may partition or
    order by an earlier one's output."""
    for w_i, wdef in enumerate(spec.get("windows", [])):
        if not isinstance(wdef, dict):
            acc.add(f"windows[{w_i}]: must be an object, got {wdef!r}")
            continue
        wname = wdef.get("name")
        if not wname:
            acc.add(f"windows[{w_i}]: 'name' required")
            continue
        if wname in projected.columns:
            acc.add(f"windows[{w_i}]: name '{wname}' collides with an existing column")
            continue
        problems_before = len(acc.problems)
        col = _compile_window(
            wdef, set(projected.columns), acc, f"windows[{w_i}]"
        )
        # only apply a clean node — Spark analyzes withColumn eagerly, so
        # a half-valid window would raise before the accumulator reports
        if col is not None and len(acc.problems) == problems_before:
            projected = projected.withColumn(wname, col)
    acc.raise_if_any()

    # Runtime params: filters / orders / paging reuse the param
    # compiler.  Per-column capabilities declared in the JSON
    # (visible / orderable / filterable / likeable / describe) carry
    # through via ``caps`` — a "visible": false column stays live for
    # filters and hidden sort keys but is dropped from the output
    # (apply_params selects visible_columns() last), exactly the P3
    # hidden-sort-key contract of the engine layer.  Columns minted
    # after the projection (aggregate outputs, window columns, setop
    # results) default to every capability on.
    # Flags only: the declared expr already ran in the projection, and
    # re-binding it here would reference pre-projection names.
    declared = {c.name: replace(c, expr=None) for c in caps or []}
    out_spec = QuerySpec([
        declared.get(c) or ColumnSpec(c, orderable=True, filterable=True, likeable=True)
        for c in projected.columns
    ])
    # "after_key" is the keyset cursor: the client echoes the last row's
    # sort-key values back (params._keyset_predicate checks coverage)
    params = QueryParams(**{k: spec[k] for k in _REQUEST_KEYS if k in spec})
    return apply_params(projected, out_spec, params)


# ---------------------------------------------------------------------------
# JSON-driven writes (pain-point #7's other half: insert/update with
# multi-table associated data — doc-01.md:136-158; the reference drives
# CRUD from the same JSON vocabulary its queries use).
#
# Verbs:
#   {"verb": "insert", "into": t, "rows": [...] | "select": {...},
#    "lookups": [...]}                      → rows to append
#   {"verb": "upsert", "target": t, "keys": [...], "rows"/"select"/
#    "lookups" as insert}                   → merged target (updates win)
#   {"verb": "update", "target": t, "filters": {DSL}, "assign":
#    {col: expr-node}}                      → full target, matching rows
#                                             rewritten
#   {"verb": "validate", "target": t, "checks": [...]}
#                                           → single-scan expectations
#                                             report (operators/
#                                             expectations.py) — the
#                                             contract a write pipeline
#                                             gates on before/after the
#                                             verbs above
#
# Same safety contract as reads: every value is data (literals, column
# refs, whitelisted _FNS) — no string-SQL escape; validation accumulates
# all problems before touching anything.
# ---------------------------------------------------------------------------

from functools import reduce


def _literal_rows_df(
    spark: SparkSession,
    rows: list,
    target: DataFrame,
    acc: ErrorAccumulator,
) -> DataFrame | None:
    """list[dict] of literal values → DataFrame with target-compatible
    columns.  Unknown columns are errors (silent drops hide typos in a
    write path); values are DATA passed to createDataFrame, never
    interpolated into SQL."""
    tcols = {f.name: f.dataType for f in target.schema.fields}
    bad = False
    for r_i, row in enumerate(rows):
        if not isinstance(row, dict):
            acc.add(f"rows[{r_i}]: must be an object")
            bad = True
            continue
        for c in row:
            if c not in tcols:
                acc.add(f"rows[{r_i}]: column '{c}' not in target")
                bad = True
    if bad:
        return None
    cols = sorted({c for row in rows for c in row})
    from pyspark.sql.types import (
        DateType,
        DecimalType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    # JSON cannot carry date/timestamp/decimal natively — they arrive
    # as strings (or floats for decimals).  createDataFrame against the
    # target's exact types rejects those outright (TypeError), which
    # made the write verbs unusable on any table with such columns.
    # Carrier scheme: those fields ride in as STRINGS (stringified
    # verbatim), then ONE projection casts every column to the target
    # type — same cast path _align_to_target applies to select-sourced
    # writes.
    def needs_carrier(dt) -> bool:
        return isinstance(
            dt, (DateType, TimestampType, TimestampNTZType, DecimalType)
        )

    def carry(v, dt):
        if v is None or not needs_carrier(dt):
            return v
        return str(v)

    data = [
        tuple(carry(row.get(c), tcols[c]) for c in cols) for row in rows
    ]
    schema = StructType(
        [
            StructField(
                c, StringType() if needs_carrier(tcols[c]) else tcols[c], True
            )
            for c in cols
        ]
    )
    carrier = spark.createDataFrame(data, schema)
    return carrier.select(
        *[F.col(c).cast(tcols[c]).alias(c) for c in cols]
    )


def _apply_lookups(
    df: DataFrame,
    lookups: list,
    tables: Callable[[str], DataFrame],
    acc: ErrorAccumulator,
) -> DataFrame:
    """Resolve multi-table associations: each lookup left-joins a
    (broadcast) reference table on validated key pairs and copies the
    ``set`` columns in — how an insert resolves foreign keys from
    natural keys without the caller hand-writing joins."""
    for l_i, lk in enumerate(lookups):
        if not isinstance(lk, dict):
            acc.add(f"lookups[{l_i}]: must be an object, got {lk!r}")
            continue
        lname = lk.get("table")
        try:
            right = tables(lname)
        except Exception as e:
            acc.add(f"lookups[{l_i}]: cannot resolve table '{lname}': {e}")
            continue
        on = lk.get("on", [])
        set_map = lk.get("set", {})
        if not on or not set_map:
            acc.add(f"lookups[{l_i}]: 'on' pairs and 'set' mapping required")
            continue
        ok = True
        for pair in on:
            lcol, rcol = pair
            if lcol not in df.columns:
                acc.add(f"lookups[{l_i}]: left key '{lcol}' not in rows")
                ok = False
            if rcol not in right.columns:
                acc.add(f"lookups[{l_i}]: right key '{rcol}' not in '{lname}'")
                ok = False
        for new_col, src_col in set_map.items():
            if src_col not in right.columns:
                acc.add(f"lookups[{l_i}]: set source '{src_col}' not in '{lname}'")
                ok = False
        if not ok:
            continue
        right_cols = [F.col(p[1]) for p in on] + [
            F.col(src).alias(f"__lk{l_i}_{new}") for new, src in set_map.items()
        ]
        rhs = _broadcast(right.select(*right_cols).dropDuplicates([p[1] for p in on]))
        # qualify BOTH sides: F.col(left_key) is ambiguous when the
        # lookup joins on a same-named key (on: [["grade", "grade"]])
        cond = reduce(
            lambda a, b: a & b,
            [df[p[0]] == rhs[p[1]] for p in on],
        )
        df = df.join(rhs, cond, "left").drop(*[rhs[p[1]] for p in on])
        for new, _src in set_map.items():
            df = df.withColumn(new, F.col(f"__lk{l_i}_{new}")).drop(
                f"__lk{l_i}_{new}"
            )
    return df


def _align_to_target(
    df: DataFrame, target: DataFrame, acc: ErrorAccumulator
) -> DataFrame:
    """Project to the target's exact column order/types; columns absent
    from the source become typed NULLs."""
    extra = [c for c in df.columns if c not in target.columns]
    if extra:
        acc.add(f"source has columns not in target: {extra}")
        return df
    out = []
    for f_ in target.schema.fields:
        if f_.name in df.columns:
            out.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
        else:
            out.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    return df.select(*out)


def compile_json_write(
    spark: SparkSession,
    spec: dict[str, Any],
    tables: Callable[[str], DataFrame],
) -> tuple[str, DataFrame]:
    """Compile a JSON write description; returns ``(verb, frame)`` where
    ``frame`` is what the caller persists: the aligned new rows for
    ``insert`` (append), or the full merged/updated target for
    ``upsert``/``update`` (overwrite — or a native MERGE on a lakehouse
    table format; see sources.writers.upsert).

    The write itself stays with the caller: compiling is pure, so the
    result can be inspected/tested and written atomically."""
    acc = ErrorAccumulator()
    verb = spec.get("verb")
    if verb not in ("insert", "upsert", "update", "validate"):
        acc.add(f"unknown verb '{verb}' (insert|upsert|update|validate)")
        acc.raise_if_any()

    tname = spec.get("into") or spec.get("target")
    if not tname:
        acc.add("'into'/'target' table is required")
        acc.raise_if_any()
    try:
        target = tables(tname)
    except Exception as e:
        acc.add(f"cannot resolve table '{tname}': {e}")
        acc.raise_if_any()

    if verb == "validate":
        checks = spec.get("checks")
        if not isinstance(checks, list) or not checks:
            acc.add("validate: 'checks' must be a non-empty list")
            acc.raise_if_any()
        from ubw_spark.operators.expectations import validate_expectations

        # validate_expectations shares the accumulate-all contract, so
        # its SpecValidationError already lists every bad check
        return verb, validate_expectations(target, checks)

    if verb == "update":
        assign = spec.get("assign", {})
        if not assign:
            acc.add("update: 'assign' mapping required")
        elif not isinstance(assign, dict):
            acc.add(f"update.assign: must be an object, got {assign!r}")
            assign = {}
        # the read path's filter walk over every target column
        _keys, cond, problems = _resolve(
            QuerySpec([
                ColumnSpec(c, filterable=True, likeable=True)
                for c in target.columns
            ]),
            QueryParams(filters=spec.get("filters")),
            dict(target.dtypes),
        )
        for p in problems:
            acc.add(f"update.{p}")
        if cond is None:
            cond = F.lit(True)
        exprs = {}
        for col, node in assign.items():
            if col not in target.columns:
                acc.add(f"update.assign: column '{col}' not in target")
                continue
            exprs[col] = _compile_expr(
                node, acc, f"update.assign.{col}",
                scope=set(target.columns),
            )
        acc.raise_if_any()
        field_types = {f_.name: f_.dataType for f_ in target.schema.fields}
        # ONE projection for all assignments (withColumns, not chained
        # withColumn): SQL UPDATE semantics — every assignment reads the
        # OLD row, so {a: b+1, b: a+1} swaps rather than cascades
        out = target.withColumns(
            {
                col: F.when(cond, new.cast(field_types[col])).otherwise(
                    F.col(col)
                )
                for col, new in exprs.items()
            }
        )
        return verb, out

    # insert / upsert share the source-rows path
    rows = spec.get("rows")
    sel = spec.get("select")
    if (rows is None) == (sel is None):
        acc.add(f"{verb}: exactly one of 'rows' or 'select' required")
        acc.raise_if_any()
    if rows is not None:
        src = _literal_rows_df(spark, rows, target, acc)
        acc.raise_if_any()
    else:
        src = compile_json_query(spark, sel, tables)
    src = _apply_lookups(src, spec.get("lookups", []), tables, acc)
    acc.raise_if_any()
    aligned = _align_to_target(src, target, acc)
    acc.raise_if_any()

    if verb == "insert":
        return verb, aligned
    keys = spec.get("keys", [])
    if not keys or any(k not in target.columns for k in keys):
        acc.add(f"upsert: 'keys' must name target columns, got {keys}")
        acc.raise_if_any()
    from ubw_spark.sources.writers import upsert as _upsert

    return verb, _upsert(target, aligned, keys)
