"""ColumnSpec / QuerySpec — the engine's declaration layer.

Reference mapping (SURVEY.md §1.5):

- ``AtomicPathImpl[D]`` (a column + its bag of Atomics — AtomicPath.scala:14-37)
  → :class:`ColumnSpec`: a Spark ``Column`` expression + metadata fields
  (property rename, describe, orderable, orderTarget, defaultDesc, visible,
  filterable, likeable, default).  FProperty/FDescribe/DefaultValue atomics
  (FProperty.scala:6-57) become plain fields; `.out/.order/.describe(...)`
  builder chaining (Sample05.scala:24-33) becomes keyword args or the
  fluent ``with_*`` methods.
- ``Pile`` forest (Pile.scala:3-119) → the ordered list of ColumnSpecs in a
  :class:`QuerySpec`.  BranchPile (derived nodes) are ColumnSpecs whose
  ``expr`` is any Column expression (incl. ``F.struct`` — see
  ubw_spark.functions.derive).
- ``DefaultValue[E]`` (FProperty.scala:39-57) → ``default`` applied as
  ``F.coalesce(expr, lit(default))`` at build time.

The spec is pure declaration: building one never touches a SparkSession.
``QuerySpec.frame`` compiles it to a DataFrame projection; the params
compiler (ubw_spark.params) applies runtime orders/filters/paging *around*
that projection so hidden sort keys still work (doc-02.md:144-167).
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _to_col(expr: Column | str) -> Column:
    return F.col(expr) if isinstance(expr, str) else expr


#: Lazy-plan memo for :meth:`QuerySpec.frame`: base DataFrame →
#: [(spec, all_columns, frame)], newest last.  One base frame and one spec
#: serve every request of a service; the memo saves each request's
#: projection analysis and py4j round trips (plans only, no data).  Weak
#: on the base frame; specs match by identity (their Columns have no
#: value equality), and the cap bounds per-request spec objects.
_FRAME_MEMO: "weakref.WeakKeyDictionary[DataFrame, list]" = (
    weakref.WeakKeyDictionary()
)
_FRAME_MEMO_PER_DF = 8


@dataclass(frozen=True)
class ColumnSpec:
    """One output column: an expression plus its capability metadata.

    ``name`` is the *output* property name (the DTO rename of reference
    P2 — ``"ageOpt" ofPile friend.age.out``, Sample05.scala:27-32); the
    underlying expression may reference any source columns.
    """

    name: str
    expr: Column | str | None = None  # defaults to F.col(name)
    describe: str | None = None
    orderable: bool = False
    order_target: str | None = None  # redirect sort to sibling spec (L2)
    default_desc: bool = True  # reference emits isDefaultDesc=true (doc-02.md:110)
    visible: bool = True  # inView(false) → pruned from output (P3)
    filterable: bool = False  # opt-in for the dynamic filter DSL (P7)
    likeable: bool = False  # opt-in for LIKE in the filter DSL (P7)
    default: Any = None  # DefaultValue atomic (P11)
    # View-layer style declaration (reference S5: per-column CellStyle,
    # backup/README.md:199-203) — consumed by sources/excel.py's export;
    # kept opaque here so the spec layer stays view-agnostic.
    cell_style: Any = None

    def column(self) -> Column:
        c = _to_col(self.expr if self.expr is not None else self.name)
        if self.default is not None:
            c = F.coalesce(c, F.lit(self.default))
        return c.alias(self.name)

    # fluent builders mirroring the reference chaining style
    def with_describe(self, text: str) -> "ColumnSpec":
        return replace(self, describe=text)

    def with_order(self, default_desc: bool = True) -> "ColumnSpec":
        return replace(self, orderable=True, default_desc=default_desc)

    def with_order_target(self, target: str) -> "ColumnSpec":
        return replace(self, order_target=target)

    def with_visible(self, visible: bool) -> "ColumnSpec":
        return replace(self, visible=visible)

    def with_filter(self, likeable: bool = False) -> "ColumnSpec":
        return replace(self, filterable=True, likeable=likeable)

    def with_default(self, value: Any) -> "ColumnSpec":
        return replace(self, default=value)

    def with_cell_style(self, style: Any) -> "ColumnSpec":
        return replace(self, cell_style=style)


@dataclass(frozen=True)
class QuerySpec:
    """An ordered forest of ColumnSpecs over a base DataFrame.

    The *declaration order* of specs is semantically meaningful: the
    reference emits ORDER BY keys in declaration order, not request order
    (doc-02.md:130, FIXTURES.md G3), and the params compiler preserves
    that.
    """

    columns: tuple[ColumnSpec, ...] = field(default_factory=tuple)

    def __init__(self, columns: list[ColumnSpec] | tuple[ColumnSpec, ...]):
        object.__setattr__(self, "columns", tuple(columns))

    def spec_map(self) -> dict[str, ColumnSpec]:
        return {c.name: c for c in self.columns}

    def visible_columns(self) -> list[ColumnSpec]:
        return [c for c in self.columns if c.visible]

    def frame(self, df: DataFrame, *, all_columns: bool = False) -> DataFrame:
        """Project the base df to this spec's columns (all, or visible only).

        ``all_columns=True`` keeps hidden columns in the projection — used
        by the params compiler so hidden sort keys survive until after
        orderBy (Catalyst prunes them from the scan of the final plan
        anyway once the outer select drops them).  Repeat calls with the
        same df and spec object return the same (memoized) frame; an
        identity projection returns ``df`` itself.
        """
        cols = self.columns if all_columns else self.visible_columns()
        if all(c.expr is None and c.default is None for c in cols) and [
            c.name for c in cols
        ] == df.columns:
            return df  # identity; never memoized: it would pin its weak key
        try:
            per = _FRAME_MEMO.setdefault(df, [])
        except TypeError:  # un-weakref-able frame stand-in
            return df.select(*[c.column() for c in cols])
        for spec, all_cols, out in per:
            if spec is self and all_cols == all_columns:
                return out
        out = df.select(*[c.column() for c in cols])
        per.append((self, all_columns, out))
        del per[:-_FRAME_MEMO_PER_DF]
        return out

    def restrict(self, requested: list[str] | None) -> "QuerySpec":
        """GraphQL-style list-driven projection (reference P4,
        doc-01.md:68-89): keep only requested visible columns, silently
        ignoring unknown names.  ``None`` means no restriction."""
        if requested is None:
            return self
        keep = set(requested)
        return QuerySpec([c for c in self.columns if c.name in keep])
