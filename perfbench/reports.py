"""Seeded report requests and their DuckDB SQL twins.

One declared :func:`build_spec` over ``orders ⋈ broadcast(customer)``
serves every request, as in ``examples/report_service.py``.  The mix is
fixed per block of 20 requests (12 offset pages, 4 keyset pages, 3 JSON
aggregations, 1 Excel export) and shuffled within each block, so any
whole number of blocks has the same composition whatever the seed.

Filters, sort keys (including keys the spec ignores), page depth and
keyset cursors are drawn from the seed.  Each request carries a SQL twin
that DuckDB answers from the same parquet files: the twin re-derives the
engine's documented rules on its own — effective sort keys in spec
declaration order with ``order_target`` redirects, NULLS LAST in both
directions, unknown keys and operators ignored, and the keyset
strictly-after boundary — so a change in those rules shows up as a
wrong answer.

This module is pure Python: it imports neither Spark nor the engine.
"""

from __future__ import annotations

import hashlib
import json
import random

BLOCK = ["page"] * 12 + ["keyset"] * 4 + ["json"] * 3 + ["excel"]

#: (name, SQL expression, orderable, filterable, likeable, visible,
#:  order_target, default_desc) in declaration order — mirrors
#:  :func:`build_spec` column by column.
COLUMNS = [
    ("raw_balance", "c_acctbal", True, True, False, False, None, True),
    ("yr", "year(o_orderdate)", True, True, False, False, None, True),
    ("customer", "c_name", False, False, False, True, None, True),
    ("segment", "c_mktsegment", False, True, True, True, None, True),
    ("status", "o_orderstatus", False, True, False, True, None, True),
    ("total", "round(o_totalprice, 2)", True, True, False, True, None, True),
    ("balance", "round(c_acctbal, 2)", False, False, False, True,
     "raw_balance", True),
    ("key", "o_orderkey", True, False, False, True, None, False),
]
_COL = {c[0]: c for c in COLUMNS}
VISIBLE = [c[0] for c in COLUMNS if c[5]]
BASE_FROM = "orders JOIN customer ON o_custkey = c_custkey"

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUS = ["F", "O", "P"]
_ORDER_CANDIDATES = ["total", "balance", "yr", "raw_balance", "customer",
                     "segment", "no_such_key"]


def build_spec():
    """The report's QuerySpec (imports the engine; call inside a run)."""
    from pyspark.sql import functions as F

    from ubw_spark import ColumnSpec, QuerySpec
    from ubw_spark.sources.excel import CellStyle

    return QuerySpec([
        ColumnSpec("raw_balance", expr="c_acctbal", orderable=True,
                   filterable=True, visible=False),
        ColumnSpec("yr", expr=F.year("o_orderdate"), orderable=True,
                   filterable=True, visible=False),
        ColumnSpec("customer", expr="c_name", describe="customer"),
        ColumnSpec("segment", expr="c_mktsegment", filterable=True,
                   likeable=True),
        ColumnSpec("status", expr="o_orderstatus", filterable=True),
        ColumnSpec("total", expr=F.round("o_totalprice", 2).cast("double"),
                   orderable=True, filterable=True, describe="order total",
                   cell_style=CellStyle(decimals=2, width=14.0)),
        ColumnSpec("balance", expr=F.round("c_acctbal", 2).cast("double"),
                   order_target="raw_balance",
                   cell_style=CellStyle(decimals=2, width=12.0)),
        ColumnSpec("key", expr="o_orderkey", orderable=True,
                   default_desc=False, describe="order id"),
    ])


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _filters(rng: random.Random) -> dict:
    f: dict = {}
    if rng.random() < 0.5:
        seg = rng.choice(_SEGMENTS)
        f["segment"] = rng.choice([
            {"like": f"%{seg[1:4]}%"},
            {"eq": seg},
            {"in": rng.sample(_SEGMENTS, 2)},
        ])
    if rng.random() < 0.4:
        f["status"] = rng.choice([{"eq": rng.choice(_STATUS)},
                                  {"ne": rng.choice(_STATUS)}])
    if rng.random() < 0.4:
        lo = round(rng.uniform(-1000, 8000), 2)
        f["raw_balance"] = rng.choice([
            {"gt": lo}, {"lt": lo}, {"between": [lo, round(lo + 3000, 2)]},
        ])
    if rng.random() < 0.3:
        f["total"] = {rng.choice(["ge", "le"]): round(rng.uniform(1e4, 4.9e5), 2)}
    if rng.random() < 0.3:
        f["yr"] = {"ge": rng.randint(1995, 2001)}
    # keys the engine must ignore: an unknown column, a column that is not
    # filterable, an unknown operator, and `like` on a non-likeable column
    if rng.random() < 0.5:
        f[rng.choice(["not_a_column", "customer"])] = {"eq": "x"}
    if rng.random() < 0.3:
        f.setdefault("status", {})["like"] = "%F%"
    if rng.random() < 0.2:
        f.setdefault("segment", {})["regex"] = ".*"
    return f


def _orders(rng: random.Random) -> list:
    picked = rng.sample(_ORDER_CANDIDATES, rng.randint(0, 3))
    out: list = []
    for name in picked:
        out.append(name if rng.random() < 0.25 else [name, rng.random() < 0.5])
    # a unique tiebreak makes every page deterministic
    out.append(["key", rng.random() < 0.5])
    return out


def effective_keys(orders: list) -> list[tuple[str, bool]]:
    """(target column, is_desc) in declaration order — the documented
    rule, derived here independently of the engine."""
    requested: dict[str, bool] = {}
    for o in orders:
        name, desc = (o, None) if isinstance(o, str) else (o[0], bool(o[1]))
        col = _COL.get(name)
        if col is None:
            continue
        if col[6] is not None:
            target = _COL[col[6]]
        elif col[2]:
            target = col
        else:
            continue
        requested.setdefault(target[0], target[7] if desc is None else desc)
    return [(c[0], requested[c[0]]) for c in COLUMNS if c[0] in requested]


def where_sql(filters: dict) -> list[str]:
    preds = []
    for name, ops in filters.items():
        col = _COL.get(name)
        if col is None or not col[3]:
            continue
        e = col[1]
        for op, v in ops.items():
            if op == "like":
                if col[4]:
                    preds.append(f"{e} LIKE {_lit(v)}")
            elif op == "in":
                preds.append(f"{e} IN ({', '.join(_lit(x) for x in v)})")
            elif op == "between":
                preds.append(f"{e} BETWEEN {_lit(v[0])} AND {_lit(v[1])}")
            elif op in ("eq", "ne", "gt", "ge", "lt", "le"):
                sym = {"eq": "=", "ne": "<>", "gt": ">", "ge": ">=",
                       "lt": "<", "le": "<="}[op]
                preds.append(f"{e} {sym} {_lit(v)}")
    return preds


def keyset_sql(keys: list[tuple[str, bool]], after: dict) -> str:
    """Strictly-after predicate with NULLS LAST in both directions: a
    NULL boundary admits only deeper-level ties."""
    disjuncts = []
    for i, (name, desc) in enumerate(keys):
        conj = []
        for prev, _ in keys[:i]:
            e, v = _COL[prev][1], after[prev]
            conj.append(f"{e} IS NULL" if v is None else f"{e} = {_lit(v)}")
        v = after[name]
        if v is None:
            continue
        e = _COL[name][1]
        conj.append(f"({e} {'<' if desc else '>'} {_lit(v)} OR {e} IS NULL)")
        disjuncts.append("(" + " AND ".join(conj) + ")")
    return "(" + " OR ".join(disjuncts) + ")" if disjuncts else "FALSE"


def _report_sql(filters: dict, orders: list, limit: int, offset: int = 0,
                after: dict | None = None) -> str:
    keys = effective_keys(orders)
    preds = where_sql(filters)
    if after is not None:
        preds.append(keyset_sql(keys, after))
    sel = ", ".join(f"{_COL[c][1]} AS {c}" for c in VISIBLE)
    sql = f"SELECT {sel} FROM {BASE_FROM}"
    if preds:
        sql += " WHERE " + " AND ".join(preds)
    sql += " ORDER BY " + ", ".join(
        f"{_COL[c][1]} {'DESC' if d else 'ASC'} NULLS LAST" for c, d in keys
    )
    sql += f" LIMIT {limit}"
    if offset:
        sql += f" OFFSET {offset}"
    return sql


def _boundary(rng: random.Random, name: str):
    if name == "raw_balance":
        return round(rng.uniform(-1000, 10000), 2)
    if name == "yr":
        return rng.randint(1995, 2001)
    if name == "total":
        return round(rng.uniform(1000, 500000), 2)
    return rng.randint(0, 15000)  # key


_JSON_DIMS = {"status": "o_orderstatus", "yr": "year(o_orderdate)",
              "prio": "o_orderpriority"}
_JSON_DIM_SETS = [["status", "yr"], ["yr"], ["status", "prio"],
                  ["prio", "yr"], ["status"]]
_REV_SQL = ("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * "
            "(1 - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE)")


def _json_request(rng: random.Random) -> dict:
    dims = list(rng.choice(_JSON_DIM_SETS))
    cols = [
        {"name": "status", "expr": "o_orderstatus"},
        {"name": "yr", "fn": "year", "args": [{"expr": "o_orderdate"}]},
        {"name": "prio", "expr": "o_orderpriority"},
    ]
    query = {
        "from": "lineitem",
        "joins": [{"table": "orders", "on": [["l_orderkey", "o_orderkey"]],
                   "how": "inner"}],
        "columns": [c for c in cols if c["name"] in dims] + [{
            "name": "rev", "fn": "mul", "args": [
                {"fn": "cast_decimal", "args": [{"expr": "l_extendedprice"}]},
                {"fn": "sub", "args": [
                    {"lit": 1},
                    {"fn": "cast_decimal", "args": [{"expr": "l_discount"}]},
                ]},
            ]}],
        "group_by": dims,
        "aggs": [
            {"name": "total_rev", "fn": "sum", "arg": "rev",
             "post": ["round2", "cast_double"]},
            {"name": "n", "fn": "count"},
        ],
        "orders": [[d, rng.random() < 0.5] for d in dims],
        "take": rng.choice([5, 10, 20]),
    }
    preds = []
    if "yr" in dims and rng.random() < 0.6:
        y = rng.randint(1995, 2000)
        query["filters"] = {"yr": {"ge": y}}
        preds.append(f"yr >= {y}")
    elif "status" in dims and rng.random() < 0.5:
        s = rng.sample(_STATUS, 2)
        query["filters"] = {"status": {"in": s}}
        preds.append(f"status IN ({', '.join(_lit(x) for x in s)})")
    inner = (
        "SELECT " + ", ".join(f"{_JSON_DIMS[d]} AS {d}" for d in dims)
        + f", {_REV_SQL} AS total_rev, count(*) AS n"
        + " FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY "
        + ", ".join(str(i + 1) for i in range(len(dims)))
    )
    sql = f"SELECT * FROM ({inner}) t"
    if preds:
        sql += " WHERE " + " AND ".join(preds)
    sql += " ORDER BY " + ", ".join(
        f"{d} {'DESC' if desc else 'ASC'} NULLS LAST" for d, desc in query["orders"]
    ) + f" LIMIT {query['take']}"
    return {"kind": "json", "query": query, "sql": sql}


def make_request(rng: random.Random, kind: str) -> dict:
    if kind == "json":
        return _json_request(rng)
    filters, orders = _filters(rng), _orders(rng)
    if kind == "page":
        size = rng.choice([10, 20, 50])
        page = rng.randint(1, 20)
        return {"kind": kind, "filters": filters, "orders": orders,
                "page_index": page, "page_size": size,
                "sql": _report_sql(filters, orders, size, (page - 1) * size)}
    if kind == "keyset":
        take = rng.choice([10, 20, 50])
        keys = effective_keys(orders)
        after = {n: _boundary(rng, n) for n, _ in keys}
        if len(keys) > 1 and rng.random() < 0.15:
            after[keys[0][0]] = None  # NULL boundary on a leading key
        return {"kind": kind, "filters": filters, "orders": orders,
                "take": take, "after_key": after,
                "sql": _report_sql(filters, orders, take, after=after)}
    if kind == "excel":
        take = rng.choice([50, 200])
        return {"kind": kind, "filters": filters, "orders": orders,
                "take": take, "decimals": rng.randint(0, 3),
                "sql": _report_sql(filters, orders, take)}
    raise ValueError(f"unknown request kind {kind!r}")


def generate(seed: int, n_blocks: int) -> list[dict]:
    """``n_blocks`` × 20 requests; the same seed gives the same list."""
    rng = random.Random(seed)
    out = []
    for _ in range(n_blocks):
        kinds = list(BLOCK)
        rng.shuffle(kinds)
        out.extend(make_request(rng, k) for k in kinds)
    return out


def digest(requests: list[dict]) -> str:
    return hashlib.sha256(
        json.dumps(requests, sort_keys=True).encode()
    ).hexdigest()[:16]
