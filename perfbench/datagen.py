"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the registered queries read (``region nation
customer supplier part orders lineitem events documents embeddings``),
one snappy parquet file each, with the schemas and value domains of the
repository's test fixtures: a TPC-H-like star schema with uniform keys,
an event stream over January 2024, a corpus of short documents over a
30-word vocabulary (5% near-duplicates tagged ``dup``, a few exact
copies) and unit-norm 64-d embeddings with ten labels.

The tables are a fixed corpus: they depend only on the scale factor and
``DATA_SEED``, never on a run's ``--seed``, so every run of a workload
reads identical bytes and timings stay comparable across seeds.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: Bump when the generator's output changes, so cached tables rebuild.
VERSION = 1

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
# Documents and embeddings do not grow linearly with the relational tables.
_DOCS = {0.01: 500}
_VECS = {0.01: 500}


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + (seconds * 1_000_000).astype(np.int64),
                    type=pa.timestamp("us"))


def _days(start: dt.date, n_days: np.ndarray) -> pa.Array:
    return _ts(dt.datetime(start.year, start.month, start.day),
               n_days.astype(np.int64) * 86400)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float) -> dict[str, pa.Table]:
    if sf not in _DOCS:
        raise ValueError(f"unsupported scale factor {sf}; one of {sorted(_DOCS)}")
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(150_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    span = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), rng.integers(0, span + 1, n_ord)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    ship_span = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(dt.date(1995, 1, 2), rng.integers(0, ship_span + 1, n_line)),
    })
    seconds = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1), seconds),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, _DOCS[sf])
    n_vec = _VECS[sf]
    x = rng.standard_normal((n_vec, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return t


def _documents(rng, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(_VOCAB, int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    # near-duplicates: 5% of documents copy another one and append a tag;
    # a further 0.2% are exact copies (the dedup operators' positives)
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def ensure_tables(root: str, sf: float) -> str:
    """Directory holding the tables at scale ``sf`` under ``root``,
    generated on first use.  Written to a temporary sibling and renamed,
    so an interrupted run never leaves a half-written dataset behind."""
    out = os.path.join(root, f"sf{sf}-v{VERSION}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy")
    os.rename(tmp, out)
    return out
