"""Correctness checks, run after the timed window.

Queries are compared with their registry DuckDB oracle the way
``tools/check_correctness.py`` does it (same row normalization, by
import): column-name set, row count, and order-insensitive values.
Report answers are compared with their SQL twin in order, since a page
is an ordered slice.
"""

from __future__ import annotations

import duckdb

from perfbench.datagen import TABLES


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check_query(con, oracle_sql: str, sp_cols: list[str], sp_pdf) -> str | None:
    """None when Spark's result equals the oracle's, else the problem."""
    from tools.check_correctness import decimal_columns, norm_rows, pdf_rows

    du_pdf = con.execute(oracle_sql).fetchdf()
    du_cols = list(du_pdf.columns)
    if sorted(sp_cols) != sorted(du_cols):
        return f"schema: spark={sorted(sp_cols)} duckdb={sorted(du_cols)}"
    if len(sp_pdf) != len(du_pdf):
        return f"rowcount: spark={len(sp_pdf)} duckdb={len(du_pdf)}"
    exact = frozenset(decimal_columns(sp_pdf) & decimal_columns(du_pdf))
    a = norm_rows(sp_cols, pdf_rows(sp_pdf), exact)
    b = norm_rows(du_cols, pdf_rows(du_pdf), exact)
    if a != b:
        return ("values differ; only-in-spark: "
                f"{sorted(set(a) - set(b))[:2]} only-in-duckdb: "
                f"{sorted(set(b) - set(a))[:2]}")
    return None


def _ordered(cols: list[str], rows: list[tuple]) -> list[tuple]:
    from tools.check_correctness import norm_cell

    return [tuple(norm_cell(v) for v in r) for r in rows]


def _sheet_cell(v) -> str:
    # the workbook stores every number as a double
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return repr(float(v))
    return "NULL" if v is None else str(v)


def check_answer(con, req: dict, answer) -> str | None:
    """None when the request's answer equals its SQL twin's, in order."""
    cur = con.execute(req["sql"])
    du_cols = [d[0] for d in cur.description]
    du_rows = cur.fetchall()
    if req["kind"] == "excel":
        from ubw_spark.sources.excel import read_xlsx_rows

        cols, rows = read_xlsx_rows(answer)
        if not rows:  # an empty export writes the header row only
            cols = cols or du_cols
        got = [tuple(_sheet_cell(v) for v in r) for r in rows]
        want = [tuple(_sheet_cell(v) for v in r) for r in du_rows]
    else:
        cols, rows = answer
        got, want = _ordered(cols, rows), _ordered(du_cols, du_rows)
    if list(cols) != du_cols:
        return f"columns: got {list(cols)} want {du_cols}"
    if got != want:
        first = next(
            (k for k, (x, y) in enumerate(zip(got, want)) if x != y),
            min(len(got), len(want)),
        )
        return (f"rows differ at {first} of {len(got)}/{len(want)}: "
                f"got {got[first:first + 1]} want {want[first:first + 1]}")
    return None
