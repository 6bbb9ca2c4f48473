"""Scale-tooling tests: salted aggregation/join equivalence, bucketed
co-located joins (no shuffle), approximate aggregates vs exact,
CSV round-trip, upsert semantics."""

import os

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators.skew import salted_groupby_agg, salted_join
from ubw_spark.plans import shuffle_count
from ubw_spark.sources.writers import upsert, write_bucketed, write_table


@pytest.fixture(scope="module")
def skewed_df(spark):
    """90% of rows share key 'hot'."""
    hot = spark.range(9000).select(
        F.lit("hot").alias("k"), (F.col("id") % 100).cast("double").alias("v")
    )
    cold = spark.range(1000).select(
        F.concat(F.lit("cold"), F.col("id") % 50).alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    return hot.unionByName(cold)


def test_salted_agg_matches_plain(spark, skewed_df):
    plain = {
        r["k"]: (r["total"], r["n"], round(r["mean"], 6))
        for r in skewed_df.groupBy("k")
        .agg(
            F.sum("v").alias("total"),
            F.count("v").alias("n"),
            F.avg("v").alias("mean"),
        )
        .collect()
    }
    salted = {
        r["k"]: (r["total"], r["n"], round(r["mean"], 6))
        for r in salted_groupby_agg(
            skewed_df,
            ["k"],
            {"total": ("sum", "v"), "n": ("count", "v"), "mean": ("avg", "v")},
            salt_buckets=8,
        ).collect()
    }
    assert plain == salted


def test_salted_agg_rejects_non_algebraic(spark, skewed_df):
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_groupby_agg(skewed_df, ["k"], {"m": ("median", "v")})


def test_salted_join_matches_plain(spark, skewed_df):
    dim = spark.createDataFrame(
        [("hot", "HOT"), ("cold1", "C1"), ("cold7", "C7")], "k string, label string"
    )
    plain = sorted(
        (r["k"], r["v"], r["label"])
        for r in skewed_df.join(dim, "k").collect()
    )
    salted = sorted(
        (r["k"], r["v"], r["label"])
        for r in salted_join(skewed_df, dim, "k", salt_buckets=8).collect()
    )
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(10000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(10000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        write_bucketed(a, "bkt_a", ["k"], num_buckets=8)
        write_bucketed(b, "bkt_b", ["k"], num_buckets=8)
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        assert shuffle_count(joined) == 0, "bucketed join must be co-located"
        assert joined.count() == 10000
        # sanity: the same join on unbucketed frames DOES shuffle
        assert shuffle_count(a.join(b, "k")) > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_approx_count_distinct_tolerance(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = li.select(F.countDistinct("l_orderkey")).collect()[0][0]
    approx = li.select(
        F.approx_count_distinct("l_orderkey", rsd=0.02)
    ).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a,b", 2.5), (2, None, -1.0)], "id bigint, s string, v double"
    )
    path = str(tmp_path / "csv_out")
    write_table(df, path, fmt="csv", mode="overwrite")
    back = (
        spark.read.format("csv")
        .schema("id bigint, s string, v double")
        .load(path)
    )
    assert sorted(map(str, back.collect())) == sorted(map(str, df.collect()))


def test_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "old3")], "id bigint, val string"
    )
    updates = spark.createDataFrame(
        [(2, "new2"), (4, "new4")], "id bigint, val string"
    )
    merged = {r["id"]: r["val"] for r in upsert(target, updates, ["id"]).collect()}
    assert merged == {1: "old1", 2: "new2", 3: "old3", 4: "new4"}


def test_excel_roundtrip_mixed_types(spark, tmp_path):
    """S5: write a DataFrame to real .xlsx cells (stdlib OOXML writer)
    and ingest it back, preserving values incl. NULLs, booleans,
    XML-special characters, and ISO dates."""
    import datetime

    from ubw_spark.sources.excel import read_excel, write_excel

    df = spark.createDataFrame(
        [
            (1, 'a<b>&"c"', 2.5, True, datetime.date(2024, 1, 31)),
            (2, None, -0.125, False, None),
            (3, "naïve—text", None, None, datetime.date(1999, 12, 31)),
        ],
        "id bigint, s string, v double, flag boolean, d date",
    )
    path = str(tmp_path / "report.xlsx")
    write_excel(df, path, sheet="Report")
    back = read_excel(
        spark, path, sheet="Report", schema="id bigint, s string, v double, flag boolean, d string"
    ).withColumn("d", F.to_date("d"))
    assert sorted(map(str, back.collect())) == sorted(map(str, df.collect()))


def test_excel_paged_report_writes_real_cells(spark, sf_dir, tmp_path):
    """The reference's Excel views render *paged* query results
    (doc-01.md:109-115) — apply page 2 of size 5 through the shared
    params machinery, export, and check the raw sheet cells."""
    from ubw_spark.params import QueryParams
    from ubw_spark.sources.excel import read_xlsx_rows, write_excel

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    page = QueryParams(page_index=2, page_size=5)
    drop, take = page.offset_limit()
    df = (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(drop)
        .limit(take)
    )
    path = str(tmp_path / "paged.xlsx")
    write_excel(df, path)
    columns, rows = read_xlsx_rows(path)
    assert columns == ["o_orderkey", "o_totalprice"]
    assert len(rows) == 5
    expected = [(r[0], float(r[1])) for r in df.collect()]
    assert [(r[0], float(r[1])) for r in rows] == expected


def test_excel_max_rows_guard(spark, tmp_path):
    from ubw_spark.sources.excel import write_excel

    df = spark.range(10).select(F.col("id"))
    with pytest.raises(ValueError, match="max_rows"):
        write_excel(df, str(tmp_path / "big.xlsx"), max_rows=5)


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    """Date-partitioned layout + a date filter → the scan lists only the
    matching partition directories (PartitionFilters), not the whole
    table — the other half of pushdown at 100 TB."""
    from ubw_spark.plans import formatted_plan

    from ubw_spark.queries.registry import table

    ev = table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_day")
    write_table(
        ev.withColumn("day", F.to_date("ts")),
        path,
        mode="overwrite",
        partition_by=["day"],
    )
    back = spark.read.parquet(path).where(F.col("day") == "2024-01-05")
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:200]
    assert back.count() > 0
    n_days = len([d for d in os.listdir(path) if d.startswith("day=")])
    assert n_days >= 25  # one dir per day of January


def test_split_assignment_stable_under_growth(spark):
    """A row's split must not change when the corpus doubles — the
    anti-leakage property randomSplit cannot give."""
    from ubw_spark.operators.splits import assign_split

    small = spark.range(500).select(F.col("id").alias("doc_id"))
    big = spark.range(1000).select(F.col("id").alias("doc_id"))
    s1 = {r["doc_id"]: r["split"] for r in assign_split(small, "doc_id").collect()}
    s2 = {r["doc_id"]: r["split"] for r in assign_split(big, "doc_id").collect()}
    assert all(s2[k] == v for k, v in s1.items())
    # rough proportions on the big set (98/1/1 default)
    from collections import Counter

    c = Counter(s2.values())
    assert c["train"] > 900 and c["valid"] >= 1 and c["test"] >= 1


def test_split_salt_gives_independent_assignment(spark):
    from ubw_spark.operators.splits import assign_split

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["split"] for r in
         assign_split(df, "doc_id", {"train": 0.5, "test": 0.5}, salt="a").collect()}
    b = {r["doc_id"]: r["split"] for r in
         assign_split(df, "doc_id", {"train": 0.5, "test": 0.5}, salt="b").collect()}
    agree = sum(1 for k in a if a[k] == b[k]) / len(a)
    assert 0.35 < agree < 0.65  # independent ≈ 50% agreement


def test_stratified_sample_deterministic_and_stratified(spark, sf_dir):
    from ubw_spark.operators.splits import stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept1 = stratified_sample(d, "lang", "doc_id", {"en": 0.5}, 0.1)
    kept2 = stratified_sample(d, "lang", "doc_id", {"en": 0.5}, 0.1)
    ids1 = sorted(r["doc_id"] for r in kept1.select("doc_id").collect())
    assert ids1 == sorted(r["doc_id"] for r in kept2.select("doc_id").collect())
    # rates land near their targets per stratum
    from pyspark.sql import functions as F

    totals = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept_n = {r["lang"]: r["n"] for r in kept1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    en_rate = kept_n.get("en", 0) / totals["en"]
    assert 0.3 < en_rate < 0.7
    for lang, tot in totals.items():
        if lang != "en" and tot >= 30:
            assert kept_n.get(lang, 0) / tot < 0.35


def test_leakage_safe_split_no_source_straddles(spark, sf_dir):
    from pyspark.sql import functions as F

    from ubw_spark.operators.splits import assign_split

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = assign_split(d, "source", {"train": 0.9, "test": 0.1}, salt="bysource")
    per_source = out.groupBy("source").agg(
        F.countDistinct("split").alias("k")
    )
    assert per_source.where(F.col("k") > 1).count() == 0


def test_pack_concat_chunks_boundaries(spark):
    from ubw_spark.operators.packing import pack_concat_chunks

    # chunk_len=10: doc 1 fills chunk 0 exactly; doc 2 straddles chunks
    # 1-2; doc 3 is empty; doc 4 starts mid-chunk 2.
    df = spark.createDataFrame(
        [(1, 10), (2, 12), (3, 0), (4, 5)], "doc_id bigint, n_tok bigint"
    )
    out = {
        r["doc_id"]: r
        for r in pack_concat_chunks(
            df, "doc_id", "n_tok", chunk_len=10, bucket_width=2
        ).collect()
    }
    assert (out[1]["tok_start"], out[1]["seq_id"], out[1]["seq_offset"],
            out[1]["n_seqs"]) == (0, 0, 0, 1)
    assert (out[2]["tok_start"], out[2]["seq_id"], out[2]["seq_offset"],
            out[2]["n_seqs"]) == (10, 1, 0, 2)
    assert (out[3]["tok_start"], out[3]["n_seqs"]) == (22, 0)
    assert (out[4]["tok_start"], out[4]["seq_id"], out[4]["seq_offset"],
            out[4]["n_seqs"]) == (22, 2, 2, 1)


def test_pack_concat_chunks_matches_global_cumsum(spark):
    """Two-phase prefix sum == naive single-window cumsum, sparse ids."""
    from pyspark.sql import Window

    from ubw_spark.operators.packing import pack_concat_chunks

    rows = [(i * 7 + (i % 3), (i * 37) % 23) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tok bigint")
    packed = pack_concat_chunks(
        df, "doc_id", "n_tok", chunk_len=16, bucket_width=5
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = df.withColumn(
        "tok_start", (F.sum("n_tok").over(w) - F.col("n_tok")).cast("long")
    )
    joined = packed.alias("p").join(naive.alias("n"), "doc_id")
    assert (
        joined.where(F.col("p.tok_start") != F.col("n.tok_start")).count() == 0
    )


def test_excel_cellstyle_roundtrip_and_merge(spark, tmp_path):
    """S5 CellStyle layer (VERDICT r8 #2): per-column number formats and
    widths survive a write→read round-trip, and identical declarations
    MERGE into one shared xf — the poi-collection trick that dodges
    Excel 2003's 4000-style cap (backup/README.md:199-203)."""
    import zipfile

    from ubw_spark.sources.excel import (
        CellStyle,
        read_excel,
        read_xlsx_column_styles,
        write_excel,
    )

    df = spark.createDataFrame(
        [(1, 12.3456, 7.0, 0.25), (2, 0.5, 8.125, 0.75)],
        "id bigint, price double, qty double, ratio double",
    )
    path = str(tmp_path / "styled.xlsx")
    write_excel(
        df, path,
        styles={
            "price": CellStyle(decimals=2, width=14.5),
            "qty": CellStyle(decimals=2),          # same format as price
            "ratio": CellStyle(num_fmt="0.00%"),   # explicit format code
            "bogus": CellStyle(decimals=9),        # unknown col: ignored
        },
    )
    got = read_xlsx_column_styles(path)
    assert got["price"] == {"num_fmt": "0.00", "width": 14.5}
    assert got["qty"] == {"num_fmt": "0.00", "width": None}
    assert got["ratio"]["num_fmt"] == "0.00%"
    assert got["id"] == {"num_fmt": None, "width": None}
    # the merge: price+qty share ONE numFmt entry; ratio adds a second
    with zipfile.ZipFile(path) as zf:
        styles_xml = zf.read("xl/styles.xml").decode()
    assert styles_xml.count("<numFmt ") == 2
    # style layer is display-only: stored values are untouched
    back = read_excel(
        spark, path, schema="id bigint, price double, qty double, ratio double"
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_excel_reads_foreign_producer_files(tmp_path):
    """ADVICE r9: workbooks from Excel/openpyxl can have >9 sheets
    (sheet10.xml sorts lexicographically BEFORE sheet2.xml — parts must
    be ordered by their numeric suffix) and reference BUILT-IN number
    formats (numFmtId < 164 carries no <numFmt> element; the ECMA-376
    implied table must resolve it).  Both paths, one hand-built file."""
    import zipfile

    from ubw_spark.sources.excel import (
        read_xlsx_column_styles,
        read_xlsx_rows,
    )

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    empty = (
        f'<worksheet xmlns="{ns}"><sheetData/></worksheet>'
    )
    # data lives on the 10th sheet (part sheet10.xml, index 9); the
    # price cell uses s=1 -> cellXfs xf numFmtId=2 (built-in "0.00",
    # no <numFmt> element anywhere in styles.xml)
    data = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1">'
        '<c r="A1" t="inlineStr"><is><t>id</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>price</t></is></c>'
        "</row>"
        '<row r="2"><c r="A2"><v>7</v></c>'
        '<c r="B2" s="1"><v>12.5</v></c></row>'
        "</sheetData></worksheet>"
    )
    styles = (
        f'<styleSheet xmlns="{ns}"><cellXfs count="2">'
        '<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>'
        '<xf numFmtId="2" fontId="0" fillId="0" borderId="0" xfId="0" '
        'applyNumberFormat="1"/>'
        "</cellXfs></styleSheet>"
    )
    path = str(tmp_path / "foreign.xlsx")
    with zipfile.ZipFile(path, "w") as zf:
        for i in list(range(1, 10)) + [11]:
            zf.writestr(f"xl/worksheets/sheet{i}.xml", empty)
        zf.writestr("xl/worksheets/sheet10.xml", data)
        zf.writestr("xl/styles.xml", styles)
    columns, rows = read_xlsx_rows(path, sheet=9)
    assert columns == ["id", "price"]
    assert rows == [(7, 12.5)]
    got = read_xlsx_column_styles(path, sheet=9)
    assert got["price"]["num_fmt"] == "0.00"  # built-in id resolved
    assert got["id"]["num_fmt"] is None

    # REORDERED workbook: part file names are stable when a user drags
    # sheets around — workbook.xml's <sheet> order through the rels
    # (r:id -> target) is authoritative, NOT part numbering.  Here the
    # data sheet (part sheet10.xml) is the FIRST workbook sheet.
    doc_rel = (
        "http://schemas.openxmlformats.org/officeDocument/2006/"
        "relationships"
    )
    wb = (
        f'<workbook xmlns="{ns}" xmlns:r="{doc_rel}"><sheets>'
        '<sheet name="Data" sheetId="1" r:id="rIdA"/>'
        '<sheet name="Blank" sheetId="2" r:id="rIdB"/>'
        "</sheets></workbook>"
    )
    rel_ns = "http://schemas.openxmlformats.org/package/2006/relationships"
    rels = (
        f'<Relationships xmlns="{rel_ns}">'
        '<Relationship Id="rIdA" Type="x" Target="worksheets/sheet10.xml"/>'
        '<Relationship Id="rIdB" Type="x" Target="worksheets/sheet2.xml"/>'
        "</Relationships>"
    )
    path2 = str(tmp_path / "reordered.xlsx")
    with zipfile.ZipFile(path2, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet2.xml", empty)
        zf.writestr("xl/worksheets/sheet10.xml", data)
        zf.writestr("xl/styles.xml", styles)
    columns, rows = read_xlsx_rows(path2, sheet=0)  # index = workbook order
    assert columns == ["id", "price"] and rows == [(7, 12.5)]
    columns, rows = read_xlsx_rows(path2, sheet="Data")  # by name too
    assert rows == [(7, 12.5)]
    assert read_xlsx_column_styles(path2, sheet=0)["price"]["num_fmt"] == "0.00"

    # CHARTSHEET workbook: Excel lists chartsheets in workbook.xml's
    # <sheet> sequence too (their rels target chartsheets/sheetN.xml).
    # They carry no row data and must not shift index/name resolution;
    # a Relationship with a missing Target must not crash either.
    wb3 = (
        f'<workbook xmlns="{ns}" xmlns:r="{doc_rel}"><sheets>'
        '<sheet name="Chart1" sheetId="1" r:id="rIdC"/>'
        '<sheet name="Data" sheetId="2" r:id="rIdA"/>'
        '<sheet name="Broken" sheetId="3" r:id="rIdX"/>'
        '<sheet name="Blank" sheetId="4" r:id="rIdB"/>'
        "</sheets></workbook>"
    )
    rels3 = (
        f'<Relationships xmlns="{rel_ns}">'
        '<Relationship Id="rIdC" Type="x" Target="chartsheets/sheet1.xml"/>'
        '<Relationship Id="rIdA" Type="x" Target="worksheets/sheet10.xml"/>'
        '<Relationship Id="rIdX" Type="x"/>'
        '<Relationship Id="rIdB" Type="x" Target="worksheets/sheet2.xml"/>'
        "</Relationships>"
    )
    path3 = str(tmp_path / "chartsheet.xlsx")
    with zipfile.ZipFile(path3, "w") as zf:
        zf.writestr("xl/workbook.xml", wb3)
        zf.writestr("xl/_rels/workbook.xml.rels", rels3)
        zf.writestr("xl/chartsheets/sheet1.xml", f'<chartsheet xmlns="{ns}"/>')
        zf.writestr("xl/worksheets/sheet2.xml", empty)
        zf.writestr("xl/worksheets/sheet10.xml", data)
        zf.writestr("xl/styles.xml", styles)
    columns, rows = read_xlsx_rows(path3, sheet=0)  # first WORKSHEET
    assert columns == ["id", "price"] and rows == [(7, 12.5)]
    columns, rows = read_xlsx_rows(path3, sheet="Data")  # name stays aligned
    assert rows == [(7, 12.5)]
    assert read_xlsx_column_styles(path3, sheet=0)["price"]["num_fmt"] == "0.00"


def test_excel_view_runtime_decimals_param(spark, tmp_path):
    """The reference's exact motivating case (doc-01.md problem #5): a
    column's exported decimal places arrive as a REQUEST parameter at
    render time — the spec declares a default style, the request
    overrides just the decimals, hidden columns stay out of the
    sheet."""
    from ubw_spark import ColumnSpec, QuerySpec
    from ubw_spark.sources.excel import (
        CellStyle,
        read_xlsx_column_styles,
        read_xlsx_rows,
        write_excel_view,
    )

    df = spark.createDataFrame(
        [(1, 12.3456, "x"), (2, 0.5, "y")],
        "id bigint, amount double, secret string",
    )
    spec = QuerySpec(
        [
            ColumnSpec("key", expr="id"),
            ColumnSpec(
                "amount", cell_style=CellStyle(decimals=2, width=20.0)
            ),
            ColumnSpec("secret", visible=False),
        ]
    )
    p1 = str(tmp_path / "v1.xlsx")
    write_excel_view(df, spec, p1)
    assert read_xlsx_column_styles(p1)["amount"]["num_fmt"] == "0.00"
    cols, _rows = read_xlsx_rows(p1)
    assert cols == ["key", "amount"]  # hidden column pruned from view

    # request says: 4 decimals this time (width declaration preserved)
    p2 = str(tmp_path / "v2.xlsx")
    write_excel_view(
        df, spec, p2, style_params={"amount": 4, "nope": 2}
    )
    got = read_xlsx_column_styles(p2)["amount"]
    assert got == {"num_fmt": "0.0000", "width": 20.0}


def test_salted_join_rejects_outer_shapes(spark):
    from ubw_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x")], "k bigint, v string")
    b = spark.createDataFrame([(1, "y")], "k bigint, w string")
    with pytest.raises(ValueError, match="duplicate unmatched"):
        salted_join(a, b, "k", how="full")
    with pytest.raises(ValueError, match="duplicate unmatched"):
        salted_join(a, b, "k", how="right")


def test_excel_reader_foreign_cells(spark, tmp_path):
    """code-review r11: real-Excel constructs the stdlib reader must
    survive — error cells (t="e"), ISO-date cells (t="d"), and cells
    WITHOUT an r attribute (position implied sequentially)."""
    import zipfile

    from ubw_spark.sources.excel import read_xlsx_rows

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sheet = f"""<?xml version="1.0"?>
<worksheet xmlns="{ns}"><sheetData>
<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="B1" t="inlineStr"><is><t>b</t></is></c><c r="C1" t="inlineStr"><is><t>c</t></is></c></row>
<row r="2"><c><v>1</v></c><c><v>2</v></c><c t="e"><v>#DIV/0!</v></c></row>
<row r="3"><c r="A3" t="d"><v>2024-01-02</v></c><c><v>9</v></c></row>
</sheetData></worksheet>"""
    wb = f"""<?xml version="1.0"?>
<workbook xmlns="{ns}" xmlns:r="{rel_ns}"><sheets>
<sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    rels = f"""<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="{rel_ns}/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""
    path = str(tmp_path / "foreign.xlsx")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    cols, rows = read_xlsx_rows(path)
    assert cols == ["a", "b", "c"]
    # r-less cells land sequentially; the error cell decodes to None
    assert rows[0] == (1, 2, None)
    # t="d" keeps the ISO text; the r-less 9 sits one past A3
    assert rows[1] == ("2024-01-02", 9, None)
