"""Regression tests for review findings: short-input shingle crashes,
streaming dedup state bounds, upsert latest-wins, as-of struct carry,
SCD2 multi-change batches, salted-join shape restriction, jsonquery
error cascades."""

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators.dedup import minhash_dedup_pairs, word_shingles
from ubw_spark.operators.temporal import asof_join
from ubw_spark.operators.winnow import winnow_fingerprints_df


def test_short_docs_yield_empty_shingles_not_crash(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "now three words here")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", word_shingles(F.col("text"), 3).alias("s")
        ).collect()
    }
    assert out[1] == [] and out[2] == [] and out[3] == []
    assert len(out[4]) == 2
    # the full minhash pipeline also survives short docs
    pairs = minhash_dedup_pairs(df, "doc_id", "text", k=3)
    assert pairs.count() == 0


def test_short_texts_yield_empty_winnow_not_crash(spark):
    df = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, "long enough text here")],
        "doc_id bigint, text string",
    )
    out = winnow_fingerprints_df(df, "doc_id", "text", k=5, window=4)
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 not in ids and 2 not in ids and 3 in ids


def test_char_ngrams_short_string(spark):
    from ubw_spark.functions.text import char_ngrams

    df = spark.createDataFrame([("ab",), ("abcd",)], "s string")
    out = [r["g"] for r in df.select(char_ngrams(F.col("s"), 3).alias("g")).collect()]
    assert out[0] == [] and sorted(out[1]) == ["abc", "bcd"]


def test_asof_join_no_chimera_columns(spark):
    """A NULL attribute on the true as-of row must stay NULL, not be
    backfilled from an older right row."""
    left = spark.createDataFrame(
        [(1, 300, "p1")], "user_id bigint, t bigint, pid string"
    ).select("user_id", F.timestamp_seconds("t").alias("ts"), "pid")
    right = spark.createDataFrame(
        [(1, 100, "c1", 5.0), (1, 200, "c2", None)],
        "user_id bigint, t bigint, cid string, v double",
    ).select("user_id", F.timestamp_seconds("t").alias("ts"), "cid", "v")
    out = asof_join(
        left, right, on="ts", by=["user_id"], right_cols=["cid", "v"]
    ).collect()[0]
    assert out["cid_right"] == "c2"
    assert out["v_right"] is None  # NOT 5.0 from the older row


def test_scd2_handles_multiple_changes_per_key(spark):
    from ubw_spark.operators.cdc import scd2_init, scd2_merge

    snap = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00")], "id bigint, v string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    dim = scd2_init(snap)
    changes = spark.createDataFrame(
        [(1, "b", "2024-02-01 00:00:00"), (1, "c", "2024-03-01 00:00:00")],
        "id bigint, v string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = scd2_merge(dim, changes, keys=["id"])
    current = out.where("is_current").collect()
    assert len(current) == 1 and current[0]["v"] == "c"  # latest wins, once
    assert out.count() == 2  # old closed + new current


def test_salted_join_rejects_outer_shapes(spark):
    from ubw_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x")], "k bigint, v string")
    b = spark.createDataFrame([(1, "y")], "k bigint, w string")
    with pytest.raises(ValueError, match="duplicate unmatched"):
        salted_join(a, b, "k", how="full")
    with pytest.raises(ValueError, match="duplicate unmatched"):
        salted_join(a, b, "k", how="right")


def test_jsonquery_one_bad_join_does_not_cascade(spark, friend_df):
    from ubw_spark.core.errors import SpecValidationError
    from ubw_spark.core.jsonquery import compile_json_query

    grades = spark.createDataFrame([(3, "C")], "g bigint, letter string")
    tables = {"friend": friend_df, "grades": grades}
    q = {
        "from": "friend",
        "joins": [
            {"table": "grades", "on": [["MISSPELLED", "g"]]},  # broken
        ],
        "columns": [{"name": "letter", "expr": "letter"}],  # valid via join
    }
    with pytest.raises(SpecValidationError) as ei:
        compile_json_query(spark, q, lambda n: tables[n])
    msg = str(ei.value)
    assert "MISSPELLED" in msg
    # the join's own schema still entered scope: no spurious complaint
    # about 'letter'
    assert "letter" not in msg


def test_stream_dedup_uses_watermark_bounded_state(spark):
    """dropDuplicatesWithinWatermark appears in the plan (bounded state),
    not plain dropDuplicates with unbounded key retention."""
    from ubw_spark.streaming.stages import stream_dedup

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "event_id bigint, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    plan = stream_dedup(df, ["event_id"])._jdf.queryExecution().logical().toString()
    assert "DeduplicateWithinWatermark" in plan


def test_cutpoint_bucketize_clamps_oversized_cut_arrays(spark):
    """cuts built for 32 buckets fed to bits=4 must clamp to bucket 15,
    not alias high buckets onto low ones through interleave's bit mask
    (review finding, round 8)."""
    from ubw_spark.operators.layout import bucketize_by_cutpoints

    df = spark.createDataFrame([(float(v),) for v in range(40)], "v double")
    cuts = F.array(*[F.lit(float(c)) for c in range(1, 32)])  # 31 cuts
    out = {
        r["v"]: r["b"]
        for r in df.select(
            "v", bucketize_by_cutpoints(F.col("v"), cuts, 4).alias("b")
        ).collect()
    }
    assert out[0.0] == 0
    assert out[10.0] == 10
    assert all(out[float(v)] == 15 for v in range(15, 40))


def test_gram_compaction_leaves_no_staging_tables(spark):
    """The rename-shuffle swap must clean up __old and __compact on
    success (review finding, round 8: the swap window is documented,
    but a SUCCESSFUL compaction must not leak catalog entries)."""
    from ubw_spark.operators.spans import (
        compact_gram_index,
        grams_of,
        probe_gram_index,
        write_gram_index,
    )

    tbl = "gram_idx_residue_test"
    for t in (tbl, f"{tbl}__compact", f"{tbl}__old"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        docs = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "g h i j k l")],
            "doc_id bigint, text string",
        )
        write_gram_index(docs, "doc_id", "text", tbl, k=4, num_buckets=2)
        retire = grams_of(
            spark.createDataFrame([(0, "a b c d e f")], "doc_id bigint, text string"),
            "doc_id", "text", k=4,
        )
        compact_gram_index(spark, tbl, retire)
        assert spark.catalog.tableExists(tbl)
        assert not spark.catalog.tableExists(f"{tbl}__compact")
        assert not spark.catalog.tableExists(f"{tbl}__old")
        out = {
            r.doc_id: r.dup_fraction
            for r in probe_gram_index(
                spark, docs, tbl, "doc_id", "text", k=4
            ).collect()
        }
        assert out[1] == 0.0 and out[2] == 1.0
    finally:
        for t in (tbl, f"{tbl}__compact", f"{tbl}__old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_semdedup_rejects_nonpositive_pair_salt(spark):
    """pair_salt=0 would make pmod NULL and silently report zero
    duplicates (review finding, round 8) — must raise instead."""
    import pytest as _pytest

    from ubw_spark.operators.semdedup import semantic_dup_pairs

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="pair_salt"):
        semantic_dup_pairs(
            df, "vec_id", "embedding", [[1.0, 0.0]], pair_salt=0
        ).collect()


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


def test_render_decimal_is_json_serializable(spark):
    import json

    from ubw_spark.core.spec import ColumnSpec, QuerySpec
    from ubw_spark.render import to_view

    df = spark.createDataFrame(
        [(1, "17954.55")], "id bigint, amt string"
    ).select("id", F.col("amt").cast("decimal(12,2)").alias("amt"))
    view = to_view(df, QuerySpec([ColumnSpec("id"), ColumnSpec("amt")]))
    dumped = json.loads(json.dumps(view))
    assert dumped["data"][0]["amt"] == 17954.55


def test_pipeline_rejects_duplicate_stage_names():
    from ubw_spark.pipeline import Pipeline, PipelineStage

    with pytest.raises(ValueError, match="duplicate stage name"):
        Pipeline(
            [
                PipelineStage(lambda d: d, observe={"n": F.count(F.lit(1))}),
                PipelineStage(lambda d: d, observe={"n": F.count(F.lit(1))}),
            ]
        )


def test_lsh_buckets_reject_corrupt_vectors(spark):
    """code-review r11: NULL/wrong-dim vectors used to sign-bit to 0
    and pile into bucket 0 of every table (silent candidate blowup or
    capped recall-0 drop) — now a loud executor-side error."""
    from ubw_spark.operators.similarity import hyperplane_lsh_buckets

    bad = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.5] * 5)], "id bigint, embedding array<float>"
    )
    with pytest.raises(Exception, match="non-8-dim"):
        hyperplane_lsh_buckets(bad, dim=8, bits=4, tables=2).agg(
            F.sum("lsh_bucket")
        ).collect()


def test_training_shards_reject_reserved_columns(spark, tmp_path):
    from ubw_spark.operators.shards import write_training_shards

    df = spark.createDataFrame(
        [(1, 7), (2, 8)], "id bigint, shard_key int"
    )
    with pytest.raises(ValueError, match="shard_key"):
        write_training_shards(df, str(tmp_path / "s"), "id", 2)


def test_dsir_featureless_target_raises(spark):
    """code-review r11: an empty/featureless target made every
    log-ratio NULL and the coalesce handed back neutral weights —
    dsir_select would silently degrade to uniform sampling."""
    from ubw_spark.operators.dsir import dsir_log_weights

    source = spark.createDataFrame(
        [(1, "some words here to featurize")], "id bigint, text string"
    )
    empty_target = spark.createDataFrame([], "id bigint, text string")
    with pytest.raises(Exception, match="NO features"):
        dsir_log_weights(source, empty_target, "id", "text").collect()


def test_pq_empty_queries_return_empty(spark):
    from ubw_spark.operators.pq import pq_adc_topk, pq_encode

    books = [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 1.0], [0.5, 0.5]]]
    vecs = spark.createDataFrame(
        [(1, [0.9, 0.1, 0.8, 0.9])], "vec_id bigint, embedding array<float>"
    )
    codes = pq_encode(vecs, books)
    out = pq_adc_topk(codes, [], books)
    assert out.columns == ["qid", "vec_id", "approx_ip"]
    assert out.count() == 0


def test_minhash_index_param_pin(spark, tmp_path):
    """code-review r11: probing/appending a written LSH index with
    drifted banding params produced keys that never match (silent
    zero pairs) — the sidecar pin now refuses loudly."""
    from ubw_spark.operators.lsh_index import (
        probe_minhash_index,
        write_minhash_index,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " + str(i))
         for i in range(6)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "lsh")
    write_minhash_index(docs, "doc_id", "text", path, bands=16)
    with pytest.raises(ValueError, match="params mismatch"):
        probe_minhash_index(
            spark, path, docs, "doc_id", "text", bands=32
        )
    # matching params still probe fine
    out = probe_minhash_index(
        spark, path, docs, "doc_id", "text", bands=16
    )
    assert out.count() >= 0


def test_ivf_index_quantizer_pin(spark, tmp_path):
    from ubw_spark.operators.ivf import probe_ivf_index, write_ivf_index

    vecs = spark.createDataFrame(
        [(i, [float(i % 2), 1.0 - (i % 2)]) for i in range(8)],
        "vec_id bigint, embedding array<float>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    path = str(tmp_path / "ivf")
    write_ivf_index(vecs, cents, path)
    with pytest.raises(ValueError, match="different quantizer"):
        probe_ivf_index(
            spark, path, vecs.limit(1), [[0.9, 0.1], [0.1, 0.9]],
        )
    assert probe_ivf_index(spark, path, vecs.limit(1), cents).count() >= 0
