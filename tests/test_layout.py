"""Z-order layout (operators/layout.py): interleave math vs a Python
reference, cross-engine SQL parity, and the actual on-disk property —
z-ordered files have tight per-file bounding boxes in EVERY
interleaved dimension, random layout does not.
"""

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from ubw_spark.operators.layout import (
    bucketize,
    file_bounds,
    footer_bounds,
    interleave,
    with_zvalue,
    zorder_write,
    zvalue_sql,
)


def py_morton(bx: int, by: int, bits: int = 8) -> int:
    z = 0
    for j in range(bits):
        z |= ((bx >> j) & 1) << (2 * j)
        z |= ((by >> j) & 1) << (2 * j + 1)
    return z


def test_interleave_matches_python_reference(spark):
    rows = [(0b10100101, 0b01100011), (0, 255), (255, 0), (37, 200)]
    df = spark.createDataFrame(rows, ["bx", "by"])
    out = df.select(
        "bx", "by", interleave([F.col("bx"), F.col("by")], 8).alias("z")
    ).collect()
    for r in out:
        assert r.z == py_morton(r.bx, r.by), (r.bx, r.by)


def test_interleave_three_dims_matches_reference(spark):
    def morton3(bs, bits=4):
        z = 0
        for j in range(bits):
            for i, b in enumerate(bs):
                z |= ((b >> j) & 1) << (j * 3 + i)
        return z

    rows = [(3, 9, 14), (0, 15, 7), (15, 15, 15), (1, 2, 4)]
    df = spark.createDataFrame(rows, ["a", "b", "c"])
    out = df.select(
        "a", "b", "c",
        interleave([F.col("a"), F.col("b"), F.col("c")], 4).alias("z"),
    ).collect()
    for r in out:
        assert r.z == morton3((r.a, r.b, r.c)), (r.a, r.b, r.c)


def test_interleave_rejects_overflow(spark):
    with pytest.raises(ValueError, match="63 z-bits"):
        interleave([F.col("a")] * 8, 8)


def test_bucketize_null_lands_in_bucket_zero(spark):
    df = spark.createDataFrame([(None,), (5.0,), (10.0,)], ["v"])
    out = df.select(
        bucketize(F.col("v"), F.lit(5.0), F.lit(10.0), 8).alias("b")
    ).collect()
    bs = [r.b for r in out]
    assert bs[0] == 0
    assert all(0 <= b <= 255 for b in bs)


def test_zvalue_sql_parity_with_spark(spark):
    """The generated-SQL twin produces byte-identical z-values in
    DuckDB for the same bucketized inputs — including NEGATIVE ranges
    (floor of negative quotients must agree engine-to-engine)."""
    random.seed(7)
    rows = [
        (
            i,
            random.randrange(-700, 1500),
            random.uniform(-250000.0, 500000.0),
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    got = {
        r.id: r["__z"]
        for r in with_zvalue(df, ["x", "y"], bits=8).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({i},{x},{y!r})" for i, x, y in rows)
        + ") v(id, x, y)"
    )
    sql = f"""
    WITH s AS (SELECT min(x)::DOUBLE mnx, max(x)::DOUBLE mxx,
                      min(y)::DOUBLE mny, max(y)::DOUBLE mxy FROM t),
    b AS (SELECT id,
      least(coalesce(floor((x::DOUBLE - mnx) / (mxx - mnx + 1e-9) * 256),
               0), 255)::BIGINT AS bx,
      least(coalesce(floor((y::DOUBLE - mny) / (mxy - mny + 1e-9) * 256),
               0), 255)::BIGINT AS by
      FROM t, s)
    SELECT id, ({zvalue_sql(['bx', 'by'], 8)}) AS z FROM b
    """
    want = dict(con.execute(sql).fetchall())
    assert got == want


def _mean_normalized_width(bounds, col, lo, hi):
    widths = [
        (r[f"max_{col}"] - r[f"min_{col}"]) / (hi - lo) for r in bounds
    ]
    return sum(widths) / len(widths)


def test_zorder_files_have_tight_boxes_in_both_dims(spark, tmp_path):
    """The on-disk property: after zorder_write, the average per-file
    normalized min/max width shrinks in BOTH dimensions vs a random
    layout (whose every file spans ~the full range)."""
    random.seed(11)
    rows = [
        (random.randrange(0, 10_000), random.randrange(0, 10_000))
        for _ in range(20_000)
    ]
    df = spark.createDataFrame(rows, ["x", "y"])

    zpath = str(tmp_path / "zorder")
    rpath = str(tmp_path / "random")
    zorder_write(df, ["x", "y"], zpath, num_files=8)
    df.repartition(8).write.mode("overwrite").parquet(rpath)

    def bounds(path):
        d = spark.read.parquet(path).withColumn(
            "__file", F.input_file_name()
        )
        return file_bounds(d, ["x", "y"]).collect()

    zb, rb = bounds(zpath), bounds(rpath)
    assert len(zb) >= 4, "range partitioner produced too few files"
    for col in ("x", "y"):
        zw = _mean_normalized_width(zb, col, 0, 10_000)
        rw = _mean_normalized_width(rb, col, 0, 10_000)
        # 8 files along a 16-bit curve fix >=1 top bit per dim: widths
        # ~<=0.5; random layout spans ~1.0 per file.
        assert zw < 0.7 * rw, (col, zw, rw)


def test_write_table_zorder_by_clusters_within_partitions(spark, tmp_path):
    """writers.write_table(zorder_by=...) composes with partition_by:
    partition directories exist, rows survive, and files within a
    partition are z-clustered (tight boxes)."""
    import os

    from ubw_spark.sources.writers import write_table

    random.seed(5)
    rows = [
        (random.randrange(2), random.randrange(10_000), random.randrange(10_000))
        for _ in range(10_000)
    ]
    df = spark.createDataFrame(rows, ["p", "x", "y"])
    path = str(tmp_path / "zp")
    write_table(
        df, path, mode="overwrite", partition_by=["p"],
        zorder_by=["x", "y"], zorder_files=16,
    )
    assert sorted(
        d for d in os.listdir(path) if d.startswith("p=")
    ) == ["p=0", "p=1"]
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    bounds = file_bounds(
        spark.read.parquet(path + "/p=0").withColumn(
            "__file", F.input_file_name()
        ),
        ["x"],
    ).collect()
    assert _mean_normalized_width(bounds, "x", 0, 10_000) < 0.7


def test_footer_bounds_match_scan_bounds(spark, tmp_path):
    """Footer-statistics bounding boxes must equal the scan-computed
    ones on z-ordered output (footers are what a pruning planner
    trusts, so they must agree with the data)."""
    random.seed(3)
    rows = [
        (random.randrange(0, 5_000), random.randrange(0, 5_000))
        for _ in range(8_000)
    ]
    df = spark.createDataFrame(rows, ["x", "y"])
    p = str(tmp_path / "zf")
    zorder_write(df, ["x", "y"], p, num_files=6)

    from urllib.parse import unquote, urlparse

    scan = {
        unquote(urlparse(r["__file"]).path): (
            r["min_x"], r["max_x"], r["min_y"], r["max_y"]
        )
        for r in file_bounds(
            spark.read.parquet(p).withColumn("__file", F.input_file_name()),
            ["x", "y"],
        ).collect()
    }
    footer = {
        r["file"]: (r["min_x"], r["max_x"], r["min_y"], r["max_y"])
        for r in footer_bounds(spark, p, ["x", "y"]).collect()
    }
    assert set(scan) == set(footer)
    for f, box in scan.items():
        assert tuple(float(v) for v in box) == footer[f], f
    total_rows = sum(
        r["n_rows"] for r in footer_bounds(spark, p, ["x"]).collect()
    )
    assert total_rows == 8_000


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    import os

    from ubw_spark.operators.layout import compact_parquet

    df = spark.createDataFrame(
        [(i, i % 7) for i in range(20_000)], ["a", "b"]
    )
    src = str(tmp_path / "small_files")
    df.repartition(40).write.mode("overwrite").parquet(src)
    n_src = len(
        [f for f in os.listdir(src) if f.endswith(".parquet")]
    )
    assert n_src == 40

    dst = str(tmp_path / "compacted")
    stats = compact_parquet(spark, src, dst, target_mb=128)
    n_dst = len(
        [f for f in os.listdir(dst) if f.endswith(".parquet")]
    )
    assert stats["files_before"] == 40
    assert stats["rows"] == 20_000
    assert n_dst == stats["target_files"] < 40
    assert spark.read.parquet(dst).count() == 20_000

    # compaction + clustering in one rewrite
    dstz = str(tmp_path / "compacted_z")
    statsz = compact_parquet(
        spark, src, dstz, target_mb=128, zorder_by=["a", "b"]
    )
    assert statsz["rows"] == 20_000

    import pytest as _pytest

    with _pytest.raises(ValueError, match="must differ"):
        compact_parquet(spark, src, src)

    # partitioned layouts are refused (a flat rewrite would drop the
    # partition structure and the old sizing saw 0 bytes)
    psrc = str(tmp_path / "partitioned_src")
    df.write.mode("overwrite").partitionBy("b").parquet(psrc)
    with _pytest.raises(ValueError, match="partitioned layout"):
        compact_parquet(spark, psrc, str(tmp_path / "pd"))


def test_read_pruned_skips_files_and_matches_full_scan(spark, tmp_path):
    """The read-side payoff: a 2-dim point-range predicate over a
    z-ordered layout reads a strict minority of files and returns
    exactly what a full-scan filter returns."""
    from ubw_spark.operators.layout import read_pruned

    random.seed(21)
    rows = [
        (i, random.randrange(0, 10_000), random.randrange(0, 10_000))
        for i in range(30_000)
    ]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    p = str(tmp_path / "zr")
    zorder_write(df, ["x", "y"], p, num_files=16)

    ranges = {"x": (1000, 2000), "y": (7000, 8000)}
    pruned, stats = read_pruned(spark, p, ranges)
    got = sorted(r.id for r in pruned.collect())
    want = sorted(
        i for i, x, y in rows if 1000 <= x <= 2000 and 7000 <= y <= 8000
    )
    assert got == want
    assert stats["files_total"] >= 8
    # a 10% x 10% box over a 2-dim z-layout must skip most files
    assert stats["files_read"] <= stats["files_total"] // 2, stats

    # empty-result range: no file intersects, still exact
    none_df, none_stats = read_pruned(spark, p, {"x": (20_000, 30_000)})
    assert none_df.count() == 0 and none_stats["files_read"] == 0


def test_footer_bounds_rejects_missing_column(spark, tmp_path):
    df = spark.createDataFrame([(1, 2.0)], ["a", "b"])
    p = str(tmp_path / "fb")
    df.write.mode("overwrite").parquet(p)
    with pytest.raises(ValueError, match="not in parquet footers"):
        footer_bounds(spark, p, ["nope"]).collect()


def test_zorder_write_preserves_rows_and_schema(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, float(i * 3 % 17)) for i in range(1000)], ["a", "b"]
    )
    p = str(tmp_path / "out")
    zorder_write(df, ["a", "b"], p, num_files=4)
    back = spark.read.parquet(p)
    assert back.columns == ["a", "b"]
    assert back.count() == 1000
    assert back.agg(F.sum("a")).first()[0] == sum(range(1000))


def test_quantile_cutpoints_prune_better_on_power_law(spark, tmp_path):
    """The skew case uniform bucketing loses: a Zipf-distributed column
    parks ~96% of rows in uniform bucket 0, so a median-band predicate
    (inside that bucket) cannot be distinguished by the curve and the
    read touches nearly every file.  Quantile cutpoints give the band
    its own bucket range and the read skips most files.  Both layouts
    must return the identical row set (read_pruned reapplies the
    predicate), so the comparison is purely about file skipping."""
    from ubw_spark.operators.layout import read_pruned, zorder_write

    n = 6000
    rows = [(10_000_000 // (i + 1), i % 1000, i) for i in range(n)]
    df = spark.createDataFrame(rows, "x long, y long, i long")
    xs = sorted(r[0] for r in rows)
    lo, hi = float(xs[int(n * 0.45)]), float(xs[int(n * 0.55)])

    uni, qua = str(tmp_path / "uni"), str(tmp_path / "qua")
    zorder_write(df, ["x", "y"], uni, num_files=16)
    zorder_write(df, ["x", "y"], qua, num_files=16, cutpoints="quantile")

    du, su = read_pruned(spark, uni, {"x": (lo, hi)})
    dq, sq = read_pruned(spark, qua, {"x": (lo, hi)})
    assert sorted(r["i"] for r in du.collect()) == sorted(
        r["i"] for r in dq.collect()
    )
    # uniform cannot skip: the band shares bucket 0 with most of the mass
    assert su["files_read"] >= 12, su
    # quantile localizes the band on the curve (comfortable margin: the
    # range sampler's cuts vary run to run)
    assert sq["files_read"] <= su["files_read"] - 4, (su, sq)


def test_read_pruned_handles_thousand_plus_file_lists(spark, tmp_path):
    """1 200 kept files cross the _READ_BATCH boundary: the batched
    union must return every row exactly once, and a selective range
    must still skip files."""
    from ubw_spark.operators.layout import read_pruned

    path = str(tmp_path / "many")
    df = spark.range(1200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # one row per file -> 1200 files, each with a one-point k box
    df.repartitionByRange(1200, "k").write.mode("overwrite").option(
        "maxRecordsPerFile", 1
    ).parquet(path)

    full, s_full = read_pruned(spark, path, {"k": (0, 1199)})
    assert s_full["files_total"] >= 1200
    assert s_full["files_read"] == s_full["files_total"]
    assert full.count() == 1200
    assert full.agg(F.sum("v")).first()[0] == 2 * sum(range(1200))

    sel, s_sel = read_pruned(spark, path, {"k": (100, 104)})
    assert s_sel["files_read"] <= 10
    assert sorted(r["k"] for r in sel.collect()) == [100, 101, 102, 103, 104]


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
