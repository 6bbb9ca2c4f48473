"""Hyperplane-LSH bucketing (operators/similarity.py) and IVF
nearest-cell kernels (operators/ivf.py): guards, and bit-identity of
the single-constant SQL kernels with a left-to-right float64 fold."""

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators.similarity import hyperplane_bucket_array


def test_hyperplane_bucket_array_rejects_more_than_31_bits(spark):
    """The bucket id accumulates ``shiftleft(1, j)`` in a 32-bit int;
    bits=32 would overflow, so it is refused before any plan is
    built."""
    df = spark.createDataFrame([([0.5, -0.5],)], "embedding array<double>")
    with pytest.raises(ValueError, match="bits=32"):
        hyperplane_bucket_array(df, dim=2, bits=32, tables=1)
    assert hyperplane_bucket_array(df, dim=2, bits=31, tables=1).count() == 1


def _emb(spark, n=40, dim=16):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    (F.col("id") * (i + 3) % 17) / 7.0
                    - ((F.col("id") + i) % 5) / 3.0
                ).cast("float")
                for i in range(dim)
            ]
        ).alias("embedding"),
    )


def test_hyperplane_bucket_array_matches_reference_fold(spark):
    from ubw_spark.operators.similarity import (
        _hyperplanes,
        hyperplane_bucket_array,
    )

    dim, bits, tables, seed = 16, 4, 16, 42
    emb = _emb(spark, dim=dim)
    got = {
        r["vec_id"]: [(s["t"], s["b"]) for s in r["__tb"]]
        for r in hyperplane_bucket_array(
            emb, "embedding", dim, bits, tables, seed
        ).collect()
    }
    planes = _hyperplanes(dim, bits, tables, seed)
    for r in emb.collect():
        exp = []
        for t in range(tables):
            b = 0
            for j in range(bits):
                acc = 0.0
                for x, c in zip(r["embedding"], planes[t, j]):
                    acc = acc + float(x) * float(c)  # left-to-right
                if acc >= 0.0:
                    b += 1 << j
            exp.append((t, b))
        assert got[r["vec_id"]] == exp


def test_nearest_cells_matches_driver_reference(spark):
    from ubw_spark.operators.ivf import assign_ivf_cells, nearest_cells_py

    cents = [
        [0.1 * i + 0.01 * j for j in range(16)] for i in range(8)
    ]
    emb = _emb(spark, dim=16)
    got = {
        r["vec_id"]: r["ivf_cell"]
        for r in assign_ivf_cells(emb, cents).collect()
    }
    for r in emb.collect():
        exp = nearest_cells_py(
            [float(x) for x in r["embedding"]], cents, 1
        )[0]
        assert got[r["vec_id"]] == exp
