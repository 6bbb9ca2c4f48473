"""Hyperplane-LSH bucketing guards (operators/similarity.py)."""

import pytest

from ubw_spark.operators.similarity import hyperplane_bucket_array


def test_hyperplane_bucket_array_rejects_more_than_31_bits(spark):
    """The bucket id accumulates ``shiftleft(1, j)`` in a 32-bit int;
    bits=32 would overflow, so it is refused before any plan is
    built."""
    df = spark.createDataFrame([([0.5, -0.5],)], "embedding array<double>")
    with pytest.raises(ValueError, match="bits=32"):
        hyperplane_bucket_array(df, dim=2, bits=32, tables=1)
    assert hyperplane_bucket_array(df, dim=2, bits=31, tables=1).count() == 1
