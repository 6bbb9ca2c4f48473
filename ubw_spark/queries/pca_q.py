"""PCA covariance query — the oracled half of the PCA family (the
eigendecomposition + projection halves are pinned against numpy in
tests/test_pca.py; eigenvectors are not SQL-expressible)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ubw_spark.operators.pca import covariance_matrix
from ubw_spark.queries.registry import register, table


@register(
    "embedding_pca_variance",
    oracle="""
    WITH x AS (
      SELECT vec_id, (u.i - 1)::INTEGER AS i, embedding[u.i]::DOUBLE AS xi
      FROM embeddings,
           unnest(generate_series(1, len(embedding))) AS u(i)),
    p AS (
      SELECT a.i AS i, b.i AS j, a.xi AS xi, b.xi AS xj
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i),
    agg AS (
      SELECT i, j, sum(xi * xj) AS sxy, sum(xi) AS si, sum(xj) AS sj,
             count(*)::BIGINT AS n
      FROM p GROUP BY i, j)
    SELECT i, j, round(sxy / n - (si / n) * (sj / n), 6) AS cov
    FROM agg
    """,
    tags=("embedding", "pca", "stats"),
)
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle population covariance of the embedding corpus —
    the aggregate PCA (operators/pca.py) eigendecomposes.  The sql
    method is one double-posexplode + one (i, j) hash aggregate with
    map-side partials; the numpy mapInPandas method (the 100 TB path,
    shuffle ∝ partitions × d²) is parity-pinned against this exact
    query in tests."""
    emb = table(spark, sf_dir, "embeddings")
    return covariance_matrix(emb, "embedding", method="sql")
