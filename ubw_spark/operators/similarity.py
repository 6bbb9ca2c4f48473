"""Similarity search operators over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — broadcast the query set,
  stream the corpus once, per-query window top-k.  The correctness
  baseline and the right tool when |queries| is small.
- ``hyperplane_lsh_buckets`` / ``lsh_ann_topk``: random-hyperplane LSH —
  sign-bit bucket keys computed as native array expressions against a
  fixed (seeded) hyperplane matrix shipped as literals.  Candidates are
  corpus rows sharing a bucket with the query in ANY of ``tables``
  independent hash tables; exact cosine re-ranks candidates only.
  At 100 TB: bucketing is map-only; the join shuffles on compact
  (table, bucket) keys; per-bucket fanout is the tunable knob
  (more bits → smaller buckets → lower recall, higher precision).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns (float64 math)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def norm(v: Column) -> Column:
        return F.sqrt(
            F.aggregate(
                v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
            )
        )

    return dot / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k: (qid, vec_id, cos_sim) for each query row."""
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("__qv")
    )
    scored = corpus.join(broadcast(q), F.col(id_col) != F.col("qid")).select(
        "qid",
        id_col,
        F.round(cosine_col(F.col("__qv"), F.col(vec_col)), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def _hyperplanes(dim: int, bits: int, tables: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((tables, bits, dim))


def hyperplane_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Add (``lsh_table``, ``lsh_bucket``) — one output row per hash
    table (explode factor = tables).

    The bucket key packs the sign bits of <v, h_j> for the table's
    ``bits`` hyperplanes.  Hyperplanes are literals in the plan (seeded),
    so executors need no broadcast variable and the plan is fully
    deterministic.

    NULL or wrong-``dim`` vectors raise at execution (``raise_error``,
    same contract message as ivf.assign_vectorized): before this guard
    zip_with padded the short side with nulls, the dot fold went NULL,
    every sign bit fell to 0, and ALL corrupt rows piled into bucket 0
    of every table — a silent |corpus|×|queries| candidate blowup (or,
    capped, a silent recall-0 drop of the whole bucket)."""
    return (
        hyperplane_bucket_array(df, vec_col, dim, bits, tables, seed)
        .withColumn("__e", F.explode(F.col("__tb")))
        .withColumn("lsh_table", F.col("__e.t"))
        .withColumn("lsh_bucket", F.col("__e.b"))
        .drop("__tb", "__e")
    )


def hyperplane_bucket_array(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
    out_col: str = "__tb",
) -> DataFrame:
    """The UNEXPLODED bucket stage of :func:`hyperplane_lsh_buckets`:
    adds ``out_col`` = array<struct<t,b>> of every table's bucket, one
    output row per input row.  Split out (round 13) so a consumer that
    wants several per-row kernels in ONE corpus pass (sim_recall_report
    materializes cells + buckets + PQ codes together) can compose this
    with assign_ivf_cells/pq_encode before a single explode.

    Carries both guards of the exploded form: NULL/wrong-dim vectors
    raise at execution (see :func:`hyperplane_lsh_buckets`), and the
    bucket expressions are emitted as SQL TEXT, not composed via
    F.lit/F.array — the literal form costs tables×bits×dim py4j round
    trips at PLAN BUILD time (measured ~6 s for 16×4×64), while one
    F.expr per table parses in milliseconds to the IDENTICAL Catalyst
    tree (same zip_with → aggregate fold, same cast, same fold order →
    same values).

    ``bits`` must be <= 31: the bucket accumulates ``shiftleft(1, j)``
    into an int, which overflows at bit 31."""
    if bits > 31:
        raise ValueError(
            f"hyperplane_bucket_array: bits={bits} > 31 — the bucket id "
            "is a 32-bit int accumulator"
        )
    df = df.withColumn(
        vec_col,
        F.when(
            F.col(vec_col).isNull() | (F.size(F.col(vec_col)) != dim),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"hyperplane_lsh_buckets: NULL or non-{dim}-dim "
                        f"value in '{vec_col}' — filter corrupt "
                        "embeddings upstream (module contract: vector "
                        "columns are non-null, fixed-dim); got size="
                    ),
                    F.coalesce(
                        F.size(F.col(vec_col)).cast("string"), F.lit("NULL")
                    ),
                )
            ).cast(df.schema[vec_col].dataType),
        ).otherwise(F.col(vec_col)),
    )
    planes = _hyperplanes(dim, bits, tables, seed)
    # ONE kernel expression over ONE flat plane constant (round 14):
    # the round-13 form emitted `tables` separate F.expr strings, each
    # carrying bits×dim inline literals inside its own zip_with —
    # tables×bits HOF subtrees for the analyzer/optimizer to resolve
    # and fold PER ACTION (~0.5-0.6 s of driver stall per consuming
    # action at 16×4×64, measured).  Hoisting the planes into a single
    # nested array constant looked up by lambda index collapses that to
    # ~4 HOF nodes + one flat constant; values are bit-identical (same
    # zip_with element products, same left-to-right aggregate fold,
    # same bit weights summed in the same j order — parity asserted on
    # real testdata in tests/test_similarity.py).
    planes_sql = "array(" + ",".join(
        "array(" + ",".join(
            "array(" + ",".join(f"{float(c)!r}D" for c in planes[t, j]) + ")"
            for j in range(bits)
        ) + ")"
        for t in range(tables)
    ) + ")"
    kernel = (
        f"transform(sequence(0, {tables - 1}), t -> named_struct("
        "'t', t, 'b', "
        f"aggregate(sequence(0, {bits - 1}), 0, (bacc, j) -> bacc + "
        f"(case when aggregate(zip_with({vec_col}, "
        f"element_at(element_at({planes_sql}, t + 1), j + 1), "
        "(x, c) -> cast(x as double) * c), 0.0D, (acc, x) -> acc + x) "
        ">= 0.0D then shiftleft(1, j) else 0 end))))"
    )
    # fence: consumers explode (or join through) the array, and the
    # inferred size()>0 / isnotnull predicates would otherwise be
    # pushdown-substituted below this projection, re-running the whole
    # 16-table bucket kernel per row inside a Filter (the exact hazard
    # plans/inspect.py::hof_filter_violations lints for — it caught
    # this shape when the array stage was first split out).
    from ubw_spark.functions.hof import fence

    return df.withColumn(out_col, fence(F.expr(kernel)))


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket with the query
    in ≥1 table; exact cosine re-ranks candidates only."""
    cb = hyperplane_lsh_buckets(corpus, vec_col, dim, bits, tables, seed)
    qb = hyperplane_lsh_buckets(queries, vec_col, dim, bits, tables, seed).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("__qv"),
        "lsh_table",
        "lsh_bucket",
    )
    cands = (
        cb.join(broadcast(qb), ["lsh_table", "lsh_bucket"])
        .where(F.col(id_col) != F.col("qid"))
        .select("qid", "__qv", id_col, vec_col)
        # dedup on the id pair only, not the vectors (smaller shuffle key)
        .dropDuplicates(["qid", id_col])
    )
    scored = cands.select(
        "qid",
        id_col,
        F.round(cosine_col(F.col("__qv"), F.col(vec_col)), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    *,
    method: str = "lsh",
    dim: int = 64,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
    max_bucket: int | None = 256,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: (id_a, id_b, cos_sim)
    with id_a < id_b and cosine ≥ ``threshold`` — the embedding member
    of the dedup family (exact / MinHash / SimHash / n-gram / embedding).

    ``method="brute"``: exact all-pairs self-join — O(N²), the oracled
    correctness baseline and the verifier for recall tests; never the
    100 TB path.

    ``method="lsh"``: hyperplane-LSH buckets (map-only, literal planes),
    self-join per (table, bucket) with the same hot-bucket cap as
    MinHash banding, exact-cosine verification on candidates only.
    Recall per pair at angle θ is 1-(1-(1-θ/π)^bits)^tables — tune bits
    down / tables up for lower thresholds."""
    if method == "brute":
        a = corpus.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
        )
        b = corpus.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
        )
        # fence: project the cosine ONCE, then filter on the attribute —
        # an unfenced where(cos >= t) is pushed back into the join and
        # re-runs the fold per pair (hof_filter_violations)
        from ubw_spark.functions.hof import fence

        scored = a.join(b, F.col("id_a") < F.col("id_b")).select(
            "id_a",
            "id_b",
            fence(cosine_col(F.col("__va"), F.col("__vb"))).alias("__cos"),
        )
        return scored.where(F.col("__cos") >= threshold).select(
            "id_a", "id_b", F.round("__cos", 3).alias("cos_sim")
        )
    if method != "lsh":
        raise ValueError(f"unknown method '{method}' (brute|lsh)")
    from ubw_spark.operators.dedup import cap_buckets

    bucketed = hyperplane_lsh_buckets(
        corpus.select(id_col, vec_col), vec_col, dim, bits, tables, seed
    )
    if max_bucket is not None:
        bucketed = cap_buckets(bucketed, ["lsh_table", "lsh_bucket"], max_bucket)
    a = bucketed.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        "lsh_table",
        "lsh_bucket",
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        "lsh_table",
        "lsh_bucket",
    )
    cands = (
        a.join(b, ["lsh_table", "lsh_bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__va", "__vb")
        # dedup on the id pair only — a full .distinct() would hash the
        # vectors into the shuffle key and move them as key bytes
        .dropDuplicates(["id_a", "id_b"])
    )
    # fence: same compute-once-then-filter shape as the brute branch —
    # the verification fold is the per-candidate kernel
    from ubw_spark.functions.hof import fence

    scored = cands.select(
        "id_a",
        "id_b",
        fence(cosine_col(F.col("__va"), F.col("__vb"))).alias("__cos"),
    )
    return scored.where(F.col("__cos") >= threshold).select(
        "id_a", "id_b", F.round("__cos", 3).alias("cos_sim")
    )
