"""SemDeDup — cluster-bounded semantic deduplication over embeddings.

Spark-native re-expression of SemDeDup (Abbas et al., 2023,
arXiv:2303.09540, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication"): embed documents, k-means-cluster the
embeddings, and compare pairs ONLY within a cluster — semantically
duplicated pairs land in the same cluster with high probability, so
the O(N²) cosine comparison collapses to sum-over-cells of n_c², the
same bounded-candidates discipline every dedup operator in this repo
follows (LSH bands in dedup.py, hyperplane buckets in similarity.py;
this is the k-means member of the family — it catches SEMANTIC
duplicates that share no n-grams and hash into different LSH buckets).

Keep policy: within a cosine ≥ threshold pair, the LOWER id wins; a
row is dropped iff it loses ANY pair.  This is the repo-standard
deterministic canonicalization (dedup.py exact/minhash use min-id
keepers too).  The paper keeps the member farthest from the centroid
and notes random choice performs the same (§4.3); a transitive-group
treatment (keep exactly one per connected component) is available by
feeding the pair list to operators/components.py.

100 TB shape:

- Cell assignment is map-only against broadcast centroid literals
  (k × dim floats — the operators/ivf.py coarse-quantizer machinery).
- The pair join shuffles on the cell id once; per-cell work is n_c²
  with n_c ≈ N/k, so k is the knob that bounds the quadratic term
  (the paper runs k = 50 000 on LAION).  ``max_cell`` caps degenerate
  cells exactly like dedup.cap_buckets caps hot LSH buckets —
  overflow rows are auto-kept, never silently dropped.
- Cosines are JVM ``zip_with``/``aggregate`` folds (similarity.dot
  and similarity.norm); no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ubw_spark.functions.hof import fence

from ubw_spark.operators.ivf import assign_ivf_cells
from ubw_spark.operators.similarity import dot, norm


def assign_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """(id, vec, cell): nearest-centroid assignment, map-only —
    :func:`~ubw_spark.operators.ivf.assign_ivf_cells`, whose k dispatch
    sends paper-scale k (the SemDeDup regime — 50k cells on LAION) to
    the Arrow argmin kernel, the stage the paper puts on GPUs."""
    return assign_ivf_cells(
        df.select(F.col(id_col), F.col(vec_col)), centroids, vec_col, "cell"
    )


def semantic_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    *,
    threshold: float = 0.95,
    max_cell: int | None = None,
    pair_salt: int = 1,
    checkpoint: str | None = None,
) -> DataFrame:
    """Within-cluster near-dup pairs: (id_a, id_b, cell, cos_sim) with
    id_a < id_b and cosine ≥ threshold.  Pairs across clusters are by
    construction not examined — that is the SemDeDup trade (recall
    bounded by the quantizer's ability to co-locate duplicates).

    ``pair_salt > 1`` splits each cell's pair work across salt
    sub-partitions (a-side rows get a deterministic salt, b-side rows
    replicate salt-fold): output-identical, parallelism × salt.  Use
    when the quantizer is COARSE relative to the executor count (few
    cells, each big) — at paper-scale k (10^4-10^5 cells) leave it at 1,
    the cell key already saturates any cluster.

    ``checkpoint``: the cells frame feeds BOTH join sides, so by
    default the assignment kernel runs twice per action; "local" /
    "reliable" truncate lineage after one pass — same retention
    contract as :func:`semantic_dedup_report`."""
    cells = assign_cells(df, id_col, vec_col, centroids)
    if checkpoint is not None:
        from ubw_spark.operators.iterate import truncate

        cells = truncate(cells, checkpoint)
    return _pairs_from_cells(
        cells, id_col, vec_col,
        threshold=threshold, max_cell=max_cell, pair_salt=pair_salt,
    )


def _pairs_from_cells(
    cells: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float,
    max_cell: int | None,
    pair_salt: int = 1,
) -> DataFrame:
    """Pair generation over an ALREADY-ASSIGNED (id, vec, cell) frame —
    split out so semantic_dedup_report assigns cells once (the O(k·dim)
    per-row fold is the dominant map cost at paper-scale k) and both
    the report and the self-join reuse the same frame.

    Norms are precomputed PER ROW before the join (|cells| sqrt-folds),
    so each of the Σ n_c² pairs evaluates one dot-product fold instead
    of cosine_col's three — the pair side is the quadratic term and
    higher-order-function folds are the expensive part of a pair.  The
    per-pair float math is cosine_col's: dot / (norm_a * norm_b), in
    the same operation order."""
    if max_cell is not None:
        w = Window.partitionBy("cell").orderBy(id_col)
        cells = (
            cells.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= max_cell)
            .drop("__rn")
        )
    keyed = cells.withColumn("__nrm", norm(F.col(vec_col)))
    if pair_salt < 1:
        # pmod(x, 0) is NULL in non-ANSI mode: the join predicate would
        # silently match nothing and the report would keep every
        # duplicate — a wrong data-quality answer, so refuse loudly.
        raise ValueError(f"pair_salt must be >= 1, got {pair_salt}")
    # The a-side repartition spreads the quadratic per-pair work: under
    # a broadcast join the output parallelism IS the stream side's
    # partitioning (a single-file corpus would otherwise compute every
    # pair in one task, salt or no salt).  The partition COUNT is given
    # explicitly (REPARTITION_BY_NUM): the a-side rows are the LINEAR
    # term, small enough that AQE's advisory-size coalescing would fold
    # them back into one partition and re-serialize the quadratic
    # output work it cannot see at plan time.  At pair_salt=1 the
    # spread is ROUND-ROBIN: hashing on (cell, constant) would cap
    # parallelism at the distinct-cell count, strictly worse than the
    # corpus's natural splits for a coarse quantizer.
    n_parts = cells.sparkSession.sparkContext.defaultParallelism * pair_salt
    a = keyed.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__nrm").alias("__na"),
        "cell",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(pair_salt)).alias("__salt"),
    )
    if pair_salt > 1:
        a = a.repartition(n_parts, F.col("cell"), F.col("__salt"))
    else:
        a = a.repartition(n_parts)
    b = keyed.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__nrm").alias("__nb"),
        F.col("cell").alias("__cb"),
        F.explode(
            F.sequence(F.lit(0), F.lit(pair_salt - 1)).cast("array<long>")
        ).alias("__salt_b"),
    )
    scored = a.join(
        b,
        (F.col("cell") == F.col("__cb"))
        & (F.col("__salt") == F.col("__salt_b"))
        & (F.col("id_a") < F.col("id_b")),
    ).select(
        "id_a",
        "id_b",
        "cell",
        # fence: the threshold filter below would otherwise be pushed
        # into this projection with __cos substituted — re-running the
        # dot fold per pair in the Filter AND again here (2× the
        # quadratic kernel; caught by hof_filter_violations)
        fence(
            dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb"))
        ).alias("__cos"),
    )
    return scored.where(F.col("__cos") >= threshold).select(
        "id_a", "id_b", "cell", F.round("__cos", 4).alias("cos_sim")
    )


def semantic_dedup_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    *,
    threshold: float = 0.95,
    max_cell: int | None = None,
    pair_salt: int = 1,
    checkpoint: str | None = None,
) -> DataFrame:
    """Per-row keep decision: (id, cell, keep) for EVERY input row —
    keep = 0 iff the row loses some within-cluster pair (higher id at
    cosine ≥ threshold).  Filtering ``keep = 1`` applies the SemDeDup
    policy; the report form (rather than a filtered frame) is what a
    curation funnel audits and what the oracle checks row-for-row.

    ``checkpoint``: the cells frame feeds THREE plan branches (pair
    a-side, pair b-side, the report join), so by default the N·k·dim
    assignment kernel runs three times per action.  ``"local"`` /
    ``"reliable"`` truncate lineage after ONE assignment pass
    (operators/iterate.truncate — the connected-components posture).
    Results are identical either way.  Retention contract: "local"
    pins an executor-storage copy freed by the ContextCleaner when the
    frame is garbage-collected — right for one-shot jobs; "reliable"
    writes a corpus-scale parquet dir under the context checkpoint dir
    WITHOUT a TruncateSlot (this is not an iterative chain — the frame
    keeps reading from it), so it survives executor loss AND the job,
    and is reclaimed by the checkpoint dir's retention policy (the
    standard TTL'd-scratch-bucket production pattern).  Leave None
    when the plan itself must stay inspectable (lints, .explain) —
    truncation replaces the assignment subtree with a materialized
    scan."""
    cells = assign_cells(df, id_col, vec_col, centroids)
    if checkpoint is not None:
        from ubw_spark.operators.iterate import truncate

        cells = truncate(cells, checkpoint)
    losers = (
        _pairs_from_cells(
            cells, id_col, vec_col,
            threshold=threshold, max_cell=max_cell, pair_salt=pair_salt,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__lost", F.lit(1))
    )
    return cells.join(losers, id_col, "left").select(
        F.col(id_col),
        "cell",
        F.when(F.col("__lost").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("keep"),
    )
