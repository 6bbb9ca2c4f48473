"""Similarity search over the `embeddings` table (array<float>, 64-dim).

Brute-force cosine is the correctness baseline (exact, O(Q×N) — fine
when Q is small or N fits a broadcast).  The scale path is the
LSH-bucketed variant in ubw_spark.operators.similarity: candidates only
within matching hash buckets, turning O(N²) into O(N·bucket).

Dot products are pure `zip_with` + `aggregate` expressions — JVM-side,
no Python.  Ranking uses the 4-dp-rounded score (+ vec_id tiebreak) so
results are stable across engines and float orders.

The ANN family lives here too: hyperplane-LSH, IVF, PQ and IVF-PQ top-k,
the IVF store probe, their recall reports, int8 quantization and
per-label centroids.  Each is oracled end-to-end: seeded hyperplanes
ride into the SQL as literals, and the IVF cells and PQ codebooks are
md5-seeded (operators/ivf.py::seed_ivf_centroids) instead of KMeans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ubw_spark.operators.dedup import widen
from ubw_spark.operators.ivf import seed_ivf_centroids, seed_rows
from ubw_spark.operators.similarity import (
    cosine_col,
    lsh_ann_topk,
    norm,
    rerank_topk,
)
from ubw_spark.queries.registry import register, store_path, table


@register(
    "sim_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT qid, vec_id,
                  round(list_cosine_similarity(qe::DOUBLE[], embedding::DOUBLE[]), 4) AS cos_sim
           FROM q CROSS JOIN embeddings WHERE vec_id <> qid)
    SELECT qid, vec_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored) WHERE rn <= 5
    """,
    tags=("similarity",),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: top-5 neighbors for each of 5 query vectors.

    Scale: the QUERY side broadcasts (small), the corpus side streams —
    one map-side pass over N rows per batch of queries, then a per-query
    top-k window on Q×N scored rows (Q small ⇒ no skew)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return rerank_topk(
        emb.join(broadcast(q), F.col("vec_id") != F.col("qid")),
        5,
        score=cosine_col(F.col("qe"), F.col("embedding")),
    )


@register(
    "sim_pairs_above_threshold",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 150 AND b.vec_id < 150
      AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.25
    """,
    tags=("similarity", "dedup"),
)
def sim_pairs_above_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.25) inside a block.

    The id<150 block stands in for one LSH bucket: at scale the
    operators.similarity LSH assigns bucket ids and this exact kernel
    runs per bucket — same plan shape, bounded pair count."""
    from ubw_spark.functions.hof import fence

    emb = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 150)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    # fence + project-then-filter: an inline where(cos >= t) references
    # both join sides, so PushPredicateThroughJoin would move the fold
    # into the BNLJ condition AND the projection would re-run it — 2×
    # the pair kernel (caught by hof_filter_violations' join scope)
    scored = a.join(broadcast(b), F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", fence(cosine_col(F.col("ea"), F.col("eb"))).alias("__c")
    )
    return scored.where(F.col("__c") >= 0.25).select(
        "id_a", "id_b", F.round("__c", 4).alias("cos_sim")
    )


@register(
    "embedding_norm_stats",
    oracle="""
    SELECT label,
           count(*) AS n,
           round(avg(sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum'))), 4) AS avg_norm
    FROM embeddings GROUP BY label
    """,
    tags=("similarity", "agg"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics — array reduce inside the row, then
    an ordinary partial-aggregated groupBy."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", norm(F.col("embedding")).alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
        )
    )


def _lsh_ann_oracle(dim: int = 64, bits: int = 4, tables: int = 16,
                    seed: int = 42, k: int = 5) -> str:
    """DuckDB mirror of the hyperplane-LSH ANN path: identical seeded
    hyperplanes as DOUBLE[] literals → identical (table, bucket) keys →
    candidate = shares a bucket with the query in ≥1 table → exact
    cosine re-rank, 4-dp round + vec_id tiebreak (engine-stable)."""
    from ubw_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim=dim, bits=bits, tables=tables, seed=seed)
    values = ",\n      ".join(
        f"({t}, {j}, ["
        + ", ".join(repr(float(c)) for c in planes[t, j])
        + "]::DOUBLE[])"
        for t in range(tables)
        for j in range(bits)
    )
    return f"""
    WITH planes(tbl, bit, c) AS (VALUES {values}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    buckets AS (
      SELECT e.vec_id, p.tbl,
             CAST(sum(CASE WHEN list_inner_product(e.v, p.c) >= 0
                           THEN (1 << p.bit) ELSE 0 END) AS INT) AS bucket
      FROM e CROSS JOIN planes p GROUP BY 1, 2),
    qb AS (SELECT vec_id AS qid, tbl, bucket FROM buckets WHERE vec_id < 5),
    cand AS (SELECT DISTINCT qb.qid, b.vec_id
             FROM buckets b JOIN qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
                               AND b.vec_id <> qb.qid),
    scored AS (SELECT c.qid, c.vec_id,
                      round(list_cosine_similarity(eq.v, ec.v), 4) AS cos_sim
               FROM cand c JOIN e eq ON eq.vec_id = c.qid
                           JOIN e ec ON ec.vec_id = c.vec_id)
    SELECT qid, vec_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored) WHERE rn <= {k}
    """


@register("sim_lsh_ann_topk", oracle=_lsh_ann_oracle(), tags=("similarity", "lsh"))
def sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-5 for 5 query vectors.  Fully
    oracled (see _lsh_ann_oracle); recall ≥ threshold vs brute force is
    additionally asserted in tests."""
    emb = table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        k=5,
        dim=64,
        bits=4,
        tables=16,
    )


# Known-accepted fragility (ADVICE r3): hash equality here leans on
# Spark's zip_with/aggregate double folds matching DuckDB's
# list_distance/list_cosine_similarity bit-for-bit at the rounded 4th
# decimal, plus both engines landing the same side of a .00005 rounding
# boundary and of exact centroid-distance ties.  Green on this data;
# a different dataset or library version could flip a candidate set.
# Same class as the LSH jaccard oracle — do not chase with comparator
# slack (the driver hashes exact values).
_IVF_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    -- seed centroids: the 8 corpus vectors with smallest md5(vec_id) —
    -- deterministic and computable by BOTH engines (the Spark side
    -- collects the same 8×64 floats into plan literals)
    cents AS (
      SELECT (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)) - 1
               AS cid, v
      FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
    assign AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_distance(e.v, c.v), c.cid) AS rn
      FROM e CROSS JOIN cents c),
    corpus_cell AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
    probe AS (SELECT vec_id AS qid, cid FROM assign WHERE vec_id < 5 AND rn <= 4),
    cand AS (SELECT DISTINCT p.qid, cc.vec_id
             FROM corpus_cell cc JOIN probe p
               ON cc.cid = p.cid AND cc.vec_id <> p.qid),
    scored AS (SELECT c.qid, c.vec_id,
                      round(list_cosine_similarity(eq.v, ec.v), 4) AS cos_sim
               FROM cand c JOIN e eq ON eq.vec_id = c.qid
                           JOIN e ec ON ec.vec_id = c.vec_id)
    SELECT qid, vec_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored) WHERE rn <= 5
    """


@register("sim_ivf_ann_topk", oracle=_IVF_ORACLE, tags=("similarity", "ivf"))
def sim_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: coarse quantizer (k=8 cells), probe 4 cells, exact
    cosine re-rank — fully oracled: seed centroids are the 8 corpus
    vectors with smallest md5(vec_id) (deterministic in both engines),
    so cell assignment, probing, and re-rank all reproduce in DuckDB.
    Production training is operators.ivf.train_ivf_centroids (KMeans);
    recall ≥ threshold vs brute force asserted in tests for BOTH
    centroid sources.  At 100 TB the corpus is written partitioned by
    ivf_cell so probes read nprobe/k of the data (see operators/ivf.py)."""
    from ubw_spark.operators.ivf import ivf_ann_topk

    emb = table(spark, sf_dir, "embeddings")
    centroids = seed_ivf_centroids(emb, k=8)
    return ivf_ann_topk(
        emb, emb.where(F.col("vec_id") < 5), centroids, k=5, nprobe=4
    )


@register(
    "sim_ivf_store_probe",
    oracle=_IVF_ORACLE,
    tags=("similarity", "ivf", "index"),
)
def sim_ivf_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED form of sim_ivf_ann_topk: the corpus is written
    ``partitionBy(ivf_cell)`` through the versioned-manifest store and
    the probe reads only its nprobe cells' partitions (static partition
    filter, plan-asserted in tests/test_plans.py).  Same oracle as the
    in-memory query — the store layout must not change a single result
    row, which is exactly what this entry pins.  Timing includes the
    index write: at 100 TB that write amortizes across every probe
    batch, and benching the whole lifecycle is honest (same contract as
    dedup_incremental_index_probe)."""
    from ubw_spark.operators.ivf import probe_ivf_index, write_ivf_index

    emb = table(spark, sf_dir, "embeddings")
    centroids = seed_ivf_centroids(emb, k=8)
    path = store_path("ivf_store", sf_dir)
    write_ivf_index(emb, centroids, path)
    return probe_ivf_index(
        spark, path, emb.where(F.col("vec_id") < 5), centroids,
        k=5, nprobe=4,
    )


def _recall_matrix_oracle(
    dim: int = 64, bits: int = 4, tables: int = 16, seed: int = 42
) -> str:
    """The four-variant ANN recall matrix reproduced end-to-end in SQL
    (VERDICT r12 #5): exact brute-force top-10 as ground truth, then
    IVF (nprobe sweep), hyperplane LSH, exhaustive-ADC PQ, and IVFPQ
    rankings — every stage (seeded quantizers, bucket hashing, encode,
    ADC lookup, 4-dp round + id tiebreak) rebuilt in DuckDB.  Same
    known-accepted 4dp-rounding fragility class as _IVF_ORACLE."""
    from ubw_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim=dim, bits=bits, tables=tables, seed=seed)
    values = ",\n      ".join(
        f"({t}, {j}, ["
        + ", ".join(repr(float(c)) for c in planes[t, j])
        + "]::DOUBLE[])"
        for t in range(tables)
        for j in range(bits)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    nq AS (SELECT count(*) AS n FROM e),
    brute AS (
      SELECT qid, vec_id FROM (
        SELECT q.vec_id AS qid, t.vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.v, t.v), 4) DESC,
                          t.vec_id) AS rn
        FROM e q JOIN e t ON t.vec_id <> q.vec_id
        WHERE q.vec_id < 5) WHERE rn <= 10),
    -- ===== IVF: 8 md5-seeded coarse cells, nprobe sweep =====
    cents AS (
      SELECT (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)) - 1
               AS cid, v
      FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
    assign AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_distance(e.v, c.v), c.cid) AS rn
      FROM e CROSS JOIN cents c),
    corpus_cell AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
    np AS (SELECT * FROM (VALUES (1), (2), (4), (8)) AS t(nprobe)),
    probe AS (
      SELECT np.nprobe, a.vec_id AS qid, a.cid
      FROM assign a JOIN np ON a.rn <= np.nprobe
      WHERE a.vec_id < 5),
    cand AS (
      SELECT DISTINCT p.nprobe, p.qid, cc.vec_id
      FROM corpus_cell cc JOIN probe p
        ON cc.cid = p.cid AND cc.vec_id <> p.qid),
    ncand AS (SELECT nprobe, count(*) AS n_candidates
              FROM cand GROUP BY nprobe),
    ivf AS (
      SELECT nprobe, qid, vec_id FROM (
        SELECT c.nprobe, c.qid, c.vec_id,
               row_number() OVER (PARTITION BY c.nprobe, c.qid
                 ORDER BY round(list_cosine_similarity(eq.v, ec.v), 4) DESC,
                          c.vec_id) AS rn
        FROM cand c JOIN e eq ON eq.vec_id = c.qid
                    JOIN e ec ON ec.vec_id = c.vec_id)
      WHERE rn <= 10),
    hits AS (
      SELECT i.nprobe, count(*) AS hits
      FROM ivf i JOIN brute b ON b.qid = i.qid AND b.vec_id = i.vec_id
      GROUP BY i.nprobe),
    ivf_rows AS (
      SELECT 'ivf' AS variant,
             CAST(np.nprobe AS INTEGER) AS param,
             CAST(np.nprobe * 5 AS BIGINT) AS cells_read,
             CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
             CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
             CAST(coalesce(h.hits, 0) * 20 AS BIGINT) AS recall_milli
      FROM np LEFT JOIN ncand nc ON nc.nprobe = np.nprobe
              LEFT JOIN hits h ON h.nprobe = np.nprobe),
    -- ===== LSH: seeded hyperplanes, {tables} tables x {bits} bits =====
    planes(tbl, bit, c) AS (VALUES {values}),
    buckets AS (
      SELECT e.vec_id, p.tbl,
             CAST(sum(CASE WHEN list_inner_product(e.v, p.c) >= 0
                           THEN (1 << p.bit) ELSE 0 END) AS INT) AS bucket
      FROM e CROSS JOIN planes p GROUP BY 1, 2),
    qb AS (SELECT vec_id AS qid, tbl, bucket FROM buckets WHERE vec_id < 5),
    lsh_cand AS (SELECT DISTINCT qb.qid, b.vec_id
                 FROM buckets b JOIN qb ON b.tbl = qb.tbl
                                       AND b.bucket = qb.bucket
                                       AND b.vec_id <> qb.qid),
    lsh_ncand AS (SELECT count(*) AS n_candidates FROM lsh_cand),
    lsh_top AS (
      SELECT qid, vec_id FROM (
        SELECT c.qid, c.vec_id,
               row_number() OVER (PARTITION BY c.qid
                 ORDER BY round(list_cosine_similarity(eq.v, ec.v), 4) DESC,
                          c.vec_id) AS rn
        FROM lsh_cand c JOIN e eq ON eq.vec_id = c.qid
                        JOIN e ec ON ec.vec_id = c.vec_id)
      WHERE rn <= 10),
    lsh_hits AS (
      SELECT count(*) AS hits
      FROM lsh_top l JOIN brute b ON b.qid = l.qid AND b.vec_id = l.vec_id),
    lsh_rows AS (
      SELECT 'lsh' AS variant,
             CAST({tables} AS INTEGER) AS param,
             CAST({tables} * 5 AS BIGINT) AS cells_read,
             CAST(n_candidates AS BIGINT) AS n_candidates,
             CAST(hits AS BIGINT) AS hits,
             CAST(hits * 20 AS BIGINT) AS recall_milli
      FROM lsh_ncand, lsh_hits),
    -- ===== PQ: m=8 x ksub=16 md5-seeded codebooks, exhaustive ADC =====
    pcents AS (
      SELECT (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)) - 1
               AS pcid, v
      FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
    enc AS (
      SELECT e.vec_id, g.j, p.pcid,
             row_number() OVER (
               PARTITION BY e.vec_id, g.j
               ORDER BY list_sum(list_transform(generate_series(1, 8),
                        i -> (e.v[g.j*8+i] - p.v[g.j*8+i])^2)), p.pcid) AS rn
      FROM e CROSS JOIN generate_series(0, 7) AS g(j) CROSS JOIN pcents p),
    codes AS (SELECT vec_id, j, pcid FROM enc WHERE rn = 1),
    q5 AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 5),
    pq_scored AS (
      SELECT q.qid, cd.vec_id,
             round(sum(list_inner_product(
                 list_slice(q.v, cd.j*8+1, cd.j*8+8),
                 list_slice(pc.v, cd.j*8+1, cd.j*8+8))), 4) AS approx_ip
      FROM codes cd
      JOIN pcents pc ON pc.pcid = cd.pcid
      CROSS JOIN q5 q
      WHERE cd.vec_id <> q.qid
      GROUP BY q.qid, cd.vec_id),
    pq_top AS (
      SELECT qid, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY approx_ip DESC, vec_id) AS rn
        FROM pq_scored) WHERE rn <= 10),
    pq_hits AS (
      SELECT count(*) AS hits
      FROM pq_top p JOIN brute b ON b.qid = p.qid AND b.vec_id = p.vec_id),
    pq_rows AS (
      SELECT 'pq' AS variant,
             CAST(8 AS INTEGER) AS param,
             CAST(8 * 5 AS BIGINT) AS cells_read,
             CAST(5 * (n - 1) AS BIGINT) AS n_candidates,
             CAST(hits AS BIGINT) AS hits,
             CAST(hits * 20 AS BIGINT) AS recall_milli
      FROM nq, pq_hits),
    -- ===== IVFPQ: probed cells bound rows, PQ codes bound bytes =====
    ipq_cand AS (
      SELECT DISTINCT p.qid, cc.vec_id
      FROM corpus_cell cc JOIN probe p
        ON p.nprobe = 4 AND cc.cid = p.cid AND cc.vec_id <> p.qid),
    ipq_ncand AS (SELECT count(*) AS n_candidates FROM ipq_cand),
    ipq_scored AS (
      SELECT c.qid, c.vec_id,
             round(sum(list_inner_product(
                 list_slice(q.v, cd.j*8+1, cd.j*8+8),
                 list_slice(pc.v, cd.j*8+1, cd.j*8+8))), 4) AS approx_ip
      FROM ipq_cand c
      JOIN codes cd ON cd.vec_id = c.vec_id
      JOIN pcents pc ON pc.pcid = cd.pcid
      JOIN q5 q ON q.qid = c.qid
      GROUP BY c.qid, c.vec_id),
    ipq_top AS (
      SELECT qid, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY approx_ip DESC, vec_id) AS rn
        FROM ipq_scored) WHERE rn <= 10),
    ipq_hits AS (
      SELECT count(*) AS hits
      FROM ipq_top p JOIN brute b ON b.qid = p.qid AND b.vec_id = p.vec_id),
    ipq_rows AS (
      SELECT 'ivfpq' AS variant,
             CAST(4 AS INTEGER) AS param,
             CAST(4 * 5 AS BIGINT) AS cells_read,
             CAST(n_candidates AS BIGINT) AS n_candidates,
             CAST(hits AS BIGINT) AS hits,
             CAST(hits * 20 AS BIGINT) AS recall_milli
      FROM ipq_ncand, ipq_hits)
    SELECT * FROM ivf_rows
    UNION ALL SELECT * FROM lsh_rows
    UNION ALL SELECT * FROM pq_rows
    UNION ALL SELECT * FROM ipq_rows
    """


_RECALL_ORACLE = _recall_matrix_oracle()


@register(
    "sim_recall_report",
    oracle=_RECALL_ORACLE,
    tags=("similarity", "ivf", "recall"),
)
def sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN recall/IO matrix as DRIVER-VISIBLE evidence — ALL FOUR
    ANN variants in one oracled report (VERDICT r8 #6 + r12 #5): one
    row ``(variant, param, cells_read, n_candidates, hits,
    recall_milli)`` per configuration, where hits = |variant top-10 ∩
    brute-force top-10| summed over the 5 query vectors and
    recall_milli = hits·1000 / (5·10) exactly (integer milli — the
    fixed-point parity recipe).

    - ``ivf`` (param = nprobe ∈ {1, 2, 4, 8}): cells_read = 5·nprobe
      is the IO knob (each probed cell is one partition directory of
      the written layout); n_candidates is the re-rank volume those
      cells admit.
    - ``lsh`` (param = 16 tables): candidates share ≥1 (table, bucket)
      with the query; cells_read = 5·16 bucket probes.
    - ``pq`` (param = m = 8 subspaces): exhaustive ADC — every corpus
      code scored via lookup tables (n_candidates = 5·(N−1)), the
      32×-compressed full-scan reference point.
    - ``ivfpq`` (param = nprobe = 4): probed cells bound WHICH rows,
      PQ codes bound the BYTES per row — the composed layout's recall
      cost vs plain IVF at the same nprobe is read directly off the
      ivf@4 row.

    The recall-vs-IO tradeoff an operator tunes at 100 TB, pinned
    value-for-value by one DuckDB oracle that rebuilds every variant
    (recall ≥ 0.5 at nprobe=4 additionally asserted in
    tests/test_similarity.py for KMeans centroids)."""
    from functools import reduce as _reduce

    from pyspark.sql import types as T

    from ubw_spark.functions.literals import literal_frame
    from ubw_spark.operators.ivf import assign_ivf_cells, nearest_cells_py
    from ubw_spark.operators.pq import (
        _adc_sum_sql,
        pq_encode,
        seed_pq_codebooks,
    )
    from ubw_spark.operators.similarity import (
        brute_force_topk,
        hyperplane_bucket_array,
    )

    emb = table(spark, sf_dir, "embeddings")
    n_queries = 5
    # Round-13 driver-overhead restructure (guide §1.2 / §7.3): the
    # pre-restructure shape ran 25 one-task jobs totalling <1 s of
    # execution inside ~7 s wall — per-branch plan analysis of the
    # literal-heavy kernels (16-table hyperplane folds, 8×16 ADC
    # tables, centroid distances) was the cost, paid once per seed
    # collect, per side, per family.  Now: ONE md5-ordered seed collect
    # serves both quantizer families (IVF k=8 is a prefix of PQ
    # ksub=16 under the shared seed_rows ordering), ONE corpus pass
    # computes every per-row kernel (cell + 16 bucket keys + PQ code)
    # into a single materialized frame, and ONE union materializes all
    # four scored candidate sets together — 5 jobs instead of 25.
    # Every materialized frame is BOUNDED: seed rows = 16×dim floats,
    # enriched = corpus rows + a few small kernel columns, the scored
    # union ≤ 5·N small rows + 5·10 brute ids, never joined vectors.
    # localCheckpoint, NOT .cache(): CacheManager keys cached plans
    # canonically, so .cache() would let a SECOND invocation of this
    # query in the same session (bench warmup → timed passes) silently
    # reuse the first invocation's blocks — cross-invocation result
    # memoization the bench must never measure.  localCheckpoint
    # blocks belong to this invocation's RDD alone.
    rows16 = seed_rows(emb, 16)
    centroids = seed_ivf_centroids(emb, k=8, rows=rows16)
    books = seed_pq_codebooks(emb, m=8, ksub=16, rows=rows16)

    enriched = hyperplane_bucket_array(
        pq_encode(assign_ivf_cells(emb, centroids), books),
        "embedding", dim=64, bits=4, tables=16,
    ).localCheckpoint()
    q = enriched.where(F.col("vec_id") < 5)
    e_q = q.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("__qv")
    )
    vectors = enriched.select("vec_id", "embedding")

    queries_list = [
        (r["vec_id"], r["embedding"])
        for r in q.select("vec_id", "embedding").collect()
    ]
    # Probe cells computed DRIVER-side for the 5 collected queries
    # (nearest_cells_py ≡ the _nearest_cells plan fold bit-for-bit —
    # the probe_ivf_index contract) and shipped as a JVM literal frame:
    # no second centroid kernel planned for the query side.  probe_rank
    # r means "this cell is the query's r-th nearest", so the nprobe=p
    # candidate set is exactly probe_rank <= p (each corpus row lives
    # in ONE cell — no dedup needed).  Same 4-dp + id-tiebreak rerank
    # contract as ivf_ann_topk.
    probe_rows = [
        (qid, rank + 1, cell)
        for qid, vec in queries_list
        for rank, cell in enumerate(
            nearest_cells_py([float(x) for x in vec], centroids, 8)
        )
    ]
    probes = literal_frame(
        spark,
        probe_rows,
        T.StructType(
            [
                T.StructField("qid", emb.schema["vec_id"].dataType, True),
                T.StructField("probe_rank", T.IntegerType(), True),
                T.StructField("ivf_cell", T.IntegerType(), True),
            ]
        ),
    )
    scored_ivf_raw = (
        enriched.join(broadcast(probes), "ivf_cell")
        .where(F.col("vec_id") != F.col("qid"))
        .join(broadcast(e_q), "qid")
        .select(
            "qid",
            "vec_id",
            "probe_rank",
            F.round(
                cosine_col(F.col("__qv"), F.col("embedding")), 4
            ).alias("cos_sim"),
        )
    )

    # LSH: same seeded planes as sim_lsh_ann_topk (64-dim, 4 bits, 16
    # tables); the bucket kernel ran once in `enriched`, and the query
    # side derives by FILTER — bucketing is row-wise, so buckets(q) ≡
    # buckets(emb).where(vec_id < 5) value-for-value.
    cb = enriched.select(
        "vec_id", F.explode(F.col("__tb")).alias("__e")
    ).select(
        "vec_id",
        F.col("__e.t").alias("lsh_table"),
        F.col("__e.b").alias("lsh_bucket"),
    )
    qb = cb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "lsh_table", "lsh_bucket"
    )
    scored_lsh_raw = (
        cb.join(broadcast(qb), ["lsh_table", "lsh_bucket"])
        .where(F.col("vec_id") != F.col("qid"))
        .dropDuplicates(["qid", "vec_id"])
        .select("qid", "vec_id")
        .join(broadcast(e_q), "qid")
        .join(vectors, "vec_id")
        .select(
            "qid",
            "vec_id",
            F.round(
                cosine_col(F.col("__qv"), F.col("embedding")), 4
            ).alias("cos_sim"),
        )
    )

    # PQ / IVFPQ: md5-seeded codebooks shared with sim_pq/ivfpq_ann_topk;
    # ADC scores computed ONCE over the enriched code column with the
    # same _adc_sum_sql kernel those operators use (per-query lookup
    # tables as plan literals), then PQ ranks everything and IVFPQ
    # ranks the probed-cell subset — one expression tree instead of two
    per_query = [
        F.struct(
            F.lit(qid).alias("qid"),
            F.expr(
                _adc_sum_sql([float(x) for x in vec], books, "pq_code")
            ).alias("approx_ip"),
        )
        for qid, vec in queries_list
    ]
    adc_raw = (
        enriched.select("vec_id", F.explode(F.array(*per_query)).alias("__q"))
        .select(
            F.col("__q.qid").alias("qid"),
            "vec_id",
            F.col("__q.approx_ip").alias("approx_ip"),
        )
        .where(F.col("vec_id") != F.col("qid"))
    )
    brute_raw = brute_force_topk(vectors, q, k=10).select("qid", "vec_id")

    # ONE materialization of all four candidate families (kind-tagged
    # union): ground truth + three scored sets land in a single job.
    _rank_null = F.lit(None).cast("int")
    _score_null = F.lit(None).cast("double")
    u = (
        brute_raw.select(
            F.lit("brute").alias("kind"), "qid", "vec_id",
            _rank_null.alias("probe_rank"), _score_null.alias("score"),
        )
        .unionByName(
            scored_ivf_raw.select(
                F.lit("ivf").alias("kind"), "qid", "vec_id",
                "probe_rank", F.col("cos_sim").alias("score"),
            )
        )
        .unionByName(
            scored_lsh_raw.select(
                F.lit("lsh").alias("kind"), "qid", "vec_id",
                _rank_null.alias("probe_rank"),
                F.col("cos_sim").alias("score"),
            )
        )
        .unionByName(
            adc_raw.select(
                F.lit("adc").alias("kind"), "qid", "vec_id",
                _rank_null.alias("probe_rank"),
                F.col("approx_ip").alias("score"),
            )
        )
    ).localCheckpoint()
    brute = u.where(F.col("kind") == "brute").select("qid", "vec_id")
    scored_ivf = u.where(F.col("kind") == "ivf").select(
        "qid", "vec_id", "probe_rank", F.col("score").alias("cos_sim")
    )
    scored_lsh = u.where(F.col("kind") == "lsh").select(
        "qid", "vec_id", F.col("score").alias("cos_sim")
    )
    adc = u.where(F.col("kind") == "adc").select(
        "qid", "vec_id", F.col("score").alias("approx_ip")
    )

    # Report assembly in ONE plan: a (variant, param)-tagged union of
    # all seven candidate sets, ONE window pass reranking every config
    # at once, two grouped counts, and a left join back onto the
    # literal config table (which pins a 0-candidate config to an
    # explicit zero row, as the old per-part crossJoin did).  The old
    # ten-part assembly planned ~25 AQE stage-jobs of driver latency
    # for <1 s of execution.
    def tag(variant, param, df):
        return df.select(
            F.lit(variant).alias("variant"),
            F.lit(param).cast("int").alias("param"),
            "qid",
            "vec_id",
            "score",
        )

    ipq_keys = scored_ivf.where(F.col("probe_rank") <= 4).select(
        "qid", "vec_id"
    )
    cands_all = _reduce(
        lambda a, b: a.unionByName(b),
        [
            tag(
                "ivf", p,
                scored_ivf.where(F.col("probe_rank") <= p).select(
                    "qid", "vec_id", F.col("cos_sim").alias("score")
                ),
            )
            for p in (1, 2, 4, 8)
        ]
        + [
            tag(
                "lsh", 16,
                scored_lsh.select(
                    "qid", "vec_id", F.col("cos_sim").alias("score")
                ),
            ),
            tag(
                "pq", 8,
                adc.select(
                    "qid", "vec_id", F.col("approx_ip").alias("score")
                ),
            ),
            tag(
                "ivfpq", 4,
                adc.join(ipq_keys, ["qid", "vec_id"]).select(
                    "qid", "vec_id", F.col("approx_ip").alias("score")
                ),
            ),
        ],
    )
    w_all = Window.partitionBy("variant", "param", "qid").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    top_all = (
        cands_all.withColumn("__rn", F.row_number().over(w_all))
        .where(F.col("__rn") <= 10)
        .select("variant", "param", "qid", "vec_id")
    )
    n_cand = cands_all.groupBy("variant", "param").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    hits = (
        top_all.join(broadcast(brute), ["qid", "vec_id"])
        .groupBy("variant", "param")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    config_df = literal_frame(
        spark,
        [
            ("ivf", 1, 1 * n_queries),
            ("ivf", 2, 2 * n_queries),
            ("ivf", 4, 4 * n_queries),
            ("ivf", 8, 8 * n_queries),
            ("lsh", 16, 16 * n_queries),
            ("pq", 8, 8 * n_queries),
            ("ivfpq", 4, 4 * n_queries),
        ],
        "variant string, param int, cells_read bigint",
    )
    return (
        config_df.join(broadcast(n_cand), ["variant", "param"], "left")
        .join(broadcast(hits), ["variant", "param"], "left")
        .select(
            "variant",
            "param",
            "cells_read",
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            (F.coalesce(F.col("hits"), F.lit(0)) * 20).cast("long").alias(
                "recall_milli"
            ),
        )
    )


@register(
    "embedding_int8_quantize",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
    q AS (SELECT vec_id, mn, mx, (mx - mn) / 254.0 AS scale,
                 list_transform(v, x ->
                   CAST(floor((x - mn) / ((mx - mn) / 254.0) + 0.5) AS BIGINT)
                     - 127) AS qv
          FROM p WHERE mx > mn)
    SELECT vec_id, scale AS q_scale, mn AS q_min,
           CAST(list_min(qv) AS BIGINT) AS qmin,
           CAST(list_max(qv) AS BIGINT) AS qmax,
           CAST(list_sum(qv) AS BIGINT) AS qsum,
           CAST(len(qv) AS BIGINT) AS n_dims
    FROM q
    """,
    tags=("similarity", "quantize"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector affine int8 quantization summary — code range, code
    checksum, and the dequant params, bit-identical across engines
    because rounding is floor(x+0.5) (see operators/quantize.py).  The
    4x-smaller codes are what a 100 TB ANN candidate store shuffles and
    scans; re-rank fetches float vectors for finalists only."""
    from ubw_spark.operators.quantize import quantize_int8

    emb = table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb).where(F.col("q_scale") > 0)
    return q.select(
        "vec_id",
        "q_scale",
        "q_min",
        F.array_min("qvec").cast("long").alias("qmin"),
        F.array_max("qvec").cast("long").alias("qmax"),
        F.aggregate("qvec", F.lit(0).cast("long"), lambda a, x: a + x).alias("qsum"),
        F.size("qvec").cast("long").alias("n_dims"),
    )


@register(
    "sim_quantized_prerank",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
    dq AS (
      SELECT vec_id,
             list_transform(v, x ->
               (CAST(floor((x - mn) / ((mx - mn) / 254.0) + 0.5) AS BIGINT))
                 * ((mx - mn) / 254.0) + mn) AS vq
      FROM p WHERE mx > mn),
    scored AS (
      SELECT q.vec_id AS qid, c.vec_id,
             round(list_cosine_similarity(q.vq, c.vq), 4) AS qcos
      FROM dq q JOIN dq c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 3)
    SELECT qid, vec_id, qcos FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY qcos DESC, vec_id) AS rn
      FROM scored) WHERE rn <= 5
    """,
    tags=("similarity", "quantize"),
)
def sim_quantized_prerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN pre-rank on QUANTIZED vectors: cosine over int8-dequantized
    embeddings — at 100 TB the candidate store scans 4× fewer bytes and
    the float originals are fetched for finalists only (recall vs exact
    ranking asserted in tests).  Quantize→dequantize is engine-exact
    (floor rounding, operators/quantize.py), so even this approximate
    path value-checks in DuckDB; the 4-decimal cosine rounding carries
    the same accepted fragility as the IVF oracle above."""
    from ubw_spark.operators.quantize import dequantize_int8, quantize_int8

    # quantize/dequantize/cosine are per-row JVM array math and the
    # embeddings table ships as ONE parquet split — spread the compute
    emb = widen(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    dq = dequantize_int8(quantize_int8(emb)).where(F.col("q_scale") > 0)
    corpus = dq.select("vec_id", F.col("dequant").alias("cv"))
    qs = dq.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("dequant").alias("qv")
    )
    return rerank_topk(
        corpus.join(broadcast(qs), F.col("vec_id") != F.col("qid")),
        5,
        score_col="qcos",
        score=cosine_col(F.col("qv"), F.col("cv")),
    )


@register(
    "embedding_label_centroids",
    oracle="""
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
    bounds AS (
      SELECT min(list_min(v)) AS mn, max(list_max(v)) AS mx FROM e),
    q AS (
      SELECT label,
             list_transform(v, x ->
               CAST(floor((x - b.mn) / ((b.mx - b.mn) / 254.0) + 0.5)
                    AS BIGINT)) AS qv
      FROM e, bounds b),
    expl AS (
      -- dim is fixed at 64 for this table (like the LSH/IVF oracles)
      SELECT label, g.i - 1 AS dim, qv[g.i] AS qc
      FROM q CROSS JOIN generate_series(1, 64) AS g(i))
    SELECT label, dim,
           CAST(sum(qc) AS BIGINT) AS qsum,
           CAST(count(*) AS BIGINT) AS n
    FROM expl GROUP BY 1, 2
    """,
    tags=("similarity", "quantize", "agg"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid accumulators over GLOBALLY-quantized int8
    codes: exact integer (sum, count) per (label, dim).

    Why integers: a float mean is accumulation-order dependent, so a
    distributed Spark sum and a sequential DuckDB sum can disagree in
    the last ulp — integer sums are order-independent and hash-exact
    (the money-DECIMAL discipline applied to vectors).  Global (not
    per-vector) quantization keeps codes comparable across vectors so
    centroid arithmetic is meaningful; the dequantized centroid is
    within scale/2 of the float centroid per dimension (test-asserted).
    At 100 TB this is the class-prototype / embedding-drift monitor:
    one posexplode + one (label, dim)-keyed shuffle of small integers."""
    emb = table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    e = emb.select("label", v.alias("v"))
    bounds = e.agg(
        F.min(F.array_min("v")).alias("mn"), F.max(F.array_max("v")).alias("mx")
    )
    from ubw_spark.functions.hof import fence

    # fence: InferFiltersFromGenerate grounds the posexplode below with
    # size(qv) > 0 AND isnotnull(qv); unfenced those land in the join
    # condition with the quantize transform substituted — 3 evaluations
    # per row instead of 1 (caught by hof_filter_violations' join scope)
    q = e.crossJoin(broadcast(bounds)).select(
        "label",
        fence(
            F.transform(
                "v",
                lambda x: F.floor(
                    (x - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / F.lit(254.0))
                    + F.lit(0.5)
                ).cast("long"),
            )
        ).alias("qv"),
    )
    return (
        q.select("label", F.posexplode("qv").alias("dim", "qc"))
        .groupBy("label", "dim")
        .agg(
            F.sum("qc").alias("qsum"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _ann_recall_oracle(dim: int = 64, bits: int = 4, tables: int = 16,
                       seed: int = 42, k: int = 5) -> str:
    """Recall@k of the LSH path vs brute force, both reproduced in SQL —
    the ANN quality metric as a first-class oracled query rather than a
    test-only assertion."""
    from ubw_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim=dim, bits=bits, tables=tables, seed=seed)
    values = ",\n      ".join(
        f"({t}, {j}, ["
        + ", ".join(repr(float(c)) for c in planes[t, j])
        + "]::DOUBLE[])"
        for t in range(tables)
        for j in range(bits)
    )
    return f"""
    WITH planes(tbl, bit, c) AS (VALUES {values}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    buckets AS (
      SELECT e.vec_id, p.tbl,
             CAST(sum(CASE WHEN list_inner_product(e.v, p.c) >= 0
                           THEN (1 << p.bit) ELSE 0 END) AS INT) AS bucket
      FROM e CROSS JOIN planes p GROUP BY 1, 2),
    qb AS (SELECT vec_id AS qid, tbl, bucket FROM buckets WHERE vec_id < 5),
    cand AS (SELECT DISTINCT qb.qid, b.vec_id
             FROM buckets b JOIN qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
                               AND b.vec_id <> qb.qid),
    lsh_scored AS (SELECT c.qid, c.vec_id,
                          round(list_cosine_similarity(eq.v, ec.v), 4) AS cs
                   FROM cand c JOIN e eq ON eq.vec_id = c.qid
                               JOIN e ec ON ec.vec_id = c.vec_id),
    lsh_top AS (SELECT qid, vec_id FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cs DESC, vec_id) AS rn
      FROM lsh_scored) WHERE rn <= {k}),
    brute_scored AS (
      SELECT q.vec_id AS qid, c.vec_id,
             round(list_cosine_similarity(q.v, c.v), 4) AS cs
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5),
    brute_top AS (SELECT qid, vec_id FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cs DESC, vec_id) AS rn
      FROM brute_scored) WHERE rn <= {k})
    SELECT b.qid, count(*) AS n_exact,
           CAST(sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           round(sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS recall
    FROM brute_top b
    LEFT JOIN lsh_top l ON l.qid = b.qid AND l.vec_id = b.vec_id
    GROUP BY b.qid
    """


@register("sim_ann_recall_report", oracle=_ann_recall_oracle(),
          tags=("similarity", "lsh", "eval"))
def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the hyperplane-LSH path against exact brute force,
    per query — ANN quality monitoring as a standing query (run it on a
    sampled query set whenever the index parameters or corpus drift).
    Both rankings are deterministic (seeded planes, 4-dp rounding,
    vec_id tiebreaks), so even this eval metric value-checks in DuckDB.
    Cost: the brute side limits the query set (5 vectors here; at scale,
    sample ~1000 queries — still one corpus scan, query side broadcast)."""
    from ubw_spark.operators.similarity import brute_force_topk

    emb = table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5)
    brute = brute_force_topk(emb, qs, k=5).select("qid", "vec_id")
    lsh = lsh_ann_topk(emb, qs, k=5, dim=64, bits=4, tables=16).select(
        F.col("qid").alias("lqid"), F.col("vec_id").alias("lvid")
    )
    joined = brute.join(
        lsh,
        (F.col("qid") == F.col("lqid")) & (F.col("vec_id") == F.col("lvid")),
        "left",
    )
    return joined.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.col("lvid").isNotNull().cast("long")).alias("n_hit"),
        F.round(
            F.sum(F.col("lvid").isNotNull().cast("long"))
            / F.count(F.lit(1)),
            4,
        ).alias("recall"),
    )


@register(
    "sim_pq_ann_topk",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    -- md5-seeded codebooks: subspace j's centroids are the j-th
    -- subvectors of the 16 corpus vectors with smallest md5(vec_id)
    cents AS (
      SELECT (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)) - 1
               AS cid, v
      FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
    -- encode: argmin centroid per (vector, subspace); the squared-L2 is
    -- a LEFT-TO-RIGHT fold over the 8 dims, matching the Spark side
    enc AS (
      SELECT e.vec_id, g.j, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id, g.j
               ORDER BY list_sum(list_transform(generate_series(1, 8),
                        i -> (e.v[g.j*8+i] - c.v[g.j*8+i])^2)), c.cid) AS rn
      FROM e CROSS JOIN generate_series(0, 7) AS g(j) CROSS JOIN cents c),
    codes AS (SELECT vec_id, j, cid FROM enc WHERE rn = 1),
    q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 3),
    -- ADC: the score of a corpus vector is the sum over subspaces of
    -- <query subvector, assigned centroid subvector>
    scored AS (
      SELECT q.qid, cd.vec_id,
             round(sum(list_inner_product(
                 list_slice(q.v, cd.j*8+1, cd.j*8+8),
                 list_slice(c.v, cd.j*8+1, cd.j*8+8))), 4) AS approx_ip
      FROM codes cd
      JOIN cents c ON c.cid = cd.cid
      CROSS JOIN q
      WHERE cd.vec_id <> q.qid
      GROUP BY q.qid, cd.vec_id)
    SELECT qid, vec_id, approx_ip FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY approx_ip DESC, vec_id) AS rn
      FROM scored) WHERE rn <= 5
    """,
    tags=("similarity", "pq"),
)
def sim_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (m=8 subspaces × 16 centroids): corpus
    vectors encode to 8 small ints (32× smaller than float32); queries
    score via asymmetric distance — per-query lookup tables as broadcast
    plan literals, m element_at adds per corpus row, one scan, top-5 per
    query.  Codebooks are md5-seeded (seed_pq_codebooks) so encode → ADC
    → rank reproduces in DuckDB end-to-end; production training is
    per-subspace KMeans.  Carries the same 4-dp rounding fragility as
    the IVF oracle (sum-order drift absorbed by the round)."""
    from ubw_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        seed_pq_codebooks,
    )

    emb = table(spark, sf_dir, "embeddings")
    books = seed_pq_codebooks(emb, m=8, ksub=16)
    codes = pq_encode(emb, books).select("vec_id", "pq_code")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id") < 3).collect()
    ]
    return pq_adc_topk(codes, queries, books, k=5)


@register(
    "sim_ivfpq_ann_topk",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    -- coarse quantizer: 8 md5-seeded cells (same contract as sim_ivf_ann_topk)
    cents AS (
      SELECT (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)) - 1
               AS cid, v
      FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
    assign AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_distance(e.v, c.v), c.cid) AS rn
      FROM e CROSS JOIN cents c),
    corpus_cell AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
    probe AS (SELECT vec_id AS qid, cid FROM assign WHERE vec_id < 3 AND rn <= 4),
    -- PQ codebooks: 16 md5-seeded vectors, subvector j per subspace
    pcents AS (
      SELECT (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)) - 1
               AS pcid, v
      FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
    enc AS (
      SELECT e.vec_id, g.j, p.pcid,
             row_number() OVER (
               PARTITION BY e.vec_id, g.j
               ORDER BY list_sum(list_transform(generate_series(1, 8),
                        i -> (e.v[g.j*8+i] - p.v[g.j*8+i])^2)), p.pcid) AS rn
      FROM e CROSS JOIN generate_series(0, 7) AS g(j) CROSS JOIN pcents p),
    codes AS (SELECT vec_id, j, pcid FROM enc WHERE rn = 1),
    q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 3),
    -- candidates: probed cells only (the IVF bound), then ADC (the PQ bound)
    cand AS (SELECT p.qid, cc.vec_id
             FROM corpus_cell cc JOIN probe p
               ON cc.cid = p.cid AND cc.vec_id <> p.qid),
    scored AS (
      SELECT c.qid, c.vec_id,
             round(sum(list_inner_product(
                 list_slice(q.v, cd.j*8+1, cd.j*8+8),
                 list_slice(pc.v, cd.j*8+1, cd.j*8+8))), 4) AS approx_ip
      FROM cand c
      JOIN codes cd ON cd.vec_id = c.vec_id
      JOIN pcents pc ON pc.pcid = cd.pcid
      JOIN q ON q.qid = c.qid
      GROUP BY c.qid, c.vec_id)
    SELECT qid, vec_id, approx_ip FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY approx_ip DESC, vec_id) AS rn
      FROM scored) WHERE rn <= 5
    """,
    tags=("similarity", "pq", "ivf"),
)
def sim_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (the FAISS IVFPQ layout): 8 coarse cells
    bound WHICH rows are scored (probe 4), PQ codes bound the BYTES per
    scored row (m=8 × 16 centroids, ADC lookup tables).  Both stages
    md5-seeded, so cell assign → probe → encode → ADC → rank reproduces
    in DuckDB end-to-end.  At 100 TB the code store is written
    partitioned by ivf_cell (ivf.write_ivf_index layout), making the
    probe a partition-pruned scan of 32× smaller rows."""
    from ubw_spark.operators.pq import ivf_pq_topk, seed_pq_codebooks

    emb = table(spark, sf_dir, "embeddings")
    cells = seed_ivf_centroids(emb, k=8)
    books = seed_pq_codebooks(emb, m=8, ksub=16)
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id") < 3).collect()
    ]
    return ivf_pq_topk(emb, queries, cells, books, k=5, nprobe=4)
