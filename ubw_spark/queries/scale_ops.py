"""Queries for the scale operators: MinHash-LSH dedup, SimHash, LSH ANN,
as-of / range joins, multimodal plumbing.

dedup_minhash_lsh has a FULL SQL oracle: the md5-based portable hashing
in ubw_spark.operators.dedup makes every stage (shingle → signature →
band → candidate → verify) reproducible in DuckDB.  SimHash, the
hyperplane-LSH paths, and the multimodal feature pipeline are likewise
fully oracled (integer md5 math; seeded hyperplanes embedded as SQL
literals).  As of round 4 NOTHING here is rows-only: IVF oracles via
md5-seeded deterministic centroids (KMeans kept for production), the
sketch aggregates via an exact-vs-sketch rel-error invariant, and the
quantized paths via engine-exact floor rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubw_spark.operators.dedup import (
    minhash_dedup_pairs,
    simhash_near_pairs,
    simhash_signature,
    widen,
)
from ubw_spark.operators.multimodal import extract_features, with_payload_metadata
from ubw_spark.operators.similarity import embedding_near_dup_pairs, lsh_ann_topk
from ubw_spark.operators.temporal import asof_join, range_join
from ubw_spark.queries.registry import register, table


@register(
    "dedup_minhash_lsh",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks),
    h AS (SELECT doc_id, ('0x' || substr(md5(u.s2), 1, 8))::BIGINT AS hv
          FROM sh, unnest(sh.s) AS u(s2)),
    sig AS (SELECT doc_id, p.i,
                   min(((2 * p.i + 1) * hv + 104729 * p.i + 17) % 2147483647) AS m
            FROM h CROSS JOIN generate_series(0, 63) AS p(i)
            GROUP BY doc_id, p.i),
    band AS (SELECT doc_id, i // 2 AS bj,
                    string_agg(m::VARCHAR, ',' ORDER BY i) AS key
             FROM sig GROUP BY doc_id, i // 2),
    capped AS (SELECT * FROM band
               QUALIFY count(*) OVER (PARTITION BY bj, key) <= 64),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM capped a JOIN capped b
               ON a.bj = b.bj AND a.key = b.key AND a.doc_id < b.doc_id),
    -- signature-estimate prefilter: >= 16 of 64 components agree
    -- (ceil((threshold 0.4 - margin 0.15) * 64)) before any shingle join
    pre AS (SELECT c.id_a, c.id_b
            FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
                        JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
            GROUP BY c.id_a, c.id_b
            HAVING count(*) FILTER (WHERE sa.m = sb.m) >= 16),
    j AS (SELECT c.id_a, c.id_b,
                 len(list_intersect(sa.s, sb.s)) * 1.0
                 / len(list_distinct(list_concat(sa.s, sb.s))) AS jac
          FROM pre c JOIN sh sa ON sa.doc_id = c.id_a
                     JOIN sh sb ON sb.doc_id = c.id_b)
    SELECT id_a, id_b, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.4
    """,
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (3-word shingles, 64 hashes, 32 bands
    × 2 rows, signature prefilter ≥ 16/64, verify Jaccard ≥ 0.4) — the
    100 TB dedup path, oracled end-to-end.

    Shingle width is the selectivity knob: unigram word sets give random
    same-language documents ~0.3 baseline Jaccard (vocabulary overlap) →
    nearly every pair collides in some band → the verification join goes
    O(N²).  3-gram shingles drop the baseline to ~0.001 while true
    near-dups stay ≥0.9 — and the residual band collisions from the
    j≈0.05-0.15 background (∝ N², measured 8.8M candidates at 500k
    docs) die at the signature-estimate prefilter before any shingle
    moves (298 s → 101 s at the sf10 scale point, identical output)."""
    d = table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        d, "doc_id", "text",
        k=3, num_hashes=64, bands=32, rows_per_band=2, threshold=0.4,
    )


@register(
    "dedup_lsh_recall_audit",
    oracle=r"""
    WITH audit AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 250
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 5),
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM audit),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.s, b.s)) AS inter,
             len(list_distinct(list_concat(a.s, b.s))) AS un
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s)) * 1.0
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.4e0),
    h AS (SELECT doc_id, ('0x' || substr(md5(u.s2), 1, 8))::BIGINT AS hv
          FROM sh, unnest(sh.s) AS u(s2)),
    sig AS (SELECT doc_id, p.i,
                   min(((2 * p.i + 1) * hv + 104729 * p.i + 17) % 2147483647) AS m
            FROM h CROSS JOIN generate_series(0, 63) AS p(i)
            GROUP BY doc_id, p.i),
    band AS (SELECT doc_id, i // 2 AS bj,
                    string_agg(m::VARCHAR, ',' ORDER BY i) AS key
             FROM sig GROUP BY doc_id, i // 2),
    capped AS (SELECT * FROM band
               QUALIFY count(*) OVER (PARTITION BY bj, key) <= 64),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM capped a JOIN capped b
               ON a.bj = b.bj AND a.key = b.key AND a.doc_id < b.doc_id),
    -- the production pipeline's signature-estimate prefilter (>= 16 of
    -- 64 agreeing components) is part of what the audit scores
    pre AS (SELECT c.id_a, c.id_b
            FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
                        JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
            GROUP BY c.id_a, c.id_b
            HAVING count(*) FILTER (WHERE sa.m = sb.m) >= 16),
    marked AS (
      SELECT (10 * t.inter) // t.un AS bucket,
             CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM truth t LEFT JOIN pre c USING (id_a, id_b))
    SELECT bucket AS jac_bucket,
           count(*)::BIGINT AS n_truth,
           sum(hit)::BIGINT AS n_found,
           round(sum(hit) * 1.0 / count(*), 4) AS recall
    FROM marked GROUP BY bucket
    """,
    tags=("dedup", "lsh", "audit"),
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED MinHash-LSH recall against exact-Jaccard ground truth —
    the dedup analog of ``sim_recall_report`` (measure, don't guess):
    on a FIXED 250-document audit slice plus 5 planted verbatim CANARY
    clones, every pair's exact 3-shingle Jaccard ≥ 0.4 is ground truth,
    and the production LSH pipeline (same 64-hash / 32×2-band / cap-64
    parameters as ``dedup_minhash_lsh``) is scored against it per
    Jaccard bucket — the empirical S-curve 1-(1-j^r)^b, which for r=2,
    b=32 predicts recall ≈0.996 at j=0.4 rising to 1 at j=1.

    The canaries make the audit self-grounding: a uniform fixed-size
    sample of a growing corpus eventually contains no natural near-dup
    PAIR (both members must land in the sample — at sf1 the slice has
    none), so the exact-duplicate bucket would go empty exactly when a
    recall regression is most expensive; planted clones guarantee a
    jac=1.0 population whose recall must be 1.0 in any healthy build.
    The bucket is integer-exact cross-engine ((10·inter) div union —
    never a float boundary); the truth join is m² ONLY on the audit
    slice, whose size is constant at any corpus scale."""
    from ubw_spark.operators.dedup import lsh_recall_report

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    audit = d.where(F.col("doc_id") < 250).unionByName(
        d.where(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return lsh_recall_report(
        audit, "doc_id", "text",
        k=3, num_hashes=64, bands=32, rows_per_band=2, threshold=0.4,
    )


@register(
    "simhash_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks),
    tok AS (SELECT doc_id, md5(u.s2) AS h FROM sh, unnest(sh.s) AS u(s2)),
    -- bit j of a feature's 64-bit hash = md5 byte j//8 (hex chars
    -- 2*(j//8)+1..+2), bit (7 - j%8): numpy unpackbits is MSB-first
    bitsum AS (
      SELECT d.doc_id, g.i AS bit,
             coalesce(sum(CASE WHEN ((('0x' || substr(tok.h, 2*(g.i//8)+1, 2))::INT
                                      >> (7 - g.i % 8)) & 1) = 1
                          THEN 1 ELSE -1 END), 0) AS acc
      FROM documents d CROSS JOIN generate_series(0, 63) AS g(i)
      LEFT JOIN tok ON tok.doc_id = d.doc_id
      GROUP BY 1, 2),
    -- 4 x 16-bit band keys == shiftrightunsigned(simhash, 16*band) & 0xFFFF
    sig AS (
      SELECT doc_id, bit // 16 AS band,
             CAST(sum(CASE WHEN acc > 0 THEN 1 << (bit % 16) ELSE 0 END)
                  AS INT) AS key
      FROM bitsum GROUP BY 1, 2),
    capped AS (SELECT * FROM sig
               QUALIFY count(*) OVER (PARTITION BY band, key) <= 64),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM capped a JOIN capped b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    -- bands partition the 64 bits, so summed per-band popcounts == the
    -- full Hamming distance bit_count(xor(sig_a, sig_b))
    ham AS (SELECT c.id_a, c.id_b,
                   CAST(sum(bit_count(xor(sa.key, sb.key))) AS INT) AS hamming
            FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
                        JOIN sig sb ON sb.doc_id = c.id_b AND sb.band = sa.band
            GROUP BY 1, 2)
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
    """,
    tags=("dedup", "lsh"),
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (Hamming ≤ 3 over 64 bits, banded
    16-bit prefixes) — fully oracled: the signature is integer-only
    math over md5 feature hashes, so DuckDB reproduces every stage
    (±1 bit sums → sign bits → band keys → capped band join → exact
    Hamming verify) bit-for-bit.  The oracle never builds the int64
    signature (2^63 overflow portability) — it carries the four 16-bit
    band keys and sums per-band popcounts instead.

    The Hamming radius must be tight on shared-vocabulary corpora:
    unigram token sets from a common pool push ALL same-language pairs
    toward moderate Hamming distances (≤12 admitted 1.8M pairs at sf0.1;
    ≤3 keeps genuine near-dups only)."""
    d = table(spark, sf_dir, "documents")
    sig = simhash_signature(d, "doc_id", "text")
    return simhash_near_pairs(sig, "doc_id", max_hamming=3, prefix_bits=16)


@register(
    "simhash_recall_audit",
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 250
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 5
      UNION ALL
      SELECT doc_id + 2000000,
             substr(text, 1, greatest(length(text) - 40, 1))
      FROM documents WHERE doc_id < 8),
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM docs),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks),
    tok AS (SELECT doc_id, md5(u.s2) AS h FROM sh, unnest(sh.s) AS u(s2)),
    bitsum AS (
      SELECT d.doc_id, g.i AS bit,
             coalesce(sum(CASE WHEN ((('0x' || substr(tok.h, 2*(g.i//8)+1, 2))::INT
                                      >> (7 - g.i % 8)) & 1) = 1
                          THEN 1 ELSE -1 END), 0) AS acc
      FROM docs d CROSS JOIN generate_series(0, 63) AS g(i)
      LEFT JOIN tok ON tok.doc_id = d.doc_id
      GROUP BY 1, 2),
    sig AS (
      SELECT doc_id, bit // 16 AS band,
             CAST(sum(CASE WHEN acc > 0 THEN 1 << (bit % 16) ELSE 0 END)
                  AS INT) AS key
      FROM bitsum GROUP BY 1, 2),
    -- exact all-pairs Hamming on the audit slice (m^2 by design):
    -- bands partition the 64 bits, so per-band popcounts sum to it
    truth AS (
      SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
             CAST(sum(bit_count(xor(sa.key, sb.key))) AS INT) AS hamming
      FROM sig sa JOIN sig sb
        ON sb.band = sa.band AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2
      HAVING sum(bit_count(xor(sa.key, sb.key))) <= 8),
    capped AS (SELECT * FROM sig
               QUALIFY count(*) OVER (PARTITION BY band, key) <= 64),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM capped a JOIN capped b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    marked AS (
      SELECT t.hamming,
             CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM truth t LEFT JOIN cand c USING (id_a, id_b))
    SELECT hamming AS ham_bucket,
           count(*)::BIGINT AS n_truth,
           sum(hit)::BIGINT AS n_found,
           round(sum(hit) * 1.0 / count(*), 4) AS recall
    FROM marked GROUP BY 1
    """,
    tags=("dedup", "simhash", "audit"),
)
def simhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED SimHash recall against exact-Hamming ground truth — the
    bitwise sibling of ``dedup_lsh_recall_audit`` (VERDICT r11 #5), on
    the same FIXED 250-document audit slice plus two canary families:
    5 verbatim clones (Hamming 0 — the bucket a uniform sample of a
    growing corpus eventually loses, exactly like the MinHash audit's
    jac=1.0 canaries) and 8 TRIMMED clones (last 40 chars dropped — a
    handful of changed shingles lands small positive distances, which
    populates the measured region).

    With 4×16-bit prefix bands, distance ≤ 3 is pigeonhole-guaranteed
    (recall must be 1.0 modulo the hot-bucket cap — a dent there means
    a broken band construction); distances 4..8 are where banding can
    genuinely miss, so their recall is the measured radius/band
    trade-off.  The truth join is m² ONLY on the constant-size slice;
    DuckDB reproduces every stage bit-for-bit via the band-key popcount
    construction (see ``simhash_pairs``)."""
    from ubw_spark.operators.dedup import simhash_recall_report

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    audit = (
        d.where(F.col("doc_id") < 250)
        .unionByName(
            d.where(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.where(F.col("doc_id") < 8).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.expr(
                    "substring(text, 1, greatest(length(text) - 40, 1))"
                ).alias("text"),
            )
        )
    )
    return simhash_recall_report(
        audit, "doc_id", "text", max_hamming=8, prefix_bits=16
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


def seed_ivf_centroids(
    emb: DataFrame, k: int = 8, *, rows: list | None = None
) -> list[list[float]]:
    """Deterministic, SQL-expressible coarse quantizer: the k corpus
    vectors with smallest md5(vec_id).  Used by the REGISTERED query so
    the full IVF path (cell assign → probe → exact re-rank) is oracled
    end-to-end in DuckDB; production training stays
    operators.ivf.train_ivf_centroids (distributed KMeans — not SQL).
    Collect is bounded: k × dim floats.

    ``rows``: pre-collected md5-ordered seed rows (≥ k, from
    :func:`seed_rows`) — lets a caller seeding several families
    (sim_recall_report: IVF k=8 + PQ ksub=16 from the SAME ordering)
    pay ONE driver collect instead of one per family."""
    if rows is None:
        rows = seed_rows(emb, k)
    return [[float(x) for x in r["embedding"]] for r in rows[:k]]


def seed_rows(emb: DataFrame, n: int) -> list:
    """The shared md5-ordered seed collect: the n corpus rows with
    smallest (md5(vec_id), vec_id) — the ONE ordering every seeded
    quantizer family (IVF centroids, PQ codebooks) slices prefixes of,
    so a family needing k ≤ n seeds reads rows[:k] bit-identically to
    its own limit(k) collect."""
    return (
        emb.select(
            "vec_id",
            "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("__h"),
        )
        .orderBy("__h", "vec_id")
        .limit(n)
        .collect()
    )


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
    import hashlib

    from ubw_spark.operators.ivf import probe_ivf_index, write_ivf_index

    emb = table(spark, sf_dir, "embeddings")
    centroids = seed_ivf_centroids(emb, k=8)
    path = "/tmp/ubw_spark_ivf_store_" + hashlib.md5(
        sf_dir.encode()
    ).hexdigest()[:10]
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

    from pyspark.sql import Window as _W
    from pyspark.sql import types as T
    from pyspark.sql.functions import broadcast

    from ubw_spark.functions.literals import literal_frame
    from ubw_spark.operators.ivf import assign_ivf_cells, nearest_cells_py
    from ubw_spark.operators.pq import (
        _adc_sum_sql,
        pq_encode,
        seed_pq_codebooks,
    )
    from ubw_spark.operators.similarity import (
        brute_force_topk,
        cosine_col,
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
    rerank_w = _W.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )

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
    w_all = _W.partitionBy("variant", "param", "qid").orderBy(
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
    "asof_join_last_click",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           c.event_id AS click_id,
           round(c.value, 4) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    tags=("join", "temporal"),
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase ← most recent prior click of the same
    user.  Single shuffle + ordered window carry-forward (operators.
    temporal.asof_join); oracle is DuckDB's native ASOF JOIN."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        purchases, clicks, on="ts", by=["user_id"],
        right_cols=["event_id", "value"],
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.col("event_id_right").alias("click_id"),
        F.round("value_right", 4).alias("click_value"),
    )


@register(
    "range_join_errors_before_purchase",
    oracle="""
    SELECT p.event_id AS purchase_id,
           count(*) AS n_errors
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON p.user_id = e.user_id
     AND e.ts >= p.ts - INTERVAL '30 minutes' AND e.ts <= p.ts
    GROUP BY 1
    """,
    tags=("join", "temporal"),
)
def range_join_errors_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: errors within the 30 min before each purchase
    (bin-bucketed equi-join, operators.temporal.range_join — 3× fanout,
    never per-key cartesian)."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("e_ts")
    )
    joined = range_join(
        purchases, errors, key="user_id",
        left_ts="p_ts", right_ts="e_ts",
        lower_seconds=1800, upper_seconds=0,
    )
    return joined.groupBy("purchase_id").agg(F.count(F.lit(1)).alias("n_errors"))


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           'image' AS media_type,
           sha256(text) AS payload_sha
    FROM documents
    """,
    tags=("multimodal",),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: documents→synthetic binary payloads with
    the typed metadata struct (operators.multimodal); byte lengths and
    digests verified against the oracle."""
    d = table(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "utf-8")
    )
    with_meta = with_payload_metadata(d, "payload", media_type="image")
    return with_meta.select(
        "doc_id",
        F.col("payload_meta.n_bytes").alias("n_bytes"),
        F.col("payload_meta.media_type").alias("media_type"),
        F.sha2(F.col("text"), 256).alias("payload_sha"),
    )


@register(
    "multimodal_features",
    oracle="""
    WITH d AS (SELECT doc_id, sha256(text) AS h FROM documents),
    -- 16 little-endian uint32 from the digest repeated twice
    -- (np.frombuffer reads byte (4i+k) % 32 of digest*2)
    u AS (
      SELECT doc_id, g.i,
             (SELECT sum((('0x' || substr(h, 2*((4*g.i + k.j) % 32)+1, 2))::BIGINT)
                         * (1::BIGINT << (8*k.j)))
              FROM generate_series(0, 3) AS k(j)) AS u32
      FROM d CROSS JOIN generate_series(0, 15) AS g(i)),
    -- float32(u32) / 2^32 is EXACT (power-of-two divide, no subnormals)
    v AS (SELECT doc_id, i, CAST(CAST(u32 AS FLOAT) AS DOUBLE) / 4294967296.0 AS v
          FROM u),
    n AS (SELECT doc_id, sqrt(sum(v*v)) AS norm FROM v GROUP BY 1),
    w AS (SELECT v.doc_id, v.i,
                 CAST(CAST(v.v / n.norm AS FLOAT) AS DOUBLE) AS w
          FROM v JOIN n USING (doc_id)),
    l AS (SELECT doc_id, list(w ORDER BY i) AS ws FROM w GROUP BY 1)
    SELECT doc_id,
           round(sqrt(list_aggregate(list_transform(ws, x -> x*x), 'sum')), 4)
             AS feature_norm,
           round(ws[1], 4) AS f0,
           round(ws[2], 4) AS f1,
           list_aggregate(list_transform(ws,
             x -> CAST(round(x*10000, 0) AS INT)::VARCHAR),
             'string_agg', ',') AS feature_sig
    FROM l
    """,
    tags=("multimodal",),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode path (deterministic fake codec): payload →
    fixed-size L2-normalized feature vectors.  Fully oracled: the fake
    codec is sha256 → little-endian uint32 → float32/2^32 → L2
    normalize, all integer or exactly-representable float steps that
    DuckDB mirrors bit-for-bit (power-of-two divides are exact; the
    float32 casts round-to-nearest identically).

    The probe projects scalar cells only (the canonicalizer sorts
    cells, so an array<float> column is unusable): the L2 norm, the
    first two components, and a portable whole-vector signature of
    4-dp-scaled integers.
    """
    d = table(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "utf-8")
    )
    feats = extract_features(d, "doc_id", "payload", feature_dim=16)
    sq = F.aggregate(
        "feature",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return feats.select(
        F.col("id").alias("doc_id"),
        F.round(F.sqrt(sq), 4).alias("feature_norm"),
        F.round(F.element_at("feature", 1).cast("double"), 4).alias("f0"),
        F.round(F.element_at("feature", 2).cast("double"), 4).alias("f1"),
        F.array_join(
            F.transform(
                "feature",
                lambda x: F.round(x.cast("double") * 10000, 0)
                .cast("int")
                .cast("string"),
            ),
            ",",
        ).alias("feature_sig"),
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, embedding FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE),
                 3) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
    """,
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs baseline
    (cosine ≥ 0.45, float64 math both engines; threshold sits ≥5e-4
    from every pair at sf0.01/sf0.1, far beyond cross-engine float
    drift).  O(N²) by construction — the verifier for the LSH variant
    below, which is the 100 TB path."""
    emb = table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.45, method="brute"
    )


def _emb_lsh_oracle(dim: int = 64, bits: int = 4, tables: int = 8,
                    seed: int = 42, max_bucket: int = 256,
                    threshold: float = 0.45) -> str:
    """DuckDB mirror of the hyperplane-LSH near-dup path.  The seeded
    hyperplanes are embedded as DOUBLE[] literals (repr round-trips
    exactly), so both engines hash into identical buckets: the smallest
    |<v, h>| sign margin at sf0.01 is ~1e-5, eight orders above double
    summation noise."""
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
    capped AS (SELECT * FROM buckets
               QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= {max_bucket}),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM capped a JOIN capped b
               ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    j AS (SELECT c.id_a, c.id_b,
                 CAST(list_cosine_similarity(ea.v, eb.v) AS DOUBLE) AS cs
          FROM cand c JOIN e ea ON ea.vec_id = c.id_a
                      JOIN e eb ON eb.vec_id = c.id_b)
    SELECT id_a, id_b, round(cs, 3) AS cos_sim FROM j WHERE cs >= {threshold}
    """


@register(
    "dedup_embedding_cosine_lsh",
    oracle=_emb_lsh_oracle(),
    tags=("dedup", "similarity", "lsh"),
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH buckets + exact
    verify — map-only bucketing, capped buckets, candidates only.
    Fully oracled: the hyperplanes are seeded literals, so the oracle
    embeds the same matrix and reproduces bucketing, the 256-cap, the
    candidate join, and the cosine verify (see _emb_lsh_oracle).  bits=4
    ×8 tables targets ~0.8 recall at the 0.45 threshold's ~62° angle:
    recall = 1-(1-(1-θ/π)^bits)^tables."""
    emb = table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.45,
        method="lsh", bits=4, tables=8,
    )


_SEMDEDUP_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT greatest(8, CAST(ceil(count(*) / 32.0) AS BIGINT)) AS k
          FROM e),
    cents AS (
      SELECT (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)) - 1
               AS cid, v
      FROM e CROSS JOIN n
      QUALIFY cid < n.k),
    assign AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_distance(e.v, c.v), c.cid) AS rn
      FROM e CROSS JOIN cents c),
    cell AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
    losers AS (
      SELECT DISTINCT b.vec_id
      FROM cell a JOIN cell b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE list_cosine_similarity(ea.v, eb.v) >= 0.45)
    SELECT c.vec_id, c.cid AS cell,
           CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS keep
    FROM cell c LEFT JOIN losers l ON c.vec_id = l.vec_id
    """


@register(
    "dedup_semantic_semdedup",
    oracle=_SEMDEDUP_ORACLE,
    tags=("dedup", "similarity", "semdedup"),
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cell-bounded semantic
    dedup — per-row (vec_id, cell, keep) where keep = 0 iff the row
    loses a within-cell cosine-≥-0.45 pair to a lower id.  Fully
    oracled via the md5-seeded deterministic quantizer (the
    sim_ivf_ann_topk contract); production training uses
    operators.ivf.train_ivf_centroids (KMeans).

    k SCALES WITH THE CORPUS (VERDICT r9 weak item): k = ⌈N/32⌉ pins
    expected cell occupancy at ~32 regardless of sf, so the within-cell
    pair stage is Σn_c² ≈ 32·N — LINEAR in the corpus, the paper's
    posture (k = 50 000 on LAION so cells stay small).  The oracle
    derives the same k from count(*), so it stays hash-exact at every
    sf.  Assignment is map-only N·k·dim against broadcast centroid
    literals — the embarrassingly-parallel term the paper puts on GPUs;
    the pair join shuffles once on the cell id.  Degenerate cells can
    still cap via max_cell (not engaged here: the md5 seeding spreads
    occupancy)."""
    from ubw_spark.operators.semdedup import semantic_dedup_report

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()  # one scalar — drives the quantizer size
    k = max(8, -(-n // 32))
    # pair_salt=4: md5-seeded cells are balanced but few at tiny sf
    # (k=16 at sf0.01 vs 32 local threads); salting splits each cell's
    # pair work further (output-identical — see semantic_dup_pairs).
    # checkpoint stays None HERE deliberately: truncation replaces the
    # assignment subtree with a materialized-RDD scan, which would (a)
    # run a full job at plan-BUILD time every time the registry builds
    # this query (plan lints, .explain) and (b) blind the registry-wide
    # HOF/window plan lints to the assignment branch.  Production jobs
    # opt in via semantic_dedup_report(checkpoint=...) — one corpus
    # pass instead of three.
    return semantic_dedup_report(
        emb, "vec_id", "embedding", seed_ivf_centroids(emb, k=k),
        threshold=0.45, pair_salt=4,
    )


@register(
    "grouped_robust_stats",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority, median(o_totalprice) AS med,
             mad(o_totalprice) AS mad
      FROM orders GROUP BY 1)
    SELECT o.o_orderpriority, count(*) AS n,
           round(s.med, 4) AS med, round(s.mad, 4) AS mad,
           count(*) FILTER (abs(o.o_totalprice - s.med) > 3 * s.mad)
             AS n_outliers
    FROM orders o JOIN s USING (o_orderpriority)
    GROUP BY 1, s.med, s.mad
    """,
    tags=("agg", "pandas"),
)
def grouped_robust_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: exact per-priority median/MAD outlier
    stats over orders — rank statistics are the case where shipping the
    (bounded-cardinality) group through Arrow beats SQL gymnastics.
    Both engines interpolate even-count medians identically on DOUBLE,
    so the oracle is exact."""
    from ubw_spark.operators.stats import grouped_robust_stats

    o = table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    stats = grouped_robust_stats(o, ["o_orderpriority"], "o_totalprice")
    return stats.select(
        "o_orderpriority",
        "n",
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
        "n_outliers",
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, i AS frame_idx, i * 1000 AS ts_ms,
           sha256(text || '#' || i) AS frame_sha
    FROM documents CROSS JOIN generate_series(0, 2) AS g(i)
    """,
    tags=("multimodal",),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas row fan-out: 3 'frames' per payload (fake codec —
    frame i = sha256(payload||'#i'), reproducible in SQL, so even the
    container-explosion path gets a full value-level oracle).  Real
    ffmpeg plugs into the same schema/batch contract."""
    from ubw_spark.operators.multimodal import sample_frames

    d = table(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "utf-8")
    )
    frames = sample_frames(d, "doc_id", "payload", n_frames=3)
    return frames.select(
        F.col("id").alias("doc_id"),
        "frame_idx",
        "ts_ms",
        F.lower(F.hex("frame")).alias("frame_sha"),
    )


@register(
    "dedup_contamination",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks),
    h AS (SELECT doc_id, ('0x' || substr(md5(u.s2), 1, 8))::BIGINT AS hv
          FROM sh, unnest(sh.s) AS u(s2)),
    sig AS (SELECT doc_id, p.i,
                   min(((2 * p.i + 1) * hv + 104729 * p.i + 17) % 2147483647) AS m
            FROM h CROSS JOIN generate_series(0, 63) AS p(i)
            GROUP BY doc_id, p.i),
    band AS (SELECT doc_id, i // 2 AS bj,
                    string_agg(m::VARCHAR, ',' ORDER BY i) AS key
             FROM sig GROUP BY doc_id, i // 2),
    cb AS (SELECT * FROM band WHERE doc_id < 400
           QUALIFY count(*) OVER (PARTITION BY bj, key) <= 64),
    pb AS (SELECT * FROM band WHERE doc_id >= 400),
    cand AS (SELECT DISTINCT cb.doc_id AS corpus_id, pb.doc_id AS probe_id
             FROM cb JOIN pb ON cb.bj = pb.bj AND cb.key = pb.key),
    pre AS (SELECT c.corpus_id, c.probe_id
            FROM cand c JOIN sig sa ON sa.doc_id = c.corpus_id
                        JOIN sig sb ON sb.doc_id = c.probe_id AND sb.i = sa.i
            GROUP BY c.corpus_id, c.probe_id
            HAVING count(*) FILTER (WHERE sa.m = sb.m) >= 16),
    j AS (SELECT c.corpus_id, c.probe_id,
                 len(list_intersect(sa.s, sb.s)) * 1.0
                 / len(list_distinct(list_concat(sa.s, sb.s))) AS jac
          FROM pre c JOIN sh sa ON sa.doc_id = c.corpus_id
                     JOIN sh sb ON sb.doc_id = c.probe_id)
    SELECT corpus_id, probe_id, round(jac, 4) AS jaccard
    FROM j WHERE jac >= 0.4
    """,
    tags=("dedup", "lsh", "contamination"),
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: probe docs (doc_id ≥ 400, standing in for an
    eval set) that near-duplicate corpus docs (doc_id < 400) — the
    corpus×probe MinHash band join, fully oracled end to end.  At scale
    the probe side is small and broadcasts; the corpus streams once."""
    from ubw_spark.operators.dedup import minhash_contamination_pairs

    d = table(spark, sf_dir, "documents")
    return minhash_contamination_pairs(
        d.where(F.col("doc_id") < 400),
        d.where(F.col("doc_id") >= 400),
        "doc_id",
        "text",
        k=3, num_hashes=64, bands=32, rows_per_band=2, threshold=0.4,
    )


@register(
    "dedup_contamination_large_probe",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks),
    h AS (SELECT doc_id, ('0x' || substr(md5(u.s2), 1, 8))::BIGINT AS hv
          FROM sh, unnest(sh.s) AS u(s2)),
    sig AS (SELECT doc_id, p.i,
                   min(((2 * p.i + 1) * hv + 104729 * p.i + 17) % 2147483647) AS m
            FROM h CROSS JOIN generate_series(0, 63) AS p(i)
            GROUP BY doc_id, p.i),
    band AS (SELECT doc_id, i // 2 AS bj,
                    string_agg(m::VARCHAR, ',' ORDER BY i) AS key
             FROM sig GROUP BY doc_id, i // 2),
    cb AS (SELECT * FROM band WHERE doc_id < 300
           QUALIFY count(*) OVER (PARTITION BY bj, key) <= 64),
    pb AS (SELECT * FROM band WHERE doc_id >= 300
           QUALIFY count(*) OVER (PARTITION BY bj, key) <= 64),
    cand AS (SELECT DISTINCT cb.doc_id AS corpus_id, pb.doc_id AS probe_id
             FROM cb JOIN pb ON cb.bj = pb.bj AND cb.key = pb.key),
    pre AS (SELECT c.corpus_id, c.probe_id
            FROM cand c JOIN sig sa ON sa.doc_id = c.corpus_id
                        JOIN sig sb ON sb.doc_id = c.probe_id AND sb.i = sa.i
            GROUP BY c.corpus_id, c.probe_id
            HAVING count(*) FILTER (WHERE sa.m = sb.m) >= 16),
    j AS (SELECT c.corpus_id, c.probe_id,
                 len(list_intersect(sa.s, sb.s)) * 1.0
                 / len(list_distinct(list_concat(sa.s, sb.s))) AS jac
          FROM pre c JOIN sh sa ON sa.doc_id = c.corpus_id
                     JOIN sh sb ON sb.doc_id = c.probe_id)
    SELECT corpus_id, probe_id, round(jac, 4) AS jaccard
    FROM j WHERE jac >= 0.4
    """,
    tags=("dedup", "lsh", "contamination"),
)
def dedup_contamination_large_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-sized-probe decontamination sweep (one dump vs another
    dump): same banding as :func:`dedup_contamination` but NOTHING
    broadcasts — both sides shuffle on (band, key), both sides get the
    hot-bucket cap, and the verify join shuffles on ids.  The probe
    split (doc_id ≥ 300, 40% of the corpus) is deliberately too large to
    model as an eval set.  tests/test_plans.py asserts the plan carries
    zero broadcast hints."""
    from ubw_spark.operators.dedup import minhash_contamination_pairs

    d = table(spark, sf_dir, "documents")
    return minhash_contamination_pairs(
        d.where(F.col("doc_id") < 300),
        d.where(F.col("doc_id") >= 300),
        "doc_id",
        "text",
        k=3, num_hashes=64, bands=32, rows_per_band=2, threshold=0.4,
        large_probe=True,
    )


@register(
    "pack_sequences",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tok
      FROM documents),
    c AS (
      -- CAST: the windowed sum is HUGEINT; pandas canonicalizes that to
      -- float64, which would hash-mismatch Spark's BIGINT.
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tok AS BIGINT) AS tok_start
      FROM t)
    SELECT doc_id, n_tok, tok_start,
           CAST(tok_start // 256 AS BIGINT) AS seq_id,
           CAST(tok_start % 256 AS BIGINT) AS seq_offset,
           CAST(CASE WHEN n_tok > 0
                THEN ((tok_start + n_tok - 1) // 256) - (tok_start // 256) + 1
                ELSE 0 END AS BIGINT) AS n_seqs
    FROM c
    """,
    tags=("packing", "training"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-then-chunk): map every document to its
    256-token training window(s).  The oracle is the naive one-window
    global cumsum; the operator computes the identical assignment with
    a two-phase distributed prefix sum (per-bucket totals → tiny bucket
    ledger window → per-bucket windows), which is the shape that
    survives 100 TB — see ubw_spark/operators/packing.py."""
    from ubw_spark.operators.packing import pack_concat_chunks

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tok"),
    )
    return pack_concat_chunks(
        toks, "doc_id", "n_tok", chunk_len=256, bucket_width=64
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
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    from ubw_spark.operators.quantize import dequantize_int8, quantize_int8
    from ubw_spark.operators.similarity import cosine_col

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
    scored = corpus.join(
        broadcast(qs), F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        "vec_id",
        F.round(cosine_col(F.col("qv"), F.col("cv")), 4).alias("qcos"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("qcos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 5)
        .drop("__rn")
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
    from pyspark.sql.functions import broadcast

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
    "multimodal_audio_features",
    oracle="""
    SELECT doc_id,
           1 AS n_channels,
           8000 AS sample_rate,
           CAST(400 + doc_id % 100 AS BIGINT) AS n_samples,
           CAST((400 + doc_id % 100) * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(100 + doc_id % 900 AS INTEGER) AS peak,
           CAST(100 + doc_id % 900 AS DOUBLE) AS rms
    FROM documents
    """,
    tags=("multimodal", "audio"),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: per-doc PCM16 WAV clips are
    synthesized deterministically (constant amplitude 100 + id%900,
    400 + id%100 samples at 8 kHz — operators/multimodal.py::
    synthesize_wav), then parsed back with the stdlib ``wave`` module
    and reduced to features.  Because the clip spec is closed-form in
    doc_id and a constant signal has peak == rms == amplitude exactly,
    the whole decode path — header parse, PCM extraction, duration and
    RMS math — value-checks against plain SQL."""
    from ubw_spark.operators.multimodal import (
        extract_audio_features,
        synthesize_wav,
    )

    d = table(spark, sf_dir, "documents")
    wav = synthesize_wav(d, "doc_id")
    return extract_audio_features(wav, "id", "payload").withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "multimodal_image_features",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             4 + doc_id % 5 AS w,
             3 + doc_id % 4 AS h
      FROM documents),
    px AS (
      SELECT d.doc_id, d.w, d.h,
             (d.doc_id + 7 * xs.x + 13 * ys.y) % 256 AS p
      FROM docs d
      JOIN generate_series(0, 8) AS xs(x) ON xs.x < d.w
      JOIN generate_series(0, 6) AS ys(y) ON ys.y < d.h)
    SELECT doc_id,
           CAST(max(w) AS INTEGER) AS width,
           CAST(max(h) AS INTEGER) AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(p) AS BIGINT) AS sum_px,
           CAST(min(p) AS INTEGER) AS min_px,
           CAST(max(p) AS INTEGER) AS max_px
    FROM px GROUP BY doc_id
    """,
    tags=("multimodal", "image"),
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end WITHOUT PIL (VERDICT r12 #3): per-doc
    PNGs are synthesized deterministically (pixel (x,y) = closed-form
    ``(doc_id + 7x + 13y) % 256`` over a (4+id%5)×(3+id%4) grayscale
    grid, scanlines cycling through ALL FIVE PNG prediction filters),
    then parsed back by the stdlib codec in operators/multimodal.py —
    chunk walk, CRC verification, zlib inflate, per-row unfiltering —
    and reduced to exact integer features.  The oracle recomputes the
    same stats from the closed form over a generate_series pixel grid,
    so header parse, inflate, and every filter's unfilter math all
    value-check in SQL.  Spec compliance is separately pinned against
    the JVM's independent ImageIO decoder in tests/test_operators.py.
    Scale posture: map-only (zero shuffles besides none); payloads stay
    inside their Arrow batch; downstream carries 7 small ints per doc,
    never pixels."""
    from ubw_spark.operators.multimodal import (
        extract_image_features,
        synthesize_png,
    )

    d = table(spark, sf_dir, "documents")
    png = synthesize_png(d, "doc_id")
    return extract_image_features(png, "id", "payload").withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "dedup_incremental_index_probe",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks),
    h AS (SELECT doc_id, ('0x' || substr(md5(u.s2), 1, 8))::BIGINT AS hv
          FROM sh, unnest(sh.s) AS u(s2)),
    sig AS (SELECT doc_id, p.i,
                   min(((2 * p.i + 1) * hv + 104729 * p.i + 17) % 2147483647) AS m
            FROM h CROSS JOIN generate_series(0, 63) AS p(i)
            GROUP BY doc_id, p.i),
    band AS (SELECT doc_id, i // 2 AS bj,
                    string_agg(m::VARCHAR, ',' ORDER BY i) AS key
             FROM sig GROUP BY doc_id, i // 2),
    -- probe_bands=8: only the first 8 of 32 bands are swept (the
    -- partition-pruned scan); the corpus side keeps the hot-bucket cap
    cb AS (SELECT * FROM band WHERE doc_id < 400 AND bj < 8
           QUALIFY count(*) OVER (PARTITION BY bj, key) <= 64),
    pb AS (SELECT * FROM band WHERE doc_id >= 400 AND bj < 8),
    cand AS (SELECT DISTINCT cb.doc_id AS corpus_id, pb.doc_id AS probe_id
             FROM cb JOIN pb ON cb.bj = pb.bj AND cb.key = pb.key),
    -- prefilter agreement runs over the FULL 64-component signatures
    -- (the persisted sigs store), not just the 8 probed bands
    pre AS (SELECT c.corpus_id, c.probe_id
            FROM cand c JOIN sig sa ON sa.doc_id = c.corpus_id
                        JOIN sig sb ON sb.doc_id = c.probe_id AND sb.i = sa.i
            GROUP BY c.corpus_id, c.probe_id
            HAVING count(*) FILTER (WHERE sa.m = sb.m) >= 16),
    j AS (SELECT c.corpus_id, c.probe_id,
                 len(list_intersect(sa.s, sb.s)) * 1.0
                 / len(list_distinct(list_concat(sa.s, sb.s))) AS jac
          FROM pre c JOIN sh sa ON sa.doc_id = c.corpus_id
                     JOIN sh sb ON sb.doc_id = c.probe_id)
    SELECT corpus_id, probe_id, round(jac, 4) AS jaccard
    FROM j WHERE jac >= 0.4
    """,
    tags=("dedup", "lsh", "index"),
)
def dedup_incremental_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED LSH index: the corpus
    (doc_id < 400) is banded once and written as a band-partitioned
    layout; the incoming batch (doc_id ≥ 400) probes only the first 8
    of 32 bands — a static partition filter on the index scan (the
    recall/IO knob; plan-asserted in tests/test_plans.py).  At 100 TB
    this is the shape that amortizes corpus banding across every
    incoming batch instead of recomputing it per run."""
    import hashlib

    from ubw_spark.operators.lsh_index import (
        probe_minhash_index,
        write_minhash_index,
    )

    d = table(spark, sf_dir, "documents")
    # deterministic per-sf_dir scratch location (overwritten per run);
    # at scale this is the long-lived lake path the index lives at
    path = "/tmp/ubw_spark_minhash_idx_" + hashlib.md5(
        sf_dir.encode()
    ).hexdigest()[:10]
    write_minhash_index(
        d.where(F.col("doc_id") < 400), "doc_id", "text", path,
    )
    return probe_minhash_index(
        spark, path, d.where(F.col("doc_id") >= 400), "doc_id", "text",
        probe_bands=8, threshold=0.4,
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
    from ubw_spark.queries.scale_ops import seed_ivf_centroids

    cells = seed_ivf_centroids(emb, k=8)
    books = seed_pq_codebooks(emb, m=8, ksub=16)
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id") < 3).collect()
    ]
    return ivf_pq_topk(emb, queries, cells, books, k=5, nprobe=4)
