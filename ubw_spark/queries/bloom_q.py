"""Bloom-filter decontamination queries — exact DuckDB oracles.

The filter is deterministic given the hash construction (md5 hex[0:8] /
hex[8:16] double hashing, operators/bloom.py), so the oracle replays the
same positions in SQL and tests membership against the benchmark's
position SET — bit-packing is an encoding detail the semantics don't
see.  Both queries split ``documents`` into corpus (doc_id % 10 != 0)
and benchmark/eval (doc_id % 10 == 0) — a modulo split so the
corpus:benchmark ratio is scale-invariant across sf dirs (a fixed
doc_id threshold would flip which side is big at sf0.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubw_spark.operators.bloom import bloom_audit, bloom_probe, build_bloom
from ubw_spark.queries.registry import register, store_path, table

# Shared oracle scaffolding: word 3-grams per doc, then the k=4 bloom
# positions of every gram, m = 2^18.  (h1 + i·(2·h2+1)) mod m with
# h1/h2 = first/second 8 md5 hex chars — identical math to
# operators/bloom.py::bloom_positions.
_ORACLE_GRAMS = r"""
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks),
    bpos AS (
      SELECT DISTINCT
             ((('0x' || substr(md5(u.g), 1, 8))::BIGINT
               + p.i * (2 * ('0x' || substr(md5(u.g), 9, 8))::BIGINT + 1))
              % 262144) AS pos
      FROM sh, unnest(sh.s) AS u(g)
      CROSS JOIN generate_series(0, 3) AS p(i)
      WHERE doc_id % 10 = 0)
"""

# The full probe oracle, shared VERBATIM by the in-memory decontaminate
# query and the persisted-store lifecycle query: the store path must not
# change a single count, and a one-sided edit to the hit condition would
# silently break that parity if the SQL existed twice.
_ORACLE_PROBE = (
    r"""
    WITH
    """
    + _ORACLE_GRAMS
    + r""",
    cp AS (
      SELECT doc_id, u.g,
             ((('0x' || substr(md5(u.g), 1, 8))::BIGINT
               + p.i * (2 * ('0x' || substr(md5(u.g), 9, 8))::BIGINT + 1))
              % 262144) AS pos
      FROM sh, unnest(sh.s) AS u(g)
      CROSS JOIN generate_series(0, 3) AS p(i)
      WHERE doc_id % 10 != 0),
    gh AS (
      SELECT doc_id, g,
             count(*) FILTER (WHERE pos IN (SELECT pos FROM bpos)) = 4 AS hit
      FROM cp GROUP BY doc_id, g)
    SELECT doc_id,
           count(*)::BIGINT AS total_grams,
           count(*) FILTER (WHERE hit)::BIGINT AS hit_grams
    FROM gh GROUP BY doc_id
    """
)


@register(
    "dedup_bloom_decontaminate",
    oracle=_ORACLE_PROBE,
    tags=("dedup", "bloom", "contamination"),
)
def dedup_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-corpus-doc count of word-3-grams caught by a Bloom filter
    built over the eval set — the ZERO-SHUFFLE decontamination path.
    Build cost ∝ benchmark; probe is map-only over the corpus with the
    32 KiB packed filter broadcast as one row (plan-asserted in
    tests/test_bloom.py — no Exchange on the probe side of a corpus
    that already has enough splits; the testbed's single-file input
    is widened like every CPU-heavy input, dedup.widen).  False positives
    only (over-removal is safe); rate audited by
    ``dedup_bloom_fpr_audit``."""
    d = table(spark, sf_dir, "documents")
    bloom = build_bloom(d.where(F.col("doc_id") % 10 == 0), "text", n=3)
    return bloom_probe(
        d.where(F.col("doc_id") % 10 != 0), "doc_id", "text", bloom, n=3,
    )


@register(
    "dedup_bloom_fpr_audit",
    oracle=r"""
    WITH
    """
    + _ORACLE_GRAMS
    + r""",
    bg AS (SELECT DISTINCT u.g FROM sh, unnest(sh.s) AS u(g)
           WHERE doc_id % 10 = 0),
    cg AS (SELECT DISTINCT u.g FROM sh, unnest(sh.s) AS u(g)
           WHERE doc_id % 10 != 0),
    chk AS (
      SELECT cg.g,
             (SELECT count(*) FROM generate_series(0, 3) AS p(i)
              WHERE ((('0x' || substr(md5(cg.g), 1, 8))::BIGINT
                      + p.i * (2 * ('0x' || substr(md5(cg.g), 9, 8))::BIGINT + 1))
                     % 262144) IN (SELECT pos FROM bpos)) = 4 AS bloom_hit,
             cg.g IN (SELECT g FROM bg) AS exact_hit
      FROM cg)
    SELECT count(*)::BIGINT AS n_grams,
           count(*) FILTER (WHERE bloom_hit)::BIGINT AS bloom_hits,
           count(*) FILTER (WHERE exact_hit)::BIGINT AS exact_hits,
           count(*) FILTER (WHERE bloom_hit AND NOT exact_hit)::BIGINT
             AS false_positives,
           round(count(*) FILTER (WHERE bloom_hit AND NOT exact_hit) * 1.0
                 / greatest(count(*) - count(*) FILTER (WHERE exact_hit), 1),
                 6) AS fp_rate
    FROM chk
    """,
    tags=("dedup", "bloom", "contamination"),
)
def dedup_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram-level certification of the Bloom path against exact set
    membership (the shuffle join the filter avoids): hit counts, false
    positives, and the realized FP rate.  False negatives are impossible
    by construction; at 100 TB the audit runs on a corpus sample — the
    FP rate is a property of the filter, not of any document."""
    d = table(spark, sf_dir, "documents")
    return bloom_audit(
        d.where(F.col("doc_id") % 10 != 0),
        d.where(F.col("doc_id") % 10 == 0),
        "text",
        n=3,
    )


@register(
    "dedup_bloom_store_probe",
    oracle=_ORACLE_PROBE,
    tags=("dedup", "bloom", "contamination", "index"),
)
def dedup_bloom_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PERSISTED-filter lifecycle, value-equal to the in-memory
    path: WRITE a versioned bloom store from half the eval set
    (doc_id % 20 == 0), APPEND the other half (% 20 == 10) — bloom
    union is bitwise OR, bit-exact, cost ∝ batch — then PROBE the
    corpus from the store.  The two batches together are exactly the
    ``doc_id % 10 == 0`` benchmark, so the oracle is the SAME SQL as
    ``dedup_bloom_decontaminate``: the lifecycle must not change a
    single count.  Timing includes both store writes — that IS the
    operation, as with the LSH/gram/IVF store entries."""
    from ubw_spark.operators.bloom import (
        append_bloom_store,
        probe_bloom_store,
        write_bloom_store,
    )

    d = table(spark, sf_dir, "documents")
    path = store_path("bloom_store", sf_dir)
    write_bloom_store(
        d.where(F.col("doc_id") % 20 == 0), "text", path, n=3,
    )
    append_bloom_store(
        spark, d.where(F.col("doc_id") % 20 == 10), "text", path,
    )
    return probe_bloom_store(
        spark, d.where(F.col("doc_id") % 10 != 0), "doc_id", "text", path,
    )
