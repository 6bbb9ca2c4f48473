"""Exact duplicated-substring span queries (ExactSubstr-style dedup).

Both queries are fully SQL-expressible: the oracle groups on gram TEXT
where Spark groups on xxhash64(gram) — identical results absent a
64-bit collision (see operators/spans.py docstring for the birthday
bound).  Window-based interval coalescing mirrors 1:1 between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubw_spark.operators.spans import (
    cut_duplicate_spans,
    duplicate_spans,
    duplicated_token_fraction,
)
from ubw_spark.queries.registry import register, table

# Shared oracle prelude: token 8-grams with 0-based start positions and
# the duplicated-gram join.  DuckDB list slicing t[i:i+7] is 1-based
# inclusive = tokens i..i+7 (8 tokens), matching Spark's
# element_at(toks, i+j+1) for j in 0..7.
_GRAM_CTE = r"""
    t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS gram
      FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
      WHERE len(toks) >= 8),
    dup AS (SELECT gram FROM g GROUP BY gram
            HAVING count(DISTINCT doc_id) >= 2),
    dpos AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
    m AS (
      SELECT doc_id, pos,
             max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM dpos),
    s AS (
      SELECT doc_id, pos,
             sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM m),
    spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
             max(pos) + 7 - min(pos) + 1 AS span_tokens
      FROM s GROUP BY doc_id, grp)
"""


@register(
    "dedup_duplicate_spans",
    oracle="WITH " + _GRAM_CTE + """
    SELECT doc_id, span_start, span_end, span_tokens FROM spans
    """,
    tags=("dedup", "spans", "text"),
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal token spans (8-gram granularity) duplicated across >= 2
    documents — the ExactSubstr cut list.  O(total tokens), no pair
    join; see operators/spans.py for the 100 TB argument."""
    d = table(spark, sf_dir, "documents")
    return duplicate_spans(d, "doc_id", "text", k=8, min_docs=2)


@register(
    "dedup_duplicated_fraction",
    oracle="WITH " + _GRAM_CTE + r"""
    , per_doc AS (
      SELECT doc_id, sum(span_tokens) AS dup FROM spans GROUP BY doc_id)
    SELECT b.doc_id,
           len(regexp_split_to_array(trim(lower(b.text)), '\s+'))
             AS n_tokens,
           coalesce(p.dup, 0)::BIGINT AS dup_tokens,
           round(coalesce(p.dup, 0) * 1.0 /
                 greatest(len(regexp_split_to_array(
                   trim(lower(b.text)), '\s+')), 1), 4) AS dup_fraction
    FROM documents b LEFT JOIN per_doc p USING (doc_id)
    """,
    tags=("dedup", "spans", "text"),
)
def dedup_duplicated_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token fraction — the removal-policy
    input (cut spans, or drop docs above a threshold).  Every document
    appears, zero-filled."""
    d = table(spark, sf_dir, "documents")
    return duplicated_token_fraction(
        d, "doc_id", "text", k=8, min_docs=2,
    )


@register(
    "dedup_span_index_probe",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS gram
      FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
      WHERE len(toks) >= 8),
    cg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 250),
    hit AS (SELECT DISTINCT g.doc_id, g.pos FROM g JOIN cg USING (gram)
            WHERE g.doc_id >= 250),
    cut AS (SELECT DISTINCT doc_id, pos + s.j AS ci
            FROM hit, generate_series(0, 7) AS s(j)),
    cl AS (SELECT doc_id, count(*) AS dup FROM cut GROUP BY doc_id)
    SELECT d.doc_id,
           len(regexp_split_to_array(trim(lower(d.text)), '\s+'))
             AS n_tokens,
           coalesce(cl.dup, 0)::BIGINT AS dup_tokens,
           round(coalesce(cl.dup, 0) * 1.0 /
                 greatest(len(regexp_split_to_array(
                   trim(lower(d.text)), '\s+')), 1), 4) AS dup_fraction
    FROM documents d LEFT JOIN cl USING (doc_id)
    WHERE d.doc_id >= 250
    """,
    tags=("dedup", "spans", "index"),
)
def dedup_span_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental substring decontamination against a PERSISTED gram
    index: the corpus (doc_id < 250) is hashed once into a bucketed
    (gh) table; the incoming batch (doc_id >= 250) probes membership
    with zero index-side shuffle (bucket-aligned join; plan-asserted
    in tests/test_spans.py).  The 100 TB shape that amortizes corpus
    hashing across every incoming batch.

    The table name is a deterministic per-sf_dir scratch location,
    OVERWRITTEN on every run (same convention as the LSH index's /tmp
    path in dedup_incremental_index_probe) — at scale this is the
    long-lived lake table the index lives in."""
    import hashlib

    from ubw_spark.operators.spans import (
        probe_gram_index,
        write_gram_index,
    )

    d = table(spark, sf_dir, "documents")
    tbl = "ubw_gram_idx_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    write_gram_index(
        d.where(F.col("doc_id") < 250), "doc_id", "text", tbl, k=8,
    )
    return probe_gram_index(
        spark, d.where(F.col("doc_id") >= 250), tbl, "doc_id", "text", k=8,
    )


@register(
    "dedup_cut_spans",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS lt,
             regexp_split_to_array(trim(text), '\s+') AS ot
      FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(lt[i:i+7], ' ') AS gram
      FROM t, unnest(generate_series(1, len(lt) - 7)) AS u(i)
      WHERE len(lt) >= 8),
    st AS (SELECT gram, min(doc_id) AS owner FROM g GROUP BY gram
           HAVING count(DISTINCT doc_id) >= 2),
    cut AS (SELECT DISTINCT g.doc_id, g.pos + s.j AS ci
            FROM g JOIN st USING (gram), generate_series(0, 7) AS s(j)
            WHERE g.doc_id != st.owner),
    cl AS (SELECT doc_id, list(ci) AS cis FROM cut GROUP BY doc_id)
    SELECT t.doc_id,
           CASE WHEN cl.cis IS NULL THEN d.text
                -- coalesce: array_to_string([]) is NULL in DuckDB but
                -- concat_ws over an empty array is '' in Spark
                ELSE coalesce(array_to_string(list_filter(
                  list_transform(generate_series(1, len(ot)),
                    i -> CASE WHEN NOT list_contains(cl.cis, i - 1)
                              THEN ot[i] END),
                  x -> x IS NOT NULL), ' '), '')
           END AS clean_text,
           len(ot) AS n_tokens,
           coalesce(len(cl.cis), 0) AS n_removed
    FROM t JOIN documents d USING (doc_id) LEFT JOIN cl USING (doc_id)
    """,
    tags=("dedup", "spans", "text"),
)
def dedup_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply step: rewrite the corpus with every non-owner
    occurrence of duplicated text removed (owner = min doc_id per
    gram), keeping exactly one copy corpus-wide — ExactSubstr dedup
    run end to end, output ready to replace the documents table."""
    d = table(spark, sf_dir, "documents")
    return cut_duplicate_spans(d, "doc_id", "text", k=8, min_docs=2)
