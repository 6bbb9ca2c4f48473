"""Text-analysis + deduplication operators over the `documents` table —
the training-data-pipeline extensions (driver north star; not in the
reference, which has no scalar/text library at all — SURVEY §2.8).

Everything here is built from JVM-side pyspark.sql.functions (split/
filter/transform/md5 — no Python UDFs in any hot path), so the plans
whole-stage-codegen and scale linearly: per-document work is map-only;
the only shuffles are the final groupBys on fingerprint/text keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubw_spark.functions.text import tokens
from ubw_spark.queries.registry import register, table

# Fixed tiny stopword list shared with the SQL oracle.
_STOPWORDS = ["the", "a", "of", "in", "and", "to", "is"]


@register(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           n_chars
    FROM documents
    """,
    tags=("text",),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + counting — map-only, codegen'd."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
        "n_chars",
    )


@register(
    "text_quality_score",
    oracle=r"""
    SELECT doc_id,
           length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           round(length(replace(text, ' ', '')) * 1.0
                 / length(regexp_split_to_array(trim(text), '\s+')), 4) AS avg_token_len,
           round(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                 x -> x IN ('the','a','of','in','and','to','is'))) * 1.0
                 / length(regexp_split_to_array(trim(text), '\s+')), 4) AS stopword_ratio,
           CASE WHEN length(regexp_split_to_array(trim(text), '\s+')) BETWEEN 10 AND 1000
                 AND length(replace(text, ' ', ''))* 1.0
                     / length(regexp_split_to_array(trim(text), '\s+')) BETWEEN 2 AND 12
                THEN 1 ELSE 0 END AS quality_ok
    FROM documents
    """,
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, average token length, stopword
    ratio, and a composite keep/drop gate — the standard pre-training
    corpus filters, all as native expressions."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    n_tokens = F.size(toks)
    nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    avg_tok = F.round(nonspace / n_tokens, 4)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    stop_cnt = F.size(
        F.filter(tokens(F.col("text")), lambda x: F.array_contains(stop_arr, x))
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
        F.round(stop_cnt / n_tokens, 4).alias("stopword_ratio"),
        F.when(
            n_tokens.between(10, 1000) & (nonspace / n_tokens).between(2, 12),
            1,
        )
        .otherwise(0)
        .alias("quality_ok"),
    )


@register(
    "text_lang_guess",
    oracle=r"""
    SELECT doc_id, lang,
           CASE
             WHEN length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) * 1.0
                  / length(text) > 0.10 THEN 'zh'
             WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                      x -> x IN ('der','die','das','und','ist'))) > 0 THEN 'de'
             WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                      x -> x IN ('el','la','los','es','y'))) > 0 THEN 'es'
             WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                      x -> x IN ('le','les','est','et','une'))) > 0 THEN 'fr'
             ELSE 'en'
           END AS lang_guess
    FROM documents
    """,
    tags=("text",),
)
def text_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID heuristic: CJK via non-ASCII ratio, then stopword
    evidence per language — a cheap n-gram-free first pass.  Emitting
    the true ``lang`` next to the guess makes accuracy auditable."""
    d = table(spark, sf_dir, "documents")
    non_ascii_ratio = (
        F.length(F.regexp_replace(F.col("text"), r"[\x00-\x7F]", ""))
        / F.length("text")
    )
    toks = tokens(F.col("text"))

    def has_any(words: list[str]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x))) > 0

    guess = (
        F.when(non_ascii_ratio > 0.10, "zh")
        .when(has_any(["der", "die", "das", "und", "ist"]), "de")
        .when(has_any(["el", "la", "los", "es", "y"]), "es")
        .when(has_any(["le", "les", "est", "et", "une"]), "fr")
        .otherwise("en")
    )
    return d.select("doc_id", "lang", guess.alias("lang_guess"))


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents
    """,
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via a normalized content hash (md5 is
    engine-portable, unlike xxhash64).  At scale this column is the
    bucketing key for exact dedup: shuffle O(docs) fingerprints, not
    document bodies."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.md5(F.lower(F.trim("text"))).alias("fingerprint")
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(trim(text))) AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*)    AS dup_count
    FROM documents GROUP BY 1
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup = hash-groupBy on the fingerprint, keep min doc_id as
    canonical.  Only (hash, id) pairs shuffle; bodies never move.  The
    keep-set joins back to the corpus as a broadcast/semi join."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.lower(F.trim("text"))).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


@register(
    "text_shingles",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents)
    SELECT doc_id,
           greatest(len(t) - 2, 0) AS n_shingles,
           len(list_distinct(list_transform(generate_series(1, len(t) - 2),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS n_distinct_shingles
    FROM toks
    """,
    tags=("text", "dedup"),
)
def text_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-word shingling — the MinHash front end.  Array expressions only
    (no explode, so no row blowup; the shingle set stays inside the row
    until hashed), with the token array let-bound (functions/hof.py) so
    the regex split runs once per doc, not per window reference."""
    from ubw_spark.functions.hof import let

    d = table(spark, sf_dir, "documents")

    def stats(t):
        n = F.size(t)
        shingles = F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.array_join(F.slice(t, i, 3), " "),
        )
        # n >= 3 guard: Spark's sequence(1, 0) counts DOWN, unlike SQL
        # generate_series — short docs must yield empty, not crash
        distinct_shingles = F.when(
            n >= 3, F.array_distinct(shingles)
        ).otherwise(F.array().cast("array<string>"))
        return F.struct(
            F.greatest(n - 2, F.lit(0)).alias("n_shingles"),
            F.size(distinct_shingles).alias("n_distinct_shingles"),
        )

    s = let(tokens(F.col("text")), stats)
    return d.select(
        "doc_id",
        s["n_shingles"].alias("n_shingles"),
        s["n_distinct_shingles"].alias("n_distinct_shingles"),
    )


@register(
    "dedup_ngram_jaccard",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, lang,
             list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS words
      FROM documents WHERE doc_id < 120)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.words, b.words)) * 1.0 /
                 len(list_distinct(list_concat(a.words, b.words))), 4) AS jaccard
    FROM w a JOIN w b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.words, b.words)) * 1.0 /
          len(list_distinct(list_concat(a.words, b.words))) >= 0.30
    """,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard near-dup detection, blocked by language.

    This is the *verification* kernel (exact Jaccard on candidate pairs).
    At 100 TB the candidate generation is MinHash-LSH
    (ubw_spark.operators.dedup), which bounds pairs to same-bucket
    collisions; the doc_id<120 block here stands in for one LSH bucket
    so the oracle stays O(bucket²), the same shape the LSH join
    produces."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    w = d.select(
        "doc_id", "lang", F.array_distinct(tokens(F.col("text"))).alias("words")
    )
    a = w.alias("a")
    b = w.alias("b")
    inter = F.size(F.array_intersect(F.col("a.words"), F.col("b.words")))
    union = F.size(
        F.array_distinct(F.concat(F.col("a.words"), F.col("b.words")))
    )
    jac = inter / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(jac >= 0.30)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
    )
