"""Corpus-quality analytics over `documents` — the data-cleaning half of
a pre-training pipeline (repetition metrics, TF-IDF keywords, corpus
boilerplate mining, and a keep/drop filter funnel with per-rule
attribution).  Not in the reference (it has no text library — SURVEY
§2.8 note); these extend the driver's training-pipeline north star.

Scale notes (100 TB):
- Per-token stats go through explode → two-level groupBy, which gets
  map-side partial aggregation; nothing holds a whole document's
  token multiset on the driver or in a Python UDF.
- Within-row n-gram dedup stays an array expression (O(n) per row,
  map-only) — no explode blowup for the bigram metrics.
- The funnel is a single pass ending in a 5-group aggregate; rule
  evaluation is first-fail attribution, so re-ordering rules changes
  attribution, not the kept set.
- TF-IDF's document-frequency side is a window over (doc, term) counts
  — one shuffle keyed by term; N (corpus size) joins in as a broadcast
  1-row aggregate, never a driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ubw_spark.functions.text import tokens
from ubw_spark.queries.registry import register, table


def _token_stats(d: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, top_cnt) via explode + two-level
    groupBy — the formulation whose partial aggregation survives long
    documents (the array-expression alternative is O(n·distinct) per
    row)."""
    ex = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_cnt"),
    )


_REPETITION_CTES = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    ex AS (SELECT doc_id, u.tok FROM toks, unnest(t) AS u(tok)),
    cnt AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2),
    ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                  count(*) AS n_distinct, max(c) AS top_cnt
           FROM cnt GROUP BY 1),
    bs AS (SELECT doc_id, greatest(len(t) - 1, 0) AS n_bigrams,
                  CASE WHEN len(t) >= 2 THEN
                    len(list_distinct(list_transform(
                      generate_series(1, len(t) - 1),
                      i -> concat_ws(' ', t[i], t[i+1]))))
                  ELSE 0 END AS n_distinct_bigrams
           FROM toks)
"""


@register(
    "text_repetition_stats",
    oracle=_REPETITION_CTES
    + """
    SELECT ts.doc_id, n_tokens, n_distinct,
           round(n_distinct * 1.0 / n_tokens, 4) AS distinct_ratio,
           round(top_cnt * 1.0 / n_tokens, 4) AS top_token_frac,
           CASE WHEN n_bigrams > 0 THEN
             round(1.0 - n_distinct_bigrams * 1.0 / n_bigrams, 4)
           ELSE 0.0 END AS dup_bigram_frac,
           CASE WHEN top_cnt * 1.0 / n_tokens > 0.15
                  OR (n_bigrams > 0 AND
                      1.0 - n_distinct_bigrams * 1.0 / n_bigrams > 0.10)
                THEN 1 ELSE 0 END AS repetitive
    FROM ts JOIN bs ON ts.doc_id = bs.doc_id
    """,
    tags=("text", "quality"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document: distinct-token
    ratio, most-frequent-token fraction, duplicate-bigram fraction, and
    a composite `repetitive` flag.  Flag comparisons use the unrounded
    integer ratios (identical doubles on both engines); only the output
    columns are rounded."""
    d = table(spark, sf_dir, "documents")
    ts = _token_stats(d)
    from ubw_spark.functions.hof import let

    def bigram_stats(t):
        n = F.size(t)
        bigrams = F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.array_join(F.slice(t, i, 2), " "),
        )
        # sequence(1, 0) counts DOWN in Spark — guard short docs
        return F.struct(
            F.greatest(n - 1, F.lit(0)).alias("n_bigrams"),
            F.when(n >= 2, F.size(F.array_distinct(bigrams)))
            .otherwise(0)
            .alias("n_distinct_bigrams"),
        )

    # token array let-bound (functions/hof.py): split once per doc,
    # not once per window reference
    bst = let(tokens(F.col("text")), bigram_stats)
    bs = d.select(
        "doc_id",
        bst["n_bigrams"].alias("n_bigrams"),
        bst["n_distinct_bigrams"].alias("n_distinct_bigrams"),
    )
    top_frac = F.col("top_cnt") / F.col("n_tokens")
    dup_big = F.lit(1.0) - F.col("n_distinct_bigrams") / F.col("n_bigrams")
    return ts.join(bs, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(F.col("n_distinct") / F.col("n_tokens"), 4).alias("distinct_ratio"),
        F.round(top_frac, 4).alias("top_token_frac"),
        F.when(F.col("n_bigrams") > 0, F.round(dup_big, 4))
        .otherwise(0.0)
        .alias("dup_bigram_frac"),
        F.when(
            (top_frac > 0.15) | ((F.col("n_bigrams") > 0) & (dup_big > 0.10)), 1
        )
        .otherwise(0)
        .alias("repetitive"),
    )


@register(
    "text_tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    ex AS (SELECT doc_id, u.tok AS term FROM toks, unnest(t) AS u(tok)),
    cnt AS (SELECT doc_id, term, count(*) AS c FROM ex GROUP BY 1, 2),
    scored AS (
      SELECT doc_id, term,
             (c * 1.0 / CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT))
             * ln((SELECT count(*) * 1.0 FROM documents)
                  / count(*) OVER (PARTITION BY term)) AS tfidf
      FROM cnt),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored)
    SELECT doc_id, term, round(tfidf, 6) AS tfidf, rank
    FROM ranked WHERE rank <= 3
    """,
    tags=("text", "quality"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.  tf = term count / doc length;
    idf = ln(N / doc_freq).  Every float is one division/ln/multiply of
    exact integer inputs — no accumulation, so both engines compute
    bit-identical doubles and the (tfidf DESC, term) ranking agrees.
    doc_freq is a window over the (doc, term) counts (one term-keyed
    shuffle); N joins in as a broadcast 1-row aggregate."""
    d = table(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    cnt = ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    n_total = d.agg(F.count(F.lit(1)).cast("double").alias("__N"))
    doclen = Window.partitionBy("doc_id")
    termdf = Window.partitionBy("term")
    scored = cnt.join(broadcast(n_total)).select(
        "doc_id",
        "term",
        (
            (F.col("c") / F.sum("c").over(doclen))
            * F.log(F.col("__N") / F.count(F.lit(1)).over(termdf))
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"), "rank")
    )


@register(
    "corpus_boilerplate_ngrams",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks)
    SELECT u.shingle, count(*) AS doc_freq
    FROM sh, unnest(s) AS u(shingle)
    GROUP BY 1
    ORDER BY doc_freq DESC, shingle
    LIMIT 20
    """,
    tags=("text", "quality", "dedup"),
)
def corpus_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate mining: the 20 trigram shingles present in
    the most documents (distinct-per-doc, so a doc repeating a shingle
    counts once).  explode → groupBy gets map-side combine; the final
    top-20 compiles to TakeOrderedAndProject, so only 20 rows per
    partition reach the driver-side sort.  (shingle, doc_freq) ordering
    is total — doc_freq ties break on the shingle text — so the LIMIT
    cut is deterministic on both engines."""
    from ubw_spark.operators.dedup import word_shingles

    d = table(spark, sf_dir, "documents")
    # word_shingles let-binds the token array (functions/hof.py) — vital
    # under Generate, where an unbound token expr re-split per window
    return (
        d.select(F.explode(word_shingles(F.col("text"), 3)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "shingle")
        .limit(20)
    )


@register(
    "text_filter_funnel",
    oracle=_REPETITION_CTES
    + """
    , metrics AS (
      SELECT ts.doc_id, n_tokens,
             top_cnt * 1.0 / n_tokens AS top_frac,
             length(replace(d.text, ' ', '')) * 1.0 / n_tokens AS avg_tok_len
      FROM ts JOIN bs ON ts.doc_id = bs.doc_id
              JOIN documents d ON d.doc_id = ts.doc_id),
    staged AS (
      SELECT CASE
               WHEN n_tokens < 20 THEN '1_too_short'
               WHEN n_tokens > 90 THEN '2_too_long'
               WHEN avg_tok_len < 2 OR avg_tok_len > 12 THEN '3_token_len'
               WHEN top_frac > 0.15 THEN '4_repetitive'
               ELSE 'kept' END AS stage
      FROM metrics)
    SELECT stage, count(*) AS n_docs,
           round(100.0 * count(*) / sum(count(*)) OVER (), 4) AS pct
    FROM staged GROUP BY 1
    """,
    tags=("text", "quality"),
)
def text_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop filter funnel with first-failing-rule attribution —
    the shape every corpus-cleaning job reports (how many docs each
    rule removed, and what fraction survived).  One pass to per-doc
    metrics, one 5-group aggregate; the pct denominator is a window
    over the tiny grouped result, not a second scan."""
    d = table(spark, sf_dir, "documents")
    ts = _token_stats(d)
    nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    metrics = d.select("doc_id", "text").join(ts, "doc_id").select(
        "doc_id",
        "n_tokens",
        (F.col("top_cnt") / F.col("n_tokens")).alias("top_frac"),
        (nonspace / F.col("n_tokens")).alias("avg_tok_len"),
    )
    stage = (
        F.when(F.col("n_tokens") < 20, "1_too_short")
        .when(F.col("n_tokens") > 90, "2_too_long")
        .when(
            (F.col("avg_tok_len") < 2) | (F.col("avg_tok_len") > 12),
            "3_token_len",
        )
        .when(F.col("top_frac") > 0.15, "4_repetitive")
        .otherwise("kept")
    )
    staged = metrics.select(stage.alias("stage"))
    counts = staged.groupBy("stage").agg(F.count(F.lit(1)).alias("n_docs"))
    return counts.select(
        "stage",
        "n_docs",
        F.round(
            F.lit(100.0) * F.col("n_docs") / F.sum("n_docs").over(Window.partitionBy()),
            4,
        ).alias("pct"),
    )


@register(
    "quality_expectations_report",
    oracle="""
    WITH s AS (
      SELECT count(*) AS total,
             sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS c0,
             count(o_orderkey) - count(DISTINCT o_orderkey) AS c1,
             sum(CASE WHEN o_totalprice IS NOT NULL
                       AND (o_totalprice < 1.0 OR o_totalprice > 400000.0)
                      THEN 1 ELSE 0 END) AS c2,
             sum(CASE WHEN o_orderpriority IS NOT NULL
                       AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                      THEN 1 ELSE 0 END) AS c3,
             sum(CASE WHEN o_orderstatus IS NOT NULL
                       AND o_orderstatus NOT IN ('O', 'F', 'P')
                      THEN 1 ELSE 0 END) AS c4,
             greatest(1000 - count(*), 0) AS c5
      FROM orders)
    SELECT 'not_null' AS "check", 'o_orderkey' AS "column",
           CAST(c0 AS BIGINT) AS violations, CAST(total AS BIGINT) AS total,
           c0 = 0 AS passed FROM s
    UNION ALL SELECT 'unique', 'o_orderkey', CAST(c1 AS BIGINT),
           CAST(total AS BIGINT), c1 = 0 FROM s
    UNION ALL SELECT 'in_range', 'o_totalprice', CAST(c2 AS BIGINT),
           CAST(total AS BIGINT), c2 = 0 FROM s
    UNION ALL SELECT 'matches', 'o_orderpriority', CAST(c3 AS BIGINT),
           CAST(total AS BIGINT), c3 = 0 FROM s
    UNION ALL SELECT 'accepted_values', 'o_orderstatus', CAST(c4 AS BIGINT),
           CAST(total AS BIGINT), c4 = 0 FROM s
    UNION ALL SELECT 'min_rows', '*', CAST(c5 AS BIGINT),
           CAST(total AS BIGINT), c5 = 0 FROM s
    """,
    tags=("quality", "expectations"),
)
def quality_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-contract validation (deequ-style) compiled to ONE scan:
    six checks over orders — key not-null + uniqueness, price range
    (bounds chosen so the check FAILS, exercising the violation path),
    priority format regex, status value set, row-count floor — all as
    conditional counts inside a single aggregate
    (operators/expectations.py)."""
    from ubw_spark.operators.expectations import validate_expectations

    o = table(spark, sf_dir, "orders")
    return validate_expectations(o, [
        {"kind": "not_null", "column": "o_orderkey"},
        {"kind": "unique", "column": "o_orderkey"},
        {"kind": "in_range", "column": "o_totalprice", "lo": 1.0, "hi": 400000.0},
        {"kind": "matches", "column": "o_orderpriority", "pattern": "^[1-5]-"},
        {"kind": "accepted_values", "column": "o_orderstatus",
         "values": ["O", "F", "P"]},
        {"kind": "min_rows", "n": 1000},
    ])


def _lm_logprob_scores(d: DataFrame, keys: list[str]) -> DataFrame:
    """Shared add-one-smoothed unigram-LM scorer: per document, the
    average negative log-prob of its tokens under the model trained on
    the corpus sliced by ``keys`` ([] = one global model, ["lang"] =
    one model per language).  Both registered LM queries and their
    oracles are this one computation with different model keys — keep
    tokenization, smoothing, and the 4-dp rounding convention HERE so
    the variants cannot drift apart.

    Shape (independent of keys): two map-side-combinable groupBys for
    the counts, a one-row-per-key-group totals broadcast, and a model
    join on per-doc DISTINCT tokens so hot tokens stay skew-linear."""
    ex = d.select(
        "doc_id", *keys, F.explode(tokens(F.col("text"))).alias("tok")
    )
    tf = ex.groupBy("doc_id", *keys, "tok").agg(F.count(F.lit(1)).alias("k"))
    cnt = ex.groupBy(*keys, "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = (ex.groupBy(*keys) if keys else ex.groupBy()).agg(
        F.count(F.lit(1)).alias("tt"), F.count_distinct("tok").alias("vv")
    )
    lp = F.log((F.col("c") + F.lit(1.0)) / (F.col("tt") + F.col("vv")))
    joined = tf.join(cnt, [*keys, "tok"])
    joined = (
        joined.join(broadcast(tot), keys)
        if keys
        else joined.crossJoin(broadcast(tot))
    )
    s = joined.groupBy("doc_id", *keys).agg(
        F.sum(F.col("k") * lp).alias("lpsum"),
        F.sum("k").alias("n_tokens"),
    )
    return s.select(
        "doc_id",
        *keys,
        "n_tokens",
        F.round(-F.col("lpsum") / F.col("n_tokens"), 4).alias(
            "avg_neg_logprob"
        ),
    )


@register(
    "text_unigram_logprob",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    ex AS (SELECT doc_id, u.tok FROM toks, unnest(t) AS u(tok)),
    tf AS (SELECT doc_id, tok, count(*) AS k FROM ex GROUP BY 1, 2),
    cnt AS (SELECT tok, count(*) AS c FROM ex GROUP BY 1),
    tot AS (SELECT count(*) AS tt, count(DISTINCT tok) AS vv FROM ex),
    s AS (SELECT tf.doc_id,
                 sum(tf.k * ln((cnt.c + 1.0) / (tt + vv))) AS lpsum,
                 CAST(sum(tf.k) AS BIGINT) AS n
          FROM tf JOIN cnt USING (tok), tot GROUP BY 1)
    SELECT doc_id, n AS n_tokens, round(-lpsum / n, 4) AS avg_neg_logprob
    FROM s
    """,
    tags=("text", "quality", "lm"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score (the CCNet idea — Wenzek et al. 2020,
    "CCNet: Extracting high quality monolingual datasets from web crawl
    data" — reduced to a self-trained unigram model): per document, the
    average negative log-probability of its tokens under the corpus
    unigram distribution with add-one smoothing.  Outlier documents
    (gibberish, wrong language, boilerplate floods) score high and feed
    the same corpus-quantile gate as the other quality signals.

    Scale shape: token counting is two map-side-combinable groupBys;
    the model join runs on per-doc DISTINCT tokens (tf), so a hot token
    costs one row per containing doc — linear, the same skew-guard
    shape as probe_gram_index — and the (T, V) totals are a one-row
    broadcast.  The model table (vocab counts) joins by token hash; a
    web-scale vocab is ~10^7 rows, far below the corpus, and never
    broadcast.  Sum-order float drift across engines is ~1e-12 relative
    (same accepted class as the tf-idf oracle); rounding at 4 decimals
    is 8 orders above it."""
    return _lm_logprob_scores(table(spark, sf_dir, "documents"), keys=[])


@register(
    "quality_lm_quantile_gate",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    ex AS (SELECT doc_id, u.tok FROM toks, unnest(t) AS u(tok)),
    tf AS (SELECT doc_id, tok, count(*) AS k FROM ex GROUP BY 1, 2),
    cnt AS (SELECT tok, count(*) AS c FROM ex GROUP BY 1),
    tot AS (SELECT count(*) AS tt, count(DISTINCT tok) AS vv FROM ex),
    s AS (SELECT tf.doc_id,
                 round(-sum(tf.k * ln((cnt.c + 1.0) / (tt + vv)))
                       / sum(tf.k), 4) AS score
          FROM tf JOIN cnt USING (tok), tot GROUP BY 1),
    sl AS (SELECT s.doc_id, d.lang, s.score
           FROM s JOIN documents d ON s.doc_id = d.doc_id),
    t AS (SELECT percentile_cont(0.8) WITHIN GROUP (ORDER BY score) AS thr
          FROM sl)
    SELECT lang, count(*) AS n_kept,
           round(min(score), 4) AS min_score,
           round(max(score), 4) AS max_score
    FROM sl, t WHERE score <= thr
    GROUP BY lang
    """,
    tags=("text", "quality", "lm", "curation"),
)
def quality_lm_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LM filter composed with the corpus-quantile gate (the CCNet
    recipe end-to-end): score every document by its corpus-unigram
    average negative log-prob, then drop the worst 20% — documents the
    corpus model finds most surprising (gibberish, boilerplate floods,
    off-distribution text).  The threshold is the corpus's OWN
    0.8-quantile, so the gate adapts as the corpus shifts; one scalar
    percentile broadcast + map-side filter on top of the
    text_unigram_logprob plan.  Scores are rounded to 4 dp BEFORE the
    percentile (repo convention: both engines interpolate over
    identical doubles)."""
    from ubw_spark.operators.curation import quantile_gate

    scores = text_unigram_logprob(spark, sf_dir).select(
        "doc_id", F.col("avg_neg_logprob").alias("score")
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    sl = scores.join(d, "doc_id")
    kept = quantile_gate(sl, "score", 0.8, keep="below")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(F.min("score"), 4).alias("min_score"),
        F.round(F.max("score"), 4).alias("max_score"),
    )


@register(
    "text_lang_lm_logprob",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    ex AS (SELECT doc_id, lang, u.tok FROM toks, unnest(t) AS u(tok)),
    tf AS (SELECT doc_id, lang, tok, count(*) AS k FROM ex GROUP BY 1, 2, 3),
    cnt AS (SELECT lang, tok, count(*) AS c FROM ex GROUP BY 1, 2),
    tot AS (SELECT lang, count(*) AS tt, count(DISTINCT tok) AS vv
            FROM ex GROUP BY 1),
    s AS (SELECT tf.doc_id, tf.lang,
                 sum(tf.k * ln((cnt.c + 1.0) / (tot.tt + tot.vv))) AS lpsum,
                 CAST(sum(tf.k) AS BIGINT) AS n
          FROM tf
          JOIN cnt ON tf.lang = cnt.lang AND tf.tok = cnt.tok
          JOIN tot ON tf.lang = tot.lang
          GROUP BY 1, 2)
    SELECT doc_id, lang, n AS n_tokens,
           round(-lpsum / n, 4) AS avg_neg_logprob
    FROM s
    """,
    tags=("text", "quality", "lm"),
)
def text_lang_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-faithful form of the LM filter: each document scored
    under ITS OWN LANGUAGE's unigram model (per-language counts and
    totals), so a French document isn't penalized merely for not being
    English — the per-language score ranks documents WITHIN their
    language, which is how CCNet buckets head/middle/tail per language.

    Scale shape is the global model's with ``lang`` added to every
    key: counts group by (lang, tok), totals by lang (a
    languages-count row table, broadcast), and the model join runs on
    per-doc DISTINCT tokens — hot tokens stay skew-linear.  A document
    whose language has no other members degenerates to self-scoring
    (smoothing keeps it finite), exactly like a tiny-language CCNet
    shard."""
    return _lm_logprob_scores(
        table(spark, sf_dir, "documents"), keys=["lang"]
    )


@register(
    "corpus_data_card",
    oracle=r"""
    WITH base AS (
      SELECT source, lang,
             length(regexp_split_to_array(trim(text), '\s+')) AS n_toks,
             md5(lower(trim(text))) AS fp,
             CASE WHEN length(regexp_split_to_array(trim(text), '\s+'))
                       BETWEEN 10 AND 1000
                   AND length(replace(text, ' ', '')) * 1.0
                       / length(regexp_split_to_array(trim(text), '\s+'))
                       BETWEEN 2 AND 12
                  THEN 1 ELSE 0 END AS ok
      FROM documents)
    SELECT source, lang,
           count(*)::BIGINT AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           count(DISTINCT fp)::BIGINT AS n_unique,
           (count(*) - count(DISTINCT fp))::BIGINT AS n_exact_dupes,
           round(avg(ok), 4) AS quality_ok_rate
    FROM base GROUP BY source, lang
    """,
    tags=("quality", "report", "curation"),
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(source, lang) data card a corpus release ships: doc and
    token counts, exact-duplicate rate (distinct content fingerprints),
    and the quality-gate pass rate (same composite gate as
    text_quality_score).  ONE scan, one (source, lang)-keyed aggregate
    with map-side partials; distinct-fingerprint counting rides the
    same shuffle.  Output is |sources × langs| rows — driver-safe at
    any corpus scale.  Token counting matches text_quality_score's
    case-preserving split (quality gates count raw tokens; the LOWERED
    shared tokenizer in functions/text.py is the GRAM pipeline's)."""
    d = table(spark, sf_dir, "documents")
    raw_toks = F.split(F.trim("text"), r"\s+")
    n_toks = F.size(raw_toks)
    nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    ok = F.when(
        n_toks.between(10, 1000) & (nonspace / n_toks).between(2, 12), 1
    ).otherwise(0)
    base = d.select(
        "source",
        "lang",
        n_toks.alias("__nt"),
        F.md5(F.lower(F.trim("text"))).alias("__fp"),
        ok.alias("__ok"),
    )
    return base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").cast("long").alias("total_tokens"),
        F.count_distinct("__fp").alias("n_unique"),
        (F.count(F.lit(1)) - F.count_distinct("__fp"))
        .cast("long")
        .alias("n_exact_dupes"),
        F.round(F.avg("__ok"), 4).alias("quality_ok_rate"),
    )
