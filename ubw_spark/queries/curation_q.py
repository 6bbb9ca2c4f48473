"""Corpus-curation queries: per-source quota caps and token-budget
mixing (operators/curation.py), and sequence packing
(operators/packing.py) — the post-dedup steps that shape a pretraining
corpus to a data recipe and into training windows.  All deterministic
and fully oracled, membership arithmetic included, like the splits
family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubw_spark.queries.registry import register, table


@register(
    "curation_quota_cap",
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY n_chars DESC,
                        ('0x' || substr(md5('quota:' || doc_id::VARCHAR), 1, 8))::BIGINT,
                        doc_id) AS rk
      FROM documents)
    SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM ranked WHERE rk <= 10
    GROUP BY source
    """,
    tags=("curation", "sampling"),
)
def curation_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source at 10 documents, preferring the longest
    (n_chars desc) with a deterministic hash tiebreak — the
    'no domain dominates the corpus' knob.  One shuffle on source."""
    from ubw_spark.operators.curation import quota_cap

    d = table(spark, sf_dir, "documents")
    kept = quota_cap(
        d, "source", "doc_id", cap=10, priority=[F.col("n_chars").desc()]
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# normalized weights inlined identically in Spark and SQL: src0 gets half
# the budget, src1-src3 a sixth each; all other sources weight 0 (dropped)
_MIX_WEIGHTS = {"src0": 3.0, "src1": 1.0, "src2": 1.0, "src3": 1.0}
_MIX_BUDGET = 3000


@register(
    "curation_token_budget_mix",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
      FROM documents),
    totals AS (
      SELECT source, sum(n_tok) AS src_tokens,
             CASE source WHEN 'src0' THEN {3.0 / 6.0!r}
                         WHEN 'src1' THEN {1.0 / 6.0!r}
                         WHEN 'src2' THEN {1.0 / 6.0!r}
                         WHEN 'src3' THEN {1.0 / 6.0!r}
                         ELSE 0.0 END AS w
      FROM toks GROUP BY source),
    fracs AS (
      SELECT source,
             least(1.0, {float(_MIX_BUDGET)!r} * w / src_tokens) AS frac
      FROM totals),
    kept AS (
      SELECT t.source, t.doc_id, t.n_tok
      FROM toks t JOIN fracs f USING (source)
      WHERE ('0x' || substr(md5('mix:' || t.doc_id::VARCHAR), 1, 8))::BIGINT
              % 10000 < floor(f.frac * 10000))
    SELECT source, count(*) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS kept_tokens,
           min(doc_id) AS min_id
    FROM kept GROUP BY source
    """,
    tags=("curation", "sampling"),
)
def curation_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data recipe: src0 gets 1/2 of a 3000-token budget,
    src1-3 get 1/6 each, everything else drops.  Sources under their
    allocation are kept whole (frac capped at 1); membership is the
    deterministic hash-bucket filter, corpus never shuffles — the
    per-source totals broadcast back."""
    from ubw_spark.operators.curation import token_budget_mix

    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    kept = token_budget_mix(
        d.withColumn("__ntok", n_tok),
        "source",
        F.col("__ntok"),
        "doc_id",
        _MIX_WEIGHTS,
        _MIX_BUDGET,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("__ntok").alias("kept_tokens"),
        F.min("doc_id").alias("min_id"),
    )


@register(
    "corpus_curation_pipeline",
    oracle="""
    WITH d AS (SELECT * FROM documents),
    dd AS (
      SELECT * FROM d WHERE doc_id IN (
        SELECT min(doc_id) FROM d GROUP BY md5(lower(trim(text))))),
    q AS (SELECT * FROM dd WHERE n_chars >= 150),
    qt AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source
          ORDER BY n_chars DESC,
                   ('0x' || substr(md5('quota:' || doc_id::VARCHAR), 1, 8))::BIGINT,
                   doc_id) AS rk
        FROM q) WHERE rk <= 15),
    sp AS (
      SELECT CASE WHEN b < 9000 THEN 'train'
                  WHEN b < 9500 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (SELECT ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
                     % 10000 AS b FROM qt))
    SELECT '00_input' AS stage, count(*) AS n_docs FROM d
    UNION ALL SELECT '01_exact_dedup', count(*) FROM dd
    UNION ALL SELECT '02_quality', count(*) FROM q
    UNION ALL SELECT '03_quota', count(*) FROM qt
    UNION ALL SELECT '04_split_' || split, count(*) FROM sp GROUP BY split
    """,
    tags=("curation", "pipeline"),
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation recipe as one staged funnel: exact dedup
    → quality gate (n_chars ≥ 150) → per-source quota (15) → 90/5/5
    split, reporting surviving row counts per stage — the composition
    proof that the operator family (dedup/curation/splits) chains.

    Each stage count re-derives its lineage here (fine for a report
    query); a production pipeline materializes each stage to parquet
    and the counts come from the writes — see docs/SCALE.md."""
    from ubw_spark.operators.curation import quota_cap
    from ubw_spark.operators.dedup import exact_dedup
    from ubw_spark.operators.splits import assign_split

    d = table(spark, sf_dir, "documents")
    dd = exact_dedup(d, "doc_id", "text")
    q = dd.where(F.col("n_chars") >= 150)
    qt = quota_cap(
        q, "source", "doc_id", cap=15, priority=[F.col("n_chars").desc()]
    )
    sp = assign_split(
        qt, "doc_id", {"train": 0.9, "valid": 0.05, "test": 0.05}
    )

    def cnt(df: DataFrame, stage: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(stage).alias("stage"), "n_docs"
        )

    split_counts = sp.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(
        F.concat(F.lit("04_split_"), F.col("split")).alias("stage"), "n_docs"
    )
    return (
        cnt(d, "00_input")
        .unionByName(cnt(dd, "01_exact_dedup"))
        .unionByName(cnt(q, "02_quality"))
        .unionByName(cnt(qt, "03_quota"))
        .unionByName(split_counts)
    )


@register(
    "curation_quality_quantile_gate",
    oracle=r"""
    WITH s AS (
      SELECT doc_id, lang,
             round(len(list_filter(
                     regexp_split_to_array(trim(lower(text)), '\s+'),
                     x -> x IN ('the','a','of','in','and','to','is'))) * 1.0
                   / length(regexp_split_to_array(trim(text), '\s+')), 4)
               AS score
      FROM documents),
    t AS (SELECT percentile_cont(0.2) WITHIN GROUP (ORDER BY score) AS thr
          FROM s)
    SELECT lang, count(*) AS n_kept,
           round(min(score), 4) AS min_score,
           round(max(score), 4) AS max_score
    FROM s, t WHERE score >= thr
    GROUP BY lang
    """,
    tags=("curation", "quality"),
)
def curation_quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-tuned quality gate: drop the worst 20% of the corpus by
    stopword ratio (the threshold is the corpus's own 0.2-quantile, no
    hand-picked constant).  One scalar percentile aggregate broadcast
    back + map-side filter (operators/curation.py::quantile_gate)."""
    from ubw_spark.operators.curation import quantile_gate
    from ubw_spark.functions.text import tokens
    from ubw_spark.queries.textops import _STOPWORDS

    d = table(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    stop_cnt = F.size(
        F.filter(tokens(F.col("text")), lambda x: F.array_contains(stop_arr, x))
    )
    from ubw_spark.functions.hof import fence

    # fence: the gate filters on `score`; unfenced, the pushed predicate
    # re-ran the whole stopword pipeline per row (hof_filter_violations)
    scored = d.select(
        "doc_id", "lang",
        fence(F.round(stop_cnt / F.size(toks), 4)).alias("score"),
    )
    kept = quantile_gate(scored, "score", 0.2, keep="above")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(F.min("score"), 4).alias("min_score"),
        F.round(F.max("score"), 4).alias("max_score"),
    )


_DSIR_CTES = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    gr AS (SELECT doc_id,
                  list_transform(generate_series(1, len(t) - 1),
                                 i -> concat_ws(' ', t[i], t[i+1])) AS g
           FROM toks WHERE len(t) >= 2),
    f AS (SELECT gr.doc_id,
                 ('0x' || substr(md5(u.s2), 1, 8))::BIGINT % 1024 AS b
          FROM gr, unnest(g) AS u(s2)),
    tgt AS (SELECT f.b FROM f JOIN documents d ON f.doc_id = d.doc_id
            WHERE d.lang = 'en'),
    sc AS (SELECT b, count(*) AS cs FROM f GROUP BY 1),
    tc AS (SELECT b, count(*) AS ct FROM tgt GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM f) AS ts,
                   (SELECT count(*) FROM tgt) AS tt),
    ratio AS (SELECT coalesce(sc.b, tc.b) AS b,
                     ln((coalesce(ct, 0) + 1.0) / (tt + 1024.0))
                   - ln((coalesce(cs, 0) + 1.0) / (ts + 1024.0)) AS lr
              FROM sc FULL OUTER JOIN tc ON sc.b = tc.b, tot),
    pdb AS (SELECT doc_id, b, count(*) AS k2 FROM f GROUP BY 1, 2),
    wts AS (SELECT pdb.doc_id, CAST(sum(k2) AS BIGINT) AS n_feats,
                   sum(k2 * lr) AS lw
            FROM pdb JOIN ratio ON pdb.b = ratio.b GROUP BY 1)
"""


@register(
    "curation_dsir_weights",
    oracle=_DSIR_CTES
    + """
    SELECT d.doc_id, coalesce(n_feats, 0) AS n_feats,
           round(coalesce(lw, 0.0), 4) AS log_weight
    FROM documents d LEFT JOIN wts ON d.doc_id = wts.doc_id
    """,
    tags=("curation", "dsir"),
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, arXiv:2302.03169):
    every document in the pool scored by how much more likely the
    TARGET distribution (here: the English slice) finds its hashed
    bigrams than the pool distribution does.  Bucket model tables are
    broadcast (1024 rows regardless of corpus size); the only
    doc-keyed shuffle is the per-doc aggregate.  See operators/dsir.py
    for the 100 TB argument."""
    from ubw_spark.operators.dsir import dsir_log_weights

    d = table(spark, sf_dir, "documents")
    # Subset-target one-pass form: the English-target bucket counts
    # roll up from the same featurization pass as the pool counts
    # (operators/dsir.py target_predicate) — one tokenize/hash/explode
    # kernel over the corpus instead of two.
    lw = dsir_log_weights(
        d, None, "doc_id", "text",
        n=2, buckets=1024, target_predicate=F.col("lang") == "en",
    )
    return lw.select(
        "doc_id", "n_feats", F.round("log_weight", 4).alias("log_weight")
    )


@register(
    "curation_dsir_select",
    oracle=_DSIR_CTES
    + """
    , keyed AS (
      SELECT doc_id, n_feats,
             round(lw, 4) AS log_weight,
             round(round(lw, 6)
                   + round(-ln(-ln(
                       ((('0x' || substr(md5('dsir:' || doc_id::VARCHAR), 1, 8))::BIGINT)
                        + 0.5) / 4294967296.0)), 6),
                   12) AS sel_key
      FROM wts WHERE n_feats > 0)
    SELECT doc_id, n_feats, log_weight, round(sel_key, 4) AS sel_key,
           row_number() OVER (ORDER BY sel_key DESC, doc_id) AS rank
    FROM keyed
    ORDER BY sel_key DESC, doc_id LIMIT 25
    """,
    tags=("curation", "dsir"),
)
def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel top-25 importance resample toward the English target —
    the selection half of DSIR.  Global top-k plans as
    TakeOrderedAndProject (per-partition heaps); the rank window runs
    over the 25 survivors only.  Hash-derived noise and two-stage
    rounding make the key bit-identical across engines (see
    operators/dsir.py::dsir_select)."""
    from ubw_spark.operators.dsir import dsir_select

    d = table(spark, sf_dir, "documents")
    return dsir_select(
        d, None, "doc_id", "text", 25,
        n=2, buckets=1024, target_predicate=F.col("lang") == "en",
    )


@register(
    "curation_temperature_mix",
    oracle=r"""
    WITH t AS (
      SELECT source,
             sum(length(regexp_split_to_array(trim(lower(text)), '\s+')))
               ::BIGINT AS tokens
      FROM documents GROUP BY source),
    z AS (SELECT sum(pow(tokens, 0.5e0)) AS z FROM t)
    SELECT source, tokens,
           round(pow(tokens, 0.5e0) / z, 6) AS weight,
           round(100000e0 * (pow(tokens, 0.5e0) / z) / tokens, 4)
             AS effective_epochs
    FROM t CROSS JOIN z
    """,
    tags=("curation", "llm"),
)
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the data recipe FROM the corpus: alpha=0.5 temperature
    weights per source (small sources upweighted, the XLM-R/mT5
    sampling rule) plus the effective epochs each source would run
    under a 100k-token budget — >1 means that source repeats.  Feeds
    ``token_budget_mix`` as its ``weights=``.

    Scale: one aggregate pass to |sources| rows; the normalizer is a
    one-row broadcast.  The report is recipe-sized, never corpus-
    sized."""
    from ubw_spark.functions.text import tokens
    from ubw_spark.operators.curation import temperature_weights

    d = table(spark, sf_dir, "documents")
    tw = temperature_weights(
        d, "source", F.size(tokens(F.col("text"))), 0.5
    )
    return tw.select(
        "source",
        "tokens",
        F.round("weight", 6).alias("weight"),
        F.round(
            F.lit(100000.0) * F.col("weight") / F.col("tokens"), 4
        ).alias("effective_epochs"),
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
