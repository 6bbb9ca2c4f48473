"""BPE-ish token counting and funnel analysis.

- ``text_bpe_token_count``: token counting with a BPE-style pre-tokenizer
  regex (letter runs | digit runs | single punctuation) — the standard
  first split before byte-pair merges; counts approximate LLM token
  budgets far better than whitespace counts on punctuated text.
- ``events_funnel``: classic sequence funnel (view → click → purchase per
  user, in order) via conditional min-timestamps — one shuffle on
  user_id, no self-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubw_spark.queries.registry import register, table
from ubw_spark.streaming.stages import funnel_user_aggs

# letter runs | digit runs | any single non-alnum-non-space char
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "text_bpe_token_count",
    oracle=rf"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens,
           len(list_distinct(regexp_extract_all(text, '{_BPE_RE}'))) AS n_unique,
           round(len(regexp_extract_all(text, '{_BPE_RE}')) * 1.0
                 / greatest(length(regexp_split_to_array(trim(text), '\s+')), 1), 4)
             AS tokens_per_word
    FROM documents
    """,
    tags=("text",),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_RE), 0)
    words = F.size(F.split(F.trim("text"), r"\s+"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.round(
            F.size(toks) / F.greatest(words, F.lit(1)), 4
        ).alias("tokens_per_word"),
    )


def funnel_summary(per_user: DataFrame) -> DataFrame:
    """Finisher: fold per-user first-timestamps into the 4-number
    funnel.  In streaming this runs over the serving sink (a second
    aggregation can't chain inside one streaming query)."""
    saw_view = F.col("t_view").isNotNull()
    then_clicked = saw_view & (F.col("t_click") > F.col("t_view"))
    then_purchased = then_clicked & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(saw_view.cast("long")).alias("saw_view"),
        F.sum(then_clicked.cast("long")).alias("then_clicked"),
        F.sum(then_purchased.cast("long")).alias("then_purchased"),
    )


@register(
    "events_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(ts) FILTER (event_type = 'view')     AS t_view,
             min(ts) FILTER (event_type = 'click')    AS t_click,
             min(ts) FILTER (event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id)
    SELECT count(*)                                     AS n_users,
           count(*) FILTER (t_view IS NOT NULL)         AS saw_view,
           count(*) FILTER (t_view IS NOT NULL
                            AND t_click > t_view)       AS then_clicked,
           count(*) FILTER (t_view IS NOT NULL
                            AND t_click > t_view
                            AND t_purchase > t_click)   AS then_purchased
    FROM per_user
    """,
    tags=("events", "agg"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: first-view → later first-click → later
    first-purchase.  Conditional-min aggregation = one shuffle; the
    naive 3-way self-join would shuffle the events table three times."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(*funnel_user_aggs())
    return funnel_summary(per_user)
