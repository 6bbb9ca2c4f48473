"""End-to-end corpus curation: the production recipe, materialized.

Chains the operator families the way a real 100 TB curation run does —
every stage WRITES parquet and the next stage reads its output, so each
stage is independently restartable and its count comes from real files
(contrast: the `corpus_curation_pipeline` registry query re-derives the
same funnel lazily as a single report plan):

  00 read          documents parquet
  01 quality       length gate (min_chars)
  02 exact dedup   md5 fingerprint, keep min id
  03 near dedup    MinHash-LSH pairs -> connected components keep-list
  04 span cut      ExactSubstr: cut non-owner duplicated spans
  05 decontam      drop docs near-duplicating an eval set (optional)
  06 dsir select   importance-resample toward the English slice:
                   keep ~80% of survivors by hashed-bigram likelihood
                   ratio (deterministic Gumbel top-k; documents with
                   no bigram features are excluded from the pool)
  07 pack + write  hash split train/valid/test, token counts + packing
                   offsets, written partitioned by split
  08 shards        the train split written as seeded deterministic
                   training shards, short->long curriculum order

Run:  python examples/curate_corpus.py \
        [--sf-dir /root/testdata/sf0.001] [--out /tmp/curated] \
        [--eval-ids 480] [--min-chars 120]

`--eval-ids N` treats doc_id >= N as the held-out eval set for the
decontamination stage (stand-in for a real eval-suite table); pass a
negative value to skip the stage.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F


def curate(
    spark,
    sf_dir: str,
    out: str,
    *,
    min_chars: int = 120,
    eval_ids_from: int = 480,
    jaccard: float = 0.5,
) -> dict[str, int]:
    """Run the staged pipeline; returns {stage: surviving row count}."""
    from ubw_spark.operators.components import dedup_keep_list
    from ubw_spark.operators.dedup import (
        exact_dedup,
        minhash_contamination_pairs,
        minhash_dedup_pairs,
    )
    from ubw_spark.operators.spans import cut_duplicate_spans
    from ubw_spark.operators.splits import assign_split
    from ubw_spark.sources.writers import write_table

    counts: dict[str, int] = {}

    def stage(name: str, df):
        path = os.path.join(out, name)
        df.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)
        counts[name] = back.count()
        return back

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    counts["00_read"] = docs.count()

    d = stage("01_quality", docs.where(F.length("text") >= min_chars))

    d = stage("02_exact_dedup", exact_dedup(d, "doc_id", "text"))

    pairs = minhash_dedup_pairs(d, "doc_id", "text", k=3, threshold=jaccard)
    d = stage("03_near_dedup", dedup_keep_list(d, pairs, "doc_id"))

    # Docs whose every token was cut (a strict subset of an earlier doc
    # — exact dedup can't catch those) come back with empty text: drop
    # them here, or they'd reach the final corpus as garbage rows.
    cut = cut_duplicate_spans(d, "doc_id", "text", k=8)
    d = stage(
        "04_span_cut",
        d.drop("text")
        .join(
            cut.select("doc_id", F.col("clean_text").alias("text")),
            "doc_id",
        )
        .where(F.length(F.trim("text")) > 0),
    )

    if eval_ids_from >= 0:
        evalset = docs.where(F.col("doc_id") >= eval_ids_from)
        # Two-phase decontamination — the production composition:
        # (a) a Bloom filter over the eval set's 3-grams prefilters the
        #     corpus MAP-ONLY (zero shuffle, false positives only), so
        # (b) the expensive MinHash band join + Jaccard verify runs on
        #     the small flagged slice, not the whole corpus.
        # Sound because bloom has NO false negatives: a doc sharing any
        # 3-gram with the eval set always gets hit_grams >= 1, and a
        # doc sharing NO 3-gram cannot reach Jaccard >= threshold.
        from ubw_spark.operators.bloom import bloom_probe, build_bloom

        bloom = build_bloom(evalset, "text", n=3)
        suspects = (
            bloom_probe(d, "doc_id", "text", bloom, n=3)
            .where(F.col("hit_grams") > 0)
            .select("doc_id")
        )
        contaminated = minhash_contamination_pairs(
            d.join(suspects, "doc_id", "left_semi"),
            evalset, "doc_id", "text", k=3, threshold=jaccard,
        ).select(F.col("corpus_id").alias("doc_id")).distinct()
        d = stage("05_decontam", d.join(contaminated, "doc_id", "left_anti"))

    # Importance resampling toward the English slice (DSIR): keep the
    # 80% of survivors whose hashed-bigram profile the target model
    # favors — the distribution-matching stage a data recipe runs after
    # dedup/decontamination.  Selection is deterministic (hash-derived
    # Gumbel noise), so the funnel is restartable like every stage.
    from ubw_spark.operators.dsir import dsir_select

    prev = list(counts.values())[-1]
    k_keep = max(1, int(prev * 0.8))
    sel = dsir_select(
        d, d.where(F.col("lang") == "en"), "doc_id", "text", k_keep,
        n=2, buckets=1024,
    )
    d = stage("06_dsir_select", d.join(sel.select("doc_id"), "doc_id"))

    d = assign_split(d, "doc_id")
    final = d.withColumn(
        "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    write_table(
        final,
        os.path.join(out, "07_final"),
        mode="overwrite",
        partition_by=["split"],
        max_records_per_file=100_000,
    )
    back = spark.read.parquet(os.path.join(out, "07_final"))
    counts["07_final"] = back.count()
    for r in back.groupBy("split").count().collect():
        counts[f"07_final_{r['split']}"] = r["count"]

    # Trainer feed: the train split as seeded deterministic shards,
    # short->long curriculum within each shard.  A retry or a rerun
    # rewrites identical shard files; a new epoch is a new seed.
    from ubw_spark.operators.shards import write_training_shards

    write_training_shards(
        back.where(F.col("split") == "train"),
        os.path.join(out, "08_shards"),
        "doc_id",
        n_shards=4,
        seed=0,
        curriculum=("n_tokens", [20, 40, 60]),
    )
    shards = spark.read.parquet(os.path.join(out, "08_shards"))
    counts["08_shards"] = shards.count()

    # Post-curation health monitors.  (a) Term-share drift RAW → FINAL:
    # which terms curation up/down-weighted most — a template flood the
    # dedup stages removed shows up at the top, so the report doubles
    # as a curation audit.  (b) A persisted quantile-histogram store of
    # per-doc token counts, rebuilt from the final corpus and swapped
    # in as a fresh version each run (a rerun overwrites, it does not
    # double-count; the ADD-merge + batch-id path is for INCREMENTAL
    # feeds — see operators/qsketch.append_hist_batch): the
    # length-distribution dashboard reads p50/p90 off 64 cells, never
    # off documents.
    from ubw_spark.functions.text import tokens as _tokens
    from ubw_spark.operators.drift import term_drift_topk
    from ubw_spark.operators.qsketch import (
        hist_build,
        probe_hist_quantiles,
        write_hist_store,
    )

    def _terms(df):
        return df.select(F.explode(_tokens(F.col("text"))).alias("term"))

    drift = term_drift_topk(_terms(docs), _terms(back), k=25)
    write_table(drift, os.path.join(out, "09_drift_report"), mode="overwrite")
    counts["09_drift_report"] = spark.read.parquet(
        os.path.join(out, "09_drift_report")
    ).count()

    qh_path = os.path.join(out, "09_token_quantiles")
    write_hist_store(
        hist_build(back, "n_tokens", lo=0, hi=512, nbins=64), qh_path
    )
    q = {
        r["q_milli"]: r["est"]
        for r in probe_hist_quantiles(spark, qh_path, [500, 900]).collect()
    }
    counts["09_token_p50_est"] = int(q[500])
    counts["09_token_p90_est"] = int(q[900])
    return counts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="/tmp/ubw_curated")
    ap.add_argument("--min-chars", type=int, default=120)
    ap.add_argument("--eval-ids", type=int, default=480)
    ap.add_argument(
        "--jaccard", type=float, default=0.5,
        help="near-dup / decontamination similarity threshold",
    )
    args = ap.parse_args()

    from ubw_spark.session import get_session

    spark = get_session("curate-corpus")
    shutil.rmtree(args.out, ignore_errors=True)
    counts = curate(
        spark, args.sf_dir, args.out,
        min_chars=args.min_chars, eval_ids_from=args.eval_ids,
        jaccard=args.jaccard,
    )
    for name in sorted(counts):
        print(f"{name:24s} {counts[name]}")
    spark.stop()


if __name__ == "__main__":
    main()
