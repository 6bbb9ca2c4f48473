"""ANN recall/IO curve with TRAINED (KMeans) centroids — VERDICT r9 #6.

`sim_recall_report` proves the four-variant recall@10 matrix (IVF
nprobe sweep, LSH, exhaustive-ADC PQ, IVFPQ) under the driver's DuckDB
gate using the md5-seeded deterministic quantizers;
production uses `operators.ivf.train_ivf_centroids` (distributed
KMeans), which is not cross-engine-deterministic, so its curve is
recorded HERE as committed tooling evidence instead of an oracle row.

Run:  python tools/ann_recall.py [sf_dir]      (default .localdata/sf1)

Prints a markdown table of recall@10 / candidate volume / cells read
per nprobe, for pasting into COVERAGE.md, plus one JSON line.  The
regression pin on the chosen operating point lives in
tests/test_operators.py::test_ivf_trained_recall_operating_point.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def recall_curve(
    spark,
    sf_dir: str,
    *,
    k_cells: int,
    n_queries: int = 50,
    topk: int = 10,
    nprobes: tuple[int, ...] = (1, 2, 4, 8, 16),
) -> list[dict]:
    """recall@topk vs nprobe for KMeans-trained IVF over the embeddings
    table: brute-force ground truth on the same corpus, candidate
    volumes from the probed cells.  Returns one dict per nprobe."""
    from ubw_spark.operators.ivf import (
        _probe_cells,
        assign_ivf_cells,
        ivf_ann_topk,
        train_ivf_centroids,
    )
    from ubw_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    t0 = time.perf_counter()
    centroids = train_ivf_centroids(emb, k=k_cells, seed=42)
    train_s = time.perf_counter() - t0
    q = emb.where(F.col("vec_id") < n_queries)
    brute = (
        brute_force_topk(emb, q, k=topk).select("qid", "vec_id").cache()
    )
    n_truth = brute.count()  # n_queries * topk; also materializes cache
    # cache: the corpus cell assignment is reused by every nprobe's
    # candidate-volume measurement
    cells = (
        assign_ivf_cells(emb, centroids).select("vec_id", "ivf_cell").cache()
    )
    cells.count()
    q_rows = [(r["vec_id"], r["embedding"]) for r in q.collect()]
    rows = []
    for p in nprobes:
        # MEASURED candidate volume for this nprobe — KMeans cells are
        # not uniform, so nprobe/k (the nominal fraction) can misstate
        # actual IO; this is the row count the probed partitions admit.
        # The cells are picked as ivf_ann_topk picks them: driver-side,
        # from the collected queries.
        probes = spark.createDataFrame(
            [
                (qid, cell)
                for (qid, _), picked in zip(q_rows, _probe_cells(q_rows, centroids, p))
                for cell in picked
            ],
            "qid bigint, ivf_cell int",
        )
        n_cand = (
            cells.join(F.broadcast(probes), "ivf_cell")
            .where(F.col("vec_id") != F.col("qid"))
            .dropDuplicates(["qid", "vec_id"])
            .count()
        )
        t0 = time.perf_counter()
        top = ivf_ann_topk(emb, q, centroids, k=topk, nprobe=p).select(
            "qid", "vec_id"
        )
        hits = top.join(brute, ["qid", "vec_id"]).count()
        dt = time.perf_counter() - t0
        rows.append(
            {
                "nprobe": p,
                "k_cells": k_cells,
                "nominal_frac": round(min(1.0, p / k_cells), 4),
                "candidates": n_cand,
                "measured_cand_frac": round(
                    n_cand / (n_queries * n), 4
                ),
                "hits": hits,
                "recall_at_10": round(hits / n_truth, 4),
                "probe_sec": round(dt, 2),
            }
        )
    brute.unpersist()
    cells.unpersist()
    rows.append({"train_sec": round(train_s, 2), "corpus": n})
    return rows


def main() -> None:
    from ubw_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".localdata/sf1",
    )
    spark = get_session("ann-recall")
    # k ~ sqrt(N) is the classical IVF sizing (FAISS guideline);
    # 64 cells at 20k vectors keeps expected cell size ~312
    rows = recall_curve(spark, sf_dir, k_cells=64)
    meta = rows.pop()
    print(f"\ncorpus={meta['corpus']}  k_cells=64  train={meta['train_sec']}s")
    print("| nprobe | nominal read | measured candidates | recall@10 | probe sec |")
    print("|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['nprobe']} | {r['nominal_frac']:.1%} "
            f"| {r['measured_cand_frac']:.1%} "
            f"| {r['recall_at_10']:.3f} | {r['probe_sec']} |"
        )
    print(json.dumps({"sf_dir": sf_dir, "meta": meta, "curve": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
