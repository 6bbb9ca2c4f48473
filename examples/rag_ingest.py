"""RAG ingestion: chunk → embed → IVF-index → probe, end to end.

The retrieval-side companion of examples/curate_corpus.py — every
stage is the library's own operator, composed the way a production
ingestion job would run:

  01 chunk     sliding 256-char windows, 32-char overlap
               (operators/chunking.py — map-only)
  02 embed     deterministic fake embedder over the chunk bytes
               (operators/multimodal.py::extract_features — the seam
               where a real encoder model slots in; the Spark-side
               plumbing — Arrow batches, unit-norm float vectors — is
               identical)
  03 index     k-means coarse quantizer + partitionBy(ivf_cell) layout
               (operators/ivf.py::write_ivf_index) AND the lexical
               twin: a BM25 inverted index over the same chunks
               (operators/retrieval.py::write_term_index)
  04 probe     partition-pruned top-k search for query texts embedded
               through the SAME pipeline (probe_ivf_index)
  05 hybrid    reciprocal-rank fusion of the dense and BM25 lists —
               both indexes are maintained through update()/sync()
               (appends + compaction), so hybrid results track the
               live corpus

Run:  python examples/rag_ingest.py \
        [--sf-dir /root/testdata/sf0.001] [--out /tmp/rag_index] \
        [--query "some text to search for"]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: chunk_id = doc_id * CHUNK_STRIDE + chunk_idx — reversible, unique
#: while docs stay under CHUNK_STRIDE chunks (~224k chars at the
#: default 224-char stride).
CHUNK_STRIDE = 1_000


def embed_texts(df: DataFrame, id_col: str, text_col: str, dim: int) -> DataFrame:
    """(id, embedding): unit-norm float vector per text — the fake
    deterministic encoder; swap extract_features' codec for a real
    model without touching callers."""
    from ubw_spark.operators.multimodal import extract_features

    payload = df.withColumn("__payload", F.encode(F.col(text_col), "utf-8"))
    feats = extract_features(payload, id_col, "__payload", feature_dim=dim)
    return feats.select(
        F.col("id").alias(id_col), F.col("feature").alias("embedding")
    )


def ingest(
    spark,
    sf_dir: str,
    out: str,
    *,
    chunk_chars: int = 256,
    overlap: int = 32,
    dim: int = 32,
    cells: int = 8,
) -> dict:
    """Chunk + embed + write the IVF index; returns
    {n_docs, n_chunks, centroids} (centroids are needed to probe)."""
    from ubw_spark.operators.chunking import chunk_documents
    from ubw_spark.operators.ivf import train_ivf_centroids, write_ivf_index
    from ubw_spark.operators.versioned import (
        begin_rewrite,
        commit_rewrite,
        resolve_root,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    chunks = chunk_documents(
        docs, "doc_id", "text", chunk_chars=chunk_chars, overlap=overlap
    ).withColumn(
        "chunk_id", F.col("doc_id") * CHUNK_STRIDE + F.col("chunk_idx")
    )
    # The chunk store is versioned like the index: update() rewrites it
    # on deletions via the same manifest swap.
    chunks_path = os.path.join(out, "chunks")
    new_v, root = begin_rewrite(chunks_path)
    chunks.select(
        "chunk_id", "doc_id", "chunk_idx", "chunk_start", "chunk_text"
    ).write.mode("overwrite").parquet(root)
    commit_rewrite(chunks_path, new_v)
    chunks = spark.read.parquet(resolve_root(chunks_path))

    emb = embed_texts(chunks, "chunk_id", "chunk_text", dim).select(
        F.col("chunk_id").alias("vec_id"), "embedding"
    )
    centroids = train_ivf_centroids(emb, "embedding", k=cells)
    write_ivf_index(emb, centroids, os.path.join(out, "ivf"))
    # the lexical twin: a BM25 inverted index over the SAME chunks, so
    # hybrid_search can fuse keyword and dense hits by chunk id
    from ubw_spark.operators.retrieval import write_term_index

    write_term_index(
        chunks, "chunk_id", "chunk_text", os.path.join(out, "terms")
    )
    return {
        "n_docs": docs.count(),
        "n_chunks": chunks.count(),
        "centroids": centroids,
    }


def update(
    spark,
    out: str,
    centroids: list,
    new_docs: DataFrame,
    deleted_doc_ids: DataFrame | None = None,
    *,
    chunk_chars: int = 256,
    overlap: int = 32,
    dim: int = 32,
) -> dict:
    """Incremental maintenance — the lifecycle a long-lived retrieval
    corpus runs instead of re-ingesting:

    - new documents: chunk → embed → ``append_ivf_batch`` into the live
      index version (additive, no pointer flip);
    - deleted documents: their chunk ids (resolved from the chunk
      store) are compacted out via the versioned-manifest rewrite
      (``compact_ivf_index``), so retired content stops surfacing as
      retrieval hits while in-flight probes finish on the grace copy.

    Chunk parameters must match :func:`ingest`'s (layout contract,
    like the banding parameters of the LSH index).

    Deletions run BEFORE appends, so replacing a document — the same
    doc_id in both ``new_docs`` and ``deleted_doc_ids`` — works in one
    call: chunk ids are doc-derived (doc_id × stride + idx), and an
    append-first ordering would compact the replacement's own vectors
    away with the old ones.  The chunk store is rewritten without the
    deleted docs' rows through the same versioned swap as the index
    (a replaced doc would otherwise carry two text rows per chunk id).
    ``n_dropped_chunks`` counts vectors actually present in the live
    index — an idempotent replay of a deletion reports 0, not the
    chunk store's row count."""
    from ubw_spark.operators.chunking import chunk_documents
    from ubw_spark.operators.ivf import append_ivf_batch, compact_ivf_index
    from ubw_spark.operators.retrieval import (
        append_term_batch,
        compact_term_index,
    )
    from ubw_spark.operators.versioned import (
        begin_rewrite,
        commit_rewrite,
        resolve_root,
    )

    chunks_path = os.path.join(out, "chunks")
    ivf_path = os.path.join(out, "ivf")

    n_dropped = 0
    if deleted_doc_ids is not None:
        live_chunks = spark.read.parquet(resolve_root(chunks_path))
        drop = live_chunks.join(deleted_doc_ids, "doc_id").select(
            F.col("chunk_id").alias("vec_id")
        )
        live_ids = spark.read.parquet(resolve_root(ivf_path)).select("vec_id")
        n_dropped = drop.join(live_ids, "vec_id").count()
        if n_dropped:
            compact_ivf_index(spark, ivf_path, drop)
            compact_term_index(
                spark, os.path.join(out, "terms"), drop,
                id_col="chunk_id",
            )
            kept = live_chunks.join(deleted_doc_ids, "doc_id", "left_anti")
            new_v, new_root = begin_rewrite(chunks_path)
            kept.write.mode("overwrite").parquet(new_root)
            commit_rewrite(chunks_path, new_v)

    chunks = (
        chunk_documents(
            new_docs, "doc_id", "text",
            chunk_chars=chunk_chars, overlap=overlap,
        )
        .withColumn(
            "chunk_id", F.col("doc_id") * CHUNK_STRIDE + F.col("chunk_idx")
        )
        .select("chunk_id", "doc_id", "chunk_idx", "chunk_start", "chunk_text")
        .persist()  # counted, written, AND embedded — one computation
    )
    n_new = chunks.count()
    if n_new:
        chunks.write.mode("append").parquet(resolve_root(chunks_path))
        emb = embed_texts(chunks, "chunk_id", "chunk_text", dim).select(
            F.col("chunk_id").alias("vec_id"), "embedding"
        )
        append_ivf_batch(emb, centroids, ivf_path)
        append_term_batch(
            chunks, "chunk_id", "chunk_text", os.path.join(out, "terms")
        )
    chunks.unpersist()
    return {"n_new_chunks": n_new, "n_dropped_chunks": n_dropped}


def sync(
    spark,
    out: str,
    centroids: list,
    old_docs: DataFrame,
    new_docs: DataFrame,
    *,
    chunk_chars: int = 256,
    overlap: int = 32,
    dim: int = 32,
) -> dict:
    """Snapshot-driven maintenance: diff two corpus snapshots
    (operators/cdc.py::snapshot_diff — only (id, fingerprint) pairs
    shuffle) and feed the delta to :func:`update`:

    - added + changed docs (re)ingest;
    - removed + changed docs retire (changed docs appear on BOTH sides
      — update() deletes before appending, so an edit is a replace).

    This is the loop a recurring crawl runs: no per-doc bookkeeping
    upstream, just "here is the new dump" — the diff derives the
    minimal index work.  Unchanged docs cost one fingerprint compare
    and touch neither the chunk store nor the index."""
    from ubw_spark.operators.cdc import snapshot_diff

    diff = snapshot_diff(old_docs, new_docs, "doc_id", "text")
    to_retire = diff.where(
        F.col("status").isin("removed", "changed")
    ).select("doc_id")
    to_ingest = new_docs.join(
        diff.where(F.col("status").isin("added", "changed")),
        "doc_id",
        "left_semi",
    )
    stats = update(
        spark, out, centroids, to_ingest, to_retire,
        chunk_chars=chunk_chars, overlap=overlap, dim=dim,
    )
    counts = {
        r["status"]: r["n"]
        for r in diff.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return {**stats, "diff_counts": counts}


def search(
    spark,
    out: str,
    centroids: list,
    query_texts: list[tuple[int, str]],
    *,
    dim: int = 32,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Embed query texts through the SAME pipeline and run the
    partition-pruned probe; joins chunk text back for display."""
    from ubw_spark.operators.ivf import probe_ivf_index

    q = spark.createDataFrame(query_texts, "qid bigint, qtext string")
    # Probe ids must live in a namespace DISJOINT from chunk ids:
    # probe_ivf_index excludes vec_id == qid (self-join ANN semantics),
    # so a caller qid that collides with a chunk_id would silently drop
    # that chunk from its own candidate set.  Chunk ids are >= 0;
    # negate into (-inf, -1] and map back on output.
    q = q.withColumn("__pid", -F.col("qid") - 1)
    qemb = embed_texts(q, "__pid", "qtext", dim).select(
        F.col("__pid").alias("vec_id"), "embedding"
    )
    from ubw_spark.operators.versioned import resolve_root

    hits = probe_ivf_index(
        spark, os.path.join(out, "ivf"), qemb, centroids, k=k, nprobe=nprobe
    ).withColumn("qid", -F.col("qid") - 1)
    chunks = spark.read.parquet(resolve_root(os.path.join(out, "chunks")))
    return hits.join(
        chunks.select(F.col("chunk_id").alias("vec_id"), "doc_id", "chunk_text"),
        "vec_id",
    ).select("qid", "vec_id", "doc_id", "cos_sim", "chunk_text")


def hybrid_search(
    spark,
    out: str,
    centroids: list,
    query_text: str,
    *,
    dim: int = 32,
    k: int = 5,
    nprobe: int = 4,
    list_k: int = 20,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of the dense IVF probe and the BM25 term
    index over the SAME chunk corpus: each list contributes
    1/(rrf_k + rank) per chunk — keyword-exact chunks the embedder
    misses and semantically-near chunks that share no term both
    surface.  Returns (chunk_id, doc_id, lex_rank, dense_rank, rrf,
    chunk_text) top-k by fused score."""
    from pyspark.sql import Window

    from ubw_spark.operators.retrieval import probe_term_index, rrf_fuse
    from ubw_spark.operators.versioned import resolve_root

    dense = search(
        spark, out, centroids, [(0, query_text)],
        dim=dim, k=list_k, nprobe=nprobe,
    ).select(
        F.col("vec_id").alias("chunk_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), "vec_id"))
        .alias("dense_rank"),
    )
    lex = probe_term_index(
        spark, os.path.join(out, "terms"), query_text,
        k=list_k, id_col="chunk_id",
    ).select(
        "chunk_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "chunk_id"))
        .alias("lex_rank"),
    )
    fused = rrf_fuse(lex, dense, id_col="chunk_id", k=k, rrf_k=rrf_k)
    chunks = spark.read.parquet(
        resolve_root(os.path.join(out, "chunks"))
    )
    return fused.join(
        chunks.select("chunk_id", "doc_id", "chunk_text"), "chunk_id"
    ).select(
        "chunk_id", "doc_id", "lex_rank", "dense_rank", "rrf", "chunk_text"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="/tmp/ubw_rag_index")
    ap.add_argument("--query", default="the quick brown fox")
    ap.add_argument("--k", type=int, default=5)
    args = ap.parse_args()

    from ubw_spark.session import get_session

    spark = get_session("rag-ingest")
    stats = ingest(spark, args.sf_dir, args.out)
    print(f"indexed {stats['n_chunks']} chunks from {stats['n_docs']} docs")
    hits = search(
        spark, args.out, stats["centroids"], [(0, args.query)], k=args.k
    )
    for r in hits.orderBy(F.desc("cos_sim")).collect():
        print(f"  {r.cos_sim:6.4f}  doc {r.doc_id}  {r.chunk_text[:60]!r}")
    print("hybrid (BM25 ⊕ dense RRF):")
    for r in hybrid_search(
        spark, args.out, stats["centroids"], args.query, k=args.k
    ).orderBy(F.desc("rrf"), "chunk_id").collect():
        print(
            f"  {r.rrf:8.6f}  lex={r.lex_rank} dense={r.dense_rank}  "
            f"doc {r.doc_id}  {r.chunk_text[:50]!r}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
