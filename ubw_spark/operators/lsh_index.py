"""Persisted MinHash-LSH index + incremental probe — the production
shape of dedup at 100 TB.

Re-banding a 100 TB corpus for every incoming batch is the dominant
cost of naive incremental dedup: signatures are ~1000× smaller than the
documents, and they don't change.  So band the corpus ONCE
(:func:`write_minhash_index`), persist the banded keys as a
band-partitioned parquet layout plus a compact shingle store, and dedup
/ decontaminate each incoming batch against the index
(:func:`probe_minhash_index`) without touching corpus text again.

Scale posture:

- the index write is map-only over the corpus (shingle → sign → band)
  plus one repartition so each band lands in O(1) files — no
  partitionBy small-file explosion;
- probing reads ONLY the probed bands' partitions: ``probe_bands=b``
  becomes a static partition filter (PartitionFilters in the plan,
  asserted in tests), scanning b/bands of the index.  Fewer bands
  trades recall for IO exactly like IVF's nprobe — a pair with Jaccard
  j survives with prob 1-(1-j^r)^b, so at j≥0.9, 8 of 32 bands still
  catches >99.9% of true near-dups;
- the incoming batch is small relative to the corpus, so its banded
  keys broadcast by default (``broadcast_probe=False`` switches to a
  shuffled join for batch-sized probes, mirroring
  dedup.minhash_contamination_pairs(large_probe=True));
- the verify join fetches shingles for candidate pairs only.

Naming: persisted columns are ``band``/``key`` (not the in-memory
``__band``/``__key``) because Spark's file listing hides paths starting
with underscores — a ``__band=0`` partition directory would be
invisible on read.

Layout versioning: the index root holds ``_CURRENT`` (a one-line
manifest naming the live version) and ``vNNNNN/`` directories, each a
complete ``bands``+``docs``+``sigs`` triple (``sigs`` — the persisted
MinHash signatures backing the candidate prefilter).  Readers resolve
the manifest once per query; rewrites (overwrite, compaction) write a
fresh version dir and flip the manifest with a single small-file write
— atomic locally via rename, atomic on object stores as one PUT.  The
previous version survives one cycle as a grace copy for in-flight
readers.  The machinery is shared by every persisted index store here
— see operators/versioned.py for the full contract.

Reference parity: this extends the reference's CRUD/upsert surface
(documentation/doc-01.md:136-158) the way a training-data lake needs —
the index IS the long-lived table, batches are the writes.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ubw_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    banded_minhash,
    cap_buckets,
    minhash_agreement,
    prefilter_min_agree,
)
from ubw_spark.operators.versioned import (
    begin_rewrite,
    check_append_schema,
    commit_rewrite,
    current_version,  # re-exported: part of this module's public API
    pin_schema,
    read_pinned_parquet,
    read_sidecar,
    resolve_root as _resolve_root,
    write_sidecar,
)

#: Params sidecar pinning the banding layout.  Probing or appending
#: with drifted parameters (fewer bands, different shingle k, other
#: hash count) makes band keys that NEVER match the stored ones —
#: silent zero/undercounted near-dup pairs, the exact failure class
#: the bloom/CMS/gram-index param pins exist for.
PARAMS_FILE = "_LSH_PARAMS"


def _check_lsh_params(
    root: str, k: int, num_hashes: int, bands: int, rows_per_band: int
) -> None:
    stored = read_sidecar(root, PARAMS_FILE, "minhash index")
    got = {
        "k": k,
        "num_hashes": num_hashes,
        "bands": bands,
        "rows_per_band": rows_per_band,
    }
    if stored != got:
        raise ValueError(
            f"minhash index params mismatch: store has {stored}, caller "
            f"passed {got} — band keys never match across parameter "
            "sets; use the stored params or rebuild the index"
        )

__all__ = [
    "write_minhash_index",
    "append_minhash_batch",
    "probe_minhash_index",
    "compacted_index_frames",
    "compact_minhash_index",
    "current_version",
]


def _bands_path(path: str) -> str:
    return posixpath.join(path, "bands")


def _docs_path(path: str) -> str:
    return posixpath.join(path, "docs")


def _sigs_path(path: str) -> str:
    return posixpath.join(path, "sigs")


def write_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    rows_per_band: int = 2,
) -> None:
    """Materialize the corpus LSH index at ``path``: banded signature
    keys partitioned by band (``path/bands``) and the shingle store for
    candidate verification (``path/docs``).

    ``repartition("band")`` before ``partitionBy("band")`` coalesces
    each band into O(1) files instead of (num_tasks × bands) — same
    rationale as ivf.write_ivf_index.

    Layout: stores land in a versioned subdirectory (``v00000`` on
    first write) named by the ``_CURRENT`` manifest; every reader
    resolves the manifest first.  Rewrites (a fresh ``overwrite`` or a
    compaction) write a NEW version dir and flip the pointer — never
    mutate a dir a reader may hold open."""
    new_v, root = begin_rewrite(path)
    sh, sig, banded = banded_minhash(
        df, id_col, text_col, id_alias="corpus_id", sh_name="sh",
        k=k, num_hashes=num_hashes, bands=bands, rows_per_band=rows_per_band,
    )
    banded_out = banded.withColumnRenamed("__band", "band").withColumnRenamed(
        "__key", "key"
    )
    # the signature store backs the prefilter between the band join and
    # the shingle verify: ~512 B/doc vs KBs/doc of shingles, rewritten
    # alongside docs, read with a two-column pruned scan at probe time
    sig_out = sig.withColumnRenamed("__sig", "sig")

    def _write_bands() -> None:
        (
            banded_out.repartition("band")
            .write.mode("overwrite")
            .partitionBy("band")
            .parquet(_bands_path(root))
        )
        pin_schema(_bands_path(root), banded_out.schema, ("band",))

    def _write_docs() -> None:
        sh.write.mode("overwrite").parquet(_docs_path(root))
        pin_schema(_docs_path(root), sh.schema)

    def _write_sigs() -> None:
        sig_out.write.mode("overwrite").parquet(_sigs_path(root))
        pin_schema(_sigs_path(root), sig_out.schema)

    # The three stores are INDEPENDENT projections of the one
    # materialized minhash frame (banded_minhash truncates it eagerly
    # before returning), so their write jobs overlap instead of running
    # back-to-back (guide §2.6): each write's tail (commit protocol,
    # small last tasks) back-fills with the next store's tasks.  Jobs
    # submitted from driver threads are the documented Spark pattern;
    # nothing here mutates shared state — each thread owns its store
    # subdirectory, and the manifest flip below happens after ALL three
    # landed.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        for fut in [
            pool.submit(_write_bands),
            pool.submit(_write_docs),
            pool.submit(_write_sigs),
        ]:
            fut.result()
    write_sidecar(
        root,
        PARAMS_FILE,
        {
            "k": k,
            "num_hashes": num_hashes,
            "bands": bands,
            "rows_per_band": rows_per_band,
        },
    )
    commit_rewrite(path, new_v)


def append_minhash_batch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    rows_per_band: int = 2,
) -> None:
    """Fold a new batch INTO the index (after probing it): append its
    banded keys and shingles, so the next batch dedups against corpus +
    this batch.  Probe-then-append per batch is the incremental-dedup
    loop — see tests/test_streaming.py for the foreachBatch wiring.

    Append-only by design: rewriting a 100 TB index per batch is the
    thing this module exists to avoid.  Ids must be unique across
    appends (standard lakehouse contract); removals go through a
    compaction rewrite, not this path.

    Appends go INTO the current version dir (resolved via the
    manifest): an append is additive, so readers racing it see either
    the old or the new file set — both are complete indexes (the batch
    is simply not yet visible in the old one).  A batch whose read-back
    schema differs from a store's pinned ``_SCHEMA`` is refused before
    anything lands."""
    root = _resolve_root(path)
    _check_lsh_params(root, k, num_hashes, bands, rows_per_band)
    sh, sig, banded = banded_minhash(
        df, id_col, text_col, id_alias="corpus_id", sh_name="sh",
        k=k, num_hashes=num_hashes, bands=bands, rows_per_band=rows_per_band,
    )
    banded_out = banded.withColumnRenamed("__band", "band").withColumnRenamed(
        "__key", "key"
    )
    sig_out = sig.withColumnRenamed("__sig", "sig")
    check_append_schema(path, _bands_path(root), banded_out.schema, ("band",))
    check_append_schema(path, _docs_path(root), sh.schema)
    check_append_schema(path, _sigs_path(root), sig_out.schema)

    def _append_bands() -> None:
        (
            banded_out.repartition("band")
            .write.mode("append")
            .partitionBy("band")
            .parquet(_bands_path(root))
        )

    def _append_docs() -> None:
        sh.write.mode("append").parquet(_docs_path(root))

    def _append_sigs() -> None:
        sig_out.write.mode("append").parquet(_sigs_path(root))

    # Independent projections of the one materialized batch frame into
    # three disjoint store directories: overlap the append jobs (guide
    # §2.6) exactly as in write_minhash_index.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        for fut in [
            pool.submit(_append_bands),
            pool.submit(_append_docs),
            pool.submit(_append_sigs),
        ]:
            fut.result()


def probe_minhash_index(
    spark: SparkSession,
    path: str,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    *,
    probe_bands: int | None = None,
    threshold: float = 0.4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    broadcast_probe: bool = True,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    rows_per_band: int = 2,
    prefilter_margin: float | None = 0.15,
) -> DataFrame:
    """Near-dup pairs between a written index and an incoming batch:
    (corpus_id, probe_id, jaccard ≥ threshold).

    ``probe_bands`` limits the sweep to the first N bands — a STATIC
    partition filter on the index scan (recall/IO knob; None = all).
    The banding parameters must match the ones the index was written
    with (they are part of the layout contract, like IVF centroids).
    Candidates pass the signature-estimate prefilter (persisted ``sigs``
    store vs the batch's in-flight signatures — see
    dedup.minhash_dedup_pairs for the cut and its recall pricing)
    before any corpus shingle is read; ``prefilter_margin=None``
    disables it.

    The manifest is resolved ONCE here, so the candidate scan and the
    verify join read the same version even if a compaction flips the
    pointer mid-query."""
    root = _resolve_root(path)
    _check_lsh_params(root, k, num_hashes, bands, rows_per_band)
    p_sh, p_sig, p_banded = banded_minhash(
        probe, id_col, text_col, id_alias="probe_id", sh_name="sh_probe",
        k=k, num_hashes=num_hashes, bands=bands, rows_per_band=rows_per_band,
    )
    p_banded = p_banded.withColumnRenamed("__band", "band").withColumnRenamed(
        "__key", "key"
    )
    idx = read_pinned_parquet(spark, _bands_path(root))
    if probe_bands is not None:
        idx = idx.where(F.col("band") < probe_bands)
        p_banded = p_banded.where(F.col("band") < probe_bands)
    if max_bucket is not None:
        idx = cap_buckets(idx, ["band", "key"], max_bucket)
    maybe_bc = broadcast if broadcast_probe else (lambda d: d)
    cands = (
        idx.join(maybe_bc(p_banded), ["band", "key"])
        .select("corpus_id", "probe_id")
        .distinct()
    )
    cut = prefilter_min_agree(threshold, num_hashes, prefilter_margin)
    if cut > 0:
        # signature-estimate prefilter (dedup.minhash_agreement): the
        # corpus side reads the persisted 512 B/doc signature store —
        # never the shingle store — so only prefilter survivors pull
        # document shingles.
        from ubw_spark.functions.hof import fence

        # the corpus side is a materialized parquet column (inferred
        # null-checks on it are cheap scan filters); only the batch's
        # in-flight signatures need the pushdown fence — see
        # dedup.minhash_dedup_pairs
        c_sig = read_pinned_parquet(spark, _sigs_path(root))
        cands = (
            cands.join(c_sig, "corpus_id")
            .join(
                maybe_bc(
                    p_sig.select(
                        "probe_id", fence(F.col("__sig")).alias("sigp")
                    )
                ),
                "probe_id",
            )
            .where(
                minhash_agreement(F.col("sig"), F.col("sigp"), num_hashes)
                >= cut
            )
            .select("corpus_id", "probe_id")
        )
    c_sh = read_pinned_parquet(spark, _docs_path(root))
    inter = F.size(F.array_intersect("sh", "sh_probe"))
    union = F.size(F.array_union("sh", "sh_probe"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        cands.join(c_sh, "corpus_id")
        .join(maybe_bc(p_sh), "probe_id")
        .where(jac >= threshold)
        .select("corpus_id", "probe_id", F.round(jac, 4).alias("jaccard"))
    )


def compacted_index_frames(
    spark: SparkSession,
    path: str,
    drop_ids: DataFrame,
    id_col: str = "corpus_id",
    *,
    broadcast_drops: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The (bands, docs, sigs) frames of the index at ``path`` with
    ``drop_ids`` anti-joined out — the lazy core of
    :func:`compact_minhash_index`, exposed so plan tests can assert the
    join strategy without executing a rewrite.

    ``broadcast_drops=True`` broadcasts the drop set into both
    anti-joins — right when the drop set is an eval-set-sized blocklist.
    ``False`` plans shuffled anti-joins (both sides exchange on id, no
    broadcast) — REQUIRED when the drop set is corpus-fraction-sized,
    which is the normal near-dup case: canonical selection kills 30-50%
    of a web corpus, billions of ids, far past any driver/broadcast
    limit.  Same two-posture pattern as
    dedup.minhash_contamination_pairs(large_probe=...)."""
    drops = drop_ids.select(F.col(drop_ids.columns[0]).alias(id_col))
    maybe_bc = broadcast if broadcast_drops else (lambda d: d)
    root = _resolve_root(path)
    bands_kept = read_pinned_parquet(spark, _bands_path(root)).join(
        maybe_bc(drops), id_col, "left_anti"
    )
    docs_kept = read_pinned_parquet(spark, _docs_path(root)).join(
        maybe_bc(drops), id_col, "left_anti"
    )
    sigs_kept = read_pinned_parquet(spark, _sigs_path(root)).join(
        maybe_bc(drops), id_col, "left_anti"
    )
    return bands_kept, docs_kept, sigs_kept


def compact_minhash_index(
    spark: SparkSession,
    path: str,
    drop_ids: DataFrame,
    id_col: str = "corpus_id",
    *,
    broadcast_drops: bool = True,
) -> None:
    """Rewrite the index without ``drop_ids`` (one column of ids) — the
    removal half of the append-only contract: after canonical selection
    kills near-dup losers, compaction stops their signatures from
    matching future batches.

    Cost model: one anti-join pass over each store, band partitioning
    preserved.  At 100 TB run it at the same cadence as any lakehouse
    table compaction (per N appends, not per batch); the band store
    rewrite shuffles only (id, band, key) rows, never documents.  Set
    ``broadcast_drops=False`` when the drop set is corpus-fraction-
    sized (the normal near-dup-loser case) — see
    :func:`compacted_index_frames` for the strategy trade.

    Swap protocol (object-store safe): the kept rows are written to a
    NEW version directory, then the ``_CURRENT`` manifest flips to it
    in one small-file write — no directory rename, no in-place
    overwrite.  A reader that resolved the manifest just before the
    flip keeps scanning the previous version, which survives as a
    grace copy until the NEXT compaction garbage-collects it."""
    old_root = _resolve_root(path)
    stored_params = read_sidecar(old_root, PARAMS_FILE, "minhash index")
    new_v, new_root = begin_rewrite(path)
    bands_kept, docs_kept, sigs_kept = compacted_index_frames(
        spark, path, drop_ids, id_col, broadcast_drops=broadcast_drops
    )
    (
        bands_kept.repartition("band")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(_bands_path(new_root))
    )
    pin_schema(_bands_path(new_root), bands_kept.schema, ("band",))
    docs_kept.write.mode("overwrite").parquet(_docs_path(new_root))
    pin_schema(_docs_path(new_root), docs_kept.schema)
    sigs_kept.write.mode("overwrite").parquet(_sigs_path(new_root))
    pin_schema(_sigs_path(new_root), sigs_kept.schema)
    # the layout params carry verbatim — compaction changes membership,
    # never the banding scheme
    write_sidecar(new_root, PARAMS_FILE, stored_params)
    # Flip + GC, shared contract: operators/versioned.py::commit_rewrite.
    commit_rewrite(path, new_v)
