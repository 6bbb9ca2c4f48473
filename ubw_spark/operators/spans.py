"""Exact duplicated-substring spans (token granularity).

Spark-native re-expression of suffix-array ExactSubstr deduplication
(Lee et al., "Deduplicating Training Data Makes Language Models
Better", ACL'22): rather than building a monolithic suffix array —
which needs global sorted adjacency and does not shard naturally —
find every k-token gram that occurs in >= min_docs distinct documents,
then merge overlapping/adjacent duplicated gram positions per document
into maximal spans.

Coverage argument: any duplicated substring of >= k tokens contains at
least one duplicated k-gram starting at each of its first
(len - k + 1) positions, so every such substring is covered by the
union of duplicated grams — recall at k-token granularity is exact.
Boundaries are quantized to token positions (the suffix-array method's
byte-precise boundaries can differ by < k tokens at each end).

100 TB shape — this is the part that matters:

- The gram table is O(total tokens) rows of (id, pos, 8-byte hash) —
  document text never shuffles.
- Duplicated-gram detection is one groupBy on the gram hash
  (map-side partial counts of distinct ids are cheap because a gram
  rarely repeats within one doc's partition slice).
- The join back from gram occurrences to the duplicated-gram set is
  one row per occurrence — NO pair explosion, unlike candidate-pair
  generation.  A boilerplate gram occurring in 10^6 documents costs
  10^6 rows here, not 10^12 pairs, which is why span extraction needs
  no hot-bucket cap.
- Span merging is a per-document window (partitioned by id) — the
  classic interval-coalescing running-max trick, never a global sort.

Total work is O(total tokens) with two shuffles keyed on 8-byte
hashes + one keyed on doc id.  That survives 100x.

Hashing: grams are keyed by ``xxhash64`` (JVM, 8 bytes).  Unlike the
MinHash pipeline this needs no cross-engine hash parity — the hash is
purely an internal shuffle key and never appears in the output; the
DuckDB oracle groups on the gram text itself.  A 64-bit collision
would take ~2^32 distinct grams per corpus to matter (birthday bound);
at that point switch the key to ``F.md5`` for 128 bits.

Reference parity: the reference engine has no substring-dedup
operator; this extends the dedup family required by the
training-data-pipeline mandate (exact / MinHash / SimHash / winnowing
live in dedup.py and winnow.py; see /root/reference/framework for the
relational surface the rest of the repo mirrors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ubw_spark.functions.text import tokens
from ubw_spark.operators.dedup import widen


#: Gram hashing's floor for :func:`ubw_spark.operators.dedup.widen`:
#: inputs whose optimizer-estimated size is below this never widen.
#: Gram hashing is light enough per row that the round-robin exchange
#: (~0.3-0.5 s fixed) only pays for itself when the serial map it
#: breaks up is long: at sf0.1 (``documents`` = ONE 0.6 MB split)
#: widening measured a net loss at 32 cores (round 14: spans 1.70 vs
#: 1.30 s, span index probe 2.58 vs 2.26 s widened vs not), while a
#: single multi-MB unsplittable file still widens.  Estimates are
#: roughly on-disk (compressed) bytes for file scans.
_WIDEN_MIN_BYTES = 4 * 1024 * 1024


def token_gram_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
) -> DataFrame:
    """(id, __pos, __gh): every k-token gram start position with its
    64-bit gram hash.  0-based positions; docs shorter than k tokens
    contribute nothing (the ``n >= k`` guard also keeps
    ``F.sequence(0, n-k)`` from counting DOWN when n < k).

    Tokenize + k-window hashing is the CPU-heavy map stage, and it runs
    BEFORE any consumer's ``__gh`` exchange, so a narrow input is widened
    first (dedup.widen, above the ``_WIDEN_MIN_BYTES`` floor).

    The gram key is the xxhash64 of the k-long TOKEN-HASH window, not
    of the joined gram string: each token is hashed once per document
    (let-bound — functions/hof.py — so the token-hash array is computed
    once per row, never once per gram), and each gram then hashes k
    fixed-width longs instead of re-walking ~k tokens' characters
    through concat_ws + element_at ×k (all interpreted; HOF lambdas
    never enter codegen).  Same equivalence classes — two grams collide
    iff their token sequences match, up to the same 64-bit birthday
    bound documented above (a token-hash collision folds into the same
    budget)."""
    toks = tokens(F.col(text_col))
    d = widen(df, _WIDEN_MIN_BYTES).select(
        F.col(id_col), toks.alias("__toks")
    ).where(F.size("__toks") >= k)
    from ubw_spark.functions.hof import let

    gram_hashes = let(
        F.transform(F.col("__toks"), lambda t: F.xxhash64(t)),
        lambda th: F.transform(
            F.sequence(F.lit(0), F.size(th) - k),
            lambda i: F.xxhash64(F.slice(th, i + 1, k)),
        ),
    )
    return d.select(
        F.col(id_col), F.posexplode(gram_hashes).alias("__pos", "__gh")
    )


def duplicate_gram_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """(id, __pos) of every gram start whose k-gram occurs in
    >= min_docs distinct documents.

    The explicit ``__gh`` repartition is a measured win (7.6 s → 4.5 s
    at sf1): without it the count-distinct plans a map-side partial
    aggregate whose hash map holds every (gh, id) pair — grams are
    nearly unique within a map partition, so the combine reduces
    nothing and the map is pure build-and-spill overhead; repartitioned,
    the raw rows shuffle once and ONE clustered aggregate pass does the
    distinct.  (AQE stage reuse between the aggregate branch and the
    join-back branch does NOT fire — column pruning drops ``__pos``
    under the aggregate's exchange, so the two subtrees are not
    canonically identical; the duplicated gram GENERATION is cheap
    since grams are keyed by token-hash windows, not built strings.)
    At bench scale AQE broadcasts ``dup`` so the join is map-side; at
    corpus scale where dup outgrows broadcast, both sides are already
    hash-partitioned on ``__gh`` and the sort-merge join needs no new
    exchange."""
    grams = token_gram_table(df, id_col, text_col, k).repartition("__gh")
    dup = (
        grams.groupBy("__gh")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__gh")
    )
    # Occurrence-preserving join: one output row per gram occurrence in
    # a duplicated gram — linear, never pairwise.
    return grams.join(dup, "__gh").select(id_col, "__pos")


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans per document:
    (id, span_start, span_end, span_tokens), positions 0-based
    inclusive.

    Interval coalescing: each duplicated gram start p covers tokens
    [p, p+k-1]; sort positions per doc and open a new span only when a
    position starts past (running max end) + 1 — overlapping OR
    adjacent covered regions merge into one contiguous span."""
    pos = duplicate_gram_positions(
        df, id_col, text_col, k=k, min_docs=min_docs
    )
    prev = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = pos.select(
        F.col(id_col),
        "__pos",
        F.max(F.col("__pos") + (k - 1)).over(prev).alias("__prev_end"),
    ).select(
        id_col,
        "__pos",
        F.when(
            F.col("__prev_end").isNull()
            | (F.col("__pos") > F.col("__prev_end") + 1),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__new"),
    )
    grp = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        marked.select(
            F.col(id_col), "__pos", F.sum("__new").over(grp).alias("__grp")
        )
        .groupBy(id_col, "__grp")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + (k - 1)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )
    return spans


def cut_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    min_docs: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Apply the ExactSubstr policy: remove every NON-OWNER occurrence
    of duplicated text, keeping exactly one copy corpus-wide.

    Owner of a duplicated gram = the min id among documents containing
    it (deterministic, engine-portable).  A token is cut iff it is
    covered by some duplicated gram whose owner is another document.
    Returns (id, out_col, n_tokens, n_removed) for EVERY input row.
    Untouched docs pass through VERBATIM (original whitespace kept);
    rewritten docs come back single-space joined.

    Shape: cut positions explode each non-owner gram occurrence into
    its k token indices (×k linear fanout, 8-byte rows), distinct,
    then collect per doc — the per-row cut array is O(doc tokens),
    the same order as the token array itself, so it adds no new
    memory class.  Reconstruction is per-row higher-order functions:
    kept indices via ``array_except`` (hash-based, O(n + cut)), then
    one element_at per kept index — NOT a per-token array_contains
    scan, which would go O(n·cut) on exactly the boilerplate-heavy
    documents this operator targets.  All map-only JVM.

    The cut operates on the ORIGINAL whitespace tokenization (case
    preserved); matching is case-insensitive like the detector, so a
    span that matches modulo case is still cut."""
    # same explicit-repartition shape as duplicate_gram_positions: the
    # owner aggregate runs one clustered pass instead of a no-op
    # map-side combine over ~unique (gh, id) pairs
    grams = token_gram_table(df, id_col, text_col, k).repartition("__gh")
    owners = (
        grams.groupBy("__gh")
        .agg(
            F.count_distinct(id_col).alias("__nd"),
            F.min(id_col).alias("__owner"),
        )
        .where(F.col("__nd") >= min_docs)
        .select("__gh", "__owner")
    )
    cut = (
        grams.join(owners, "__gh")
        .where(F.col(id_col) != F.col("__owner"))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + (k - 1))
            ).alias("__ci"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("__ci").alias("__cut"))
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    j = df.join(cut, id_col, "left")

    # array_except is hash-based and order-preserving on its left input;
    # sequence(0, n-1) is already sorted+distinct, so kept_idx is the
    # sorted kept positions.  (array_sort kept anyway: the sort is cheap
    # and the contract — tokens in original order — must not ride on an
    # undocumented implementation detail.)  The token array is let-bound
    # (functions/hof.py): referenced unbound inside the transform lambda,
    # the regex split would re-run once per KEPT TOKEN — O(n²) per doc.
    def _rebuild(t):
        kept_idx = F.array_sort(
            F.array_except(
                F.sequence(F.lit(0), F.size(t) - 1), F.col("__cut")
            )
        )
        return F.concat_ws(
            " ", F.transform(kept_idx, lambda i: F.element_at(t, i + 1))
        )

    from ubw_spark.functions.hof import let

    rebuilt = let(toks, _rebuild)
    return j.select(
        F.col(id_col),
        F.when(F.col("__cut").isNull(), F.col(text_col))
        .otherwise(rebuilt)
        .alias(out_col),
        F.size(toks).alias("n_tokens"),
        F.coalesce(F.size("__cut"), F.lit(0)).alias("n_removed"),
    )


def _coverage_report(
    df: DataFrame, id_col: str, text_col: str, per_doc_dup: DataFrame
) -> DataFrame:
    """Zero-filled per-document report shared by the batch probe and
    the whole-corpus fraction: join ``(id, __dup)`` onto every input
    row → (id, n_tokens, dup_tokens, dup_fraction)."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), F.size(toks).alias("n_tokens"))
    return base.join(per_doc_dup, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("__dup"), F.lit(0)).alias("dup_tokens"),
        F.round(
            F.coalesce(F.col("__dup"), F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            4,
        ).alias("dup_fraction"),
    )


def _gram_index_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
) -> DataFrame:
    """The index schema, defined ONCE for write and append:
    one row per distinct gram hash — (gh, owner, n_docs)."""
    grams = token_gram_table(df, id_col, text_col, k)
    return (
        grams.groupBy("__gh")
        .agg(
            F.min(id_col).alias("owner"),
            F.count_distinct(id_col).alias("n_docs"),
        )
        .select(F.col("__gh").alias("gh"), "owner", "n_docs")
    )


def _clear_orphaned_location(spark, table_name: str) -> None:
    """Remove a MANAGED-table location left behind by another session.

    A previous session (with its own metastore) may have written
    ``table_name`` into this warehouse dir: the current catalog has no
    entry, but ``saveAsTable(overwrite)`` still refuses with
    LOCATION_ALREADY_EXISTS (surfaced by the --vanilla correctness
    run, whose bare session shares cwd with get_session's).

    The path ``<warehouse>/<name>`` is where the DEFAULT database puts
    managed tables, so deletion requires ALL of: the session's current
    database IS default (otherwise the upcoming save goes under
    ``<db>.db/`` and the default-path dir belongs to someone else),
    and neither the current-database nor the default-qualified catalog
    entry exists — a live table is never touched.  The delete goes
    through the Hadoop FS API so any filesystem works."""
    if spark.catalog.currentDatabase() != "default":
        return
    if spark.catalog.tableExists(table_name) or spark.catalog.tableExists(
        f"default.{table_name}"
    ):
        return
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = spark._jvm.org.apache.hadoop.fs.Path(
        wh.rstrip("/") + "/" + table_name.lower()
    )
    loc.getFileSystem(spark._jsc.hadoopConfiguration()).delete(loc, True)


def write_gram_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    table_name: str,
    *,
    k: int = 8,
    num_buckets: int = 32,
) -> None:
    """Persist the corpus's distinct gram hashes as a BUCKETED table
    (gh, owner, n_docs) — the incremental / streaming counterpart of
    :func:`duplicate_spans`, mirroring the persisted MinHash index
    (operators/lsh_index.py): hash the 100 TB corpus ONCE, then each
    incoming batch probes membership without touching corpus text.

    Bucketing by ``gh`` is the scale argument: on probe, the (huge)
    index side is read bucket-aligned with ZERO index-side shuffle —
    only the (small) batch reshuffles to the bucket scheme.
    ``n_docs``/``owner`` are as-of index time (appends add only NOVEL
    grams; membership — the probe semantics — stays exact).

    ``table_name`` must be an UNQUALIFIED name in the session's
    current database: the orphan-location recovery resolves the
    managed location as ``<warehouse>/<name>``, which is wrong for
    ``db.table`` names (those live under ``<warehouse>/<db>.db/``)."""
    if "." in table_name:
        raise ValueError(
            f"gram index table must be unqualified, got {table_name!r}"
        )
    idx = _gram_index_rows(df, id_col, text_col, k)
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    _clear_orphaned_location(spark, table_name)
    (
        idx.write.format("parquet")
        .mode("overwrite")
        .bucketBy(num_buckets, "gh")
        .saveAsTable(table_name)
    )
    # Record k AND the gram-hash scheme on the table: probing with a
    # different k — or with a build whose gh definition changed (the
    # r11 move from string-gram xxhash64 to token-hash-window xxhash64)
    # — would silently report zero contamination and double the index
    # on append (every old gram looks novel to the anti-join).  A
    # mismatch must raise, exactly like the Bloom/CMS param pins.
    spark.sql(
        f"ALTER TABLE {table_name} SET TBLPROPERTIES "
        f"('ubw.gram_k' = '{int(k)}', "
        f"'ubw.gram_hash' = '{GRAM_HASH_SCHEME}')"
    )


#: Version tag of the gh definition: "thw1" = xxhash64 over the k-long
#: token-hash window (round 11).  The pre-r11 scheme (xxhash64 of the
#: space-joined gram STRING) wrote no tag; a tag mismatch — including a
#: missing one on a legacy index — must refuse loudly, because old and
#: new gh values never collide and every probe would report zero hits.
GRAM_HASH_SCHEME = "thw1"


def _check_index_k(spark, table_name: str, k: int) -> None:
    """Raise if ``table_name`` was built with a different gram size or
    an incompatible gram-hash scheme."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table_name}").collect()
    props = {r["key"]: r["value"] for r in rows}
    stored = props.get("ubw.gram_k")
    if stored is not None and int(stored) != int(k):
        raise ValueError(
            f"gram index {table_name} was built with k={stored}, "
            f"probed/appended with k={k} — results would be silently "
            "empty; use the index's k or rebuild it"
        )
    scheme = props.get("ubw.gram_hash")
    if scheme != GRAM_HASH_SCHEME:
        raise ValueError(
            f"gram index {table_name} was built with gram-hash scheme "
            f"{scheme or 'pre-thw1 (string grams)'}, this build probes "
            f"with {GRAM_HASH_SCHEME} — hashes never match across "
            "schemes; rebuild the index (write_gram_index) before "
            "probing or appending"
        )


def probe_gram_index(
    spark,
    batch: DataFrame,
    table_name: str,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
) -> DataFrame:
    """Per-batch-document contamination vs the indexed corpus:
    (id, n_tokens, dup_tokens, dup_fraction), where dup_tokens counts
    tokens covered by any gram already present in the index.  Every
    batch row appears, zero-filled."""
    _check_index_k(spark, table_name, k)
    bg = token_gram_table(batch, id_col, text_col, k)
    idx = spark.table(table_name).select(F.col("gh").alias("__gh"))
    # Skew guard: pre-aggregate the batch to ONE row per (doc, gram)
    # before the bucket-aligned join.  A degenerate document repeating
    # one gram 10^6 times would otherwise land 10^6 identical-key rows
    # in a single bucket task; collapsed to a positions array it is one
    # row whose array is O(doc tokens) — the same memory class as the
    # token array itself.  Cross-document hot grams stay one row per
    # doc (linear, the spans.py occurrence-preserving argument).
    # Membership semantics are unchanged: explode restores positions.
    bg_per_doc = bg.groupBy(id_col, "__gh").agg(
        F.collect_list("__pos").alias("__ps")
    )
    hits = (
        bg_per_doc.join(idx, "__gh")
        .select(F.col(id_col), F.explode("__ps").alias("__pos"))
    )
    # count_distinct dedups covered positions in ONE shuffle with
    # map-side partials (a .distinct() + groupBy would shuffle the
    # exploded rows twice — this is the per-micro-batch hot loop).
    covered = (
        hits.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + (k - 1))
            ).alias("__ci"),
        )
        .groupBy(id_col)
        .agg(F.count_distinct("__ci").alias("__dup"))
    )
    return _coverage_report(batch, id_col, text_col, covered)


def append_gram_index(
    spark,
    batch: DataFrame,
    table_name: str,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
) -> None:
    """Add a new batch's NOVEL grams to the index (anti-join on gh,
    bucketed append) so the next batch dedups against this one too —
    the foreachBatch loop body for streaming incremental substring
    decontamination.  Existing grams are untouched: membership stays
    exact; their n_docs is as-of their own index time (documented on
    :func:`write_gram_index`).

    The bucket spec is read from the CATALOG, not a parameter: an
    append that re-declared a different bucket count would be refused
    by Spark (and a silent mismatch would break the zero-shuffle probe
    alignment) — the table's layout is the single source of truth."""
    _check_index_k(spark, table_name, k)
    num_buckets = _table_num_buckets(spark, table_name) or 32
    novel = _gram_index_rows(batch, id_col, text_col, k).join(
        spark.table(table_name).select("gh"), "gh", "left_anti"
    )
    (
        novel.write.format("parquet")
        .mode("append")
        .bucketBy(num_buckets, "gh")
        .saveAsTable(table_name)
    )


def grams_of(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 8
) -> DataFrame:
    """Distinct gram hashes occurring in ``df`` — the retire-set
    builder for :func:`compact_gram_index`: "remove these documents'
    grams from the index" is exactly the set of grams their text
    contains.  One column ``gh``."""
    return (
        token_gram_table(df, id_col, text_col, k)
        .select(F.col("__gh").alias("gh"))
        .distinct()
    )


def _table_num_buckets(spark, table_name: str) -> int | None:
    """Bucket count from DESCRIBE FORMATTED (the catalog keeps it; the
    rewrite must reproduce it or probes silently lose the zero-shuffle
    bucket alignment)."""
    for r in spark.sql(f"DESCRIBE FORMATTED {table_name}").collect():
        if r["col_name"].strip() == "Num Buckets":
            try:
                return int(r["data_type"].strip())
            except ValueError:
                return None
    return None


def compacted_gram_rows(
    spark,
    table_name: str,
    retired: DataFrame,
    *,
    broadcast_drops: bool = True,
) -> DataFrame:
    """The index rows with ``retired`` gram hashes anti-joined out —
    the lazy core of :func:`compact_gram_index`, exposed so plan tests
    can assert the join strategy (broadcast vs shuffled) without
    executing a rewrite."""
    drops = retired.select(F.col(retired.columns[0]).alias("gh"))
    maybe_bc = F.broadcast if broadcast_drops else (lambda d: d)
    return spark.table(table_name).join(maybe_bc(drops), "gh", "left_anti")


def compact_gram_index(
    spark,
    table_name: str,
    retired: DataFrame,
    *,
    broadcast_drops: bool = True,
) -> None:
    """Rewrite the gram index WITHOUT the ``retired`` gram hashes (one
    column of ``gh`` values) — the removal half of the gram index's
    append-only contract, mirroring
    lsh_index.compact_minhash_index: eval-decontamination loops retire
    an eval set's grams, right-to-be-forgotten removals retire a
    document's grams (build the set with :func:`grams_of`).

    Retiring by gram is CONSERVATIVE for document removal: a gram
    shared with surviving documents is retired too (future probes stop
    reporting it), because the index stores aggregated (gh, owner,
    n_docs) rows and cannot tell which holders remain.  Re-appending
    the surviving documents (:func:`append_gram_index`) restores
    exactly the shared grams — their grams are novel again after the
    compaction.

    ``broadcast_drops=False`` plans a shuffled anti-join for
    corpus-fraction-sized retire sets (billions of grams when an entire
    eval dump or dropped corpus slice is retired) — same two-posture
    rule as the LSH index compaction.

    Swap protocol: the kept rows are written to a staging table
    (``<name>__compact``, same bucket spec, same ``ubw.gram_k``); the
    flip is then rename-out / rename-in / drop-old — metadata
    operations only, never an in-place data overwrite.  Catalog renames
    are not jointly atomic, so there is a crash window between the two
    renames in which ``table_name`` does not resolve — but BOTH tables
    still exist (as ``<name>__old`` and ``<name>__compact``), so the
    failure is loud (table-not-found), recovery is one RENAME, and no
    data is ever lost — the two properties a plain DROP+CREATE swap
    lacks.  A single-statement swap needs an engine-level transactional
    catalog (Iceberg/Delta commit) and composes here unchanged."""
    k_rows = spark.sql(f"SHOW TBLPROPERTIES {table_name}").collect()
    props = {r["key"]: r["value"] for r in k_rows}
    stored_k = props.get("ubw.gram_k")
    stored_scheme = props.get("ubw.gram_hash")
    # The retire set comes from grams_of under the CURRENT scheme; an
    # index under any other scheme anti-joins to zero matches and the
    # full rewrite would complete "successfully" while every retired
    # document's grams survive — a silent no-op removal.  Refuse loudly,
    # the same contract probe/append enforce.
    if stored_scheme != GRAM_HASH_SCHEME:
        raise ValueError(
            f"gram index {table_name} was built with gram-hash scheme "
            f"{stored_scheme or 'pre-thw1 (string grams)'}; the retire "
            f"set is {GRAM_HASH_SCHEME}-hashed, so compaction would "
            "silently remove nothing — rebuild the index "
            "(write_gram_index) before compacting"
        )
    num_buckets = _table_num_buckets(spark, table_name) or 32
    kept = compacted_gram_rows(
        spark, table_name, retired, broadcast_drops=broadcast_drops
    )
    tmp = f"{table_name}__compact"
    old = f"{table_name}__old"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    _clear_orphaned_location(spark, tmp)
    (
        kept.write.format("parquet")
        .mode("overwrite")
        .bucketBy(num_buckets, "gh")
        .saveAsTable(tmp)
    )
    props_out = []
    if stored_k is not None:
        props_out.append(f"'ubw.gram_k' = '{int(stored_k)}'")
    if stored_scheme is not None:
        props_out.append(f"'ubw.gram_hash' = '{stored_scheme}'")
    if props_out:
        spark.sql(
            f"ALTER TABLE {tmp} SET TBLPROPERTIES ({', '.join(props_out)})"
        )
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    spark.sql(f"ALTER TABLE {table_name} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table_name}")
    spark.sql(f"DROP TABLE {old}")


def duplicated_token_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplication summary:
    (id, n_tokens, dup_tokens, dup_fraction) — every document appears,
    zero-filled when it has no duplicated span.  ``dup_fraction`` is
    the removal-policy input (ExactSubstr cuts the spans; a cruder
    policy drops docs above a fraction threshold)."""
    spans = duplicate_spans(
        df, id_col, text_col, k=k, min_docs=min_docs
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_tokens").alias("__dup")
    )
    return _coverage_report(df, id_col, text_col, per_doc)
