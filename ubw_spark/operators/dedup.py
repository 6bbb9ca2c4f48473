"""Deduplication operators: exact, MinHash-LSH, SimHash.

Built for the 100 TB posture:

- **exact**: shuffle only (fingerprint, id) pairs — document bodies never
  move; the keep-set semi-joins back.
- **MinHash-LSH**: per-row signature computation is pure array
  expressions (JVM codegen, no Python, no explode until banding); the
  only shuffle is the band-bucket self-join, whose fanout is bounded by
  bucket size.  Between banding and the exact-Jaccard verify sits the
  signature-estimate prefilter (:func:`minhash_agreement`): banding's
  false-candidate stream grows ∝ N²·p_bg (background-similarity pairs
  under the S-curve knee — measured at the sf10 scale point), and the
  prefilter stops it at the 512-byte signatures so document shingles
  only ever move for pairs whose estimated Jaccard is within margin of
  the threshold.
- **SimHash**: vectorized pandas_udf (numpy bit-twiddling is genuinely
  not expressible in Spark SQL), Arrow-batched; candidates via banded
  prefix buckets like LSH.

Hashing is md5-based and engine-portable (same values in DuckDB SQL), so
the whole MinHash pipeline is oracle-checkable — see
ubw_spark/queries/dedup_q.py.
"""

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ubw_spark.functions.hof import fence, let
from ubw_spark.functions.text import tokens

MERSENNE_P = 2_147_483_647  # 2^31 - 1

#: Partition count for the recall audits' m²-by-design truth joins:
#: the audit slice is constant-size by contract (~250 docs), so the
#: nested-loop kernel is bounded — a few partitions parallelize it
#: across cores without task-scheduling overhead dominating, and the
#: count is deliberately NOT the session parallelism (the slice does
#: not grow with the corpus or the cluster).
_AUDIT_TRUTH_PARTITIONS = 8

#: Default hot-bucket cap for banded candidate generation.  A bucket of
#: occupancy m emits m·(m-1)/2 pairs, so one degenerate bucket (shared
#: boilerplate on a web corpus) can single-handedly go quadratic; buckets
#: above the cap are dropped here and belong to the exact-dup /
#: connected-components path instead (their members are near-identical by
#: construction — every signature band agrees).
DEFAULT_MAX_BUCKET = 64


def widen(df: DataFrame, min_bytes: int = 0) -> DataFrame:
    """``df`` round-robined to its session's ``defaultParallelism`` when
    it arrives in fewer splits than that, else ``df`` unchanged — the
    one compute-widening rule (docs/SCALE.md "Compute widening").

    Every caller runs a CPU-heavy per-row map next (shingle/md5
    hashing, tokenize, array math): over a small or unsplittable file
    that map is otherwise serial, and one cheap shuffle of the raw rows
    buys full-width compute.  Inputs that already carry enough splits —
    every corpus-scale lake — never reshuffle.  ``min_bytes`` is a
    caller's measured floor on the optimizer's size estimate, below
    which the exchange costs more than the serial map it breaks up.

    Neither probe plans the query physically: the size is the
    optimized plan's estimate, and the split count is read off the
    plan's leaves (see :func:`_input_splits`).  Both go through private
    JVM APIs (``_jdf``, Catalyst internals that change between Spark
    versions): when either fails, widen."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if int(plan.stats().sizeInBytes()) < min_bytes:
            return df
        splits = _input_splits(df, plan, par)
    except Exception:
        splits = 0
    return df.repartition(par) if splits < par else df


def _input_splits(df: DataFrame, plan, par: int) -> int:
    """Partition count of ``df``'s scans, summed over the plan's leaves
    (exact for one scan and for a union of scans).  A file relation is
    sized the way Spark's file scan cuts it
    (``FilePartition.maxSplitBytes``: splits of max(openCost,
    bytes/parallelism) capped at maxPartitionBytes, each file charged
    openCost); an RDD leaf (a foreachBatch micro-batch, a checkpoint)
    reports its own count; any other leaf makes the plan pay ``.rdd``
    (~0.2 s of physical planning)."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    cost = conf.filesOpenCostInBytes()
    splits = 0
    it = plan.collectLeaves().iterator()
    while it.hasNext():
        leaf = it.next()
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRDD":
            splits += leaf.rdd().getNumPartitions()
        elif kind == "LogicalRelation":
            files = leaf.relation().location()
            n, size = len(files.inputFiles()), int(files.sizeInBytes())
            split = min(
                conf.filesMaxPartitionBytes(),
                max(cost, (size + n * cost) // par),
            )
            splits += max(1, -(-(size + (n - 1) * cost) // split))
        else:
            return df.rdd.getNumPartitions()
    return splits


def cap_buckets(
    banded: DataFrame,
    bucket_cols: list[str],
    max_bucket: int,
) -> DataFrame:
    """Drop rows in buckets whose occupancy exceeds ``max_bucket``.

    Window count over the bucket key: the partitioning is the same
    (band, key) hash the candidate self-join shuffles on, so AQE reuses
    the exchange — no extra shuffle shape at scale."""
    w = Window.partitionBy(*bucket_cols)
    return (
        banded.withColumn("__occ", F.count(F.lit(1)).over(w))
        .where(F.col("__occ") <= max_bucket)
        .drop("__occ")
    )


def oversized_buckets(
    banded: DataFrame,
    bucket_cols: list[str],
    max_bucket: int,
) -> DataFrame:
    """The routing companion of :func:`cap_buckets`: one row per dropped
    bucket with its occupancy, so callers can count the drops and send
    oversized buckets to exact-dup handling."""
    return (
        banded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("occupancy"))
        .where(F.col("occupancy") > max_bucket)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per distinct normalized text."""
    fp = F.md5(F.lower(F.trim(F.col(text_col))))
    keep = (
        df.select(fp.alias("__fp"), F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


def word_shingles(text: Column, k: int = 1) -> Column:
    """Distinct k-word shingles of a text column (array expr, no explode).

    k=1 → word set; k≥2 → sliding windows over a LET-BOUND token array
    (functions/hof.py): the regex split runs once per document, not once
    per window reference — the unbound formulation re-evaluated it ~3k×
    per doc and measured 18× slower end to end.  ``array_join(slice(t,
    i, k), ' ')`` ≡ the old per-element concat_ws for never-null split
    output.  Documents with fewer than k words yield an empty array —
    the ``n >= k`` guard matters because ``F.sequence(1, 0)`` counts
    DOWN ([1, 0]) and slice past the end misbehaves."""
    from ubw_spark.functions.text import tokens

    toks = tokens(text)
    if k == 1:
        return F.array_distinct(toks)

    def windows(t: Column) -> Column:
        n = F.size(t)
        win = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(t, i, k), " "),
        )
        return F.when(n >= k, F.array_distinct(win)).otherwise(
            F.array().cast("array<string>")
        )

    return let(toks, windows)


def portable_hash(s: Column) -> Column:
    """First 8 hex chars of md5 as a non-negative BIGINT — identical in
    any engine with md5 (unlike xxhash64/murmur)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def _hash_params(i: int) -> tuple[int, int]:
    """Closed-form (a, b) for the i-th universal hash — closed form so a
    SQL oracle can regenerate them: a=2i+1 (odd), b=104729·i+17."""
    return 2 * i + 1, 104_729 * i + 17


def _col_sql(c: Column | str) -> str:
    """SQL text of a column reference/expression, for the generated-SQL
    expression builders below (the pq.py `_adc_sum_sql` pattern): a bare
    name is backtick-quoted (embedded backticks doubled, per the SQL
    identifier-quoting rule); a Column renders through Catalyst's own
    ``Expression.sql`` — one py4j call instead of one per subterm.

    ``_jc.node().sql()`` is a classic-mode private API (Spark 4.x
    internals; absent under Spark Connect), so it is probed with
    fallbacks (round 14, ADVICE r13): ``node().sql()`` →
    ``expr().sql()`` → a clear error telling the caller to pass the
    column by NAME, which needs no JVM expression handle at all."""
    if isinstance(c, str):
        return "`" + c.replace("`", "``") + "`"
    for path in ("node", "expr"):
        try:
            return getattr(c._jc, path)().sql()
        except AttributeError:
            continue
    raise TypeError(
        "cannot render this Column to SQL text on this PySpark backend "
        "(no classic-mode expression handle — Spark Connect?); pass the "
        "column by name (str) instead, e.g. after aliasing it in a "
        "projection"
    )


def minhash_signature(hashes: Column | str, num_hashes: int = 64) -> Column:
    """MinHash signature (array<bigint>, length num_hashes) from a
    column of shingle hashes.

    sig[i] = min over shingle hashes h of (a_i·h + b_i) mod P.

    The input is LET-BOUND (functions/hof.py — here spelled directly in
    the generated SQL as ``element_at(transform(array(<hashes>), h ->
    ...), 1)``), so ``hashes`` is evaluated exactly once no matter what
    expression the caller passes: the signature references it num_hashes
    times, and before the binding an inline ``transform(shingles,
    portable_hash)`` argument was re-hashed by every one of the 64
    lambdas (measured 100+ s at 5k docs vs ~2 s).  The guarantee is
    structural (lambda-bound value), identical to ``let``.

    Emitted as ONE generated-SQL string rather than composed Column
    objects (round-13 optimization, guide §1.2 "per-task work" applied
    to the DRIVER): the 64 array_min/transform terms cost ~0.8 s of
    py4j round trips PER CALL at plan-build time — pure driver stall,
    paid again for every branch and every invocation — vs ~3 ms for the
    string.  The string is generated from module literals and the
    caller's column only; no user input reaches it."""
    ref = _col_sql(hashes)
    terms = ",".join(
        "array_min(transform(h, x -> ({a} * x + {b}) % {p}))".format(
            a=a, b=b, p=MERSENNE_P
        )
        for a, b in (_hash_params(i) for i in range(num_hashes))
    )
    return F.expr(
        f"element_at(transform(array({ref}), h -> array({terms})), 1)"
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int = 32,
    rows_per_band: int = 2,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Band the signature and self-join on (band, band_key).

    Returns distinct (id_a, id_b) with id_a < id_b.  Shuffle volume is
    O(N·bands) small keys; pair fanout bounded by bucket occupancy —
    and occupancy itself is bounded by ``max_bucket`` (boilerplate-heavy
    corpora put thousands of near-identical docs in one band bucket,
    which would go O(m²) without the cap; those buckets route to exact
    dedup — see :func:`oversized_buckets`).  Collision probability per
    pair is 1-(1-j^r)^b for Jaccard j."""
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("__band")
    banded = df.select(F.col(id_col), F.col(sig_col).alias("__sig"), band_idx)
    key = F.concat_ws(
        ",",
        F.slice(F.col("__sig"), F.col("__band") * rows_per_band + 1, rows_per_band),
    )
    banded = banded.select(id_col, "__band", key.alias("__key"))
    if max_bucket is not None:
        banded = cap_buckets(banded, ["__band", "__key"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    checkpoint: str | None = "local",
) -> DataFrame:
    """The shared MinHash base frame ``(id, __sh, __sig)`` — shingle
    set and 64-long signature — computed in ONE corpus pass and
    MATERIALIZED (operators/iterate.py::truncate), so every consumer
    branch (banding, the signature-estimate prefilter's two sides, the
    exact-Jaccard verify's two sides, an audit's ground truth) reads
    the materialized rows instead of re-running the shingle→md5→
    signature pipeline per branch.

    Round-13 optimization rationale (guide §1.2 step 1 — don't compute
    things twice): the pre-materialization pipeline re-derived this
    subtree up to 5× per query (two ~equal 32-task signature jobs
    visible in the job profile of ``dedup_minhash_lsh`` alone), and
    every branch ALSO re-paid plan analysis of the 64-term signature
    tree.  One definition serving both the production pairs and the
    recall audit additionally pins them to identical sets structurally
    (the old shingle_pair_frames contract, now by shared data).

    ``checkpoint``: ``"local"`` (default — executor-storage blocks,
    MEMORY_AND_DISK, the single-box/bench posture), ``"reliable"``
    (durable parquet round-trip under the context's checkpoint dir —
    the 100 TB posture where an executor loss must not kill the
    pipeline and the corpus-sized frame belongs on storage), or
    ``None`` (no materialization — full-lineage plan, used by the plan
    lints to certify the unmaterialized pipeline's shape).

    Docs shorter than k words are dropped BEFORE shingling: they can't
    be near-dups under this metric, and their all-null signatures would
    band together and 0/0 in the Jaccard verify.  Filtering on the raw
    token count keeps the guard out of the shingle expression (a
    where(size(__sh)>0) after the projection gets pushed down and
    re-evaluates the whole shingle pipeline — measured 4× on the sf0.1
    bench).

    Signature computation is CPU-heavy per row, so the input is
    widened first (:func:`widen`)."""
    from ubw_spark.operators.iterate import truncate

    base = widen(df).where(F.size(tokens(F.col(text_col))) >= k)
    sh = base.select(
        F.col(id_col), word_shingles(F.col(text_col), k).alias("__sh")
    )
    hashed = sh.select(
        id_col, "__sh", F.transform("__sh", portable_hash).alias("__hv")
    )
    combined = hashed.select(
        id_col, "__sh", minhash_signature("__hv", num_hashes).alias("__sig")
    )
    if checkpoint is not None:
        combined = truncate(combined, checkpoint)
    return combined


def _pair_sides(
    combined: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(id_a, __sha) / (id_b, __shb) shingle sides of the shared frame,
    for exact-Jaccard verification."""
    a = combined.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("__sha")
    )
    b = combined.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("__shb")
    )
    return a, b


def exact_jaccard() -> Column:
    """0-guarded exact Jaccard over the pair-aliased shingle columns
    (``__sha``/``__shb`` from :func:`_pair_sides`).  The guard
    is unreachable after the ≥k-token filter (both sets non-empty) but
    keeps the expression total."""
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size(F.array_union("__sha", "__shb"))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_agreement(
    sig_a: Column | str, sig_b: Column | str, num_hashes: int = 64
) -> Column:
    """Number of agreeing components between two MinHash signatures —
    64·Ĵ, the classic unbiased Jaccard estimator (each component agrees
    with probability exactly J).

    Deliberately an unrolled sum of integer equality casts, NOT a
    ``zip_with``/``filter`` fold: the consumer is a join/filter
    predicate, and a ``lambdafunction`` there is both the interpreted
    re-evaluation hazard plans/inspect.py::hof_filter_violations lints
    for and invisible to whole-stage codegen.  64 flat comparisons over
    two materialized arrays codegen to straight-line JVM ints.

    Emitted as ONE generated-SQL string (see :func:`minhash_signature`):
    the chained Column arithmetic cost ~0.5 s of py4j round trips per
    call at plan-build time, ~1 ms as text.  Identical expression tree
    after parsing (``a[i]`` is the same 0-based ``getItem``)."""
    a_ref, b_ref = _col_sql(sig_a), _col_sql(sig_b)
    return F.expr(
        " + ".join(
            f"cast({a_ref}[{i}] = {b_ref}[{i}] as int)"
            for i in range(num_hashes)
        )
    )


def prefilter_min_agree(
    threshold: float, num_hashes: int = 64, margin: float | None = 0.15
) -> int:
    """Integer agreement cut for the signature-estimate prefilter:
    ``ceil((threshold − margin)·num_hashes)``, 0 (disabled) when margin
    is None or swallows the whole threshold.  The cut is part of the
    operator's deterministic semantics (both engines of an oracle pair
    apply the identical integer compare), so it must be derived from
    whole-number arithmetic, never from a float compare at run time."""
    if margin is None:
        return 0
    import math

    cut = math.ceil((threshold - margin) * num_hashes - 1e-9)
    return max(cut, 0)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    rows_per_band: int = 2,
    threshold: float = 0.4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    prefilter_margin: float | None = 0.15,
    checkpoint: str | None = "local",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → banded
    candidates → signature-estimate prefilter → exact-Jaccard
    verification ≥ threshold.

    Returns (id_a, id_b, jaccard).  The exact verification joins shingle
    sets back only for candidate pairs (LSH-bounded), so the quadratic
    kernel never touches non-candidates.

    **The prefilter is the 100 TB load-bearer** (diagnosed at the sf10
    scale point, round 13): with (b=32, r=2) banding the S-curve
    threshold sits at (1/b)^(1/r) ≈ 0.18, so background-similarity pairs
    at j ≈ 0.05–0.15 collide in some band with probability ≈ 32·j² —
    and the NUMBER of such pairs grows ∝ N² (measured: 8.8M candidates
    for 500k docs vs 64k pairs at j ≥ 0.1; cand/doc 8.9 → 17.7 for
    10×).  Shipping full shingle sets (KBs/doc) to exact-verify that
    stream is the quadratic that sf3 hid.  The 64 signature components
    the pipeline already computed are an unbiased Jaccard estimator
    (σ = √(j(1−j)/64) ≈ 0.06), so candidates are first joined against
    the 512-byte signatures and pairs with agreement below
    ``ceil((threshold − prefilter_margin)·num_hashes)`` (default
    0.25·64 = 16) are dropped BEFORE any shingle moves — ~100× fewer
    pairs reach the exact verify, at the cost of re-running the linear
    signature map for the two prefilter join sides.  The cut is
    deterministic (exact integer minima compared for equality), applied
    identically in the SQL oracles, and measured per Jaccard bucket by
    ``lsh_recall_report``: a true pair at j = threshold clears it with
    P ≈ 97.5% and the miss probability decays to ~0 by j ≈ 0.6 — for
    corpora where even that matters, widen the margin (more verify
    volume) or re-band (r=3, b=21 moves the S-curve itself to 0.36).
    ``prefilter_margin=None`` disables.

    ``checkpoint``: materialization policy for the shared shingle+
    signature frame — see :func:`minhash_frames`."""
    combined = minhash_frames(
        df, id_col, text_col,
        k=k, num_hashes=num_hashes, checkpoint=checkpoint,
    )
    return _pairs_from_frames(
        combined, id_col,
        num_hashes=num_hashes, bands=bands, rows_per_band=rows_per_band,
        threshold=threshold, max_bucket=max_bucket,
        prefilter_margin=prefilter_margin,
    )


def _pairs_from_frames(
    combined: DataFrame,
    id_col: str,
    *,
    num_hashes: int,
    bands: int,
    rows_per_band: int,
    threshold: float,
    max_bucket: int | None,
    prefilter_margin: float | None,
) -> DataFrame:
    """Banded candidates → signature-estimate prefilter → exact-Jaccard
    verify, all reading a shared :func:`minhash_frames` frame.  Split
    out so :func:`lsh_recall_report` can score the production pipeline
    over the SAME materialized frame its ground truth reads."""
    sig = combined.select(id_col, "__sig")
    cands = lsh_candidate_pairs(
        sig, id_col, "__sig", bands, rows_per_band, max_bucket=max_bucket
    )
    cut = prefilter_min_agree(threshold, num_hashes, prefilter_margin)
    if cut > 0:
        # fence: the agreement predicate's inferred null-checks would
        # otherwise push below this projection and (in the
        # unmaterialized checkpoint=None shape) rebuild the whole
        # shingle→hash→sign pipeline per input row — the exact hazard
        # plans/inspect.py::hof_filter_violations lints for
        siga = sig.select(
            F.col(id_col).alias("id_a"),
            fence(F.col("__sig")).alias("__siga"),
        )
        sigb = sig.select(
            F.col(id_col).alias("id_b"),
            fence(F.col("__sig")).alias("__sigb"),
        )
        cands = (
            cands.join(siga, "id_a")
            .join(sigb, "id_b")
            .where(
                minhash_agreement("__siga", "__sigb", num_hashes) >= cut
            )
            .select("id_a", "id_b")
        )
    a, b = _pair_sides(combined, id_col)
    jac = exact_jaccard()
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .where(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def lsh_recall_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    rows_per_band: int = 2,
    threshold: float = 0.4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    prefilter_margin: float | None = 0.15,
    checkpoint: str | None = "local",
) -> DataFrame:
    """MEASURED MinHash-LSH recall against exact-Jaccard ground truth
    per Jaccard bucket — run it on a FIXED-SIZE audit slice (the truth
    join is m² in the slice, by design constant as the corpus grows).

    Ground truth = every pair with exact shingle-set Jaccard ≥
    ``threshold``; found = the production pipeline
    (:func:`_pairs_from_frames` — banding AND the signature-estimate
    prefilter, so this report prices the FULL candidate-thinning
    stack, not just the band S-curve) which verifies the same Jaccard,
    so found ⊆ truth.  Truth and found read the SAME materialized
    :func:`minhash_frames` frame, so the two cannot drift — they are
    one dataset, not two pipelines that happen to agree.  The bucket
    is integer-exact cross-engine: ``(10·|∩|) div |∪|`` never sits on
    a float boundary.  Returns (jac_bucket, n_truth, n_found, recall)
    — the empirical S-curve 1-(1-j^r)^b (times the prefilter's
    boundary-bucket pass rate) that a banding-parameter regression
    (fewer bands, broken hash, over-aggressive cap or margin) would
    visibly dent."""
    combined = minhash_frames(
        df, id_col, text_col,
        k=k, num_hashes=num_hashes, checkpoint=checkpoint,
    )
    a, b = _pair_sides(combined, id_col)
    # Same cartesian-over-partition-pairs hazard as
    # simhash_recall_report: broadcast the inner side so the m² truth
    # join costs m² ROW comparisons, not splits² SCAN re-runs.  The
    # outer side is pinned to a SMALL FIXED partition count (not 1):
    # the slice is constant-size by contract, and a handful of
    # partitions parallelizes the m² nested loop — with the shared
    # frame materialized, extra partitions are block reads, never
    # pipeline re-runs (round 13; was repartition(1) = one serial
    # task doing the whole m² kernel).  The widening is CONDITIONAL on
    # materialization: under checkpoint=None (the documented plan-lint
    # mode) the frame is a full-lineage plan, and the conservative
    # single partition keeps that mode's cost profile exactly what the
    # original repartition(1) guaranteed (round 14, ADVICE r13).
    a = a.repartition(
        _AUDIT_TRUTH_PARTITIONS if checkpoint is not None else 1
    )
    b = F.broadcast(b.repartition(1))
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(exact_jaccard() >= threshold)
        .select(
            "id_a",
            "id_b",
            F.expr(
                "(10 * size(array_intersect(__sha, __shb))) div "
                "size(array_union(__sha, __shb))"
            ).alias("__bucket"),
        )
    )
    found = _pairs_from_frames(
        combined, id_col,
        num_hashes=num_hashes, bands=bands, rows_per_band=rows_per_band,
        threshold=threshold, max_bucket=max_bucket,
        prefilter_margin=prefilter_margin,
    ).select("id_a", "id_b", F.lit(1).alias("__hit"))
    return (
        truth.join(found, ["id_a", "id_b"], "left")
        .groupBy(F.col("__bucket").alias("jac_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("bigint").alias(
                "n_found"
            ),
            F.round(
                F.coalesce(F.sum("__hit"), F.lit(0)) / F.count(F.lit(1)), 4
            ).alias("recall"),
        )
    )


def simhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """64-bit SimHash per document via a vectorized pandas_udf.

    numpy does the bit unpacking/summing (not expressible as Spark SQL
    without a 64-way expression blowup); Arrow batches keep the transfer
    columnar.  Hashing uses the same md5-based portable hash as MinHash
    so results are deterministic everywhere.

    Features are ``shingle_k``-word shingles (default 3), matching the
    MinHash configuration: unigram features give same-vocabulary
    documents correlated signatures (low Hamming for non-dups), which
    floods candidate generation on synthetic/web corpora."""
    import pandas as pd
    from pyspark.sql.types import LongType

    # NOTE: the signature must use real (non-string) annotations — this
    # module must not enable postponed annotation evaluation, or
    # pandas_udf cannot introspect the Series hints.
    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        # token → ±1 bit-vector cache: corpora repeat tokens heavily, so
        # hashing each distinct token once per batch dominates nothing.
        tok_bits: dict[str, np.ndarray] = {}

        def bits_of(t: str) -> np.ndarray:
            v = tok_bits.get(t)
            if v is None:
                d = hashlib.md5(t.encode("utf-8")).digest()[:8]
                # unpackbits gives big-endian bit order per byte; the
                # exact order is irrelevant as long as it's consistent.
                v = np.unpackbits(np.frombuffer(d, dtype=np.uint8)).astype(
                    np.int64
                ) * 2 - 1
                tok_bits[t] = v
            return v

        out = np.zeros(len(texts), dtype=np.int64)
        weights = np.int64(1) << np.arange(bits, dtype=np.int64)
        for row, text in enumerate(texts):
            words = (text or "").strip().lower().split()
            if shingle_k > 1:
                toks = {
                    " ".join(words[i : i + shingle_k])
                    for i in range(max(len(words) - shingle_k + 1, 0))
                }
            else:
                toks = set(words)
            if not toks:
                continue
            acc = np.zeros(bits, dtype=np.int64)
            for t in toks:
                acc += bits_of(t)
            # (acc > 0) bits dotted with 2^i, wrapping into signed int64
            sig = np.int64(0)
            with np.errstate(over="ignore"):
                sig = np.sum(
                    np.where(acc > 0, weights, np.int64(0)), dtype=np.int64
                )
            out[row] = sig
        return pd.Series(out)

    return df.select(F.col(id_col), _simhash(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    sig_df: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    prefix_bits: int = 16,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate pairs whose simhash agrees on a 16-bit prefix band
    (4 rotated bands), verified by exact Hamming distance ≤ max_hamming.
    Same banded-join scale shape as MinHash-LSH, including the
    hot-bucket cap (identical simhashes all share every band)."""
    bands = 64 // prefix_bits
    mask = (1 << prefix_bits) - 1
    band_structs = [
        F.struct(
            F.lit(i).alias("b"),
            F.shiftrightunsigned(F.col("simhash"), i * prefix_bits)
            .bitwiseAND(F.lit(mask))
            .alias("k"),
        )
        for i in range(bands)
    ]
    banded = (
        sig_df.select(id_col, "simhash", F.explode(F.array(*band_structs)).alias("__tb"))
        .withColumn("__band", F.col("__tb.b"))
        .withColumn("__key", F.col("__tb.k"))
        .drop("__tb")
    )
    if max_bucket is not None:
        banded = cap_buckets(banded, ["__band", "__key"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(hamming <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def simhash_recall_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 8,
    prefix_bits: int = 16,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    checkpoint: str | None = "local",
) -> DataFrame:
    """MEASURED SimHash recall against exact-Hamming ground truth per
    Hamming distance — :func:`lsh_recall_report`'s bitwise sibling
    (VERDICT r11 #5).  Run it on a FIXED-SIZE audit slice: the truth
    join is m² in the slice, by design constant as the corpus grows.

    Ground truth = every pair with exact 64-bit Hamming distance ≤
    ``max_hamming`` (one signature pass, an all-pairs XOR on the
    slice); found = the production banded pipeline
    (:func:`simhash_near_pairs`) at the same radius, which verifies
    exact Hamming on its candidates, so found ⊆ truth.  With 4×16-bit
    prefix bands the pigeonhole guarantee covers distance ≤ 3 (some
    band must be untouched — recall 1.0 modulo the hot-bucket cap);
    buckets 4..max_hamming are the genuinely MEASURED region where
    banding can miss.  Returns (ham_bucket, n_truth, n_found, recall)
    — a dent below 1.0 in the guaranteed region means a broken band
    construction or an over-aggressive cap; the 4+ region quantifies
    the radius/band trade-off instead of guessing it."""
    # The audit slice is small BY CONTRACT, but it arrives as a union of
    # filtered scans spread over every file split: the m² truth join
    # below then plans as a CartesianProduct over partition PAIRS, each
    # re-running the scan + signature UDF — 45² = 2025 tasks at sf10,
    # quadratic in SPLIT COUNT with a constant-size slice (measured
    # 2.7 s → 66 s sf3 → sf10 before this pin).  One repartition(1) of
    # the ≤~300-row signature frame + a broadcast hint makes the truth
    # join a single-task nested loop regardless of corpus layout.
    # The signature frame is additionally MATERIALIZED (round 13, same
    # rationale as minhash_frames): truth's two sides and the banded
    # found pipeline otherwise re-run the per-token md5 pandas_udf once
    # per branch — 4 UDF passes for one audit.
    from ubw_spark.operators.iterate import truncate

    sig = simhash_signature(df, id_col, text_col).repartition(1)
    if checkpoint is not None:
        sig = truncate(sig, checkpoint)
    a = sig.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("__sa")
    ).repartition(_AUDIT_TRUTH_PARTITIONS)
    b = sig.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("__sb")
    )
    ham = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).cast("int")
    truth = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("__ham"))
        .where(F.col("__ham") <= max_hamming)
    )
    found = simhash_near_pairs(
        sig,
        id_col,
        max_hamming=max_hamming,
        prefix_bits=prefix_bits,
        max_bucket=max_bucket,
    ).select("id_a", "id_b", F.lit(1).alias("__hit"))
    return (
        truth.join(found, ["id_a", "id_b"], "left")
        .groupBy(F.col("__ham").alias("ham_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("bigint").alias(
                "n_found"
            ),
            F.round(
                F.coalesce(F.sum("__hit"), F.lit(0)) / F.count(F.lit(1)), 4
            ).alias("recall"),
        )
    )


def banded_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    id_alias: str | None = None,
    sh_name: str = "__sh",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    rows_per_band: int = 2,
    checkpoint: str | None = "local",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared MinHash banding pipeline: filter short docs, shingle,
    hash, sign, band.  Returns ``(shingles, signatures, banded)`` where
    shingles is ``(id, sh_name)``, signatures is ``(id, __sig)`` (the
    64-long array the signature-estimate prefilter compares — see
    :func:`minhash_agreement`), and banded is ``(id, __band, __key)`` —
    the frames every LSH consumer (self-join dedup, cross-dataset
    contamination, the persisted index) builds candidates, prefilters,
    and verifies from.

    ``checkpoint``: materialization policy for the shared frame all
    three returned frames derive from — see :func:`minhash_frames`."""
    out_id = id_alias or id_col
    combined = minhash_frames(
        df, id_col, text_col,
        k=k, num_hashes=num_hashes, checkpoint=checkpoint,
    ).select(
        F.col(id_col).alias(out_id),
        F.col("__sh").alias(sh_name),
        "__sig",
    )
    sh = combined.select(out_id, sh_name)
    sig = combined.select(out_id, "__sig")
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("__band")
    banded = sig.select(out_id, "__sig", band_idx).select(
        out_id,
        "__band",
        F.concat_ws(
            ",",
            F.slice(
                F.col("__sig"), F.col("__band") * rows_per_band + 1,
                rows_per_band,
            ),
        ).alias("__key"),
    )
    return sh, sig, banded


def minhash_contamination_pairs(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    rows_per_band: int = 2,
    threshold: float = 0.4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    large_probe: bool = False,
    prefilter_margin: float | None = 0.15,
    checkpoint: str | None = "local",
) -> DataFrame:
    """Cross-dataset near-dup detection (decontamination): probe rows
    (an eval/test set) that near-duplicate corpus rows (training data).

    Same MinHash-LSH machinery as :func:`minhash_dedup_pairs`, but the
    band join runs corpus × probe instead of self-join — returns
    (corpus_id, probe_id, jaccard) with jaccard ≥ threshold.  The
    signature-estimate prefilter (see :func:`minhash_dedup_pairs` —
    same cut, same rationale, same oracle parity) sits between the band
    join and the shingle verify; in the large-probe dump-vs-dump
    posture it is what keeps the O(N²·p_bg) false-candidate stream from
    ever touching document shingles.

    Two scale postures, selected by ``large_probe``:

    - **False (default)** — the probe is a small eval set: its banded
      keys (and its shingle sets in the verify join) broadcast, the
      corpus streams once, zero corpus-side shuffle for candidates.
    - **True** — the probe is itself corpus-sized (sweeping one 100 TB
      dump against another): nothing broadcasts; both sides shuffle on
      the (band, key) hash for the candidate join — the same banded
      shuffle shape as the self-join dedup — and BOTH sides get the
      hot-bucket cap (a degenerate probe bucket goes quadratic exactly
      like a corpus one).  The verify join shuffles on ids.  Per-pair
      collision probability is unchanged; only the physical strategy
      differs."""

    def prep(
        df: DataFrame, side: str
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        return banded_minhash(
            df, id_col, text_col,
            id_alias=f"{side}_id", sh_name=f"__sh_{side}",
            k=k, num_hashes=num_hashes, bands=bands,
            rows_per_band=rows_per_band, checkpoint=checkpoint,
        )

    c_sh, c_sig, c_banded = prep(corpus, "corpus")
    p_sh, p_sig, p_banded = prep(probe, "probe")
    if max_bucket is not None:
        c_banded = cap_buckets(c_banded, ["__band", "__key"], max_bucket)
        if large_probe:
            p_banded = cap_buckets(p_banded, ["__band", "__key"], max_bucket)
    from pyspark.sql.functions import broadcast as _bc

    maybe_bc = (lambda df: df) if large_probe else _bc
    cands = (
        c_banded.join(maybe_bc(p_banded), ["__band", "__key"])
        .select("corpus_id", "probe_id")
        .distinct()
    )
    cut = prefilter_min_agree(threshold, num_hashes, prefilter_margin)
    if cut > 0:
        # fence: see minhash_dedup_pairs — keeps the agreement
        # predicate's inferred null-checks above the signature pipeline
        cands = (
            cands.join(
                c_sig.select(
                    "corpus_id", fence(F.col("__sig")).alias("__sigc")
                ),
                "corpus_id",
            )
            .join(
                maybe_bc(
                    p_sig.select(
                        "probe_id", fence(F.col("__sig")).alias("__sigp")
                    )
                ),
                "probe_id",
            )
            .where(
                minhash_agreement(
                    F.col("__sigc"), F.col("__sigp"), num_hashes
                )
                >= cut
            )
            .select("corpus_id", "probe_id")
        )
    inter = F.size(F.array_intersect("__sh_corpus", "__sh_probe"))
    union = F.size(F.array_union("__sh_corpus", "__sh_probe"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        cands.join(c_sh, "corpus_id")
        .join(maybe_bc(p_sh), "probe_id")
        .where(jac >= threshold)
        .select("corpus_id", "probe_id", F.round(jac, 4).alias("jaccard"))
    )
