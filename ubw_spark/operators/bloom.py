"""Bloom-filter membership for corpus decontamination (Bloom, CACM'70).

The 100 TB shape this adds: every other decontamination path in this
repo (MinHash bands, gram index) JOINS the corpus against the benchmark
— a shuffle whose cost scales with corpus size.  A Bloom filter replaces
the join with a FIXED-SIZE bitset: aggregate the benchmark's gram hashes
into m bits once (cost ∝ benchmark, not corpus), broadcast the packed
bits as ONE row, and probe map-only — the corpus streams through a
single stage with zero shuffle and zero explode.  False positives only
(over-removal, measurable via :func:`bloom_audit`); false negatives
impossible — a contaminated gram always has all k bits set, so the
filter never misses contamination.

Everything is deterministic given the hash construction, so the whole
pipeline has an exact DuckDB oracle (queries/bloom_q.py): h1/h2 are the
first/second 8 hex chars of one md5 (the repo's portable-hash idiom,
operators/dedup.py:100), and position i = (h1 + i·(2·h2+1)) mod m —
classic double hashing (Kirsch & Mitzenmacher, ESA'06), the 2h2+1 step
kept odd so power-of-two m never degenerates.

Reference parity: the reference (scalax/ubw) has no sketch surface;
this is part of the LLM-pipeline extension mandated by the build spec.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ubw_spark.functions.hof import let
from ubw_spark.functions.text import tokens
from ubw_spark.operators.dedup import widen, word_shingles
from ubw_spark.operators.versioned import MergeStore, cell_merge

M_DEFAULT = 1 << 18  # bits in the filter (32 KiB packed)
K_DEFAULT = 4  # probes per gram


def bloom_positions(gram: Column, m: int = M_DEFAULT, k: int = K_DEFAULT) -> Column:
    """array<bigint> of the k bit positions for a gram.

    Double hashing: pos_i = (h1 + i·(2·h2+1)) mod m.  Max intermediate
    is ~2^35 — no bigint overflow.  Duplicate positions (step·Δi ≡ 0
    mod m) are harmless: membership tests every listed position and a
    duplicate has one truth value.

    The md5 hex string is LET-BOUND so it is computed ONCE per gram —
    unbound, the position lambda's h1/step subtrees each embed their
    own md5 copy and the hash runs 2k times per gram (no CSE inside
    HOF lambdas; functions/hof.py)."""

    def positions(hx: Column) -> Column:
        h1 = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
        h2 = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
        step = h2 * F.lit(2) + F.lit(1)
        return F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: (h1 + i.cast("long") * step) % F.lit(m),
        )

    return let(F.md5(gram), positions)


def packed_bloom_words(
    bench: DataFrame,
    text_col: str,
    *,
    n: int = 3,
    m: int = M_DEFAULT,
    k: int = K_DEFAULT,
) -> DataFrame:
    """SPARSE packed filter ``(word_idx: bigint, bits: bigint)`` — one
    row per 64-bit word with at least one set bit (≤ m/64 rows).

    Two distributed stages: (1) explode grams → k positions each,
    distinct (shuffle bounded by m, NOT by benchmark cardinality);
    (2) pack 64 positions per word via bit_or.  This sparse form is
    what the persisted store holds — and what two filters UNION through
    (bitwise OR is the exact Bloom union, see append_bloom_store).
    Gram hashing runs before the distinct's exchange, so the benchmark
    input is widened first (dedup.widen)."""
    if m % 64:
        raise ValueError(f"m must be a multiple of 64, got {m}")
    pos = (
        widen(bench).select(
            F.explode(word_shingles(F.col(text_col), n)).alias("gram")
        )
        .select(F.explode(bloom_positions(F.col("gram"), m, k)).alias("pos"))
        .distinct()
    )
    return pos.select(
        F.expr("pos DIV 64").alias("word_idx"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
        ).alias("mask"),
    ).groupBy("word_idx").agg(F.expr("bit_or(mask)").alias("bits"))


def dense_bloom_row(packed: DataFrame, m: int = M_DEFAULT) -> DataFrame:
    """ONE-row ``(bloom_bits: array<bigint>)`` — dense length m/64 —
    assembled from the sparse packed words: the same cardinality a
    driver-side bitset would hold, which is the point of a Bloom
    filter — it fits one node by design (m=2^27 → 16 MB).

    Assembly is a broadcast join of the sparse words onto a JVM range
    of every slot, then one sorted extract.  The previous form built a
    map and probed it once per slot — Spark map lookup is a LINEAR
    scan, so densifying was O(slots × set-words) interpreted
    comparisons (measured as a 1.4 s single-task job at m=2^18 with a
    full filter); the join + array_sort is O(slots log slots)."""
    spark = packed.sparkSession
    idx = spark.range(m // 64).select(F.col("id").alias("word_idx"))
    filled = idx.join(F.broadcast(packed), "word_idx", "left").select(
        "word_idx", F.coalesce(F.col("bits"), F.lit(0)).alias("bits")
    )
    return filled.agg(
        F.array_sort(
            F.collect_list(F.struct("word_idx", "bits"))
        ).alias("__e")
    ).select(
        F.transform(F.col("__e"), lambda s: s["bits"]).alias("bloom_bits")
    )


def build_bloom(
    bench: DataFrame,
    text_col: str,
    *,
    n: int = 3,
    m: int = M_DEFAULT,
    k: int = K_DEFAULT,
) -> DataFrame:
    """ONE-row dense filter built from the benchmark's word-n-grams —
    ``dense_bloom_row(packed_bloom_words(...))``."""
    return dense_bloom_row(
        packed_bloom_words(bench, text_col, n=n, m=m, k=k), m
    )


def _gram_hit(pos_arrays: str, bits: str) -> Column:
    """size(filter(pos_arrays, ps -> all positions set in bits)) — the
    per-document count of Bloom-positive grams, fully inside the row.
    SQL expr because shiftleft with a COLUMN shift amount has no Python
    functions.* binding."""
    return F.expr(
        f"""size(filter({pos_arrays}, ps -> forall(ps, p ->
              (element_at({bits}, CAST(p DIV 64 AS INT) + 1)
               & shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0)))"""
    )


def _checked_gram_hit(pos_arrays: str, bits: str, m: int) -> Column:
    """_gram_hit guarded against an m-mismatched filter: positions are
    taken mod the CALLER's m, so a filter built with a different m
    would be indexed past its end — element_at → NULL → forall → NULL →
    the gram silently drops from the hit count (false negatives, which
    this module promises are impossible).  Raise instead."""
    return F.when(
        F.size(bits) == m // 64, _gram_hit(pos_arrays, bits)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "bloom filter length mismatch: bloom_bits has "
                ),
                F.size(bits).cast("string"),
                F.lit(f" words but the probe's m={m} needs {m // 64} — "),
                F.lit("the filter was built with a different m"),
            )
        ).cast("int")
    )


def bloom_probe(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    bloom: DataFrame,
    *,
    n: int = 3,
    m: int = M_DEFAULT,
    k: int = K_DEFAULT,
) -> DataFrame:
    """Per-document contamination counts ``(id, total_grams, hit_grams)``
    — MAP-ONLY: the one-row packed filter arrives via broadcast
    nested-loop join, then grams → positions → bit tests are all
    higher-order functions inside the row.  No shuffle, no explode; the
    corpus is read once.  Docs with zero grams (< n words) are dropped,
    matching the gram-level oracle.  Gram hashing is CPU-heavy per
    row, so the corpus is widened first (dedup.widen) — a corpus that
    already has enough splits keeps the pure zero-shuffle plan.

    The md5 hex is let-bound inside bloom_positions, so the hash runs
    ONCE per gram — not once per bit probe (lambda vars are bound
    values; functions/hof.py).

    Guard: the per-row hit computation verifies the packed filter's
    length matches ``m`` and raises otherwise — a mismatched (m, k)
    would index past the array, element_at would return NULL, and every
    contaminated gram would silently drop out of ``hit_grams`` (the
    exact silent-zero failure the store's params sidecar exists to
    prevent; this closes the same hole for the in-memory API)."""
    # Docs with < n tokens (zero grams) are dropped HERE, on the raw
    # token count, NOT via a where(total_grams > 0) on the output: the
    # output-side predicate pushes down as size(<full shingle expr>) > 0
    # — an interpreted re-evaluation of the whole gram pipeline inside
    # the Filter that measured 25× slower than the probe itself.
    probed = (
        widen(corpus).where(F.size(tokens(F.col(text_col))) >= n)
        .select(
            F.col(id_col),
            word_shingles(F.col(text_col), n).alias("__grams"),
        )
        .crossJoin(F.broadcast(bloom))
        .select(
            F.col(id_col),
            F.size("__grams").alias("total_grams"),
            F.transform(
                F.col("__grams"),
                lambda g: bloom_positions(g, m, k),
            ).alias("__pos"),
            F.col("bloom_bits"),
        )
    )
    return probed.select(
        F.col(id_col),
        F.col("total_grams").cast("long").alias("total_grams"),
        _checked_gram_hit("__pos", "bloom_bits", m)
        .cast("long")
        .alias("hit_grams"),
    )


def bloom_audit(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str,
    *,
    n: int = 3,
    m: int = M_DEFAULT,
    k: int = K_DEFAULT,
) -> DataFrame:
    """ONE-row gram-level audit of the filter against exact membership:
    ``(n_grams, bloom_hits, exact_hits, false_positives, fp_rate)``.

    The exact side is the shuffle join the Bloom path avoids — that is
    the point: the audit certifies the cheap path against the expensive
    truth on demand.  At 100 TB run it on a corpus SAMPLE (the FP rate
    is a global property of the filter, not of any document).  False
    negatives are impossible by construction — property-tested in
    tests/test_bloom.py."""
    corpus, bench = widen(corpus), widen(bench)
    bg = bench.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("gram")
    ).distinct()
    cg = corpus.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("gram")
    ).distinct()
    bloom = build_bloom(bench, text_col, n=n, m=m, k=k)
    checked = (
        cg.crossJoin(F.broadcast(bloom))
        .select(
            "gram",
            F.array(bloom_positions(F.col("gram"), m, k)).alias("__pos"),
            F.col("bloom_bits"),
        )
        .select(
            "gram",
            (_checked_gram_hit("__pos", "bloom_bits", m) == 1).alias(
                "bloom_hit"
            ),
        )
        .join(bg.withColumn("__exact", F.lit(True)), "gram", "left")
    )
    return checked.agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("bloom_hit").cast("long")).alias("bloom_hits"),
        F.sum(F.col("__exact").isNotNull().cast("long")).alias("exact_hits"),
        F.sum(
            (F.col("bloom_hit") & F.col("__exact").isNull()).cast("long")
        ).alias("false_positives"),
    ).select(
        "n_grams",
        "bloom_hits",
        "exact_hits",
        "false_positives",
        F.round(
            F.col("false_positives")
            / F.greatest(F.col("n_grams") - F.col("exact_hits"), F.lit(1)),
            6,
        ).alias("fp_rate"),
    )


# ---------------------------------------------------------------------------
# Persisted bloom store: the shared merge-store lifecycle
# (operators/versioned.py::MergeStore).  OR-merge is idempotent, so
# appends take no batch_id.
# ---------------------------------------------------------------------------

#: Sidecar in each version dir pinning (n, m, k).  Underscore-prefixed,
#: so Spark's parquet reader ignores it.  A probe under DIFFERENT hash
#: params would silently report zero contamination — exactly the
#: k-mismatch failure the gram index guards against with TBLPROPERTIES —
#: so append/load RAISE on mismatch instead.
PARAMS_FILE = "_BLOOM_PARAMS"


#: bloom(A ∪ B) == bloom(A) | bloom(B): union the packed words and
#: bit_or them per word index.
_STORE = MergeStore(PARAMS_FILE, "bloom", cell_merge(
    ("word_idx",), {"bits": F.bit_or}, where="_or_merge"
))


def read_bloom_params(path: str) -> dict:
    """(n, m, k) of the LIVE store version; raises if the sidecar is
    missing — probing with guessed params is the silent-zero failure."""
    return _STORE.params(path)


def write_bloom_store(
    bench: DataFrame,
    text_col: str,
    path: str,
    *,
    n: int = 3,
    m: int = M_DEFAULT,
    k: int = K_DEFAULT,
) -> None:
    """Persist the sparse packed filter — ``(word_idx, bits)``, ≤ m/64
    rows — + its params sidecar as a new store version."""
    packed = packed_bloom_words(bench, text_col, n=n, m=m, k=k)
    _STORE.write(packed, path, {"n": n, "m": m, "k": k})


def append_bloom_store(
    spark,
    batch: DataFrame,
    text_col: str,
    path: str,
) -> None:
    """Fold a new benchmark batch into the persisted filter WITHOUT
    rebuilding: bloom(A ∪ B) == bloom(A) | bloom(B) bit-for-bit (both
    sides hash the same way), so the append is the old packed words
    unioned with the batch's, bit_or-merged per word — cost ∝ batch +
    m/64, never ∝ the accumulated benchmark.  Params come from the
    store's sidecar; the batch CANNOT override them."""
    _STORE.fold(spark, path, lambda p: packed_bloom_words(
        batch, text_col, n=p["n"], m=p["m"], k=p["k"]
    ))


def load_bloom(spark, path: str) -> tuple[DataFrame, dict]:
    """(one-row dense filter, params) from the live store version."""
    packed, p = _STORE.load(spark, path)
    return dense_bloom_row(packed, p["m"]), p


def probe_bloom_store(
    spark,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
) -> DataFrame:
    """bloom_probe against the persisted filter, under the params the
    store was built with."""
    bloom, p = load_bloom(spark, path)
    return bloom_probe(
        corpus, id_col, text_col, bloom,
        n=p["n"], m=p["m"], k=p["k"],
    )
