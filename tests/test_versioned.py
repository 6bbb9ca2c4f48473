"""The versioned store layout (operators/versioned.py): manifest
parsing, version GC, the merge-store lifecycle every bounded-state
store shares, the file-store lifecycle every file-additive store
shares, and the guard that keeps both behind versioned.py."""

import hashlib
import os
import re

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators import versioned
from ubw_spark.operators.versioned import (
    begin_rewrite,
    commit_rewrite,
    current_version,
    resolve_root,
    version_dir,
)

# ------------------------------------------------------------ layout


def test_corrupt_index_manifest_raises_not_stale_fallback(tmp_path):
    """A _CURRENT manifest that exists but doesn't parse must raise —
    falling back to the flat root would silently serve a stale
    grace-kept index (review finding, round 8)."""
    path = str(tmp_path / "idx")
    os.makedirs(path)
    assert current_version(path) is None  # absent = not written yet
    with open(os.path.join(path, "_CURRENT"), "w") as f:
        f.write("garbage")
    with pytest.raises(ValueError, match="corrupt index manifest"):
        current_version(path)


def test_versioned_store_survives_six_digit_versions(tmp_path):
    """v100000 ('{:05d}' is a MINIMUM width) must be recognized as a
    version dir: the live version survives a commit on a long-lived
    store, and GC still removes old versions (review finding,
    round 8)."""
    path = str(tmp_path / "store")
    os.makedirs(version_dir(path, 99999))
    os.makedirs(version_dir(path, 100000))
    with open(os.path.join(path, "_CURRENT"), "w") as f:
        f.write("100000")
    assert current_version(path) == 100000
    assert resolve_root(path).endswith("v100000")

    new_v, new_root = begin_rewrite(path)
    assert new_v == 100001
    os.makedirs(new_root)
    commit_rewrite(path, new_v)
    assert current_version(path) == 100001
    dirs = sorted(d for d in os.listdir(path) if d.startswith("v"))
    # v99999 GC'd (older than grace), v100000 grace-kept, live intact
    assert dirs == ["v100000", "v100001"]


def test_commit_rewrite_leaves_colocated_dirs_untouched(tmp_path):
    """commit_rewrite deletes only vNNNNN dirs past grace — never a
    co-located directory such as a user backup (review finding,
    round 8)."""
    path = str(tmp_path / "store")
    for d in ("bands", "user_backup", "ivf_cell=3", "v00000"):
        os.makedirs(os.path.join(path, d))
    with open(os.path.join(path, "_CURRENT"), "w") as f:
        f.write("0")
    for _ in range(3):
        new_v, root = begin_rewrite(path)
        os.makedirs(root)
        commit_rewrite(path, new_v)
    assert sorted(os.listdir(path)) == [
        "_CURRENT", "bands", "ivf_cell=3", "user_backup", "v00002", "v00003",
    ]


# ------------------------------------------------------ merge stores


def _rows(spark):
    return spark.createDataFrame(
        [
            (
                i,
                f"w{i % 7}",
                (i * 3) % 50,
                f"alpha beta gamma w{i % 5} delta",
                [float(i % 3), float(i % 4), 1.0],
                f"k{i % 3}",
            )
            for i in range(24)
        ],
        "id bigint, word string, v bigint, text string, "
        "vec array<double>, kind string",
    )


def _sorted(df):
    return sorted(map(tuple, df.collect()))


def _agg_measures():
    return {"cnt": F.lit(1).cast("long"), "v": F.col("v")}


def _cms():
    from ubw_spark.operators import sketches as m

    return dict(
        write=lambda s, a, p: m.write_cms_store(
            m.cms_build(a, "word", width=16, depth=2), p
        ),
        append=lambda s, b, p, bid: m.append_cms_batch(
            s, b, "word", p, batch_id=bid
        ),
        load=lambda s, p: _sorted(m.load_cms(s, p)[0]),
        whole=lambda s, df: _sorted(m.cms_build(df, "word", width=16, depth=2)),
        replay_guard=True,
    )


def _hll():
    from ubw_spark.operators import hll as m

    return dict(
        write=lambda s, a, p: m.write_hll_store(m.hll_build(a, "word", p=4), p),
        append=lambda s, b, p, bid: m.append_hll_batch(s, b, "word", p),
        load=lambda s, p: _sorted(m.load_hll(s, p)[0]),
        whole=lambda s, df: _sorted(m.hll_build(df, "word", p=4)),
        replay_guard=False,
    )


def _quantile():
    from ubw_spark.operators import qsketch as m

    def build(df):
        return m.hist_build(df, "v", lo=0, hi=50, nbins=8)

    return dict(
        write=lambda s, a, p: m.write_hist_store(build(a), p),
        append=lambda s, b, p, bid: m.append_hist_batch(
            s, b, "v", p, batch_id=bid
        ),
        load=lambda s, p: _sorted(m.load_hist(s, p)[0]),
        whole=lambda s, df: _sorted(build(df)),
        replay_guard=True,
    )


def _bloom():
    from ubw_spark.operators import bloom as m

    kw = dict(n=2, m=1 << 8, k=2)
    return dict(
        write=lambda s, a, p: m.write_bloom_store(a, "text", p, **kw),
        append=lambda s, b, p, bid: m.append_bloom_store(s, b, "text", p),
        load=lambda s, p: _sorted(m.load_bloom(s, p)[0]),
        whole=lambda s, df: _sorted(m.build_bloom(df, "text", **kw)),
        replay_guard=False,
    )


def _pca():
    from ubw_spark.operators import pca as m

    return dict(
        write=lambda s, a, p: m.write_moments_store(a, "vec", p, method="sql"),
        append=lambda s, b, p, bid: m.append_moments_batch(
            b, "vec", p, method="sql", batch_id=bid
        ),
        # the merge store itself: the module's only public reader is
        # the fit, and integer-valued vectors keep every sum exact
        load=lambda s, p: _sorted(m._STORE.load(s, p)[0]),
        whole=lambda s, df: _sorted(m._sql_moments(df, "vec")),
        replay_guard=True,
    )


def _agg():
    from ubw_spark.operators import incremental as m

    return dict(
        write=lambda s, a, p: m.write_agg_store(
            m.grouped_agg(a, ["kind"], _agg_measures()), p
        ),
        append=lambda s, b, p, bid: m.fold_batch_into_agg_store(
            s, b.withColumn("op", F.lit(1)), ["kind"], _agg_measures(), p,
            count_col="cnt", batch_id=bid,
        ),
        load=lambda s, p: _sorted(m.load_agg_store(s, p)[0]),
        whole=lambda s, df: _sorted(
            m.grouped_agg(df, ["kind"], _agg_measures())
        ),
        replay_guard=True,
    )


MERGE_STORES = {
    "cms": _cms,
    "hll": _hll,
    "quantile": _quantile,
    "bloom": _bloom,
    "pca": _pca,
    "agg": _agg,
}


def _tree_bytes(root):
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = (
                    hashlib.md5(fh.read()).hexdigest()
                )
    return out


@pytest.mark.parametrize("store", sorted(MERGE_STORES))
def test_merge_store_contract(spark, tmp_path, monkeypatch, store):
    """Every merge store: write → append == one-shot build; a crash
    between the data write and the flip leaves the live version
    byte-identical and a retry succeeds; a replayed batch changes
    nothing (a no-op before any write for the add-merge stores, which
    take a batch_id; an idempotent merge for HLL and Bloom); a
    directory without the sidecar is refused by name."""
    case = MERGE_STORES[store]()
    df = _rows(spark)
    a, b = df.where(F.col("id") % 2 == 0), df.where(F.col("id") % 2 == 1)
    whole = case["whole"](spark, df)
    path = str(tmp_path / store)

    case["write"](spark, a, path)
    assert current_version(path) == 0
    live = _tree_bytes(version_dir(path, 0))

    def crash(*args, **kwargs):
        raise RuntimeError("killed before the manifest flip")

    with monkeypatch.context() as m:
        m.setattr(versioned, "commit_rewrite", crash)
        with pytest.raises(RuntimeError, match="killed"):
            case["append"](spark, b, path, 1)
    assert current_version(path) == 0
    assert _tree_bytes(version_dir(path, 0)) == live

    case["append"](spark, b, path, 1)
    assert current_version(path) == 1
    assert case["load"](spark, path) == whole

    case["append"](spark, b, path, 1)  # redelivered batch
    assert current_version(path) == (1 if case["replay_guard"] else 2)
    assert case["load"](spark, path) == whole

    bare = str(tmp_path / f"{store}_bare")
    df.write.parquet(bare)
    with pytest.raises(ValueError, match=re.escape(bare) + ".*sidecar"):
        case["load"](spark, bare)


# ------------------------------------------------------- file stores


def _vecs(spark, lo, n=12):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 3).cast("float"),
            (F.col("id") % 2).cast("float"),
            F.lit(1.0).cast("float"),
            ((F.col("id") % 5) / 4).cast("float"),
        ).alias("embedding"),
    )


def _texts(spark, lo, n=12):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon token"),
            (F.col("id") % 4).cast("string"),
        ).alias("text"),
    )


_CELLS = [[0.0, 0.0, 1.0, 0.0], [2.0, 1.0, 1.0, 1.0]]
_CELLS_B = [[1.0, 0.0, 1.0, 0.0], [0.0, 1.0, 1.0, 1.0]]
_BOOKS = [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 1.0], [0.5, 0.5]]]


def _ivf_case():
    from ubw_spark.operators import ivf as m

    return dict(
        module=m, id_col="vec_id", frames=_vecs,
        write=lambda s, df, p, alt=False: m.write_ivf_index(
            df, _CELLS_B if alt else _CELLS, p
        ),
        append=lambda s, df, p, bid: m.append_ivf_batch(df, _CELLS, p),
        compact=lambda s, p, drops: m.compact_ivf_index(s, p, drops),
        # a probe under the store's quantizer, or under a drifted one
        probe=lambda s, p, ok=True: m.probe_ivf_index(
            s, p, _vecs(s, 0, 1), _CELLS if ok else _CELLS_B
        ).count(),
    )


def _ivfpq_case():
    from ubw_spark.operators import pq as m

    books_b = [[[0.0, 1.0], [1.0, 0.0]], _BOOKS[1]]
    return dict(
        module=m, id_col="vec_id", frames=_vecs,
        write=lambda s, df, p, alt=False: m.write_ivfpq_index(
            df, _CELLS_B if alt else _CELLS, _BOOKS, p
        ),
        append=None,  # the code store is rebuilt, never appended to
        compact=lambda s, p, drops: m.compact_ivfpq_index(s, p, drops),
        probe=lambda s, p, ok=True: m.probe_ivfpq_index(
            s, p, [(-1, [0.9, 0.1, 0.8, 0.9])], _CELLS,
            _BOOKS if ok else books_b,
        ).count(),
    )


def _minhash_case():
    from ubw_spark.operators import lsh_index as m

    return dict(
        module=m, id_col="corpus_id", frames=_texts,
        write=lambda s, df, p, alt=False: m.write_minhash_index(
            df, "doc_id", "text", p, bands=32 if alt else 16
        ),
        append=lambda s, df, p, bid: m.append_minhash_batch(
            df, "doc_id", "text", p, bands=16
        ),
        compact=lambda s, p, drops: m.compact_minhash_index(s, p, drops),
        # banding params drifted from the store's make keys that never
        # match: silent zero pairs without the pin
        probe=lambda s, p, ok=True: m.probe_minhash_index(
            s, p, _texts(s, 0, 2), "doc_id", "text", bands=16 if ok else 32
        ).count(),
    )


def _term_case():
    from ubw_spark.operators import retrieval as m

    return dict(
        module=m, id_col="doc_id", frames=_texts,
        write=lambda s, df, p, alt=False: m.write_term_index(
            df, "doc_id", "text", p, buckets=8 if alt else 4
        ),
        append=lambda s, df, p, bid: m.append_term_batch(
            df, "doc_id", "text", p, batch_id=bid
        ),
        compact=lambda s, p, drops: m.compact_term_index(s, p, drops),
        # the sidecar is the authority for the modulus: no caller params
        probe=lambda s, p, ok=True: m.probe_term_index(s, p, "alpha").count(),
        restat=True,
    )


FILE_STORES = {
    "ivf": _ivf_case,
    "ivfpq": _ivfpq_case,
    "minhash": _minhash_case,
    "term": _term_case,
}


def _file_state(spark, store, path):
    """(sorted rows per part, sidecar without the replay mark)."""
    root, sidecar = store.open(path)
    parts = [_sorted(store.read(spark, root, sub)) for sub, _ in store.parts]
    return parts, {k: v for k, v in sidecar.items() if k != "last_batch_id"}


def _crash(*args, **kwargs):
    raise RuntimeError("killed before the manifest flip")


@pytest.mark.parametrize("store", sorted(FILE_STORES))
def test_file_store_contract(spark, tmp_path, monkeypatch, store):
    """Every file-additive store: write → append == one-shot build
    (the term index's append flips a new version and guards replays;
    IVF and LSH append in place; IVFPQ has no append); compaction drops
    the ids and carries the sidecar over or recomputes it; a crash
    between the data write and the flip leaves the live version
    byte-identical and a retry succeeds; a params mismatch and a
    missing sidecar both raise, naming the store kind and the path."""
    case = FILE_STORES[store]()
    fs = case["module"]._STORE
    frames = case["frames"]
    df = frames(spark, 0, 24)
    path = str(tmp_path / store)

    def crash_leaves_live_intact(op):
        v = current_version(path)
        live = _tree_bytes(version_dir(path, v))
        with monkeypatch.context() as m:
            m.setattr(versioned, "commit_rewrite", _crash)
            with pytest.raises(RuntimeError, match="killed"):
                op()
        assert current_version(path) == v
        assert _tree_bytes(version_dir(path, v)) == live

    if case["append"] is None:
        case["write"](spark, df, path)
    else:
        case["write"](spark, frames(spark, 0, 12), path)
        batch = frames(spark, 12, 12)
        flips = case.get("restat", False)
        if flips:
            crash_leaves_live_intact(
                lambda: case["append"](spark, batch, path, 1)
            )
        case["append"](spark, batch, path, 1)
        assert current_version(path) == (1 if flips else 0)
        if flips:
            case["append"](spark, batch, path, 1)  # redelivered batch
            assert current_version(path) == 1  # a no-op before any write
            assert fs.open(path)[1]["last_batch_id"] == 1
        whole = str(tmp_path / f"{store}_whole")
        case["write"](spark, df, whole)
        assert _file_state(spark, fs, path) == _file_state(spark, fs, whole)
    assert case["probe"](spark, path) >= 0  # matching params probe fine

    drops = spark.createDataFrame([(1,), (14,)], "id bigint")
    crash_leaves_live_intact(lambda: case["compact"](spark, path, drops))
    v = current_version(path)
    case["compact"](spark, path, drops)
    assert current_version(path) == v + 1
    kept = str(tmp_path / f"{store}_kept")
    case["write"](spark, df.where(~F.col(df.columns[0]).isin(1, 14)), kept)
    assert _file_state(spark, fs, path) == _file_state(spark, fs, kept)
    if case.get("restat"):
        assert fs.open(path)[1]["last_batch_id"] == 1  # carried through

    if store != "term":  # the term sidecar is the authority: no params
        with pytest.raises(ValueError) as err:
            case["probe"](spark, path, ok=False)
        msg = str(err.value)
        assert fs.kind in msg and path in msg and "params mismatch" in msg

    bare = str(tmp_path / f"{store}_bare")
    df.write.parquet(bare)
    with pytest.raises(ValueError) as err:
        case["probe"](spark, bare)
    msg = str(err.value)
    assert fs.kind in msg and bare in msg and fs.sidecar in msg


@pytest.mark.parametrize("store", sorted(FILE_STORES))
def test_compaction_resolves_manifest_once(spark, tmp_path, monkeypatch, store):
    """A compaction reads the sidecar and the data from ONE manifest
    resolve: a rewrite that flips ``_CURRENT`` between two resolves
    would pair one version's quantizer, banding or stats with another
    version's rows.  The flip is injected after the first manifest
    read, wherever the store resolves it."""
    case = FILE_STORES[store]()
    fs = case["module"]._STORE
    path = str(tmp_path / store)
    case["write"](spark, case["frames"](spark, 0), path)  # v0
    case["write"](spark, case["frames"](spark, 100), path, alt=True)  # v1
    versioned.write_manifest(path, 0)
    v0_sidecar = fs.open(path)[1]

    real = versioned.current_version
    calls = []

    def flip_after_first(p):
        v = real(p)
        if not calls:
            versioned.write_manifest(p, 1)  # a concurrent rewrite lands
        calls.append(v)
        return v

    drops = spark.createDataFrame([(1,)], "id bigint")
    with monkeypatch.context() as m:
        m.setattr(versioned, "current_version", flip_after_first)
        case["compact"](spark, path, drops)
    root, sidecar = fs.open(path)
    ids = fs.read(spark, root, fs.parts[0][0]).select(case["id_col"])
    assert sorted({r[0] for r in ids.collect()}) == sorted(set(range(12)) - {1})
    if case.get("restat"):  # stats recomputed; the modulus is v0's
        assert sidecar["buckets"] == v0_sidecar["buckets"]
    else:
        assert sidecar == v0_sidecar


@pytest.mark.parametrize("store", ["ivf", "minhash", "term"])
def test_file_additive_append_refuses_schema_drift(spark, tmp_path, store):
    """An append that writes a pinned column with another type (a
    bigint-id store appended with an int id) is refused before anything
    lands, naming the store, the data dir and both schemas — instead of
    files the pinned read would misread."""
    case = FILE_STORES[store]()
    sub = case["module"]._STORE.parts[0][0]
    path = str(tmp_path / store)
    case["write"](spark, case["frames"](spark, 0), path)
    root = resolve_root(path)
    data_dir = root if sub is None else os.path.join(root, sub)
    batch = case["frames"](spark, 12)
    batch = batch.withColumn(batch.columns[0], F.col(batch.columns[0]).cast("int"))
    before = _tree_bytes(path)
    with pytest.raises(ValueError) as err:
        case["append"](spark, batch, path, None)
    msg = str(err.value)
    assert path in msg and data_dir in msg
    assert "bigint" in msg and re.search(r"\bint\b", msg)
    assert _tree_bytes(path) == before


# ------------------------------------------------------- module guard

#: The store lifecycle primitives: only versioned.py's two lifecycles
#: may call them, so every store's write/append/compact is one of those.
_LIFECYCLE = {
    "begin_rewrite", "commit_rewrite", "pin_schema", "write_sidecar",
    "link_carryover", "check_append_schema",
}


def test_lifecycle_primitives_stay_in_versioned():
    """No module under ubw_spark/ or examples/ other than versioned.py
    calls a store lifecycle primitive or touches column metadata (an
    ``alias(..., metadata=...)`` or a ``schema[...].metadata`` read —
    the shape pin is versioned.ShapePin's), and the pre-FileStore
    shared compaction body is gone."""
    import ast
    from pathlib import Path

    repo = Path(versioned.__file__).resolve().parents[2]
    offenders = []
    for base in ("ubw_spark", "examples"):
        for f in sorted((repo / base).rglob("*.py")):
            if f == Path(versioned.__file__).resolve():
                continue
            for node in ast.walk(ast.parse(f.read_text())):
                where = f"{f.relative_to(repo)}:{getattr(node, 'lineno', 0)}"
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr == "metadata"
                    and isinstance(node.value, ast.Subscript)
                    and isinstance(node.value.value, ast.Attribute)
                    and node.value.value.attr == "schema"
                ):
                    offenders.append(f"{where} schema[...].metadata")
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                name = fn.id if isinstance(fn, ast.Name) else getattr(
                    fn, "attr", None
                )
                if name in _LIFECYCLE:
                    offenders.append(f"{where} {name}")
                if name == "alias" and any(
                    k.arg == "metadata" for k in node.keywords
                ):
                    offenders.append(f"{where} alias(metadata=)")
    assert not offenders, offenders
    assert not hasattr(versioned, "compact_partitioned_store")
