"""The versioned store layout (operators/versioned.py): manifest
parsing, version GC, the one merge-store lifecycle every bounded-state
store shares, and the schema guard on file-additive appends."""

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


# ---------------------------------------- file-additive append drift


def _docs(spark, id_type):
    return spark.range(12).select(
        F.col("id").cast(id_type).alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon token"),
            (F.col("id") % 4).cast("string"),
        ).alias("text"),
    )


def _ivf_frames(spark, id_type):
    return spark.range(12).select(
        F.col("id").cast(id_type).alias("vec_id"),
        F.array(
            (F.col("id") % 3).cast("float"),
            (F.col("id") % 2).cast("float"),
            F.lit(1.0).cast("float"),
        ).alias("embedding"),
    )


_CENTROIDS = [[0.0, 0.0, 1.0], [2.0, 1.0, 1.0]]


def _ivf_store():
    from ubw_spark.operators.ivf import append_ivf_batch, write_ivf_index

    return (
        lambda s, p: write_ivf_index(_ivf_frames(s, "bigint"), _CENTROIDS, p),
        lambda s, p: append_ivf_batch(_ivf_frames(s, "int"), _CENTROIDS, p),
        lambda root: root,
    )


def _minhash_store():
    from ubw_spark.operators.lsh_index import (
        append_minhash_batch,
        write_minhash_index,
    )

    return (
        lambda s, p: write_minhash_index(
            _docs(s, "bigint"), "doc_id", "text", p
        ),
        lambda s, p: append_minhash_batch(
            _docs(s, "int"), "doc_id", "text", p
        ),
        lambda root: os.path.join(root, "bands"),
    )


def _term_store():
    from ubw_spark.operators.retrieval import (
        append_term_batch,
        write_term_index,
    )

    return (
        lambda s, p: write_term_index(
            _docs(s, "bigint"), "doc_id", "text", p, buckets=4
        ),
        lambda s, p: append_term_batch(_docs(s, "int"), "doc_id", "text", p),
        lambda root: root,
    )


@pytest.mark.parametrize("store", ["ivf", "minhash", "term"])
def test_file_additive_append_refuses_schema_drift(spark, tmp_path, store):
    """An append that writes a pinned column with another type (a
    bigint-id store appended with an int id) is refused before anything
    lands, naming the store, the data dir and both schemas — instead of
    files the pinned read would misread."""
    write, append, data_dir = {
        "ivf": _ivf_store, "minhash": _minhash_store, "term": _term_store,
    }[store]()
    path = str(tmp_path / store)
    write(spark, path)
    root = resolve_root(path)
    before = _tree_bytes(path)
    with pytest.raises(ValueError) as err:
        append(spark, path)
    msg = str(err.value)
    assert path in msg and data_dir(root) in msg
    assert "bigint" in msg and re.search(r"\bint\b", msg)
    assert _tree_bytes(path) == before
