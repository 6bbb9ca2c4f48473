"""Versioned directory layout for persisted index stores.

Every long-lived index in this repo (MinHash-LSH bands/docs, IVF cell
layout, IVFPQ code layout) needs the same three lifecycle properties at
object-store scale:

- **rewrites never mutate a directory a reader may hold open** — a new
  version directory is written complete, then a one-line ``_CURRENT``
  manifest flips to it;
- **the flip is a single small-object write** — atomic locally via
  ``os.replace``, atomic on S3/GCS as one PUT (directory renames there
  are copy+delete and race readers — the reason rmtree+move is banned);
- **the previous version survives one rewrite cycle** as a grace copy
  for readers that resolved the manifest just before the flip; older
  versions are garbage-collected.

This is the lakehouse-log pointer trick (Delta/Iceberg metadata file)
reduced to the one pointer an index needs.  Readers resolve ONCE per
query so a mid-query flip cannot split a plan across versions.

A manifest that exists but does not parse RAISES: falling back to an
older layout on corruption would silently serve stale data (documents
compacted out would resurface).  An absent manifest means "not a
store (yet)": the path resolves to itself, and the store's sidecar or
``_SCHEMA`` check then refuses it by name.

The six bounded-state merge stores share one lifecycle,
:class:`MergeStore`; the file-additive stores (LSH bands, IVF cells,
IVFPQ codes, term index) use the primitives below directly.
"""

from __future__ import annotations

import json
import os
import posixpath
import re
import shutil
from dataclasses import dataclass
from typing import Callable

#: Manifest file at the store root naming the live version directory.
MANIFEST = "_CURRENT"
#: {5,} not {5}: version_dir's {:05d} is a MINIMUM width — v100000 is
#: six digits, and a five-digit-only match would leave every version
#: past v99999 out of GC and the store stats.
_VDIR_RE = re.compile(r"^v(\d{5,})$")


def version_dir(path: str, version: int) -> str:
    return posixpath.join(path, f"v{version:05d}")


def current_version(path: str) -> int | None:
    """The live version number from ``path/_CURRENT``, or None when the
    path has no manifest (not written yet, or not a store)."""
    try:
        with open(posixpath.join(path, MANIFEST)) as f:
            raw = f.read().strip()
    except FileNotFoundError:
        return None
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"corrupt index manifest {path}/{MANIFEST}: {raw!r} — refusing "
            "to fall back to an older layout; restore the manifest to the "
            "latest complete vNNNNN directory"
        ) from None


def resolve_root(path: str) -> str:
    """Directory holding the live store: the manifest's version dir, or
    ``path`` itself when there is no manifest — a non-store directory,
    which the caller's sidecar or ``_SCHEMA`` read then refuses."""
    v = current_version(path)
    return path if v is None else version_dir(path, v)


def write_manifest(path: str, version: int) -> None:
    """Atomically flip the pointer (write temp, rename over
    ``_CURRENT``; one PUT on an object store)."""
    os.makedirs(path, exist_ok=True)
    tmp = posixpath.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, posixpath.join(path, MANIFEST))


def gc_versions(path: str, keep_from: int) -> None:
    """Delete version dirs older than ``keep_from`` (grace policy: the
    caller passes ``new_version - 1`` so the immediately previous
    version survives one cycle for in-flight readers)."""
    for name in os.listdir(path):
        m = _VDIR_RE.match(name)
        if m and int(m.group(1)) < keep_from:
            shutil.rmtree(posixpath.join(path, name))


def begin_rewrite(path: str) -> tuple[int, str]:
    """(new_version, new_root) for a rewrite cycle — the caller writes
    the new root COMPLETELY, then calls :func:`commit_rewrite`."""
    cur = current_version(path)
    new_v = 0 if cur is None else cur + 1
    return new_v, version_dir(path, new_v)


def commit_rewrite(path: str, new_v: int) -> None:
    """Flip the manifest to ``new_v`` and GC versions past grace.  Only
    ``vNNNNN`` dirs are ever deleted: the store root may legitimately
    hold user co-located directories (backups, checkpoints)."""
    write_manifest(path, new_v)
    gc_versions(path, new_v - 1)


def link_carryover(
    src_root: str, dst_root: str, *, skip_files: tuple[str, ...] = ()
) -> None:
    """Hardlink every data file of the live version into a new version
    dir — the carryover half of an APPEND-through-rewrite cycle: the
    new version = links to all old files + the batch's new files +
    a fresh sidecar, then one manifest flip.  A crash anywhere before
    the flip leaves the live version byte-identical (no in-place
    append ever touches a directory a reader may hold open), which is
    the property plain ``mode("append")`` into the resolved root
    cannot give when a sidecar must change in the same step.

    Cost is O(files) metadata operations, never O(bytes): hardlinks
    locally / HDFS; on S3 or GCS the equivalent is a server-side
    CopyObject per file (no data through compute) or, better, a
    file-list manifest — this module's pointer trick one level down.
    Falls back to a real copy when the filesystem refuses links
    (cross-device).

    ``skip_files``: exact file names NOT carried over (sidecars the
    caller rewrites)."""
    for root, _dirs, files in os.walk(src_root):
        rel = os.path.relpath(root, src_root)
        out = dst_root if rel == "." else posixpath.join(dst_root, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            if f in skip_files:
                continue
            src = os.path.join(root, f)
            dst = posixpath.join(out, f)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)


def compact_partitioned_store(
    spark,
    path: str,
    drop_ids,
    id_col: str,
    partition_col: str,
    *,
    broadcast_drops: bool = True,
    pre_commit=None,
) -> None:
    """The shared compaction body for partitionBy-laid-out stores (IVF
    cells, IVFPQ codes, the term index): anti-join ``drop_ids`` out of
    the live version, rewrite partition-preserving into a new version
    dir, flip the manifest.  ``broadcast_drops=False`` plans a shuffled
    anti-join for corpus-fraction drop sets — the same two-posture rule
    as every compaction here.

    ``pre_commit(new_root)``: optional hook invoked after the rewrite
    lands and BEFORE the manifest flips — the one correct place to
    regenerate a stats/params sidecar for the new version (a hook that
    raises leaves the old version live and the new dir orphaned, which
    commit_rewrite's begin/commit contract already tolerates)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    old_root = resolve_root(path)
    drops = drop_ids.select(F.col(drop_ids.columns[0]).alias(id_col))
    maybe_bc = broadcast if broadcast_drops else (lambda d: d)
    kept = read_pinned_parquet(spark, old_root).join(
        maybe_bc(drops), id_col, "left_anti"
    )
    new_v, new_root = begin_rewrite(path)
    (
        kept.repartition(partition_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(new_root)
    )
    pin_schema(new_root, kept.schema, (partition_col,))
    if pre_commit is not None:
        pre_commit(new_root)
    commit_rewrite(path, new_v)


def store_stats(path: str) -> dict:
    """Maintenance report for a versioned store, from FS METADATA only
    (no data read — the footer_bounds discipline): the live version and
    every version dir's file count and byte size.  What an OPTIMIZE/GC
    scheduler consults to decide when a rewrite pays for itself."""
    versions: dict[int, dict] = {}
    for name in sorted(os.listdir(path)):
        p = posixpath.join(path, name)
        m = _VDIR_RE.match(name)
        if not m or not os.path.isdir(p):
            continue
        files = n_bytes = 0
        for root, _dirs, fnames in os.walk(p):
            for f in fnames:
                if f.endswith(".parquet"):
                    files += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
        versions[int(m.group(1))] = {"files": files, "bytes": n_bytes}
    return {"current": current_version(path), "versions": versions}


#: Read-back schema sidecar written next to a store's data files.
#: Leading underscore keeps it out of Spark's data-file listing (the
#: ``_SUCCESS`` convention).
SCHEMA_FILE = "_SCHEMA"


def readback_schema(written_schema, partition_cols: tuple[str, ...] = ()):
    """The schema ``spark.read.parquet`` would INFER for a store just
    written with ``written_schema`` (optionally ``partitionBy``-ed on
    ``partition_cols``) — constructed without reading any footer, so a
    writer can pin it as a sidecar and spare every later reader the
    schema-inference job (guide §6: a per-``spark.read`` driver job of
    ~0.1-0.3 s that a store-lifecycle query pays up to 9×).

    Rules mirrored from Spark's parquet read path, pinned per store by
    tests/test_store_schema_pin.py against actual inference:

    - data columns keep their written order and dtype;
    - partition columns move to the END (partition discovery appends
      them) and integral ones read back as ``IntegerType`` (partition
      TYPE inference parses the directory-name string, and every
      partition value in this repo's stores — band, ivf_cell, tb — is
      a small int).  Stores with >2^31 partition values would need a
      LongType pin; none exists here and the pin test would catch one.
    """
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    data = [
        T.StructField(f.name, f.dataType, f.nullable, f.metadata)
        for f in written_schema
        if f.name not in partition_cols
    ]
    parts = []
    for c in partition_cols:
        f = written_schema[c]
        t = T.IntegerType() if isinstance(f.dataType, integral) else f.dataType
        parts.append(T.StructField(c, t, True))
    return T.StructType(data + parts)


def pin_schema(
    data_dir: str, written_schema, partition_cols: tuple[str, ...] = ()
) -> None:
    """Persist the read-back schema of the store at ``data_dir`` so
    :func:`read_pinned_parquet` can skip footer inference.  Call AFTER
    the data write with the schema of the frame that was written (and
    the ``partitionBy`` columns, if any)."""
    os.makedirs(data_dir, exist_ok=True)
    schema = readback_schema(written_schema, partition_cols)
    tmp = posixpath.join(data_dir, SCHEMA_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(schema.jsonValue(), f)
    os.replace(tmp, posixpath.join(data_dir, SCHEMA_FILE))


def read_pinned_parquet(spark, data_dir: str):
    """``spark.read.parquet(data_dir)`` minus the schema-inference job,
    using the ``_SCHEMA`` sidecar every store writer pins (guide §6 —
    predicate pushdown, partition discovery and pruning are unchanged;
    only the footer-read inference pass is skipped)."""
    return spark.read.schema(pinned_schema(data_dir)).parquet(data_dir)


def pinned_schema(data_dir: str):
    """The ``_SCHEMA`` pin at ``data_dir``; raises, naming the dir,
    when it is missing — that is not a store written here."""
    from pyspark.sql import types as T

    try:
        with open(posixpath.join(data_dir, SCHEMA_FILE)) as f:
            return T.StructType.fromJson(json.load(f))
    except FileNotFoundError:
        raise ValueError(
            f"store data dir {data_dir} has no {SCHEMA_FILE} pin — not a "
            "store written by this package; refusing to infer its schema"
        ) from None


def check_append_schema(
    path: str, data_dir: str, written_schema, partition_cols=()
) -> None:
    """Refuse an append into ``data_dir`` that writes a column the pin
    lacks or with another type: appended files are read with the pinned
    schema, so an extra column would vanish and a retyped one (an
    ``int`` id into a ``bigint`` store) be misread.  A batch may omit
    pinned columns — those read back NULL for its rows.  Nullability is
    not compared: every file column reads back nullable."""
    pinned = pinned_schema(data_dir)
    types = {f.name: f.dataType.simpleString() for f in pinned}
    got = readback_schema(written_schema, partition_cols)
    if any(types.get(f.name) != f.dataType.simpleString() for f in got):
        raise ValueError(
            f"append to store {path} refused: the batch's read-back "
            f"schema differs from the {SCHEMA_FILE} pinned at {data_dir}"
            f"\n  pinned: {pinned.simpleString()}"
            f"\n  batch:  {got.simpleString()}"
        )


def write_sidecar(root: str, filename: str, params: dict) -> None:
    """JSON params sidecar inside an ALREADY-RESOLVED version root —
    the shared writer every store's shape/stats pin goes through."""
    os.makedirs(root, exist_ok=True)
    with open(posixpath.join(root, filename), "w") as f:
        json.dump(params, f)


def read_sidecar(root: str, filename: str, kind: str) -> dict:
    """Sidecar from an ALREADY-RESOLVED version root.  Callers must
    resolve the store root ONCE and read sidecar + data from that same
    root — resolving separately per read races a concurrent rewrite
    (the store could flip versions between the two resolves).  Raises
    with the store ``kind`` in the message when missing: probing with
    guessed params is the silent-zero/undercount failure."""
    p = posixpath.join(root, filename)
    try:
        with open(p) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"{kind} store at {root} has no {filename} sidecar — not a "
            f"{kind} store (or written by hand); refusing to guess params"
        ) from None


@dataclass(frozen=True)
class MergeStore:
    """The lifecycle of the bounded-state MERGE stores (count-min,
    HLL, quantile histogram, Bloom, PCA moments, incremental agg): the
    whole state is one small frame, so every append rewrites
    merge(live, batch) in full — one coalesced parquet file, its
    ``_SCHEMA`` pin and the params sidecar in a fresh version dir —
    then flips the manifest ONCE.  A crash before the flip leaves the
    live version byte-identical.

    An instance holds only per-store constants: the ``sidecar`` file
    name, the store ``kind`` for error messages, the
    ``merge(old, new, **merge_args)`` kernel, and an optional
    ``repin(df, params)`` that re-attaches the sidecar params (the
    authority) as column metadata on load."""

    sidecar: str
    kind: str
    merge: Callable
    repin: Callable | None = None

    def params(self, path: str) -> dict:
        """Sidecar of the live version (use :meth:`load` for data)."""
        return read_sidecar(resolve_root(path), self.sidecar, self.kind)

    def write(self, frame, path: str, params: dict) -> None:
        new_v, root = begin_rewrite(path)
        frame.coalesce(1).write.mode("overwrite").parquet(root)
        pin_schema(root, frame.schema)
        write_sidecar(root, self.sidecar, params)
        commit_rewrite(path, new_v)

    def load(self, spark, path: str):
        """(state, params), both from ONE manifest resolve: two resolves
        could straddle a rewrite and pair one version's params with
        another's data, which no shape guard catches."""
        root = resolve_root(path)
        params = read_sidecar(root, self.sidecar, self.kind)
        df = read_pinned_parquet(spark, root)
        return (df if self.repin is None else self.repin(df, params)), params

    def fold(self, spark, path: str, build, *, batch_id=None, **merge_args):
        """Merge ``build(params)`` — the batch's state under the stored
        params — into the live state and write the next version.  A
        ``batch_id`` at or below the sidecar's ``last_batch_id`` is a
        no-op before any write (at-least-once replay); a folded one
        becomes the new mark, and without one the mark carries."""
        old, params = self.load(spark, path)
        last = params.get("last_batch_id")
        if batch_id is not None and last is not None and batch_id <= last:
            return  # replayed micro-batch: already folded in
        merged = self.merge(old, build(params), **merge_args)
        out = {k: v for k, v in params.items() if k != "last_batch_id"}
        mark = last if batch_id is None else batch_id
        if mark is not None:
            out["last_batch_id"] = mark
        self.write(merged, path, out)
