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

Every store here goes through one of two lifecycles: the six
bounded-state merge stores through :class:`MergeStore`, the four
file-additive stores (LSH bands, IVF cells, IVFPQ codes, term index)
through :class:`FileStore`.  The primitives below are theirs.

A merge store declares four things: its sidecar file, its kind, its
merge kernel (for the five cell stores one :func:`cell_merge`: cell
keys and one associative aggregate per value column), and, for the
three sketches whose shape rides in a value column's Spark metadata
(count-min width/depth, HLL precision, histogram range), the
:class:`ShapePin` mapping sidecar keys to metadata keys.  Builders pin
the shape through it, merges and probes read it back through it, and
the store derives its sidecar from it on write and re-pins it from the
sidecar (the authority) on load — no module outside this one touches
column metadata.
"""

from __future__ import annotations

import json
import os
import posixpath
import re
import shutil
from dataclasses import dataclass
from typing import Callable, NamedTuple

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


class ShapePin(NamedTuple):
    """Where a sketch's shape rides: ``keys`` maps each sidecar key to
    the metadata key it sits under on value ``column`` (zero runtime
    cost; survives projection, union and parquet).  ``noun`` names the
    builder's output in the refusal of an unpinned input, and ``what``
    names the shape in the refusal of a mismatched one."""

    column: str
    keys: dict[str, str]
    noun: str
    what: str = "shape"

    def pin(self, col, params: dict):
        """``col`` aliased to the pinned column, carrying ``params``."""
        return col.alias(self.column, metadata={
            meta: params[key] for key, meta in self.keys.items()
        })

    def of(self, df, where: str) -> dict:
        """The sidecar-keyed shape pinned on ``df``; raises, naming
        ``where``, when ``df`` carries none — merging or probing under a
        guessed shape would silently undercount."""
        meta = df.schema[self.column].metadata if self.column in df.columns else {}
        if not all(m in meta for m in self.keys.values()):
            raise ValueError(
                f"{where}: input is not {self.noun} (missing "
                f"{'/'.join(self.keys.values())} metadata on `{self.column}`)"
            )
        return {key: meta[m] for key, m in self.keys.items()}

    def same(self, frames, where: str) -> dict:
        """The one shape pinned on every frame; raises on a mismatch —
        cross-shape cells do not align."""
        first, *rest = [self.of(df, where) for df in frames]
        for other in rest:
            if other != first:
                raise ValueError(f"{where}: {self.what} mismatch {first} vs {other}")
        return first


def cell_merge(
    keys: tuple[str, ...],
    values: dict,
    *,
    where: str,
    shape: ShapePin | None = None,
    grouped: bool = False,
) -> Callable:
    """The merge kernel of a cell-state store: union the frames, group
    by the cell ``keys`` and fold each value column with its associative
    aggregate (``values``: column → ``functions.sum``/``max``/
    ``bit_or``), so merge(A, B) is the state of A ∪ B.  One frame is a
    plain re-aggregation.

    Refuses, naming ``where``: an input without ``shape``'s pin, frames
    whose pins differ, and column sets that do not line up — exactly
    keys + values, or with ``grouped`` the same extra group columns on
    every frame (they lead the grouping key).  The merged pin is
    re-attached: an aggregate drops column metadata."""
    cells = set(keys) | set(values)

    def merge(*frames):
        for df in frames if shape else ():
            shape.of(df, where)
        group = [c for c in frames[0].columns if c not in cells]
        for i, df in enumerate(frames):
            if not grouped and set(df.columns) != cells:
                raise ValueError(
                    f"{where}: input {i} must have exactly columns "
                    f"{sorted(cells)}, got {df.columns} — merge grouped "
                    f"cells per-segment, not through {where}"
                )
            if grouped and {c for c in df.columns if c not in cells} != set(group):
                raise ValueError(
                    f"{where}: group columns differ: "
                    f"{frames[0].columns} vs {df.columns}"
                )
        pin = shape.same(frames, where) if shape else None
        aggs = [
            shape.pin(fn(c), pin) if shape and c == shape.column
            else fn(c).alias(c)
            for c, fn in values.items()
        ]
        union = frames[0]
        for df in frames[1:]:
            union = union.unionByName(df)
        return union.groupBy(*group, *keys).agg(*aggs)

    return merge


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
    ``merge(old, new, **merge_args)`` kernel, and for a sketch the
    :class:`ShapePin` of its shape: :meth:`write` then takes the sidecar
    from the frame's pin, and :meth:`load` re-pins the sidecar (the
    authority) onto the loaded column."""

    sidecar: str
    kind: str
    merge: Callable
    shape: ShapePin | None = None

    def params(self, path: str) -> dict:
        """Sidecar of the live version (use :meth:`load` for data)."""
        return read_sidecar(resolve_root(path), self.sidecar, self.kind)

    def write(self, frame, path: str, params: dict | None = None) -> None:
        """``frame`` as a new version; a sketch's ``params`` default to
        the shape pinned on ``frame``."""
        if params is None:
            params = self.shape.of(frame, f"write_{self.kind}_store")
        new_v, root = begin_rewrite(path)
        frame.coalesce(1).write.mode("overwrite").parquet(root)
        pin_schema(root, frame.schema)
        write_sidecar(root, self.sidecar, params)
        commit_rewrite(path, new_v)

    def load(self, spark, path: str):
        """(state, params), both from ONE manifest resolve: two resolves
        could straddle a rewrite and pair one version's params with
        another's data, which no shape guard catches."""
        from pyspark.sql import functions as F

        root = resolve_root(path)
        params = read_sidecar(root, self.sidecar, self.kind)
        df = read_pinned_parquet(spark, root)
        if self.shape is not None:
            df = df.select(*[
                self.shape.pin(F.col(c), params) if c == self.shape.column
                else c for c in df.columns
            ])
        return df, params

    def fold(self, spark, path: str, build, *, batch_id=None, **merge_args):
        """Merge ``build(params)`` — the batch's state under the stored
        params — into the live state and write the next version.  A
        ``batch_id`` at or below the sidecar's ``last_batch_id`` is a
        no-op before any write (at-least-once replay); a folded one
        becomes the new mark, and without one the mark carries."""
        old, params = self.load(spark, path)
        if _replayed(params, batch_id):
            return  # replayed micro-batch: already folded in
        merged = self.merge(old, build(params), **merge_args)
        self.write(merged, path, _with_mark(params, params, batch_id))


def _replayed(sidecar: dict, batch_id) -> bool:
    """Whether ``batch_id`` is at or below the sidecar's replay
    high-water mark (at-least-once redelivery of a folded batch)."""
    last = sidecar.get("last_batch_id")
    return batch_id is not None and last is not None and batch_id <= last


def _with_mark(out: dict, live: dict, batch_id) -> dict:
    """``out`` with the replay high-water mark: the folded ``batch_id``,
    else the ``live`` sidecar's mark carried through (a rewrite that
    drops it would let a redelivered batch fold twice)."""
    out = {k: v for k, v in out.items() if k != "last_batch_id"}
    mark = live.get("last_batch_id") if batch_id is None else batch_id
    if mark is not None:
        out["last_batch_id"] = mark
    return out


@dataclass(frozen=True)
class FileStore:
    """The lifecycle of the FILE-ADDITIVE stores (MinHash-LSH bands,
    IVF cells, IVFPQ codes, term index): the data is a parquet file set
    too large to rewrite per batch, so an append adds files and only
    a write or a compaction writes a fresh version dir — every part
    written and ``_SCHEMA``-pinned, the params sidecar, then ONE
    manifest flip.  A crash before the flip leaves the live version
    byte-identical.

    An instance holds only per-store constants: the ``sidecar`` file
    name, the store ``kind`` for error messages, and the store's
    ``parts`` as ``(subdir, partition column)`` pairs — a partitioned
    part is ``repartition(col)`` before ``partitionBy(col)`` so each
    partition lands in O(1) files, not (tasks × partitions).  The parts
    of one store are independent projections, so a multi-part write,
    append or compaction overlaps its part jobs (guide §2.6): each
    write's tail back-fills with the next part's tasks, every thread
    owns its own directory, and the flip waits for all of them."""

    sidecar: str
    kind: str
    #: (subdirectory of the version root or None for the root itself,
    #: ``partitionBy`` column or None) per part
    parts: tuple[tuple[str | None, str | None], ...]

    def _dir(self, root: str, sub: str | None) -> str:
        return root if sub is None else posixpath.join(root, sub)

    def open(self, path: str, params: dict | None = None) -> tuple[str, dict]:
        """(root, sidecar) of the live version from ONE manifest
        resolve — read the data from that same root (:meth:`read`): two
        resolves could straddle a rewrite and pair one version's params
        with another's data.  Refuses a sidecar that differs from
        ``params`` when given: keys, cells or codes computed under other
        params never match the stored ones, a silent zero or wrong
        result rather than an error."""
        root = resolve_root(path)
        stored = read_sidecar(root, self.sidecar, self.kind)
        if params is not None and stored != params:
            raise ValueError(
                f"{self.kind} store at {path}: params mismatch — the store "
                f"has {stored}, the caller passed {params}; use the stored "
                "params or rebuild the store"
            )
        return root, stored

    def read(self, spark, root: str, sub: str | None = None):
        """The part at ``sub`` of the ALREADY-RESOLVED version ``root``,
        read with its pinned schema."""
        return read_pinned_parquet(spark, self._dir(root, sub))

    def _write_parts(self, root: str, frames, mode: str) -> None:
        def one(part, frame) -> None:
            sub, col = part
            out = self._dir(root, sub)
            w = (frame.repartition(col).write.partitionBy(col) if col
                 else frame.write)
            w.mode(mode).parquet(out)
            if mode == "overwrite":
                pin_schema(out, frame.schema, (col,) if col else ())

        jobs = list(zip(self.parts, frames))
        if len(jobs) == 1:
            one(*jobs[0])
            return
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            for fut in [pool.submit(one, *job) for job in jobs]:
                fut.result()

    def _flip(self, path: str, new_v: int, root: str, sidecar: dict) -> None:
        write_sidecar(root, self.sidecar, sidecar)
        commit_rewrite(path, new_v)

    def write(self, path: str, frames, params) -> None:
        """A fresh version of ``frames`` (one per part).  ``params`` is
        the sidecar, or a callable returning it once the parts landed
        (stats observed during the write)."""
        new_v, root = begin_rewrite(path)
        self._write_parts(root, frames, "overwrite")
        self._flip(path, new_v, root, params() if callable(params) else params)

    def append(
        self, path: str, build, *, params=None, restat=None, batch_id=None
    ) -> None:
        """Fold a batch in: ``build(sidecar)`` returns its frame per
        part under the stored params; ``params``, when given, must equal
        the sidecar.  A batch whose read-back schema differs from a
        part's ``_SCHEMA`` pin is refused before anything lands.

        The posture follows from whether the append writes a new
        sidecar.  Without ``restat`` the sidecar stays, and the batch's
        files land IN the live version: additive, so a racing reader
        sees either file set, both complete.  With ``restat(sidecar,
        root)`` returning the new sidecar (stats that move with the
        data), the new version = hardlinks to every live file
        (:func:`link_carryover`) + the batch's files + the new sidecar,
        then one flip; a ``batch_id`` at or below the sidecar's
        ``last_batch_id`` is a no-op before any write, and a folded one
        becomes the new mark."""
        root, stored = self.open(path, params)
        if _replayed(stored, batch_id):
            return  # replayed micro-batch: already folded in
        frames = build(stored)
        for (sub, col), frame in zip(self.parts, frames):
            check_append_schema(
                path, self._dir(root, sub), frame.schema,
                (col,) if col else (),
            )
        if restat is None:
            self._write_parts(root, frames, "append")
            return
        new_v, new_root = begin_rewrite(path)
        # A crashed earlier attempt leaves a torn new_root that
        # begin_rewrite re-issues (the manifest never flipped): clear it,
        # or carryover hits its own leftover hardlinks and the batch's
        # files land a SECOND time (mode("append") does not self-heal).
        shutil.rmtree(new_root, ignore_errors=True)
        link_carryover(root, new_root, skip_files=(self.sidecar,))
        self._write_parts(new_root, frames, "append")
        self._flip(
            path, new_v, new_root,
            _with_mark(restat(stored, new_root), stored, batch_id),
        )

    def kept(self, spark, root: str, drop_ids, id_col: str,
             broadcast_drops: bool = True) -> tuple:
        """Every part of the version at ``root`` with ``drop_ids`` (one
        column of ids) anti-joined out, lazily.  ``broadcast_drops=False``
        plans shuffled anti-joins (both sides exchange on id) — required
        when the drop set is corpus-fraction-sized, past any broadcast
        limit."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import broadcast

        drops = drop_ids.select(F.col(drop_ids.columns[0]).alias(id_col))
        maybe_bc = broadcast if broadcast_drops else (lambda d: d)
        return tuple(
            self.read(spark, root, sub).join(maybe_bc(drops), id_col, "left_anti")
            for sub, _col in self.parts
        )

    def compact(self, spark, path: str, drop_ids, id_col: str, *,
                broadcast_drops: bool = True, restat=None) -> None:
        """Rewrite the live version without ``drop_ids`` into a fresh
        version dir, partitioning preserved.  The sidecar carries over
        verbatim — compaction changes membership, never the layout —
        unless ``restat(sidecar, new_root)`` recomputes it from the
        kept data.  Data and sidecar come from ONE manifest resolve."""
        root, stored = self.open(path)
        frames = self.kept(spark, root, drop_ids, id_col, broadcast_drops)
        new_v, new_root = begin_rewrite(path)
        self._write_parts(new_root, frames, "overwrite")
        sidecar = stored if restat is None else _with_mark(
            restat(stored, new_root), stored, None
        )
        self._flip(path, new_v, new_root, sidecar)
