"""Pure metric arithmetic: percentiles, geometric means, per-layer self
times from spans, and write-amplification byte accounting."""

from __future__ import annotations

import math
import os
import statistics

from perfbench.tracing import Span, self_times

#: Tail percentiles tried from the highest down.
TAIL_PERCENTILES = (99, 95, 90, 80, 75)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 · n))."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100 * len(xs)))
    return xs[k - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly beyond the nearest-rank
    ``p``-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def valid_tail(values: list[float], min_beyond: int = 10):
    """(p, value) for the highest percentile in :data:`TAIL_PERCENTILES`
    with at least ``min_beyond`` samples beyond it, or None when even the
    lowest has too few."""
    for p in TAIL_PERCENTILES:
        if samples_beyond(len(values), p) >= min_beyond:
            return p, percentile(values, p)
    return None


def steal_shares(before: list[int], after: list[int]) -> tuple[float, float]:
    """(of runnable, of all) from two readings of the ``cpu`` line of
    /proc/stat (user nice system idle iowait irq softirq steal ...).

    Steal of runnable time, steal ÷ (busy + steal), is the share of the
    time some thread wanted a CPU that the host withheld; see
    :func:`net_of_steal` for how it turns into a time net of steal."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    runnable = busy + d[7]
    total = sum(d[:8])
    return (d[7] / runnable if runnable else 0.0,
            d[7] / total if total else 0.0)


#: Wall time stretches faster than 1 ÷ (1 − steal share): a request or
#: query is a chain of hand-offs between the Python driver, the JVM and
#: its task threads, and each hand-off waits for a vCPU the host may be
#: holding.  On a shared 4-vCPU virtual machine, runs of both workloads
#: at 0-50% steal fitted (1 − share) ** -1.2 to -1.4 (report requests:
#: per-request log-log slope -1.40 over 392 requests; set-up and ingest
#: passes near -1.2 to -1.25); 1.25 serves both.
STEAL_EXPONENT = 1.25


def net_of_steal(share: float) -> float:
    """Factor that turns a wall-clock time during which ``share`` of the
    runnable CPU time was stolen into the time net of steal."""
    return (1.0 - share) ** STEAL_EXPONENT


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


#: per-layer metric → the span names whose self time it sums.  A
#: ``(parent, child)`` pair sums only children of that parent name.
LAYER_SPANS: dict[str, tuple] = {
    "registry.table_ms": ("registry.table", "registry.read"),
    "params.apply_ms": ("params.apply",),
    "spec.frame_ms": ("spec.frame",),
    "jsonquery.compile_ms": ("jsonquery.compile",),
    "render.to_view_ms": ("render.to_view",),
    "render.properties_ms": ("render.properties",),
    "render.collect_ms": (("render.to_view", "spark.collect"),),
    "excel.write_ms": ("excel.write",),
    "queries.fn_ms": ("queries.fn",),
    "spark.exec_ms": ("spark.exec", "spark.collect"),
    "versioned.commit_ms": ("versioned.commit",),
    "versioned.pin_ms": ("versioned.pin",),
    "versioned.read_pinned_ms": ("versioned.read_pinned",),
    "stream.run_ms": ("stream.run",),
}


def layer_self_ms(spans: list[Span], n_ops: int) -> dict[str, float]:
    """Per-layer self time in ms per op, plus ``store.<family>.<kind>_ms``
    for every store span and the benchmark's own time between calls
    (``bench.self_ms``)."""
    st = self_times(spans)
    by_id = {s.id: s for s in spans}
    totals: dict[str, float] = {}
    for s in spans:
        parent = by_id[s.parent].name if s.parent is not None else None
        for metric, names in LAYER_SPANS.items():
            for n in names:
                if n == s.name or (isinstance(n, tuple) and n == (parent, s.name)):
                    totals[metric] = totals.get(metric, 0.0) + st[s.id]
        if s.name.startswith("store."):
            totals[f"{s.name}_ms"] = totals.get(f"{s.name}_ms", 0.0) + st[s.id]
        if s.name == "op":
            totals["bench.self_ms"] = totals.get("bench.self_ms", 0.0) + st[s.id]
    # a spark.collect span under to_view is counted in both render.collect
    # and spark.exec: the former is a view of the latter, not extra time
    return {k: 1000.0 * v / max(n_ops, 1) for k, v in totals.items()}


def coverage(spans: list[Span], wall_s: float) -> float:
    """Share of the timed wall covered by top-level op spans."""
    covered = sum(s.t1 - s.t0 for s in spans if s.parent is None)
    return covered / wall_s if wall_s > 0 else 0.0


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``; symlinks are
    not followed and not counted."""
    n_bytes = n_files = 0
    if os.path.isfile(path) and not os.path.islink(path):
        return os.path.getsize(path), 1
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                n_bytes += os.path.getsize(p)
                n_files += 1
    return n_bytes, n_files


def write_amp(written_bytes: int, input_bytes: int) -> float:
    """Bytes on disk under the paths a pass wrote (stores, sinks,
    checkpoints, staged stream input; see :func:`tree_bytes`) ÷ bytes of
    the input tables its queries read, each table counted once per query
    that read it."""
    return written_bytes / input_bytes if input_bytes else 0.0
