"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
from collections import Counter

import pytest

from perfbench import host, metrics, reports, workloads
from perfbench.tracing import Span, Tracer, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_same_seed_gives_identical_requests_and_twins():
    a, b = reports.generate(7, 3), reports.generate(7, 3)
    assert a == b
    assert reports.digest(a) == reports.digest(b)
    assert all(r["sql"].startswith("SELECT") for r in a)
    assert reports.digest(reports.generate(8, 3)) != reports.digest(a)


def test_every_block_has_the_fixed_mix():
    reqs = reports.generate(3, 5)
    for i in range(0, len(reqs), 20):
        kinds = Counter(r["kind"] for r in reqs[i:i + 20])
        assert kinds == {"page": 12, "keyset": 4, "json": 3, "excel": 1}


def test_effective_keys_follow_declaration_order_and_redirects():
    keys = reports.effective_keys(
        [["key", True], "total", ["balance", False], ["raw_balance", True],
         ["customer", True], ["no_such_key", False]])
    # balance redirects to raw_balance and wins it first; customer is not
    # orderable; unknown keys are dropped; order is declaration order
    assert keys == [("raw_balance", False), ("total", True), ("key", True)]


def test_ignored_filters_leave_no_predicate():
    preds = reports.where_sql({
        "not_a_column": {"eq": 1}, "customer": {"eq": "x"},
        "status": {"like": "%F%"}, "segment": {"regex": ".*", "eq": "BUILDING"},
    })
    assert preds == ["c_mktsegment = 'BUILDING'"]


def test_keyset_twin_null_boundary_admits_only_deeper_ties():
    sql = reports.keyset_sql([("total", True), ("key", False)],
                             {"total": None, "key": 5})
    assert sql == ("((round(o_totalprice, 2) IS NULL AND "
                   "(o_orderkey > 5 OR o_orderkey IS NULL)))")
    assert reports.keyset_sql([("key", False)], {"key": None}) == "FALSE"


def test_percentile_needs_ten_samples_beyond():
    assert metrics.samples_beyond(200, 95) == 10
    assert metrics.samples_beyond(199, 95) == 9
    values = [float(i) for i in range(1, 201)]
    assert metrics.valid_tail(values) == (95, 190.0)
    assert metrics.valid_tail(values[:60]) == (80, 48.0)
    assert metrics.valid_tail(values[:30]) is None


def _span(i, parent, t0, t1, name="x"):
    return Span(i, parent, name, 0, t0, t1)


def test_self_time_subtracts_nested_children_once():
    spans = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),
        # two overlapping children on worker threads: union is 5..8
        _span(3, 0, 5.0, 7.0),
        _span(4, 0, 6.0, 8.0),
        # a child that outlives its parent is clipped to the parent
        _span(5, 4, 7.5, 9.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 3 - 3)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[4] == pytest.approx(2 - 0.5)
    assert st[5] == pytest.approx(1.5)


def test_layer_self_ms_is_per_op_and_keeps_parent_pairs():
    spans = [
        _span(0, None, 0.0, 1.0, "op"),
        _span(1, 0, 0.0, 0.8, "render.to_view"),
        _span(2, 1, 0.1, 0.6, "spark.collect"),
        _span(3, None, 1.0, 2.0, "op"),
        _span(4, 3, 1.0, 1.5, "spark.collect"),
    ]
    ms = metrics.layer_self_ms(spans, n_ops=2)
    assert ms["render.to_view_ms"] == pytest.approx(150.0)
    assert ms["render.collect_ms"] == pytest.approx(250.0)
    assert ms["spark.exec_ms"] == pytest.approx(500.0)
    assert metrics.coverage(spans, 2.5) == pytest.approx(0.8)


def test_write_amp_counts_regular_files_once(tmp_path):
    store = tmp_path / "store" / "v00000"
    store.mkdir(parents=True)
    (store / "part-0.parquet").write_bytes(b"x" * 300)
    (tmp_path / "store" / "_CURRENT").write_text("0")
    outside = tmp_path / "input.parquet"
    outside.write_bytes(b"y" * 1000)
    os.symlink(outside, store / "link.parquet")  # not written by the store
    assert metrics.tree_bytes(str(tmp_path / "store")) == (301, 2)
    assert metrics.write_amp(301, 1000) == pytest.approx(0.301)
    assert metrics.write_amp(301, 0) == 0.0


def test_frozen_query_lists_split_the_headline():
    sys.path.insert(0, ROOT)
    from bench import HEADLINE

    read, write = set(workloads.READ_QUERIES), set(workloads.WRITE_QUERIES)
    assert not read & write
    assert read | write == set(HEADLINE)
    assert len(workloads.READ_QUERIES) + len(workloads.WRITE_QUERIES) == 61
    # the ingest slice: write queries plus the one Python-worker read query
    assert set(workloads.INGEST_QUERIES) - write == {"multimodal_audio_features"}


def test_store_kind_names():
    assert workloads.store_kind("write_hll_store") == "write"
    assert workloads.store_kind("append_cms_cells") == "append"
    assert workloads.store_kind("estimate_hll_store") == "probe_build"
    assert workloads.store_kind("read_cms_params") is None


def test_steal_share_is_of_runnable_time():
    # user nice system idle iowait irq softirq steal
    before = [100, 0, 50, 1000, 10, 0, 0, 40]
    after = [400, 0, 150, 1300, 10, 0, 0, 140]
    runnable, of_all = metrics.steal_shares(before, after)
    assert runnable == pytest.approx(100 / (300 + 100 + 100))
    assert of_all == pytest.approx(100 / 800)
    assert metrics.steal_shares(before, before) == (0.0, 0.0)
    assert metrics.net_of_steal(0.0) == 1.0
    assert metrics.net_of_steal(0.5) < 0.5


def test_tracer_keeps_every_span_from_concurrent_threads():
    import threading

    tracer = Tracer()
    traced = tracer.wrap(lambda: None, "leaf")
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with tracer.op(1, "op") as root:
            threads = [threading.Thread(target=lambda: [traced() for _ in range(200)])
                       for _ in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    leaves = [s for s in tracer.spans if s.name == "leaf"]
    assert len(leaves) == 8 * 200
    assert len({s.id for s in tracer.spans}) == len(tracer.spans)
    # spans opened on threads without a stack hang under the running op
    assert all(s.parent == root.id and s.op == 1 for s in leaves)


def test_wait_gone_ends_processes_left_by_a_dead_parent():
    host.adopt_orphans()
    sh = subprocess.Popen(["sh", "-c", "sleep 60 & echo $!; wait"],
                          stdout=subprocess.PIPE, text=True)
    sleeper = int(sh.stdout.readline())
    under = host.descendants(sh.pid)
    assert sleeper in [p for p, _s in under]
    sh.kill()
    sh.wait()
    sh.stdout.close()
    # the sleep outlives its parent until it is signalled
    assert host._start_ticks(sleeper) is not None
    host._wait_gone(under, timeout=0.2)
    assert host._start_ticks(sleeper) is None
    assert not os.path.exists(f"/proc/{sleeper}")  # reaped, not a zombie
