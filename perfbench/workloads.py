"""The workloads, their frozen query lists, and the per-run state.

``report_requests`` serves seeded report requests (pages, keyset pages,
JSON aggregations, Excel exports) from one declared spec at sf0.01.
``store_ingest`` (sf0.01) runs registered headline queries through the
registry function and then the noop sink; each pass reads the tables
through a fresh alias directory, so every store it writes starts empty.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil
import tempfile
import time
import traceback

from perfbench import reports
from perfbench.datagen import TABLES
from perfbench.host import cpu_jiffies
from perfbench.metrics import steal_shares

# The 61 headline queries of bench.py, split by whether a query writes
# files.  The split was confirmed by watching /tmp and the SQL warehouse
# for new entries around each query: seven stores under /tmp, the gram
# index table of dedup_span_index_probe in the warehouse, and the input,
# checkpoint and sink directories of the three stream_* queries.
# sim_ivfpq_ann_topk builds its index in memory and writes nothing.
WRITE_QUERIES = (
    "dedup_incremental_index_probe", "dedup_span_index_probe",
    "sim_ivf_store_probe", "dedup_bloom_store_probe",
    "search_bm25_store_probe", "sketch_cms_store_probe",
    "sketch_hll_store_probe", "sketch_quantile_store_probe",
    "stream_term_index_ingest", "stream_tumbling_watermark",
    "stream_session_window_stateful",
)
READ_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "agg_cube", "window_topk_per_group", "engine_param_query",
    "json_driven_query", "dedup_exact", "dedup_minhash_lsh",
    "text_quality_score", "text_bpe_token_count", "sim_cosine_topk",
    "events_sessionize", "events_funnel", "asof_join_last_click",
    "q9_product_profit", "q21_waiting_supplier", "dedup_connected_components",
    "sim_quantized_prerank", "curation_token_budget_mix",
    "dedup_contamination_large_probe", "multimodal_audio_features",
    "sim_pq_ann_topk", "sim_ivfpq_ann_topk", "dedup_duplicate_spans",
    "layout_zorder_histogram", "dedup_semantic_semdedup",
    "curation_dsir_select", "text_unigram_logprob",
    "layout_quantile_bucket_histogram", "dedup_bloom_decontaminate",
    "shard_plan_balance", "sketch_cms_error_audit", "search_hard_negatives",
    "cdc_incremental_join_agg", "ts_gapfill_interpolate",
    "linkage_match_topk", "stats_groupwise_ols", "events_dau_wau_stickiness",
    "ts_rolling_anomaly", "quality_referential_integrity",
    "corpus_term_drift", "stats_bootstrap_means", "events_survival_curve",
    "stats_cuped_adjusted", "dedup_lsh_recall_audit", "simhash_recall_audit",
    "skew_salted_join", "multimodal_image_features", "sim_recall_report",
)

# What one pass executes.  A whole run (session, warm-up, timed window,
# checks) has to stay near a minute, so a pass is a fixed slice of the
# write list: two merge stores (HLL, quantile histogram), a
# file-additive store (IVF) and the stateful streaming query, 4-6 s of
# warm work on 4 idle cores.  None of them starts a Python worker, so the slice adds
# one read query whose plan does (multimodal_audio_features decodes
# payloads in mapInPandas): the Python-worker layer is measured here.
INGEST_QUERIES = (
    "sketch_hll_store_probe", "sketch_quantile_store_probe",
    "sim_ivf_store_probe", "stream_session_window_stateful",
    "multimodal_audio_features",
)

#: scale factor of the tables each workload reads
SCALE = {"report_requests": 0.01, "store_ingest": 0.01}

#: /tmp store directories the write queries derive from md5(sf_dir).
STORE_KINDS = (
    "bloom_store", "cms_store", "hll_store", "ivf_store", "minhash_idx",
    "qh_store", "term_store",
)
STREAM_GLOB = "/tmp/ubw_spark_stream_*"

#: store family → defining module, for the families the ingest slice
#: writes; functions named write_*, append_*, probe_*, estimate_* and
#: load_* are traced as the family's write, append and probe-build spans.
STORE_FAMILIES = {
    "hll": "ubw_spark.operators.hll",
    "quantile": "ubw_spark.operators.qsketch",
    "ivf": "ubw_spark.operators.ivf",
}


def store_kind(fn_name: str) -> str | None:
    if fn_name.startswith("write_"):
        return "write"
    if fn_name.startswith("append_"):
        return "append"
    if fn_name.startswith(("probe_", "estimate_", "load_")):
        return "probe_build"
    return None


def sf_hash(sf_dir: str) -> str:
    return hashlib.md5(sf_dir.encode()).hexdigest()[:10]


def store_paths(sf_dir: str) -> list[str]:
    h = sf_hash(sf_dir)
    return [f"/tmp/ubw_spark_{k}_{h}" for k in STORE_KINDS]


def make_alias(data_dir: str, parent: str) -> str:
    """A fresh directory of symlinks to the tables: the same bytes under a
    path no earlier run has hashed, so derived store paths start empty."""
    d = tempfile.mkdtemp(prefix="alias-", dir=parent)
    for name in TABLES:
        os.symlink(os.path.join(data_dir, f"{name}.parquet"),
                   os.path.join(d, f"{name}.parquet"))
    return d


def permuted(names: tuple[str, ...], rng: random.Random) -> list[str]:
    out = list(names)
    rng.shuffle(out)
    return out


class Ctx:
    """Per-run state shared by the workload runners."""

    def __init__(self, spark, tracer, work: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.op_seq = 0
        self.traced = False
        self.op_groups: list[tuple[int, str, str]] = []

    def next_op(self, name: str) -> int:
        self.op_seq += 1
        if self.traced:
            group = f"perfbench-{self.op_seq}"
            self.spark.sparkContext.setJobGroup(group, name)
            self.op_groups.append((self.op_seq, name, group))
        return self.op_seq


# --------------------------------------------------------------- queries


def run_query(ctx: Ctx, name: str, sf_dir: str, sink: str):
    """One registered query: registry function, then the sink.  Returns
    (seconds, (columns, pandas frame) or None)."""
    from ubw_spark.queries import REGISTRY

    tr = ctx.tracer
    op = ctx.next_op(name)
    with tr.op(op, name):
        t0 = time.perf_counter()
        with tr.span("queries.fn", {"query": name}):
            df = REGISTRY[name].fn(ctx.spark, sf_dir)
        if sink == "noop":
            with tr.span("spark.exec"):
                df.write.format("noop").mode("overwrite").save()
            result = None
        else:
            result = (df.columns, df.toPandas())
        dt = time.perf_counter() - t0
    return dt, result


class PassResult:
    def __init__(self, order: list[str]):
        self.order = order
        self.times: dict[str, float] = {}
        self.steal: dict[str, float] = {}
        self.errors: dict[str, str] = {}
        self.results: dict[str, tuple] = {}
        self.wall = 0.0
        self.written: list[str] = []
        self.written_bytes = 0
        self.store_live_bytes = 0
        self.store_total_bytes = 0
        self.store_total_files = 0


def run_pass(ctx: Ctx, order: list[str], data_dir: str, sink: str) -> PassResult:
    """One pass over ``order`` with its own fresh alias directory: the
    stores it writes are checked absent before, measured after, and
    deleted."""
    sf_dir = make_alias(data_dir, ctx.work)
    stores = store_paths(sf_dir)
    leftover = [p for p in stores if os.path.exists(p)]
    if leftover:
        raise RuntimeError(f"store paths exist before the pass: {leftover}")
    streams_before = set(glob.glob(STREAM_GLOB))
    res = PassResult(order)
    t0 = time.perf_counter()
    for name in order:
        j0 = cpu_jiffies()
        try:
            dt, out = run_query(ctx, name, sf_dir, sink)
        except Exception:  # a failed op is counted, the run goes on
            res.errors[name] = traceback.format_exc()[-2000:]
            continue
        res.times[name] = dt
        res.steal[name] = steal_shares(j0, cpu_jiffies())[0]
        if out is not None:
            res.results[name] = out
    res.wall = time.perf_counter() - t0
    res.written = [p for p in stores if os.path.exists(p)] + sorted(
        set(glob.glob(STREAM_GLOB)) - streams_before
    )
    _account_and_delete(res, sf_dir)
    return res


def _account_and_delete(res: PassResult, sf_dir: str) -> None:
    from ubw_spark.operators import versioned

    from perfbench.metrics import tree_bytes

    for p in res.written:
        res.written_bytes += tree_bytes(p)[0]
        if os.path.exists(os.path.join(p, versioned.MANIFEST)):
            st = versioned.store_stats(p)
            vs = st["versions"]
            res.store_total_bytes += sum(v["bytes"] for v in vs.values())
            res.store_total_files += sum(v["files"] for v in vs.values())
            if st["current"] in vs:
                res.store_live_bytes += vs[st["current"]]["bytes"]
    for p in res.written:
        shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(sf_dir, ignore_errors=True)


# --------------------------------------------------------------- reports


class ReportService:
    """The request side: one base plan and one spec serve every request."""

    def __init__(self, ctx: Ctx, sf_dir: str):
        from pyspark.sql import functions as F

        from ubw_spark.queries import registry

        self.ctx = ctx
        self.sf_dir = sf_dir
        orders = registry.table(ctx.spark, sf_dir, "orders")
        customer = registry.table(ctx.spark, sf_dir, "customer")
        self.base = orders.join(F.broadcast(customer),
                                orders["o_custkey"] == customer["c_custkey"])
        self.spec = reports.build_spec()
        self.excel_dir = os.path.join(ctx.work, "excel")
        os.makedirs(self.excel_dir, exist_ok=True)

    def serve(self, i: int, req: dict):
        """Serve one request; returns what the client receives (rows, or
        the path of the written workbook)."""
        import ubw_spark.params as params_mod
        import ubw_spark.render as render_mod
        import ubw_spark.sources.excel as excel_mod
        from ubw_spark.core import jsonquery as jq_mod
        from ubw_spark.queries import registry

        kind = req["kind"]
        if kind == "json":
            df = jq_mod.compile_json_query(
                self.ctx.spark, req["query"],
                lambda n: registry.table(self.ctx.spark, self.sf_dir, n),
            )
            return df.columns, [tuple(r) for r in df.collect()]
        orders = [o if isinstance(o, str) else tuple(o) for o in req["orders"]]
        if kind == "page":
            p = params_mod.QueryParams(
                filters=req["filters"], orders=orders,
                page_index=req["page_index"], page_size=req["page_size"])
        else:
            p = params_mod.QueryParams(
                filters=req["filters"], orders=orders, take=req["take"],
                after_key=req.get("after_key"))
        if kind == "excel":
            path = os.path.join(self.excel_dir, f"r{i}.xlsx")
            excel_mod.write_excel_view(
                self.base, self.spec, path, params=p,
                style_params={"total": req["decimals"]})
            return path
        view = render_mod.to_view(
            params_mod.apply_params(self.base, self.spec, p), self.spec)
        return reports.VISIBLE, [
            tuple(row[c] for c in reports.VISIBLE) for row in view["data"]
        ]


def serve_requests(ctx: Ctx, svc: ReportService, reqs: list[dict],
                   start: int, seconds: float):
    """Closed loop, one client: the next request is sent when the previous
    one has returned, until the window closes.  Returns (latencies in
    seconds, the steal share of runnable CPU time during each request,
    answers, errors, next index)."""
    lat: list[float] = []
    steal: list[float] = []
    answers: dict[int, object] = {}
    errors: dict[int, str] = {}
    i = start
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds and i < len(reqs):
        req = reqs[i]
        op = ctx.next_op(req["kind"])
        with ctx.tracer.op(op, req["kind"]):
            j0 = cpu_jiffies()
            a = time.perf_counter()
            try:
                answers[i] = svc.serve(i, req)
            except Exception:  # counted as failed, the loop goes on
                errors[i] = traceback.format_exc()[-2000:]
            lat.append(time.perf_counter() - a)
            steal.append(steal_shares(j0, cpu_jiffies())[0])
        i += 1
    return lat, steal, answers, errors, i
