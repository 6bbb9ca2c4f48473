"""Benchmark command: one workload, one process, ``local[4]``.

    python3 perfbench/run.py --workload report_requests --seed 1 \\
        --seconds 20 --trace 0

Workloads (see BENCHMARK.json): ``report_requests`` and ``store_ingest``.
All load comes from this process as a closed loop with one client: the next
request or query is sent when the previous one has returned.

A run builds its input tables on first use under ``.bench_build/`` in
the checkout, warms up, measures for ``--seconds``, checks every answer
against DuckDB outside the timed window, and prints the end-to-end
metrics (``--trace 0``) or, after a second, traced window, the per-layer
metrics (``--trace 1``).  End-to-end times are net of hypervisor steal
(see ``host.py``); the raw wall-clock figures, steal shares and CPU time
are kept in the run's record under ``.bench_build/perfbench/results/``.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the exit code is
1 if any op raised or returned a wrong answer.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("report_requests", "store_ingest")
CORES = 4


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_main = time.time()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import host

    # a TERM signal unwinds through the clean-up below like an error
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host.adopt_orphans()
    if not (os.path.isdir(os.path.join(ROOT, "ubw_spark"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_correctness.py"))):
        print("perfbench: ubw_spark/ and tools/ not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    from perfbench import datagen, workloads

    setup = host.Meter()
    t_proc = host.process_start_time(t_main)
    build = os.path.join(ROOT, ".bench_build", "perfbench")
    tmp = os.path.join(build, "tmp")
    for d in (tmp, os.path.join(build, "runs"), os.path.join(build, "results")):
        os.makedirs(d, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(build, "runs"))
    # Spark's scratch space and Python's temp files stay in the checkout;
    # Python workers import the engine from it
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    load_1m = os.getloadavg()[0]
    sf = workloads.SCALE[args.workload]
    t = time.time()
    data_dir = datagen.ensure_tables(os.path.join(build, "data"), sf)
    data_gen_s = time.time() - t

    from ubw_spark.session import get_session

    t = time.perf_counter()
    spark = None
    try:
        spark = get_session(
            "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_build_s = time.perf_counter() - t
        run = RUNNERS[args.workload](spark, args, data_dir, work, setup)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        rss = host.vm_hwm_mb(os.getpid()) + (host.vm_hwm_mb(jvm.pid) if jvm else 0.0)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        # the JVM and its Python workers have ended when this returns
        host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    import pyspark

    # set-up: process start to the first timed op, less the one-off table
    # generation, net of steal like every other end-to-end time
    setup_raw = run["t_first_op"] - t_proc - data_gen_s
    e2e = {"setup_s": (setup_raw * setup.net, "s"), **run["e2e"]}
    prov = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale_factor": sf, "data_version": datagen.VERSION,
        "nproc": os.cpu_count(), "cores": CORES, "load_1m_at_start": load_1m,
        "pyspark": pyspark.__version__, "java": java, "data_gen_s": data_gen_s,
        "setup": {**setup.record(), "setup_raw_s": setup_raw},
        **run["provenance"],
    }
    layers = {}
    if args.trace:
        layers = {"session.build_s": (session_build_s, "s"),
                  "process.peak_rss_mb": (rss, "MB"), **run["layers"]}
    record = {
        "provenance": prov,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "per_layer": {k: v for k, (v, _u) in layers.items()},
        "peak_rss_mb": rss,
        "details": run["details"],
        "problems": run["problems"],
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(
        build, "results", f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}.json"
    ), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print("provenance " + json.dumps(prov, default=str))
    for p in run["problems"][:20]:
        print("WRONG " + p)
    shown = layers if args.trace else e2e
    for k, (v, u) in shown.items():
        print(f"{k:32s} {v:14.4f} {u}")
    for line in run["notes"] + [f"peak RSS {rss:.0f} MB"]:
        print(line)
    correct = not run["problems"] and run["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0 if correct else 1


# ------------------------------------------------------------ workloads


def _traced(spark, ctx, work: str, body):
    """Run ``body()`` as a traced window: patches, job groups, stream
    listener and the Python UDF profiler on, then all off again."""
    from perfbench.host import Meter
    from perfbench.layers import SparkWindow, instrument
    from perfbench.tracing import NullTracer, Tracer

    tracer = Tracer()
    instrument(tracer, spark)
    ctx.tracer, ctx.traced = tracer, True
    try:
        with SparkWindow(spark, os.path.join(work, "profile")) as sw:
            meter = Meter()
            out = body()
            meter.stop()
    finally:
        tracer.unpatch()
        ctx.tracer, ctx.traced = NullTracer(), False
    # status and listener events trail the actions by a little
    time.sleep(0.5)
    streams = sw.stream_spans(tracer)
    jobs = sw.job_counts(ctx.op_groups)
    udf_s = sw.udf_seconds()
    tracer.dump(os.path.join(ROOT, ".bench_build", "perfbench", "results",
                             "last-spans.jsonl"))
    return out, tracer, meter, {"streams": streams, "jobs": jobs, "udf_s": udf_s}


def _layer_table(tracer, meter, n_ops: int, seen: dict, overhead: float) -> dict:
    """Every per-layer metric, zero where the workload has no such work."""
    from perfbench.metrics import coverage, layer_self_ms
    from perfbench.workloads import STORE_FAMILIES

    n = max(n_ops, 1)
    streams, jobs = seen["streams"], seen["jobs"]
    ms = layer_self_ms(tracer.spans, n_ops)
    names = [s.name for s in tracer.spans]
    n_table = names.count("registry.table")
    out: dict[str, tuple[float, str]] = {
        "registry.table_ms": (ms.get("registry.table_ms", 0.0), "ms"),
        "registry.table_memo_hit_frac": (
            1.0 - names.count("registry.read") / n_table if n_table else 0.0,
            "frac"),
    }
    for k in ("params.apply_ms", "spec.frame_ms", "jsonquery.compile_ms",
              "render.to_view_ms", "render.properties_ms", "render.collect_ms",
              "excel.write_ms"):
        out[k] = (ms.get(k, 0.0), "ms")
    out["excel.bytes"] = (0.0, "bytes")
    for k in ("queries.fn_ms", "spark.exec_ms"):
        out[k] = (ms.get(k, 0.0), "ms")
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{k}"] = (jobs[k] / n, "count")
    for k in ("versioned.commit_ms", "versioned.pin_ms",
              "versioned.read_pinned_ms"):
        out[k] = (ms.get(k, 0.0), "ms")
    for kind in ("write", "append", "probe_build"):
        out[f"store.{kind}_ms"] = (sum(
            v for k, v in ms.items()
            if k.startswith("store.") and k.endswith(f".{kind}_ms")), "ms")
    for fam in STORE_FAMILIES:
        for kind in ("write", "append", "probe_build"):
            k = f"store.{fam}.{kind}_ms"
            out[k] = (ms.get(k, 0.0), "ms")
    out["store.bytes_written"] = (0.0, "bytes")
    out["store.files_written"] = (0.0, "count")
    out["store.live_bytes_frac"] = (0.0, "frac")
    out["ingest.write_amp"] = (0.0, "ratio")
    out["stream.batches"] = (streams["batches"] / n, "count")
    for k in ("trigger_ms", "add_batch_ms", "planning_ms", "commit_ms",
              "state_commit_ms", "staging_ms"):
        out[f"stream.{k}"] = (streams[k] / n, "ms")
    out["stream.run_ms"] = (ms.get("stream.run_ms", 0.0), "ms")
    out["stream.microbatch_p50_ms"] = (streams["microbatch_p50_ms"], "ms")
    out["udf.python_ms"] = (1000.0 * seen["udf_s"] / n, "ms")
    out["bench.self_ms"] = (ms.get("bench.self_ms", 0.0), "ms")
    out["host.steal_frac"] = (meter.steal, "frac")
    out["trace.coverage_frac"] = (coverage(tracer.spans, meter.wall), "frac")
    out["trace.overhead_frac"] = (overhead, "frac")
    return out


def run_report(spark, args, data_dir: str, work: str, setup) -> dict:
    from perfbench import checks, reports, workloads
    from perfbench.host import Meter
    from perfbench.metrics import geomean, net_of_steal, valid_tail
    from perfbench.tracing import NullTracer

    ctx = workloads.Ctx(spark, NullTracer(), work)
    alias = workloads.make_alias(data_dir, work)
    svc = workloads.ReportService(ctx, alias)
    reqs = reports.generate(args.seed, n_blocks=40)
    # two blocks in the timed mix: without them the first quarter of the
    # window ran ~35% slower than the rest while the JVM warmed up
    warm = reports.generate(10**6 + args.seed, n_blocks=2)
    served: list[tuple[dict, object]] = []
    errors: list[str] = []
    for i, req in enumerate(warm):
        try:
            served.append((req, svc.serve(10_000 + i, req)))
        except Exception:  # counted as failed, the run goes on
            errors.append(f"warm-up {req['kind']}: {traceback.format_exc()[-2000:]}")
    setup.stop()
    t_first = time.time()
    meter = Meter()
    lat, steal, answers, errs, nxt = workloads.serve_requests(
        ctx, svc, reqs, 0, args.seconds)
    meter.stop()
    served += [(reqs[j], a) for j, a in answers.items()]
    errors += [f"request {j}: {e}" for j, e in errs.items()]
    n_timed = len(lat)
    # each request's latency net of the steal during that request
    net_ms = [x * 1000 * net_of_steal(s) for x, s in zip(lat, steal)]
    e2e = {
        "ops_per_s": (n_timed / (meter.wall * meter.net), "1/s"),
        "latency_geomean_ms": (geomean(net_ms), "ms"),
    }
    tail = valid_tail(net_ms)
    notes = [f"report: {n_timed} requests in {meter.wall:.2f} s, "
             f"{meter.steal:.1%} of runnable CPU time stolen; net latency "
             f"p50 {statistics.median(net_ms):.1f} ms, tail "
             + (f"p{tail[0]} {tail[1]:.1f} ms" if tail else
                "none with >=10 samples beyond")]
    layers = {}
    n_traced = 0
    if args.trace:
        (lat2, _s, answers2, errs2, _n), tracer, m2, seen = _traced(
            spark, ctx, work,
            lambda: workloads.serve_requests(ctx, svc, reqs, nxt, args.seconds))
        served += [(reqs[j], a) for j, a in answers2.items()]
        errors += [f"traced request {j}: {e}" for j, e in errs2.items()]
        n_traced = len(lat2)
        overhead = (statistics.fmean(lat2) * m2.net) / (
            statistics.fmean(lat) * meter.net) - 1.0
        layers = _layer_table(tracer, m2, n_traced, seen, overhead)
        sizes = [os.path.getsize(a) for r, a in served if r["kind"] == "excel"]
        layers["excel.bytes"] = (statistics.fmean(sizes) if sizes else 0.0, "bytes")
    con = checks.connect(data_dir)
    problems = list(errors)
    for req, ans in served:
        p = checks.check_answer(con, req, ans)
        if p:
            problems.append(f"{req['kind']}: {p} | {req['sql'][:300]}")
    return {
        "t_first_op": t_first, "e2e": e2e, "layers": layers, "notes": notes,
        "attempted": len(warm) + n_timed + n_traced, "failed": len(problems),
        "problems": problems,
        "provenance": {"requests_sha": reports.digest(reqs),
                       "requests_served": n_timed, "window": meter.record()},
        "details": {"latencies_raw_ms": [x * 1000 for x in lat],
                    "steal_of_runnable": steal, "tail": tail},
    }


def run_ingest(spark, args, data_dir: str, work: str, setup) -> dict:
    """store_ingest: two warm-up passes, the first with its results
    checked, then timed noop-sink passes while the window is open."""
    from perfbench import checks, workloads
    from perfbench.host import Meter
    from perfbench.metrics import geomean, net_of_steal, write_amp
    from perfbench.tracing import NullTracer
    from ubw_spark.queries import REGISTRY

    names = workloads.INGEST_QUERIES
    ctx = workloads.Ctx(spark, NullTracer(), work)
    rng = random.Random(args.seed)
    orders: list[list[str]] = []

    def window(seconds: float) -> list:
        # another pass starts only if it should end inside the window
        passes = []
        t0 = time.perf_counter()
        while True:
            orders.append(workloads.permuted(names, rng))
            p = workloads.run_pass(ctx, orders[-1], data_dir, "noop")
            passes.append(p)
            if time.perf_counter() - t0 + p.wall > seconds:
                return passes

    orders.append(workloads.permuted(names, rng))
    warm = workloads.run_pass(ctx, orders[0], data_dir, "pandas")
    # a second pass: after one, passes still sped up by ~10% each
    orders.append(workloads.permuted(names, rng))
    warm2 = workloads.run_pass(ctx, orders[-1], data_dir, "noop")
    setup.stop()
    t_first = time.time()
    meter = Meter()
    passes = window(args.seconds)
    meter.stop()
    # each query's time net of the steal while it ran, median over passes
    per_q = {n: statistics.median(p.times[n] * net_of_steal(p.steal[n])
                                  for p in passes if n in p.times)
             for n in names if any(n in p.times for p in passes)}
    n_ops = sum(len(p.times) + len(p.errors) for p in passes)
    walls = [p.wall for p in passes]
    ms = [v * 1000 for v in per_q.values()]
    e2e = {
        "ops_per_s": (sum(len(p.times) for p in passes)
                      / (sum(walls) * meter.net), "1/s"),
        "latency_geomean_ms": (geomean(ms), "ms"),
    }
    notes = [f"{args.workload}: {len(passes)} pass(es) of {len(names)} "
             f"queries, pass_s median {statistics.median(walls):.3f} raw, "
             f"{meter.steal:.1%} of runnable CPU time stolen; net query "
             f"time p50 {statistics.median(ms):.1f} ms"]
    layers = {}
    all_passes = [warm, warm2] + passes
    if args.trace:
        tpasses, tracer, m2, seen = _traced(
            spark, ctx, work, lambda: window(args.seconds))
        all_passes += tpasses
        n_tr = sum(len(p.times) for p in tpasses)
        overhead = (m2.net * sum(p.wall for p in tpasses) / len(tpasses)) / (
            meter.net * sum(walls) / len(walls)) - 1.0
        layers = _layer_table(tracer, m2, n_tr, seen, overhead)
        total = sum(p.store_total_bytes for p in tpasses)
        layers["store.bytes_written"] = (total / len(tpasses), "bytes")
        layers["store.files_written"] = (
            sum(p.store_total_files for p in tpasses) / len(tpasses), "count")
        layers["store.live_bytes_frac"] = (
            sum(p.store_live_bytes for p in tpasses) / total if total else 0.0,
            "frac")
        layers["ingest.write_amp"] = (write_amp(
            sum(p.written_bytes for p in tpasses),
            _input_bytes(tracer, data_dir)), "ratio")
    con = checks.connect(data_dir)
    problems = []
    for p in all_passes:
        problems += [f"{n}: raised {e}" for n, e in p.errors.items()]
    wrong = set()
    for n, (cols, pdf) in warm.results.items():
        prob = checks.check_query(con, REGISTRY[n].oracle, cols, pdf)
        if prob:
            wrong.add(n)
            problems.append(f"{n}: {prob}")
    attempted = sum(len(p.times) + len(p.errors) for p in all_passes)
    failed = sum(len(p.errors) for p in all_passes) + sum(
        1 for p in all_passes for n in p.times if n in wrong)
    return {
        "t_first_op": t_first, "e2e": e2e, "layers": layers, "notes": notes,
        "attempted": attempted, "failed": failed, "problems": problems,
        "provenance": {"query_orders": orders, "window": meter.record()},
        "details": {"per_query_net_s": per_q, "pass_raw_s": walls,
                    "n_ops": n_ops},
    }


def _input_bytes(tracer, data_dir: str) -> int:
    """Bytes of the input tables each traced op read, each table counted
    once per op."""
    seen = set()
    total = 0
    for s in tracer.spans:
        if s.name == "registry.table" and s.attrs:
            key = (s.op, s.attrs["table"])
            if key not in seen:
                seen.add(key)
                total += os.path.getsize(
                    os.path.join(data_dir, f"{s.attrs['table']}.parquet"))
    return total


RUNNERS = {
    "report_requests": run_report,
    "store_ingest": run_ingest,
}


if __name__ == "__main__":
    sys.exit(main())
