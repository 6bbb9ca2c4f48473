"""Installs the outside-in layer trace and reads Spark's public status
APIs for one traced window."""

from __future__ import annotations

import glob
import importlib
import os
import pstats
import statistics

from perfbench.tracing import Span, StreamListener, Tracer
from perfbench.workloads import STORE_FAMILIES, store_kind


def _table_attrs(args, kwargs) -> dict:
    name = args[2] if len(args) > 2 else kwargs.get("name")
    sf_dir = args[1] if len(args) > 1 else kwargs.get("sf_dir")
    return {"table": name, "sf_dir": sf_dir}


def instrument(tracer: Tracer, spark) -> None:
    """Patch every traced public function where its callers find it."""
    import ubw_spark.core.jsonquery as jsonquery
    import ubw_spark.operators.versioned as versioned
    import ubw_spark.params as params
    import ubw_spark.queries  # noqa: F401  (loads every query module)
    import ubw_spark.queries.registry as registry
    import ubw_spark.render as render
    import ubw_spark.sources.excel as excel
    from ubw_spark.core.spec import QuerySpec

    tracer.patch_function(registry, "table", "registry.table", _table_attrs)
    # the memo's miss path; its absence only loses the hit fraction
    if hasattr(registry, "_read_table"):
        tracer.patch_function(registry, "_read_table", "registry.read")
    tracer.patch_function(params, "apply_params", "params.apply")
    tracer.patch_function(QuerySpec, "frame", "spec.frame", module_prefixes=())
    tracer.patch_function(jsonquery, "compile_json_query", "jsonquery.compile")
    tracer.patch_function(render, "to_view", "render.to_view")
    tracer.patch_function(render, "properties_catalog", "render.properties")
    tracer.patch_function(excel, "write_excel_view", "excel.write")
    tracer.patch_function(versioned, "commit_rewrite", "versioned.commit")
    tracer.patch_function(versioned, "pin_schema", "versioned.pin")
    tracer.patch_function(versioned, "read_pinned_parquet",
                          "versioned.read_pinned")
    for fam, mod_name in STORE_FAMILIES.items():
        mod = importlib.import_module(mod_name)
        for attr, fn in list(vars(mod).items()):
            kind = store_kind(attr)
            if kind and callable(fn) and getattr(fn, "__module__", None) == mod_name:
                tracer.patch_function(mod, attr, f"store.{fam}.{kind}")
    df_cls = type(spark.range(1))
    tracer.patch_function(df_cls, "collect", "spark.collect", module_prefixes=())
    tracer.patch_function(df_cls, "toPandas", "spark.collect", module_prefixes=())


class SparkWindow:
    """Job-group status, streaming progress and Python-worker profile for
    the ops of one traced window."""

    UDF_PROFILER = "spark.sql.pyspark.udf.profiler"

    def __init__(self, spark, profile_dir: str):
        self.spark = spark
        self.profile_dir = profile_dir
        self.streams = StreamListener()

    def __enter__(self):
        self.spark.streams.addListener(self.streams.listener)
        self.spark.conf.set(self.UDF_PROFILER, "perf")
        return self

    def __exit__(self, *exc) -> None:
        self.spark.conf.unset(self.UDF_PROFILER)
        self.spark.streams.removeListener(self.streams.listener)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.spark.sparkContext.setLocalProperty("spark.job.description", None)

    def job_counts(self, op_groups: list[tuple[int, str, str]]) -> dict:
        """Jobs, stages, tasks and failed tasks summed over the window's
        ops, from ``SparkContext.statusTracker()``."""
        st = self.spark.sparkContext.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for _op, _name, group in op_groups:
            for jid in st.getJobIdsForGroup(group):
                out["jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    sinfo = st.getStageInfo(sid)
                    if sinfo is None:
                        continue
                    out["stages"] += 1
                    out["tasks"] += sinfo.numTasks
                    out["failed_tasks"] += sinfo.numFailedTasks
        return out

    def udf_seconds(self) -> float:
        """Total Python-worker time the UDF profiler recorded."""
        os.makedirs(self.profile_dir, exist_ok=True)
        self.spark.profile.dump(self.profile_dir)
        total = 0.0
        for f in glob.glob(os.path.join(self.profile_dir, "**", "*.pstats"),
                           recursive=True):
            total += pstats.Stats(f).total_tt
        self.spark.profile.clear()
        return total

    def stream_spans(self, tracer: Tracer) -> dict:
        """Add one ``stream.run`` span per streaming query (started →
        terminated, under the registry-function span it ran in) and sum
        micro-batch phases.  Staging is the registry-function time outside
        the query's started → terminated interval."""
        fns = [s for s in tracer.spans if s.name == "queries.fn"]
        started: dict[str, float] = {}
        batches: list[dict] = []
        staging = 0.0
        for kind, t, payload in list(self.streams.events):
            if kind == "started":
                started[payload] = t
            elif kind == "terminated" and payload in started:
                t0 = started.pop(payload)
                fn = _span_at(fns, t0)
                if fn is not None:
                    a, b = max(t0, fn.t0), min(t, fn.t1)
                    tracer.add("stream.run", a, b, fn)
                    staging += (fn.t1 - fn.t0) - (b - a)
            elif kind == "progress":
                batches.append(payload)
        d = [b["durationMs"] for b in batches]
        trig = [x.get("triggerExecution", 0) for x in d]
        return {
            "batches": len(batches),
            "trigger_ms": sum(trig),
            "add_batch_ms": sum(x.get("addBatch", 0) for x in d),
            "planning_ms": sum(x.get("queryPlanning", 0) for x in d),
            "commit_ms": sum(x.get("walCommit", 0) + x.get("commitOffsets", 0)
                             for x in d),
            "state_commit_ms": sum(b["state_commit_ms"] for b in batches),
            "staging_ms": 1000.0 * staging,
            "microbatch_p50_ms": statistics.median(trig) if trig else 0.0,
        }


def _span_at(spans: list[Span], t: float) -> Span | None:
    for s in spans:
        if s.t0 <= t <= s.t1:
            return s
    return None
