"""Per-job profile of one or more registered queries (guide §1/§7).

Runs each named query with Spark event logging enabled, executes it
through the noop sink (same timed action as bench.py), then parses the
event log into a per-job table: wall time, stage count, task count, and
the job group/description — so the fixed-overhead structure (how many
jobs, how many tasks of what size) is visible without the UI.

Usage: SPARK_GRAFT_SF_DIR=... python tools/profile_query.py q1 q2 ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    if not names:
        print(__doc__)
        return 2

    from ubw_spark.queries import REGISTRY
    from ubw_spark.session import get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = f"/tmp/ubw_spark_eventlog_{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)
    spark = get_session(
        "profile-query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
        },
    )

    # warmup (JIT + parquet footer caches) mirrors bench.py
    for name in names:
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    marks: list[tuple[str, float, float]] = []
    for name in names:
        spark.sparkContext.setJobGroup(name, name)
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        marks.append((name, t0, dt))
        spark.sparkContext.setJobGroup(None, None)
        print(f"== {name}: {dt:.3f}s")
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse the event log: jobs with submission/completion + stage/task
    # info.  Spark 4 writes a rolling dir `eventlog_v2_<appid>/` with
    # `events_N_...` part files; older releases a single file `<appid>`.
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path):
        cands = [
            p for p in os.listdir(evdir)
            if app_id in p or p.startswith("eventlog")
        ]
        if not cands:
            print(f"no event log under {evdir}")
            return 1
        path = os.path.join(evdir, sorted(cands)[-1])
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, p)
            for p in os.listdir(path)
            if p.startswith("events_")
        )
    else:
        parts = [path]

    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, int] = {}
    stage_names: dict[int, str] = {}
    import itertools

    def lines():
        for p in parts:
            with open(p) as f:
                yield from f

    for line in itertools.chain(lines()):
        if True:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "group": props.get("spark.jobGroup.id", ""),
                    "desc": props.get("spark.job.description", ""),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
                for s in ev.get("Stage Infos", []):
                    stage_names[s["Stage ID"]] = s.get("Stage Name", "")
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["end"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stage_tasks[si["Stage ID"]] = si.get("Number of Tasks", 0)

    by_group: dict[str, list] = {}
    for jid, j in sorted(jobs.items()):
        g = j.get("group") or "(none)"
        dur = (j.get("end", j["start"]) - j["start"]) / 1000.0
        ntasks = sum(stage_tasks.get(s, 0) for s in j["stages"])
        nstages_run = sum(1 for s in j["stages"] if s in stage_tasks)
        by_group.setdefault(g, []).append(
            (jid, dur, len(j["stages"]), nstages_run, ntasks, j["desc"][:60])
        )

    for name, _, total in marks:
        rows = by_group.get(name, [])
        # second half of the log for this group is the timed run (first
        # half is warmup) — group ids repeat, so split by count
        timed = rows[len(rows) // 2 :] if len(rows) > 1 else rows
        print(f"\n### {name}  wall={total:.3f}s  jobs(timed half)={len(timed)}")
        print(f"{'job':>5} {'sec':>8} {'stg(all/run)':>12} {'tasks':>6}  desc")
        for jid, dur, nst, nrun, nt, desc in timed:
            print(f"{jid:>5} {dur:>8.3f} {nst:>6}/{nrun:<5} {nt:>6}  {desc}")
        print(
            f"  sum(job sec)={sum(r[1] for r in timed):.3f} "
            f"tasks={sum(r[4] for r in timed)}"
        )
    print(f"\nevent log: {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
