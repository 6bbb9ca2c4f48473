"""Capture .explain("formatted") for headline queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [query ...]

Writes plans/<tag>/<query>.txt with the formatted physical plan of the
DataFrame each registered query RETURNS.  Queries whose fn() has heavy
side effects (streaming ingest, store lifecycles) still execute those
side effects — the captured plan is the declared query's final read
shape, which is what the returned DataFrame computes; the lifecycle's
own plan evidence lives in the operator code and OPTIMIZATION notes.

The round-13 optimization deliverable names files
``plans/r13/<query>_before.txt`` / ``_after.txt`` — pass tags
``r13_before`` / ``r13_after`` and the files land as
``plans/r13/<query>_before.txt`` etc.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    tag = sys.argv[1]
    only = sys.argv[2:]

    from bench import HEADLINE
    from ubw_spark.queries import REGISTRY
    from ubw_spark.session import get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("capture-plans")

    if tag.startswith("r13_"):
        out_dir = os.path.join("plans", "r13")
        suffix = "_" + tag.split("_", 1)[1]
    else:
        out_dir = os.path.join("plans", tag)
        suffix = ""
    os.makedirs(out_dir, exist_ok=True)

    names = only or HEADLINE
    for name in names:
        qd = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"plan-capture: {name}")
        try:
            df = qd.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # capture the failure instead of dying
            plan = f"ERROR capturing plan: {e}"
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {out_dir}/{name}{suffix}.txt")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
