"""Warm A/B timer for a subset of registered queries — the bench.py
protocol (noop sink, warmup pass, 2-pass per-query MIN) applied to the
queries named on the command line, without running the full headline
set.  Prints one JSON line {name: sec} for paste into A/B tables.

Usage: SPARK_GRAFT_SF_DIR=... python tools/time_queries.py q1 q2 ...
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
    spark = get_session("time-queries")
    for name in names:  # warmup (JIT + footer caches), untimed
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    out: dict[str, float] = {}
    for _pass in range(2):
        for name in names:
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = round(time.perf_counter() - t0, 3)
            if name not in out or dt < out[name]:
                out[name] = dt
    try:
        la = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        la = None
    print(json.dumps({"queries": out, "total": round(sum(out.values()), 3),
                      "cores": spark.sparkContext.defaultParallelism,
                      "load_avg_end": la}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
