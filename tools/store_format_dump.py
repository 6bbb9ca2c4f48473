"""Dump the on-disk format of every merge store and the plan of every
cell merge, so two checkouts can be compared with ``diff``.

Usage: python tools/store_format_dump.py <out.json>

Writes the CMS, HLL, quantile-histogram, Bloom, PCA-moments and
incremental-agg stores from 24 fixed rows (a write of the first half,
an append of the second) under a temporary directory, then records per
store every ``_CURRENT``, ``_SCHEMA`` and sidecar file's text, the
loaded rows and schema, and for the five cell-merge stores the merge
kernel's optimized plan (through :func:`capture_plans.normalize_plan`),
schema and rows on fixed inputs.  Run it in the parent checkout (copy
the tool in) and in the change, then ``diff`` the two files: a change
that keeps the store format and the merge plans leaves them identical.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

from pyspark.sql import functions as F  # noqa: E402

from capture_plans import normalize_plan  # noqa: E402
from ubw_spark.operators import (  # noqa: E402
    bloom, hll, incremental, pca, qsketch, sketches,
)
from ubw_spark.session import get_session  # noqa: E402


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__)
        return 2
    spark = get_session("store_format_dump", master="local[2]",
                        shuffle_partitions=2)
    rows = spark.createDataFrame(
        [(i, f"w{i % 7}", (i * 3) % 50, f"alpha beta gamma w{i % 5} delta",
          [float(i % 3), float(i % 4), 1.0], f"k{i % 3}") for i in range(24)],
        "id bigint, word string, v bigint, text string, "
        "vec array<double>, kind string",
    )
    a, b = rows.where("id < 12"), rows.where("id >= 12")

    def measures():
        return {"cnt": F.lit(1).cast("long"), "v": F.col("v")}

    def cells(df):
        return {
            "cms": sketches.cms_build(df, "word", width=16, depth=2),
            "hll": hll.hll_build(df, "word", p=4),
            "qh": qsketch.hist_build(df, "v", lo=0, hi=50, nbins=8),
            "bloom": bloom.packed_bloom_words(df, "text", n=2, m=1 << 8, k=2),
            "pca": pca._sql_moments(df, "vec"),
        }

    # (write the first half, append the second, load) per store
    stores = {
        "cms": (lambda p: sketches.write_cms_store(cells(a)["cms"], p),
                lambda p: sketches.append_cms_batch(spark, b, "word", p,
                                                    batch_id=1),
                lambda p: sketches.load_cms(spark, p)[0]),
        "hll": (lambda p: hll.write_hll_store(cells(a)["hll"], p),
                lambda p: hll.append_hll_batch(spark, b, "word", p),
                lambda p: hll.load_hll(spark, p)[0]),
        "qh": (lambda p: qsketch.write_hist_store(cells(a)["qh"], p),
               lambda p: qsketch.append_hist_batch(spark, b, "v", p,
                                                   batch_id=1),
               lambda p: qsketch.load_hist(spark, p)[0]),
        "bloom": (lambda p: bloom.write_bloom_store(a, "text", p, n=2,
                                                    m=1 << 8, k=2),
                  lambda p: bloom.append_bloom_store(spark, b, "text", p),
                  lambda p: bloom.load_bloom(spark, p)[0]),
        "pca": (lambda p: pca.write_moments_store(a, "vec", p, method="sql"),
                lambda p: pca.append_moments_batch(b, "vec", p, method="sql",
                                                   batch_id=1),
                lambda p: pca._STORE.load(spark, p)[0]),
        "agg": (lambda p: incremental.write_agg_store(
                    incremental.grouped_agg(a, ["kind"], measures()), p),
                lambda p: incremental.fold_batch_into_agg_store(
                    spark, b.withColumn("op", F.lit(1)), ["kind"],
                    measures(), p, count_col="cnt", batch_id=1),
                lambda p: incremental.load_agg_store(spark, p)[0]),
    }
    out: dict[str, dict] = {}
    with tempfile.TemporaryDirectory(prefix="store_format_") as base:
        for name, (write, append, load) in stores.items():
            path = os.path.join(base, name)
            write(path)
            append(path)
            files = {}
            for d, _dirs, fs in os.walk(path):
                for f in fs:
                    if not f.endswith((".parquet", ".crc")) and f != "_SUCCESS":
                        with open(os.path.join(d, f)) as fh:
                            files[os.path.relpath(os.path.join(d, f), path)] = fh.read()
            df = load(path)
            out[name] = {"files": files, "rows": _rows(df),
                         "schema": df.schema.json()}
    mods = {"cms": sketches, "hll": hll, "qh": qsketch, "bloom": bloom,
            "pca": pca}
    left, right = cells(a), cells(b)
    for name, mod in mods.items():
        merged = mod._STORE.merge(left[name], right[name])
        plan = merged._jdf.queryExecution().optimizedPlan().toString()
        out[name].update(merge_plan=normalize_plan(plan),
                         merge_schema=merged.schema.json(),
                         merge_rows=_rows(merged))
    with open(sys.argv[1], "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
