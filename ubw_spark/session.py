"""SparkSession factory tuned for the engine.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), UTC session timezone (stable oracle comparison), Arrow for
any pandas interchange.  On a real cluster the same builder is used; only
``master`` and partition counts change (pass ``shuffle_partitions`` ≈
2-3× total cores at 100 TB scale).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "ubw_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if not cpus.isdigit():  # unset, or the 'local[*]' idiom: core count
        cpus = str(os.cpu_count() or 8)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # no per-Column call-site capture (py4j round trips on every
        # method; costs AnalysisException's DataFrame context block)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


@contextmanager
def pinned_conf(spark: SparkSession, conf: dict):
    """Set the session ``conf`` keys for the duration of the ``with``
    block and restore each on exit.  A plan reads the conf when it is
    planned: a streaming query pins its shuffle partitions into the
    checkpoint at first-batch planning, and a plan built outside the
    block is unaffected."""
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
