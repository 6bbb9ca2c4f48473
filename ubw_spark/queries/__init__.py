"""Query inventory — one entry per implemented operator (SURVEY.md §2).

Each query is registered with a Spark implementation ``(spark, sf_dir) ->
DataFrame`` and (where SQL-expressible) a DuckDB oracle SQL string over
the same tables.  The driver's correctness gate runs both at sf0.01 and
compares row count + schema + order-insensitive value hash.

Conventions keeping the comparison stable:
- every computed column is aliased identically in Spark and SQL;
- floating-point aggregates are rounded (4 dp) on BOTH sides;
- timestamps cross the boundary as formatted strings;
- every top-k query has a unique total order (tiebreak on a key).
"""

from ubw_spark.queries.registry import REGISTRY, register, QueryDef

# import for registration side effects
from ubw_spark.queries import engine  # noqa: F401
from ubw_spark.queries import relational  # noqa: F401
from ubw_spark.queries import textops  # noqa: F401
from ubw_spark.queries import similarity  # noqa: F401
from ubw_spark.queries import events  # noqa: F401
from ubw_spark.queries import dedup_q  # noqa: F401
from ubw_spark.queries import multimodal_q  # noqa: F401
from ubw_spark.queries import pipeline_q  # noqa: F401
from ubw_spark.queries import tpch  # noqa: F401
from ubw_spark.queries import jsonquery_q  # noqa: F401
from ubw_spark.queries import nested_q  # noqa: F401
from ubw_spark.queries import vocabulary  # noqa: F401
from ubw_spark.queries import textnorm_q  # noqa: F401
from ubw_spark.queries import tokens_funnel  # noqa: F401
from ubw_spark.queries import winnow_q  # noqa: F401
from ubw_spark.queries import sources_q  # noqa: F401
from ubw_spark.queries import splits_q  # noqa: F401
from ubw_spark.queries import shards_q  # noqa: F401
from ubw_spark.queries import sketch_q  # noqa: F401
from ubw_spark.queries import bpe_q  # noqa: F401
from ubw_spark.queries import curation_q  # noqa: F401
from ubw_spark.queries import cdc_skew_q  # noqa: F401
from ubw_spark.queries import components_q  # noqa: F401
from ubw_spark.queries import quality  # noqa: F401
from ubw_spark.queries import spans_q  # noqa: F401
from ubw_spark.queries import layout_q  # noqa: F401
from ubw_spark.queries import bloom_q  # noqa: F401
from ubw_spark.queries import retrieval_q  # noqa: F401
from ubw_spark.queries import pca_q  # noqa: F401
from ubw_spark.queries import hll_q  # noqa: F401
from ubw_spark.queries import timeseries_q  # noqa: F401
from ubw_spark.queries import linkage_q  # noqa: F401
from ubw_spark.queries import stats_q  # noqa: F401
from ubw_spark.queries import graph_q  # noqa: F401
from ubw_spark.queries import regression_q  # noqa: F401
from ubw_spark.queries import seqmine_q  # noqa: F401
from ubw_spark.queries import engagement_q  # noqa: F401
from ubw_spark.queries import anomaly_q  # noqa: F401
from ubw_spark.queries import integrity_q  # noqa: F401
from ubw_spark.queries import qsketch_q  # noqa: F401
from ubw_spark.queries import drift_q  # noqa: F401
from ubw_spark.queries import bootstrap_q  # noqa: F401
from ubw_spark.queries import survival_q  # noqa: F401

__all__ = ["REGISTRY", "register", "QueryDef"]
