"""JsonView render — {data, properties} (reference S4).

The reference's ``fQuery.strResult.toView`` produces a JSON object with
``data`` (the rows) and ``properties`` (the column catalog: property,
typeName, inRetrieve, canOrder, isDefaultDesc, describe) —
doc-02.md:96-115.  Here ``data`` comes from the final DataFrame and
``properties`` from the QuerySpec metadata; typeName is the Spark SQL
``simpleString`` of the column's data type (frozen mapping per
FIXTURES.md G2 — ``bigint``/``string``/``int`` instead of Scala names).

``collect`` materializes on the driver — the render layer is for
request/response result sets (the reference's use case: paged JSON for a
UI).  For 100 TB results use the sinks in ubw_spark.sources.writers;
``to_view`` is intentionally small-result-only and honors ``max_rows``.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
from typing import Any

from pyspark.sql import DataFrame

from ubw_spark.core.spec import QuerySpec


def properties_catalog(spec: QuerySpec, df: DataFrame) -> list[dict[str, Any]]:
    """The per-column metadata catalog (doc-02.md:107-115).

    ``canOrder`` is False for columns whose sort redirects elsewhere
    (doc-02.md:111: name redirects to nick → canOrder false).
    ``inRetrieve`` is True only for columns the rendered frame carries —
    a ``QueryParams(select=[...])`` request drops the rest."""
    dtypes = dict(df.dtypes)
    out = []
    for c in spec.visible_columns():
        out.append(
            {
                "property": c.name,
                "typeName": dtypes.get(c.name, "unknown"),
                "inRetrieve": c.name in dtypes,
                "canOrder": bool(c.orderable and c.order_target is None),
                "isDefaultDesc": c.default_desc,
                "describe": c.describe,
            }
        )
    return out


def _json_value(v: Any) -> Any:
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, _decimal.Decimal):
        # the dominant TPC-H numeric type must json.dumps cleanly; a
        # 2-dp currency decimal is exact in float64 far beyond any
        # money magnitude here, and the view layer is presentation
        return float(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return {k: _json_value(x) for k, x in v.items()}
    if hasattr(v, "asDict"):  # Row (nested struct) — IS a tuple, check first
        return {k: _json_value(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_json_value(x) for x in v]
    return v


def to_view(
    df: DataFrame, spec: QuerySpec, *, max_rows: int = 10_000
) -> dict[str, Any]:
    """Render the final DataFrame as a JsonView dict.

    ``max_rows`` guards against accidental driver-side OOM on big results
    (collect is the explicit contract of this sink, as in the reference's
    request/response model)."""
    rows = df.limit(max_rows).collect()
    data = [
        {k: _json_value(v) for k, v in r.asDict(recursive=False).items()}
        for r in rows
    ]
    return {"data": data, "properties": properties_catalog(spec, df)}
