"""examples/report_service.py end-to-end: one QuerySpec serving the
JSON view, a keyset cursor walk, and a styled Excel export — the
reference's multi-view report flow, asserted."""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples")
)


def test_report_service_flow(spark, sf_dir, tmp_path):
    from report_service import serve

    out = str(tmp_path / "report")
    got = serve(spark, sf_dir, out)

    # JSON view: page 1 is full, properties carry the catalog fields
    assert len(got["view"]["data"]) == 15
    props = {p["property"]: p for p in got["view"]["properties"]}
    assert set(props) == {"key", "customer", "segment", "total", "balance"}
    assert props["balance"]["canOrder"] is False  # redirects to hidden key
    assert props["total"]["canOrder"] is True

    # keyset walk reproduced the full result (serve() asserts equality
    # row-for-row; here we pin the shape) and actually paged
    assert got["pages"] > 1
    # every page but the last is full; the last is non-empty
    assert (got["pages"] - 1) * 15 < len(got["rows"]) <= got["pages"] * 15
    keys = [r["key"] for r in got["rows"]]
    assert len(keys) == len(set(keys))  # no row served twice

    # Excel: request override beat the declared style on total only
    assert got["styles"]["total"] == {"num_fmt": "0", "width": 14.0}
    assert got["styles"]["balance"] == {"num_fmt": "0.00", "width": 12.0}
    assert os.path.exists(got["xlsx"])


def test_get_session_disables_call_site_capture(monkeypatch):
    """The engine's session turns off PySpark's per-Column call-site
    capture (a few py4j round trips on every Column/DataFrame method).
    Asserted on the builder, so no second SparkContext starts here."""
    import ubw_spark.session as session_mod

    conf = {}

    class Builder:
        def __getattr__(self, name):  # appName, master: chain through
            return lambda *a: self

        def config(self, k, v):
            conf[k] = v
            return self

        def getOrCreate(self):
            return conf

    monkeypatch.setattr(session_mod.SparkSession, "builder", Builder())
    assert session_mod.get_session()["spark.python.sql.dataFrameDebugging.enabled"] == "false"
