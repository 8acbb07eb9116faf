"""The Streamlit adapter's data callbacks and wiring (serve/streamlit_app).

Streamlit itself is not installed here, so the tests drive the
framework-free ``tab_*`` callbacks directly and exercise ``render`` with a
recording stub — proving the five-tab wiring (reference app5.py parity)
without the dependency.
"""

from __future__ import annotations

import contextlib
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_pyspark_spark.serve import streamlit_app as sa  # noqa: E402

SF = "/root/testdata/sf0.001"


def _engine(spark):
    from nyc_taxi_pyspark_spark.serve.engine import Engine

    return Engine(spark, SF)


def test_tab_callbacks_return_real_frames(spark):
    eng = _engine(spark)
    head, summ = sa.tab_preview_data(eng, n=5)
    assert len(head) == 5 and len(summ) > 0

    pdf = sa.tab_sql_run(eng, "SELECT COUNT(*) AS n FROM orders")
    assert list(pdf.columns) == ["n"] and int(pdf["n"][0]) > 0

    frames = sa.tab_kpi_frames(eng)
    assert set(frames) == {"by_payment", "heatmap", "distance_buckets"}
    assert all(len(f) > 0 for f in frames.values())
    # the KPI tab shows the catalog's oracle-checked taxi queries
    from nyc_taxi_pyspark_spark.catalog import QUERIES
    from nyc_taxi_pyspark_spark.sources.io import to_pandas_sanitized

    for key, f in frames.items():
        want = to_pandas_sanitized(QUERIES[f"taxi_kpi_{key}"](spark, SF), max_rows=1000)
        pd.testing.assert_frame_equal(f, want)


def test_report_and_image_listing(spark, tmp_path):
    from nyc_taxi_pyspark_spark.serve.reports import export_reports

    eng = _engine(spark)
    out = str(tmp_path / "reports")
    export_reports(
        {"kpi": eng.sql("SELECT COUNT(*) AS n FROM orders")}, out
    )
    csvs = sa.tab_report_csvs(out)
    assert csvs and all(p.endswith(".csv") for p in csvs)
    assert pd.read_csv(csvs[0])["n"][0] > 0

    # images: drop a PNG where the exporter would
    with open(os.path.join(out, "chart.png"), "wb") as fh:
        fh.write(b"\x89PNG\r\n\x1a\n")
    assert sa.tab_image_paths(out) == [os.path.join(out, "chart.png")]

    # missing dir -> empty lists, no error
    assert sa.tab_image_paths(str(tmp_path / "nope")) == []
    assert sa.tab_report_csvs(str(tmp_path / "nope")) == []


class _StubSt:
    """Recording stand-in for the streamlit module surface render() uses."""

    def __init__(self):
        self.calls: list[tuple[str, tuple]] = []

    def _rec(self, name):
        def f(*a, **k):
            self.calls.append((name, a))
            if name == "button":
                return True  # exercise the SQL-run branch
            if name == "text_area":
                return a[1] if len(a) > 1 else k.get("value", "")
            if name == "tabs":
                return [contextlib.nullcontext() for _ in a[0]]
            return None

        return f

    def __getattr__(self, name):
        return self._rec(name)


def test_render_wires_all_five_tabs(spark, tmp_path):
    eng = _engine(spark)
    st = _StubSt()
    sa.render(st, eng, report_dir=str(tmp_path / "none"))
    names = [n for n, _ in st.calls]
    assert names.count("tabs") == 1
    assert "dataframe" in names  # preview/summary/kpi tables rendered
    assert "bar_chart" in names  # distance distribution
    assert names.count("info") == 2  # empty images + empty reports notices
    # the SQL tab ran the default query through the engine (button stub
    # returns True), so at least 5 dataframes rendered overall
    assert names.count("dataframe") >= 5


def test_real_streamlit_runtime_smoke(spark):
    """Drive render() under Streamlit's own script-runner harness
    (streamlit.testing.v1.AppTest — real ScriptRunner, real session
    state, no browser). Environment-gated: streamlit is not in this
    container's baked-in set, so the test skips here and runs wherever
    the reference's requirements (which include streamlit) are
    installed. The framework-free tests above cover the data layer
    either way — see the module ADR."""
    import pytest

    testing = pytest.importorskip("streamlit.testing.v1")

    def app():
        import streamlit as st

        from nyc_taxi_pyspark_spark.serve import streamlit_app as sa
        from nyc_taxi_pyspark_spark.serve.engine import Engine
        from nyc_taxi_pyspark_spark.session import get_spark

        eng = Engine(
            get_spark("st-smoke", shuffle_partitions=8),
            "/root/testdata/sf0.001",
        )
        sa.render(st, eng)

    at = testing.AppTest.from_function(app)
    at.run(timeout=180)
    assert not at.exception
    assert len(at.tabs) == 5  # the reference app5.py five-tab surface
    assert len(at.dataframe) >= 4  # preview, summary, two KPI tables
