"""Streamlit adapter — literal-frontend parity with the reference UI
(``streamlit_app/app5.py``): the same five tabs (preview+summary at
245-258, SQL query builder at 261-276, KPI dashboards at 278-308,
generated images at 311-318, CSV report browser at 320-344) rendered by
Streamlit over this repo's :class:`~...serve.engine.Engine`.

Streamlit is NOT part of this environment's baked-in dependency set, so
the module splits cleanly in two:

- framework-free data callbacks (``tab_*`` below) that return pandas
  frames / file lists — these are what the tests exercise, and they are
  byte-identical to what the CLI front door (serve/app.py) prints;
- a ``render(st, eng)`` wiring layer that needs a live ``streamlit``
  module, import-guarded so environments without the package get a clean
  ImportError from :func:`main` and everything else stays importable.

Run (where streamlit is installed)::

    streamlit run nyc_taxi_pyspark_spark/serve/streamlit_app.py -- \
        --sf-dir /root/testdata/sf0.001

ADR (round 10): the engine will NOT take streamlit as a dependency — the
data layer must stay identical across the four front doors (CLI, HTTP,
Streamlit, reports), which forces the framework-free split above, and
that split is what the tests pin. The live-runtime check exists but is
environment-gated: ``tests/test_streamlit_adapter.py::
test_real_streamlit_runtime_smoke`` drives :func:`render` under
``streamlit.testing.v1.AppTest`` (Streamlit's official script-runner
harness — a real ScriptRunner, real session state, no browser) whenever
streamlit is importable, and skips cleanly here where it is not baked in.
"""

from __future__ import annotations

import os

EXAMPLE_SQL = (
    "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total\n"
    "FROM orders GROUP BY o_orderpriority ORDER BY n DESC"
)


def tab_preview_data(eng, table: str = "orders", n: int = 100):
    """Tab 1 (app5.py:245-258): head preview + quick summary."""
    return eng.preview(table, n=n), eng.summary(table)


def tab_sql_run(eng, text: str, limit: int = 5000):
    """Tab 2 (app5.py:261-276): ad-hoc SQL; errors propagate for the UI
    to render (the web front door's 400-on-error twin)."""
    from nyc_taxi_pyspark_spark.sources.io import to_pandas_sanitized

    return to_pandas_sanitized(eng.sql(text), max_rows=limit)


def tab_kpi_frames(eng):
    """Tab 3 (app5.py:278-308): KPIs by payment, dow×hour heatmap,
    distance-bucket distribution — the catalog's taxi KPI queries as pandas
    frames ready for st.dataframe / st.bar_chart."""
    from nyc_taxi_pyspark_spark.serve.engine import KPIS
    from nyc_taxi_pyspark_spark.sources.io import to_pandas_sanitized

    return {
        name.removeprefix("taxi_kpi_"): to_pandas_sanitized(eng.kpi(which), max_rows=1000)
        for which, name in KPIS.items()
    }


def tab_image_paths(out_dir: str) -> list[str]:
    """Tab 4 (app5.py:311-318): generated PNGs from the plot exporter."""
    if not os.path.isdir(out_dir):
        return []
    return sorted(
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.lower().endswith(".png")
    )


def tab_report_csvs(out_dir: str) -> list[str]:
    """Tab 5 (app5.py:320-344): exported CSV reports (single-part files,
    the repo's CSV-sink contract)."""
    from nyc_taxi_pyspark_spark.serve.reports import list_reports

    if not os.path.isdir(out_dir):
        return []
    out = []
    for name in list_reports(out_dir):
        p = os.path.join(out_dir, name)
        if os.path.isdir(p):
            parts = sorted(
                os.path.join(p, f)
                for f in os.listdir(p)
                if f.startswith("part-") and f.endswith(".csv")
            )
            out.extend(parts[:1])
        elif p.lower().endswith(".csv"):
            out.append(p)
    return out


def render(st, eng, report_dir: str = "reports") -> None:
    """Wire the five tabs to a live streamlit module. Kept tiny: every
    data decision lives in the framework-free callbacks above."""
    import pandas as pd

    st.set_page_config(page_title="engine", layout="wide")
    st.title("PySpark analytics engine")
    tabs = st.tabs(
        ["Preview", "SQL", "KPI dashboards", "Images", "CSV reports"]
    )
    with tabs[0]:
        head, summ = tab_preview_data(eng)
        st.subheader("Preview")
        st.dataframe(head)
        st.subheader("Quick summary")
        st.dataframe(summ)
    with tabs[1]:
        st.subheader("Query Builder (Spark SQL)")
        sql_text = st.text_area("SQL:", value=EXAMPLE_SQL, height=160)
        if st.button("Run SQL"):
            try:
                st.dataframe(tab_sql_run(eng, sql_text))
            except Exception as e:  # noqa: BLE001 — surfaced to the user
                st.error(f"SQL error: {e}")
    with tabs[2]:
        frames = tab_kpi_frames(eng)
        st.subheader("KPIs by payment method")
        st.dataframe(frames["by_payment"])
        st.subheader("Trips heatmap (dow x hour)")
        st.dataframe(frames["heatmap"])
        st.subheader("Distance distribution (buckets)")
        st.bar_chart(
            frames["distance_buckets"].set_index(
                frames["distance_buckets"].columns[0]
            )
        )
    with tabs[3]:
        paths = tab_image_paths(report_dir)
        if not paths:
            st.info("No images found. Run the report exporter first.")
        for p in paths:
            st.image(p, caption=os.path.basename(p))
    with tabs[4]:
        csvs = tab_report_csvs(report_dir)
        if not csvs:
            st.info("No CSV reports found. Run the report exporter first.")
        for cpath in csvs:
            st.markdown(f"**{os.path.basename(cpath)}**")
            st.dataframe(pd.read_csv(cpath).head(2000))


def main() -> None:
    try:
        import streamlit as st
    except ImportError as e:  # streamlit is optional in this environment
        raise ImportError(
            "streamlit is not installed; use the CLI front door "
            "(python -m nyc_taxi_pyspark_spark.serve.app) or the web "
            "server (serve/web.py) for the same five surfaces"
        ) from e
    import argparse

    from nyc_taxi_pyspark_spark.serve.app import _build_engine

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--report-dir", default="reports")
    args, _ = ap.parse_known_args()
    eng = _build_engine(args.sf_dir, app_name="engine-streamlit")
    render(st, eng, report_dir=args.report_dir)


if __name__ == "__main__":
    main()
