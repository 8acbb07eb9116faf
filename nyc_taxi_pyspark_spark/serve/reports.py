"""Report artifact surface (SURVEY.md §2.12 V3/V4; reference
spark_jobs/05c_make_report.py:141-183 + streamlit_app/app5.py:311-344).

KPI tables are the catalog's taxi KPI queries, exported one single-file
CSV each under an artifact directory — the reference's report convention.
``coalesce(1)`` is correct here: these are ≤ a few hundred rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from nyc_taxi_pyspark_spark.sources.io import write_csv_single


def export_reports(
    reports: dict[str, DataFrame], out_dir: str, limit: int | None = None
) -> dict[str, str]:
    """Write each named KPI DataFrame to ``<out_dir>/<name>/`` as a
    single-file CSV; returns name → path."""
    paths = {}
    for name, df in reports.items():
        path = os.path.join(out_dir, name)
        write_csv_single(df, path, limit=limit)
        paths[name] = path
    return paths


def export_kpi_reports(eng, out_dir: str) -> str:
    """The KPI dashboards as CSV reports, the trip plots as PNGs and the
    ``index.html`` browser over both (the CLI ``report`` command and the
    web ``/reports`` route); returns the index path."""
    from nyc_taxi_pyspark_spark.catalog.taxi_domain import featured
    from nyc_taxi_pyspark_spark.serve.engine import KPIS
    from nyc_taxi_pyspark_spark.serve.plots import export_plot_reports

    export_reports(
        {name.removeprefix("taxi_"): eng.kpi(which) for which, name in KPIS.items()},
        out_dir,
    )
    export_plot_reports(featured(eng.spark), out_dir)
    return render_index_html(out_dir)


def list_reports(out_dir: str) -> list[str]:
    """V4 — artifact directory browsing: single-file-CSV report dirs plus
    image artifacts (the reference UI lists both, app5.py:311-344)."""
    if not os.path.isdir(out_dir):
        return []
    return sorted(
        d
        for d in os.listdir(out_dir)
        if os.path.isdir(os.path.join(out_dir, d)) or d.endswith(".png")
    )


def render_index_html(out_dir: str, title: str = "KPI reports") -> str:
    """Static report browser: one self-contained ``index.html`` listing
    every CSV report (inline table preview, first 20 rows) and embedding
    every PNG (base64) — the no-server form of the reference UI's report
    browsing (app5.py:311-344). Returns the index path."""
    import base64
    import csv
    import html

    parts = [
        "<!doctype html><html><head><meta charset='utf-8'>",
        f"<title>{html.escape(title)}</title>",
        "<style>body{font-family:sans-serif;margin:2em}table{border-collapse:"
        "collapse}td,th{border:1px solid #999;padding:2px 8px}img{max-width:"
        "640px;display:block;margin:8px 0}</style></head><body>",
        f"<h1>{html.escape(title)}</h1>",
    ]
    for name in list_reports(out_dir):
        full = os.path.join(out_dir, name)
        parts.append(f"<h2>{html.escape(name)}</h2>")
        if name.endswith(".png"):
            with open(full, "rb") as f:
                b64 = base64.b64encode(f.read()).decode()
            parts.append(f"<img src='data:image/png;base64,{b64}'>")
            continue
        csvs = [p for p in sorted(os.listdir(full)) if p.endswith(".csv")]
        if not csvs:
            continue
        with open(os.path.join(full, csvs[0]), newline="") as f:
            rows = list(csv.reader(f))[:21]
        parts.append("<table>")
        for i, row in enumerate(rows):
            tag = "th" if i == 0 else "td"
            cells = "".join(f"<{tag}>{html.escape(c)}</{tag}>" for c in row)
            parts.append(f"<tr>{cells}</tr>")
        parts.append("</table>")
    parts.append("</body></html>")
    index = os.path.join(out_dir, "index.html")
    with open(index, "w") as f:
        f.write("\n".join(parts))
    return index
