"""Browser front door over :class:`~nyc_taxi_pyspark_spark.serve.engine.Engine`
— the web-served equivalent of the reference's Streamlit app
(``streamlit_app/app5.py``: preview 245-258, ad-hoc SQL console 261-276, KPI
dashboards 278-308, report browser 311-344, threshold scoring 347-428).

Streamlit is not part of this environment's dependency set, so the server is
stdlib ``http.server`` only — one route per UI tab, HTML tables rendered from
the same sanitized-pandas boundary the reference uses (app5.py:129-152):

====================  =========================================================
route                 reference tab
====================  =========================================================
``GET /``             navigation + preview / SQL forms
``GET /tables``       table list (JSON)
``GET /preview``      data preview (``?table=&n=&format=html|json``)
``GET|POST /sql``     arbitrary user SQL (``q``); errors come back as HTTP 400
                      with the analyzer message, mirroring the try/except at
                      app5.py:268-276
``GET /kpi``          KPI dashboards (``?which=payment|heatmap|distance``)
``GET /reports``      report browser — exports the KPI CSV+PNG artifacts on
                      first hit, then serves the self-contained index.html
``GET|POST /score``   batch scoring with threshold (``?threshold=&n=``);
                      404 with a hint when no model directory is configured
``POST /upload``      CSV file upload → registered temp view (app5.py:118-127's
                      ``st.file_uploader`` → queryable table); CSV text in the
                      ``csv`` form field or as the raw request body, view name
                      in ``?name=`` (default ``uploaded``)
``GET|POST /explain`` formatted physical plan + shuffle count for user SQL
                      (``q``) without executing it — the plan-quality
                      diagnostics the engine's own tests gate on, exposed to
                      users
====================  =========================================================

Run it as::

    python -m nyc_taxi_pyspark_spark.serve.web --sf-dir /root/testdata/sf0.001 \
        --port 8080

Every route does bounded driver-side work (previews, KPI tables, k-row score
batches) — the server never collects an unbounded result, so the same process
fronts a 100 TB catalog: heavy lifting stays in Spark jobs, HTTP returns only
presentation-sized tables.
"""

from __future__ import annotations

import html
import json
import tempfile
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pandas as pd

from nyc_taxi_pyspark_spark.serve.engine import KPIS, Engine

_STYLE = (
    "<style>body{font-family:sans-serif;margin:2em}table{border-collapse:"
    "collapse}td,th{border:1px solid #999;padding:2px 8px}nav a{margin-right:"
    "1em}form{margin:1em 0}</style>"
)


def _page(title: str, body: str) -> bytes:
    nav = (
        "<nav><a href='/'>home</a><a href='/tables'>tables</a>"
        "<a href='/kpi'>kpi</a><a href='/reports'>reports</a></nav>"
    )
    return (
        f"<!doctype html><html><head><meta charset='utf-8'><title>"
        f"{html.escape(title)}</title>{_STYLE}</head><body>{nav}"
        f"<h1>{html.escape(title)}</h1>{body}</body></html>"
    ).encode()


def _table_html(pdf: pd.DataFrame) -> str:
    # pandas escapes cell text by default; border handled by _STYLE.
    return pdf.to_html(index=False, border=0)


class WebApp:
    """Route handlers + lazily-built shared state (reports, uploaded views).

    Separate from the HTTP handler class so state lives for the server's
    lifetime, not per-request. The featured trips behind the KPI, report
    and score routes are the catalog's ``taxi.featured`` session layout.
    """

    def __init__(
        self,
        engine: Engine,
        model_dir: str | None = None,
        reports_dir: str | None = None,
        preview_cap: int = 200,
    ):
        self.engine = engine
        self.model_dir = model_dir
        self.reports_dir = reports_dir
        self.preview_cap = preview_cap
        self._reports_ready = False
        self._uploaded: set[str] = set()
        self._lock = threading.Lock()

    # -- shared lazy state ---------------------------------------------------
    def ensure_reports(self) -> str:
        with self._lock:
            if not self._reports_ready:
                from nyc_taxi_pyspark_spark.serve.reports import export_kpi_reports

                if self.reports_dir is None:
                    self.reports_dir = tempfile.mkdtemp(prefix="engine-reports-")
                export_kpi_reports(self.engine, self.reports_dir)
                self._reports_ready = True
            return self.reports_dir

    # -- routes --------------------------------------------------------------
    def index(self, _q) -> tuple[int, str, bytes]:
        body = (
            "<form action='/preview' method='get'>preview table "
            "<input name='table' value='orders'> rows "
            "<input name='n' value='10' size='4'>"
            "<button>go</button></form>"
            "<form action='/sql' method='post'>SQL "
            "<input name='q' size='80' "
            "value='SELECT COUNT(*) AS n FROM orders'><button>run</button>"
            "</form>"
        )
        return 200, "text/html", _page("engine", body)

    def tables(self, _q) -> tuple[int, str, bytes]:
        from nyc_taxi_pyspark_spark.schemas import TESTDATA_TABLES

        names = list(TESTDATA_TABLES) + sorted(self._uploaded)
        return 200, "application/json", json.dumps(names).encode()

    def upload(self, q) -> tuple[int, str, bytes]:
        """CSV upload → temp spill → inferred-schema scan → temp view (S7's
        UI half, reference streamlit_app/app5.py:118-127). The uploaded file
        is presentation-sized by construction (it travels through one HTTP
        request), so schema inference's extra pass is fine here — bulk data
        enters through the parquet/CSV source APIs, not this route."""
        import os
        import re

        from nyc_taxi_pyspark_spark.sources.io import read_csv

        name = q.get("name", ["uploaded"])[0]
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            return 400, "text/plain", b"invalid view name"
        csv_text = q.get("csv", [None])[0]
        if csv_text is None:
            csv_text = q.get("__body__", [""])[0]
        if not csv_text.strip():
            return 400, "text/plain", b"empty upload: send CSV in 'csv' field or body"
        spill_dir = tempfile.mkdtemp(prefix="engine-upload-")
        path = os.path.join(spill_dir, f"{name}.csv")
        with open(path, "w", encoding="utf-8") as f:
            f.write(csv_text)
        try:
            df = read_csv(self.engine.spark, path, infer=True)
            self.engine.register(name, df)
            n_rows = df.count()
        except Exception as e:  # noqa: BLE001 - user-data console surface
            return 400, "text/plain", f"CSV error: {e}".encode()
        with self._lock:
            self._uploaded.add(name)
        payload = {
            "view": name,
            "rows": n_rows,
            "columns": [{"name": c, "type": t} for c, t in df.dtypes],
        }
        return 200, "application/json", json.dumps(payload).encode()

    def preview(self, q) -> tuple[int, str, bytes]:
        table = q.get("table", ["orders"])[0]
        n = min(int(q.get("n", ["10"])[0]), self.preview_cap)
        pdf = self.engine.preview(table, n=n)
        if q.get("format", ["html"])[0] == "json":
            return 200, "application/json", pdf.to_json(orient="records").encode()
        return 200, "text/html", _page(f"preview: {table}", _table_html(pdf))

    def sql(self, q) -> tuple[int, str, bytes]:
        from nyc_taxi_pyspark_spark.sources.io import to_pandas_sanitized

        stmt = q.get("q", [""])[0].strip().rstrip(";")
        if not stmt:
            return 400, "text/plain", b"missing q parameter"
        n = min(int(q.get("n", ["50"])[0]), self.preview_cap)
        try:
            pdf = to_pandas_sanitized(self.engine.sql(stmt), max_rows=n)
        except Exception as e:  # noqa: BLE001 - user-SQL console surface
            return 400, "text/plain", f"SQL error: {e}".encode()
        if q.get("format", ["html"])[0] == "json":
            return 200, "application/json", pdf.to_json(orient="records").encode()
        return 200, "text/html", _page("sql", _table_html(pdf))

    def kpi(self, q) -> tuple[int, str, bytes]:
        from nyc_taxi_pyspark_spark.sources.io import to_pandas_sanitized

        which = q.get("which", ["payment"])[0]
        if which not in KPIS:
            return 400, "text/plain", f"which must be one of {', '.join(KPIS)}".encode()
        pdf = to_pandas_sanitized(self.engine.kpi(which), max_rows=self.preview_cap)
        links = "<p>" + " | ".join(f"<a href='/kpi?which={w}'>{w}</a>" for w in KPIS) + "</p>"
        return 200, "text/html", _page(f"kpi: {which}", links + _table_html(pdf))

    def reports(self, _q) -> tuple[int, str, bytes]:
        out_dir = self.ensure_reports()
        import os

        with open(os.path.join(out_dir, "index.html"), "rb") as f:
            return 200, "text/html", f.read()

    def score(self, q) -> tuple[int, str, bytes]:
        if self.model_dir is None:
            return (
                404,
                "text/plain",
                b"no model configured - start the server with --model <dir> "
                b"(train one with ml.pipelines.fit_and_evaluate_classification)",
            )
        from nyc_taxi_pyspark_spark.catalog.taxi_domain import featured
        from nyc_taxi_pyspark_spark.serve.scoring import (
            load_metrics,
            load_model,
            score_batch,
        )
        from nyc_taxi_pyspark_spark.sources.io import to_pandas_sanitized

        threshold = float(q.get("threshold", ["0.5"])[0])
        n = min(int(q.get("n", ["50"])[0]), self.preview_cap)
        trips = featured(self.engine.spark).na.fill({"payment_type": 5})
        scored = score_batch(load_model(self.model_dir), trips, threshold, sample_n=n)
        cols = [
            c for c in ("proba1", "pred_at_threshold", "prediction") if c in scored.columns
        ]
        pdf = to_pandas_sanitized(scored.select(*cols), max_rows=n)
        # S12 parity: the reference UI shows the training metrics saved
        # beside the model (app5.py:172-181 reads metrics.json).
        metrics = load_metrics(self.model_dir)
        if q.get("format", ["html"])[0] == "json":
            import json as _json

            body = {
                "metrics": metrics,
                "rows": _json.loads(pdf.to_json(orient="records")),
            }
            return 200, "application/json", _json.dumps(body).encode()
        metric_html = (
            "<p>training metrics: "
            + ", ".join(f"{k}={v:.4f}" for k, v in metrics.items())
            + "</p>"
            if metrics
            else ""
        )
        return (
            200,
            "text/html",
            _page(f"score @ {threshold}", metric_html + _table_html(pdf)),
        )

    def explain(self, q) -> tuple[int, str, bytes]:
        """Physical plan for user SQL without executing it — the same
        introspection the plan-quality tests gate on (pushdown reached the
        scan? did the dim join broadcast? how many shuffles?), surfaced to
        the SQL-console user."""
        from nyc_taxi_pyspark_spark.plans.explain import (
            formatted_plan,
            shuffle_count,
        )

        stmt = q.get("q", [""])[0].strip().rstrip(";")
        if not stmt:
            return 400, "text/plain", b"missing q parameter"
        try:
            df = self.engine.sql(stmt)
            plan = formatted_plan(df)
            n_shuffles = shuffle_count(df)
        except Exception as e:  # noqa: BLE001 - user-SQL console surface
            return 400, "text/plain", f"SQL error: {e}".encode()
        if q.get("format", ["html"])[0] == "json":
            payload = json.dumps({"shuffles": n_shuffles, "plan": plan})
            return 200, "application/json", payload.encode()
        body = (
            f"<p>shuffles: {n_shuffles}</p><pre>{html.escape(plan)}</pre>"
        )
        return 200, "text/html", _page("explain", body)

    ROUTES = {
        "/": "index",
        "/tables": "tables",
        "/preview": "preview",
        "/sql": "sql",
        "/kpi": "kpi",
        "/reports": "reports",
        "/score": "score",
        "/upload": "upload",
        "/explain": "explain",
    }

    def dispatch(self, path: str, q: dict) -> tuple[int, str, bytes]:
        name = self.ROUTES.get(path)
        if name is None:
            return 404, "text/plain", b"not found"
        return getattr(self, name)(q)


def make_server(app: WebApp, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Build (but do not start) the HTTP server; ``port=0`` picks a free one."""

    class Handler(BaseHTTPRequestHandler):
        def _respond(self) -> None:
            parsed = urlparse(self.path)
            q = parse_qs(parsed.query)
            if self.command == "POST":
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length).decode()
                ctype = self.headers.get("Content-Type", "")
                if "application/x-www-form-urlencoded" in ctype:
                    q = {**parse_qs(body), **q}
                else:
                    # raw-body POST (e.g. text/csv to /upload): hand the
                    # payload through untouched — parse_qs would mangle it.
                    q = {**q, "__body__": [body]}
            try:
                status, ctype, payload = app.dispatch(parsed.path, q)
            except Exception as e:  # noqa: BLE001 - top-level request guard
                status, ctype, payload = 500, "text/plain", f"error: {e}".encode()
            self.send_response(status)
            self.send_header("Content-Type", f"{ctype}; charset=utf-8")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        do_GET = _respond
        do_POST = _respond

        def log_message(self, *args):  # quiet test output
            pass

    return ThreadingHTTPServer((host, port), Handler)


def main(argv: list[str] | None = None) -> int:
    import argparse

    parser = argparse.ArgumentParser(prog="engine-web", description=__doc__)
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    parser.add_argument("--host", default="127.0.0.1")
    parser.add_argument("--port", type=int, default=8080)
    parser.add_argument("--model", default=None, help="PipelineModel dir for /score")
    parser.add_argument("--reports-out", default=None)
    args = parser.parse_args(argv)

    from nyc_taxi_pyspark_spark.session import get_spark

    engine = Engine(get_spark("engine-web", shuffle_partitions=8), args.sf_dir)
    app = WebApp(engine, model_dir=args.model, reports_dir=args.reports_out)
    server = make_server(app, host=args.host, port=args.port)
    print(f"engine-web listening on http://{args.host}:{server.server_address[1]}")
    server.serve_forever()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
