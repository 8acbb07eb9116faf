"""Web front door (serve/web.py) — V1-V5 reachable over HTTP, mirroring the
reference UI's tabs (streamlit_app/app5.py:245-428)."""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

import pytest

from nyc_taxi_pyspark_spark.catalog import QUERIES
from nyc_taxi_pyspark_spark.catalog._cache import STATE
from nyc_taxi_pyspark_spark.serve.engine import KPIS, Engine
from nyc_taxi_pyspark_spark.serve.web import WebApp, _table_html, make_server
from nyc_taxi_pyspark_spark.sources.io import to_pandas_sanitized

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def web(spark, tmp_path_factory):
    app = WebApp(Engine(spark, SF_DIR), reports_dir=str(tmp_path_factory.mktemp("reports")))
    server = make_server(app)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base
    server.shutdown()


def _get(url: str) -> tuple[int, str]:
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.status, r.read().decode()


def test_index_and_tables(web):
    status, body = _get(f"{web}/")
    assert status == 200 and "<form" in body
    status, body = _get(f"{web}/tables")
    tables = json.loads(body)
    assert status == 200 and "orders" in tables and "documents" in tables


def test_preview_html_and_json(web):
    status, body = _get(f"{web}/preview?table=region&n=5")
    assert status == 200 and "<table" in body and "r_name" in body
    status, body = _get(f"{web}/preview?table=region&n=5&format=json")
    rows = json.loads(body)
    assert len(rows) == 5 and "r_regionkey" in rows[0]


def test_sql_get_post_and_error(web):
    q = urllib.parse.quote("SELECT COUNT(*) AS n FROM orders")
    status, body = _get(f"{web}/sql?q={q}&format=json")
    assert status == 200 and json.loads(body)[0]["n"] > 0

    data = urllib.parse.urlencode(
        {"q": "SELECT r_name FROM region ORDER BY r_name LIMIT 2"}
    ).encode()
    with urllib.request.urlopen(f"{web}/sql", data=data) as r:
        assert r.status == 200 and "AFRICA" in r.read().decode()

    # Analyzer errors surface as 400 with the message (app5.py:268-276).
    bad = urllib.parse.quote("SELECT nope FROM no_such_table")
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(f"{web}/sql?q={bad}")
    assert exc.value.code == 400
    assert "no_such_table" in exc.value.read().decode()


def test_kpi_tabs(web):
    status, body = _get(f"{web}/kpi?which=payment")
    assert status == 200 and "payment_label" in body
    status, body = _get(f"{web}/kpi?which=distance")
    assert status == 200 and "bucket" in body
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(f"{web}/kpi?which=daily")
    assert exc.value.code == 400


def test_concurrent_kpi_builds_the_layout_once(web, spark):
    """Four /kpi requests at once on a cold store: one ``taxi.featured``
    build between them, and every reply holds the rows of the catalog
    query behind it."""
    builds = []
    get = STATE.get

    def counting(name, spark_, sf_dir, build):
        def counted():
            builds.append(name)
            time.sleep(0.2)  # hold the build open while the other requests arrive
            return build()

        return get(name, spark_, sf_dir, counted if name == "taxi.featured" else build)

    which = ["payment", "heatmap", "distance", "payment"]
    bodies: dict[int, str] = {}
    start = threading.Barrier(len(which), timeout=60)

    def request(i):
        start.wait()
        bodies[i] = _get(f"{web}/kpi?which={which[i]}")[1]

    STATE.invalidate()
    STATE.get = counting
    try:
        threads = [threading.Thread(target=request, args=(i,), daemon=True) for i in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert len(bodies) == 4
        assert builds == ["taxi.featured"]
        for i, w in enumerate(which):
            want = to_pandas_sanitized(QUERIES[KPIS[w]](spark, SF_DIR), max_rows=200)
            assert len(want) > 0 and _table_html(want) in bodies[i], w
        assert builds == ["taxi.featured"]  # the serial runs read the same layout
    finally:
        del STATE.get


def test_reports_browser(web):
    status, body = _get(f"{web}/reports")
    assert status == 200
    assert "kpi_by_payment" in body and "data:image/png;base64," in body


def test_score_without_model_is_404_with_hint(web):
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(f"{web}/score")
    assert exc.value.code == 404
    assert "--model" in exc.value.read().decode()


def test_upload_csv_roundtrip(web):
    # Raw-body POST (text/csv) → registered view.
    csv = "city,pop\nparis,2100000\nlyon,520000\nnice,340000\n"
    req = urllib.request.Request(
        f"{web}/upload?name=cities",
        data=csv.encode(),
        headers={"Content-Type": "text/csv"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        out = json.loads(r.read().decode())
    assert out["view"] == "cities" and out["rows"] == 3
    assert {"name": "pop", "type": "int"} in out["columns"]

    # The uploaded view is queryable through the SQL console ...
    q = urllib.parse.quote("SELECT city FROM cities ORDER BY pop DESC LIMIT 1")
    status, body = _get(f"{web}/sql?q={q}&format=json")
    assert status == 200 and json.loads(body)[0]["city"] == "paris"

    # ... previewable, and listed next to the testdata tables.
    status, body = _get(f"{web}/preview?table=cities&n=5&format=json")
    assert status == 200 and len(json.loads(body)) == 3
    _, body = _get(f"{web}/tables")
    assert "cities" in json.loads(body)


def test_upload_form_field_and_bad_name(web):
    data = urllib.parse.urlencode(
        {"csv": "a,b\n1,2\n", "name": "tiny"}
    ).encode()
    with urllib.request.urlopen(f"{web}/upload", data=data, timeout=120) as r:
        assert json.loads(r.read().decode())["rows"] == 1

    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(
            f"{web}/upload?name=drop%20table",
            data=b"a\n1\n",
            timeout=120,
        )
    assert exc.value.code == 400


def test_unknown_route_404(web):
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(f"{web}/nope")
    assert exc.value.code == 404


def test_explain_route(web):
    q = urllib.parse.quote(
        "SELECT o_orderpriority, COUNT(*) n FROM orders GROUP BY 1"
    )
    status, body = _get(f"{web}/explain?q={q}&format=json")
    out = json.loads(body)
    assert status == 200
    assert out["shuffles"] >= 1 and "HashAggregate" in out["plan"]

    status, body = _get(f"{web}/explain?q={q}")
    assert status == 200 and "<pre>" in body

    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(f"{web}/explain?q=SELECT+nope+FROM+no_table")
    assert exc.value.code == 400


@pytest.fixture(scope="module")
def web_with_model(spark, tmp_path_factory):
    """A second server with a trained model artifact configured — S12's
    serving half: /score must surface the metrics.json saved beside the
    model (reference app5.py:172-181)."""
    from nyc_taxi_pyspark_spark.ml.pipelines import (
        FeatureConfig,
        classification_lr,
        fit_and_evaluate_classification,
        save_model_with_metrics,
        train_test_split,
    )
    from nyc_taxi_pyspark_spark.catalog.taxi_domain import featured

    trips = featured(spark).na.fill({"payment_type": 5})
    cfg = FeatureConfig(
        numeric_cols=["trip_distance", "pickup_hour"],
        categorical_cols=["payment_type"],
    )
    train, test = train_test_split(trips, "label_tip")
    model, metrics = fit_and_evaluate_classification(
        classification_lr(cfg, "label_tip"), train, test, "label_tip"
    )
    out = str(tmp_path_factory.mktemp("model_artifact"))
    save_model_with_metrics(model, metrics, out)
    app = WebApp(
        Engine(spark, SF_DIR),
        reports_dir=str(tmp_path_factory.mktemp("reports2")),
        model_dir=out,
    )
    server = make_server(app)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base, metrics
    server.shutdown()


def test_score_surfaces_saved_metrics(web_with_model):
    base, metrics = web_with_model
    status, body = _get(f"{base}/score?n=10&format=json")
    assert status == 200
    out = json.loads(body)
    assert set(out) == {"metrics", "rows"}
    assert out["metrics"] == pytest.approx(metrics)
    assert 0 < len(out["rows"]) <= 10
    assert "proba1" in out["rows"][0]
    status, html = _get(f"{base}/score?n=5")
    assert status == 200 and "training metrics" in html and "auc=" in html
