"""Server process of the serve_console workload.

Builds the engine's web front door the way ``serve.web.main`` does --
``get_spark`` with 8 shuffle partitions, ``Engine`` over the benchmark's
tables, ``WebApp``, ``make_server`` -- runs one first job, and prints
``@@BENCH READY {"port": n}`` once the socket listens. It serves until its
stdin closes.

Three routes are added for the load process, under ``/_bench/``:
``stats`` (trace data and peak RSS), ``trace?on=0|1`` (switch tracing
between request batches) and ``reset`` (swap in an ``Engine`` over a fresh
``spark.newSession()``, as a new console session on a warm server would
get).
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time

from common import DATA_DIR, ROOT, emit, median, percentile
from tracing import Tracer, job_group_stats, jvm_gc, jvm_heap_used_mb, peak_rss_mb

ROUTE_METRICS = ("sql", "preview", "explain", "kpi", "upload")


def install_wrappers(tracer: Tracer) -> None:
    io = "nyc_taxi_pyspark_spark.sources.io"
    engine = "nyc_taxi_pyspark_spark.serve.engine"
    # serve.engine binds these names at import; web.py imports them per call
    tracer.wrap(f"{io}:to_pandas_sanitized", "sources.to_pandas")
    tracer.wrap(f"{engine}:to_pandas_sanitized", "sources.to_pandas")
    tracer.wrap(f"{engine}:register_views", "sources.register_views")
    tracer.wrap(f"{engine}:Engine.sql", "serve.engine_sql")
    tracer.wrap("nyc_taxi_pyspark_spark.plans.explain:formatted_plan", "plans.explain")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    sys.path.insert(0, str(ROOT))

    tracer = Tracer()
    if args.trace:
        install_wrappers(tracer)
        tracer.enabled = True
    setup = {}
    t = time.perf_counter()
    from nyc_taxi_pyspark_spark.serve.engine import Engine
    from nyc_taxi_pyspark_spark.serve.web import WebApp, make_server
    from nyc_taxi_pyspark_spark.session import get_spark

    spark = get_spark("engine-web", shuffle_partitions=8)
    setup["session.get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(0, 1000, numPartitions=spark.sparkContext.defaultParallelism).count()
    setup["session.first_job_s"] = time.perf_counter() - t
    engine = Engine(spark, str(DATA_DIR))
    register_ms = tracer.spans.pop("sources.register_views", [0.0])
    setup["sources.register_views_s"] = sum(register_ms) / 1e3
    tracer.enabled = False
    sc = spark.sparkContext

    class BenchApp(WebApp):
        ROUTES = {
            **WebApp.ROUTES,
            "/_bench/stats": "bench_stats",
            "/_bench/trace": "bench_trace",
            "/_bench/reset": "bench_reset",
        }

        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.dispatch_ms: dict[str, float] = {}
            self.route_ms: dict[str, list[float]] = {}
            self.jobs: list[dict] = []
            self.gc_ms, self.gc_count = 0.0, 0
            self._gc_mark: tuple[float, int] | None = None
            self.heap_mb = 0.0

        def dispatch(self, path, q):
            if not tracer.enabled or path.startswith("/_bench/"):
                return super().dispatch(path, q)
            rid = q.get("_rid", [""])[0]
            sc.setJobGroup(f"r{rid}", path)
            t0 = time.perf_counter()
            try:
                return super().dispatch(path, q)
            finally:
                ms = (time.perf_counter() - t0) * 1e3
                stats = job_group_stats(sc, f"r{rid}")
                with self._lock:
                    self.dispatch_ms[rid] = ms
                    self.route_ms.setdefault(path.strip("/"), []).append(ms)
                    self.jobs.append(stats)

        def bench_trace(self, q):
            on = q.get("on", ["0"])[0] == "1"
            with self._lock:
                gc = jvm_gc(sc)
                if tracer.enabled and self._gc_mark is not None:
                    self.gc_ms += gc[0] - self._gc_mark[0]
                    self.gc_count += gc[1] - self._gc_mark[1]
                self._gc_mark = gc
                self.heap_mb = max(self.heap_mb, jvm_heap_used_mb(sc))
                tracer.enabled = on
            return 200, "application/json", b"{}"

        def bench_reset(self, _q):
            with self._lock:
                self.engine = Engine(self.engine.spark.newSession(), str(DATA_DIR))
                self._featured = None
                self._uploaded = set()
            return 200, "application/json", b"{}"

        def bench_stats(self, _q):
            with self._lock:
                layer = dict(setup)
                for route in ROUTE_METRICS:
                    ms = self.route_ms.get(route, [])
                    layer[f"serve.dispatch_{route}_p50_ms"] = percentile(ms, 50)
                    layer[f"serve.dispatch_{route}_p95_ms"] = percentile(ms, 95)
                pandas_ms = tracer.spans.get("sources.to_pandas", [])
                layer["sources.to_pandas_p50_ms"] = percentile(pandas_ms, 50)
                layer["sources.to_pandas_p95_ms"] = percentile(pandas_ms, 95)
                layer["serve.engine_sql_ms"] = median(tracer.spans.get("serve.engine_sql", []))
                layer["plans.explain_ms"] = median(tracer.spans.get("plans.explain", []))
                for k in ("jobs", "stages", "tasks", "failed_tasks"):
                    layer[f"spark.{k}"] = median([j[k] for j in self.jobs])
                # driver GC during traced batches, per traced request
                n_req = max(len(self.jobs), 1)
                layer["spark.gc_ms"] = self.gc_ms / n_req
                layer["spark.gc_count"] = self.gc_count / n_req
                layer["spark.heap_used_mb"] = self.heap_mb
                # execution happens under toPandas on this surface
                layer["spark.exec_ms"] = median(pandas_ms)
                body = {
                    "layer": layer,
                    "dispatch_ms": self.dispatch_ms,
                    "peak_rss_mb": peak_rss_mb(sc),
                    "missing": tracer.missing,
                }
            return 200, "application/json", json.dumps(body).encode()

    app = BenchApp(engine)
    server = make_server(app, host="127.0.0.1", port=0)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    emit("READY", {"port": server.server_address[1]})
    sys.stdin.read()  # run.py closes stdin to stop the server
    server.shutdown()
    server.server_close()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
