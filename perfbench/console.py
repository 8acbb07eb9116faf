"""Load side of the serve_console workload.

A closed loop of two client threads (each sends its next request when the
previous reply has arrived) drives server.py over HTTP. Work comes in
batches of a fixed, seeded mix shaped like the reference's SQL console:

- ``/sql`` with the reference's KPI shapes: orders by day, revenue by
  nation, a HAVING top-k and a filtered COUNT;
- ``/preview`` of a table, ``/explain`` of a KPI statement, ``/kpi``;
- ``/upload`` of a small seeded CSV, then ``/sql`` on that view;
- bad SQL, which must come back as HTTP 400.

Every reply is checked. ``/sql`` rows must equal DuckDB's answer on the same
parquet files (computed before the server starts); uploads must report the
CSV's row count and the follow-up aggregate must match it. A wrong answer
or an unexpected status counts as a failed request.

Phases: warm-up batches (``cold_pass_s``), then a fixed number of timed
batches that take about ``--seconds`` on 4 cores (``pass_s``, request
latency, throughput), then three rebuild batches, each after
``/_bench/reset`` gives the server a fresh session (``rebuild_pass_s``).
"""

from __future__ import annotations

import http.client
import itertools
import json
import math
import queue
import random
import sys
import threading
import time
from urllib.parse import urlencode

from common import BENCH_DIR, DATA_DIR, median, percentile
from procs import Worker

CLIENTS = 2
BATCH_REQUESTS = 20  # requests in one Mix.batch()
# Warm-up length, from the per-batch p50 curve in NOTES.md: the steepest
# part of the curve is over after this many batches.
WARMUP_BATCHES = 2
REBUILD_BATCHES = 3
# The timed window is a fixed number of batches, so every run measures the
# same stretch of the (still slowly falling) latency curve; --seconds sets
# it at the batch time measured on 4 cores. percentile(95) needs at least
# 10 samples beyond it, hence the floor.
NOMINAL_BATCH_S = 2.0
MIN_WINDOW_REQUESTS = 200
PREVIEW_TABLES = ("orders", "lineitem", "customer", "part", "supplier", "nation")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def kpi_statements() -> dict[str, str]:
    """Every /sql statement the mix can send, by key. Outputs are strings,
    integers and doubles so the JSON reply compares cleanly with DuckDB."""
    out = {}
    for m in range(1, 13):
        lo = f"1996-{m:02d}-01"
        hi = f"1996-{m + 1:02d}-01" if m < 12 else "1997-01-01"
        out[f"day{m}"] = (
            "SELECT CAST(CAST(o_orderdate AS DATE) AS STRING) AS d, COUNT(*) AS n, "
            "SUM(o_totalprice) AS revenue FROM orders "
            f"WHERE o_orderdate >= TIMESTAMP '{lo} 00:00:00' "
            f"AND o_orderdate < TIMESTAMP '{hi} 00:00:00' GROUP BY 1 ORDER BY 1"
        )
    for st in "FOP":
        out[f"nation{st}"] = (
            "SELECT n.n_name AS nation, COUNT(*) AS orders, SUM(o.o_totalprice) AS revenue "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            f"WHERE o.o_orderstatus = '{st}' GROUP BY n.n_name "
            "ORDER BY orders DESC, nation LIMIT 10"
        )
    for flag, k in itertools.product("ANR", (190, 200, 210)):
        out[f"having{flag}{k}"] = (
            "SELECT l_suppkey, COUNT(*) AS n, SUM(l_quantity) AS qty FROM lineitem "
            f"WHERE l_returnflag = '{flag}' GROUP BY l_suppkey HAVING COUNT(*) > {k} "
            "ORDER BY qty DESC, l_suppkey LIMIT 10"
        )
    for year, disc in itertools.product(range(1995, 1999), (0.02, 0.05, 0.08)):
        out[f"count{year}_{disc}"] = (
            "SELECT COUNT(*) AS n, COUNT(DISTINCT l_orderkey) AS orders FROM lineitem "
            f"WHERE l_shipdate >= TIMESTAMP '{year}-01-01 00:00:00' "
            f"AND l_shipdate < TIMESTAMP '{year + 1}-01-01 00:00:00' AND l_discount > {disc}"
        )
    return out


def oracle_rows(statements: dict[str, str]) -> tuple[dict[str, list[dict]], dict[str, dict]]:
    """DuckDB's answer to every statement, and each preview table's row
    count and columns."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR / t}.parquet'")
    rows = {}
    for key, sql in statements.items():
        df = con.execute(sql).fetchdf()
        rows[key] = json.loads(df.to_json(orient="records"))
    tables = {}
    for t in PREVIEW_TABLES:
        n = con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        cols = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
        tables[t] = {"rows": n, "columns": cols}
    con.close()
    return rows, tables


def same_rows(got: list[dict], want: list[dict]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if list(g) != list(w):
            return False
        for k, wv in w.items():
            gv = g[k]
            if isinstance(wv, float) or isinstance(gv, float):
                if gv is None or wv is None or not math.isclose(gv, wv, rel_tol=1e-8):
                    return False
            elif gv != wv:
                return False
    return True


class Request:
    __slots__ = ("method", "path", "params", "body", "check", "route")

    def __init__(self, method, path, params, check, body=None):
        self.method, self.path, self.params = method, path, params
        self.check, self.body = check, body
        self.route = path.strip("/")


class Mix:
    """Seeded request batches. Each batch holds the same number of requests
    of every kind; the seed picks parameters and order."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.statements = kpi_statements()
        self.rows, self.tables = oracle_rows(self.statements)
        self.upload_seq = itertools.count()

    def sql(self, key: str) -> Request:
        want = self.rows[key]

        def check(status, body):
            return status == 200 and same_rows(json.loads(body), want)

        return Request("GET", "/sql", {"q": self.statements[key], "format": "json"}, check)

    def batch(self) -> list[list[Request]]:
        """One batch: a list of tasks; a task's requests run in order on one
        client thread."""
        r = self.rng
        keys = list(self.statements)
        groups = {p: [k for k in keys if k.startswith(p)] for p in ("day", "nation", "having", "count")}
        tasks: list[list[Request]] = []
        for prefix in ("day", "nation", "having", "count"):
            for _ in range(2):
                tasks.append([self.sql(r.choice(groups[prefix]))])
        for _ in range(2):
            table = r.choice(PREVIEW_TABLES)
            n = r.choice((5, 10, 20))
            meta = self.tables[table]

            def check(status, body, meta=meta, n=n):
                if status != 200:
                    return False
                recs = json.loads(body)
                return len(recs) == min(n, meta["rows"]) and all(
                    list(rec) == meta["columns"] for rec in recs
                )

            tasks.append(
                [Request("GET", "/preview", {"table": table, "n": n, "format": "json"}, check)]
            )
        for _ in range(2):
            key = r.choice(keys)

            def check(status, body):
                if status != 200:
                    return False
                out = json.loads(body)
                return isinstance(out.get("shuffles"), int) and "Physical Plan" in out.get("plan", "")

            tasks.append(
                [Request("GET", "/explain", {"q": self.statements[key], "format": "json"}, check)]
            )
        for _ in range(2):
            which = r.choice(("payment", "heatmap", "distance"))
            tasks.append(
                [
                    Request(
                        "GET",
                        "/kpi",
                        {"which": which},
                        lambda status, body: status == 200 and b"<table" in body,
                    )
                ]
            )
        for _ in range(2):
            tasks.append(self.upload_task())
        for bad in ("SELECT no_such_column FROM orders", "SELEC 1 FROM orders"):
            tasks.append(
                [Request("GET", "/sql", {"q": bad}, lambda status, body: status == 400)]
            )
        r.shuffle(tasks)
        return tasks

    def upload_task(self) -> list[Request]:
        r = self.rng
        view = f"upload_{next(self.upload_seq)}"
        n = r.randint(20, 60)
        vs = [r.randint(-1000, 1000) for _ in range(n)]
        tags = [r.choice("abcdefgh") for _ in range(n)]
        csv = "k,v,tag\n" + "".join(f"{i},{v},{t}\n" for i, (v, t) in enumerate(zip(vs, tags)))
        want = [{"n": n, "total": sum(vs), "tags": len(set(tags))}]

        def check_upload(status, body):
            return status == 200 and json.loads(body).get("rows") == n

        def check_sql(status, body):
            return status == 200 and same_rows(json.loads(body), want)

        q = f"SELECT COUNT(*) AS n, SUM(v) AS total, COUNT(DISTINCT tag) AS tags FROM {view}"
        return [
            Request("POST", "/upload", {"name": view}, check_upload, body=csv.encode()),
            Request("GET", "/sql", {"q": q, "format": "json"}, check_sql),
        ]


class Client:
    def __init__(self, port: int):
        self.port = port
        self.rid = itertools.count()
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()

    def call(self, method: str, path: str, params: dict, body: bytes | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            headers = {"Content-Type": "text/csv"} if body is not None else {}
            conn.request(method, f"{path}?{urlencode(params)}", body=body, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def send(self, req: Request) -> tuple[str, str, float]:
        rid = str(next(self.rid))
        t0 = time.perf_counter()
        try:
            status, body = self.call(req.method, req.path, {**req.params, "_rid": rid}, req.body)
            ok = req.check(status, body)
        except (OSError, http.client.HTTPException, ValueError) as e:
            print(f"request {req.path} failed: {e}", file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t0
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                print(f"FAIL {req.method} {req.path} {req.params}", file=sys.stderr)
        return rid, req.route, dt

    def run_batch(self, tasks: list[list[Request]]) -> tuple[float, list[tuple[str, str, float]]]:
        """Run one batch on CLIENTS threads; returns (wall seconds, [(rid,
        route, latency)])."""
        work: queue.Queue = queue.Queue()
        for t in tasks:
            work.put(t)
        out: list[tuple[str, str, float]] = []

        def loop():
            while True:
                try:
                    task = work.get_nowait()
                except queue.Empty:
                    return
                for req in task:
                    rec = self.send(req)
                    with self._lock:
                        out.append(rec)

        t0 = time.perf_counter()
        threads = [threading.Thread(target=loop) for _ in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return time.perf_counter() - t0, out

    def control(self, path: str, params: dict | None = None) -> dict:
        status, body = self.call("GET", path, params or {})
        if status != 200:
            raise RuntimeError(f"{path} returned {status}")
        return json.loads(body)


def run_console(args, run_dir, env) -> dict:
    mix = Mix(args.seed)
    argv = [sys.executable, str(BENCH_DIR / "server.py"), "--trace", str(args.trace)]
    server = Worker(argv, run_dir, env, "server")
    try:
        ready, t_ready = server.expect("READY", 150)
        setup_s = t_ready - server.t_start
        client = Client(ready["port"])

        t0 = time.perf_counter()
        curve = []
        for _ in range(WARMUP_BATCHES):
            _, recs = client.run_batch(mix.batch())
            curve.append(("warmup", median([r[2] for r in recs])))
        cold_s = time.perf_counter() - t0

        walls, lat = [], []
        traced_lat = {True: [], False: []}
        client_ms: dict[str, float] = {}
        n_batches = max(
            math.ceil(MIN_WINDOW_REQUESTS / BATCH_REQUESTS), round(args.seconds / NOMINAL_BATCH_S)
        )
        w0 = time.perf_counter()
        for i in range(n_batches):
            traced = bool(args.trace) and i % 2 == 0
            if args.trace:
                client.control("/_bench/trace", {"on": int(traced)})
            wall, recs = client.run_batch(mix.batch())
            walls.append(wall)
            batch_lat = [r[2] for r in recs]
            lat.extend(batch_lat)
            traced_lat[traced].extend(batch_lat)
            if traced:
                client_ms.update({r[0]: r[2] * 1e3 for r in recs})
            curve.append(("batch", median(batch_lat)))
        window_s = time.perf_counter() - w0

        if args.trace:
            client.control("/_bench/trace", {"on": 0})
        rebuild = []
        for _ in range(REBUILD_BATCHES):
            t = time.perf_counter()
            client.control("/_bench/reset")
            client.run_batch(mix.batch())
            rebuild.append(time.perf_counter() - t)
        stats = client.control("/_bench/stats")
    except RuntimeError:
        print(server.log_tail(), file=sys.stderr)
        raise
    finally:
        server.stop()

    result = {"attempted": client.attempted, "failed": client.failed, "curve": curve}
    if not args.trace:
        result["metrics"] = {
            "setup_s": setup_s,
            "cold_pass_s": cold_s,
            "pass_s": median(walls),
            "rebuild_pass_s": median(rebuild),
            "request_p50_ms": percentile(lat, 50) * 1e3,
            "request_p95_ms": percentile(lat, 95) * 1e3,
            "requests_per_s": len(lat) / window_s,
            "peak_rss_mb": stats["peak_rss_mb"],
        }
    else:
        layer = stats["layer"]
        waits = [
            client_ms[rid] - ms for rid, ms in stats["dispatch_ms"].items() if rid in client_ms
        ]
        layer["serve.http_wait_ms"] = median(waits)
        layer["trace.overhead_ratio"] = median(traced_lat[True]) / median(traced_lat[False])
        result["layer"] = layer
        result["missing"] = stats["missing"]
    return result
