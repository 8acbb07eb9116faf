"""Worker process of the catalog_batch workload.

Started by run.py inside a fresh per-run directory. Protocol on stdout:
``@@BENCH READY`` once the session is up, ``@@BENCH RESULT {...}`` at the
end; everything else goes to stderr.

Phases:
1. set-up: import the package, ``get_spark``, one first job, import the
   catalog (timed by run.py from process start to READY);
2. cold pass: every cohort query once, in listed order, collected with
   ``toPandas`` and checked against expected.json; then four untimed
   warm-up rounds that run each query once in a fresh sibling session;
3. timed window: a fixed number of rounds, about ``--seconds`` on 4 cores
   and at least three. A round takes the cohort in a seeded order and, for
   each query, opens a fresh ``spark.newSession()``, runs the query there
   (a rebuild: the layout cache keys on the session, so every layout the
   query needs is built) and runs it again in that session (a reuse:
   layouts are hit). Queries drain through the noop sink.
   ``rebuild_pass_s`` and ``pass_s`` sum each query's median rebuild and
   reuse time, and ``requests_per_s`` is the median over rounds of a
   round's completed operations per second, so a slow stretch of the host
   moves them less than it would move a single timed pass;
4. every query is collected once more in the sibling session of its last
   window sample and checked, so layouts built and served in a sibling
   session are verified too.
"""

from __future__ import annotations

import argparse
import random
import sys
import time

from common import (
    COHORTS,
    DATA_DIR,
    ROOT,
    emit,
    load_expected,
    matches,
    median,
    percentile,
    result_digest,
)
from tracing import (
    Tracer,
    job_group_stats,
    jvm_gc,
    jvm_heap_used_mb,
    peak_rss_mb,
    persisted_storage,
    wrap_layout_cache,
)


MIN_ROUNDS = 3
# Untimed rebuild-only rounds between the cold pass and the window: the
# layout builds keep getting faster for about five runs (NOTES.md).
WARMUP_ROUNDS = 4
# Wall time of one warm round on 4 cores (NOTES.md). The window is a fixed
# number of rounds so that every run measures the same amount of work.
NOMINAL_ROUND_S = 3.5


class Runner:
    def __init__(self, spark, queries, expected):
        self.sc = spark.sparkContext
        self.queries = queries
        self.expected = expected
        self.sf_dir = str(DATA_DIR)
        self.attempted = 0
        self.failed = 0
        self.seq = 0

    def op(self, session, name: str, collect: bool = False, stats: dict | None = None):
        """Build and run one query; returns its wall time in seconds, or
        None if it raised or returned a wrong result."""
        self.attempted += 1
        self.seq += 1
        traced = stats is not None
        try:
            t0 = time.perf_counter()
            if traced:
                self.sc.setJobGroup(f"b{self.seq}", name)
            df = self.queries[name](session, self.sf_dir)
            t1 = time.perf_counter()
            if traced:
                self.sc.setJobGroup(f"x{self.seq}", name)
            if collect:
                pdf = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - one failing query must not end the run
            print(f"FAIL {name}: {type(e).__name__}: {e}", file=sys.stderr)
            self.failed += 1
            return None
        if collect and not self.check(name, pdf):
            return None
        if traced:
            build = job_group_stats(self.sc, f"b{self.seq}")
            run = job_group_stats(self.sc, f"x{self.seq}")
            stats["build_ms"] += (t1 - t0) * 1e3
            stats["build_jobs"] += build["jobs"]
            stats["exec_ms"] += (t2 - t1) * 1e3
            for k in ("jobs", "stages", "tasks", "failed_tasks"):
                stats[k] += build[k] + run[k]
        return t2 - t0

    def check(self, name: str, pdf) -> bool:
        got = result_digest(pdf)
        want = self.expected.get(name)
        if want is None or not matches(want, got):
            print(f"MISMATCH {name}: expected {want} got {got}", file=sys.stderr)
            self.failed += 1
            return False
        return True


def new_round_stats() -> dict:
    return dict.fromkeys(
        ("build_ms", "build_jobs", "exec_ms", "jobs", "stages", "tasks", "failed_tasks"), 0
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(COHORTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--expected", required=True)
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    tracer = Tracer()
    layer = {}
    t = time.perf_counter()
    from nyc_taxi_pyspark_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    layer["session.get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(0, 1000, numPartitions=spark.sparkContext.defaultParallelism).count()
    layer["session.first_job_s"] = time.perf_counter() - t
    from nyc_taxi_pyspark_spark.catalog import QUERIES

    if args.trace:
        wrap_layout_cache(tracer)
    emit("READY")

    rng = random.Random(args.seed)
    cohort = COHORTS[args.workload]
    runner = Runner(spark, QUERIES, load_expected(args.expected))

    # The cold pass keeps the listed order, so cold_pass_s does not vary
    # with the seed: the first queries pay for JIT and Python worker start-up.
    t0 = time.perf_counter()
    for name in cohort:
        runner.op(spark, name, collect=True)
    cold_s = time.perf_counter() - t0

    # Warm-up rounds run each query once, in a fresh sibling session: a
    # rebuild exercises everything a reuse does plus the layout builds,
    # which take the most runs to warm up, at about half a round's cost.
    warmup_s = []
    for _ in range(WARMUP_ROUNDS):
        t0 = time.perf_counter()
        for name in rng.sample(cohort, len(cohort)):
            runner.op(spark.newSession(), name)
        warmup_s.append(time.perf_counter() - t0)

    samples = {kind: {q: [] for q in cohort} for kind in ("rebuild", "reuse")}
    traced_ms: dict[str, list[float]] = {q: [] for q in cohort}
    rounds, round_s = [], {True: [], False: []}
    peak = {"rdds": 0, "mb": 0.0, "heap": 0.0}
    last_session = {}
    latencies, round_rates = [], []
    # Per-query medians need at least three rounds. Traced runs alternate
    # traced and untraced rounds, for trace.overhead_ratio, and so need at
    # least three of each.
    n_rounds = max(MIN_ROUNDS, round(args.seconds / NOMINAL_ROUND_S))
    if args.trace:
        n_rounds = max(2 * MIN_ROUNDS, n_rounds)
    for i in range(n_rounds):
        traced = bool(args.trace) and i % 2 == 0
        tracer.enabled = traced
        stats = new_round_stats() if traced else None
        calls0 = tracer.counts.get("cache.calls", 0)
        misses0 = tracer.counts.get("cache.misses", 0)
        g0 = jvm_gc(runner.sc) if traced else None
        r0 = time.perf_counter()
        done = 0
        for name in rng.sample(cohort, len(cohort)):
            session = spark.newSession()
            last_session[name] = session
            for kind in ("rebuild", "reuse"):
                dt = runner.op(session, name, stats=stats)
                if dt is None:
                    continue
                done += 1
                if traced:
                    traced_ms[name].append(dt * 1e3)
                elif not args.trace:
                    samples[kind][name].append(dt)
                    latencies.append(dt)
        round_s[traced].append(time.perf_counter() - r0)
        round_rates.append(done / round_s[traced][-1])
        tracer.enabled = False
        if traced:
            g1 = jvm_gc(runner.sc)
            stats["gc_ms"] = g1[0] - g0[0]
            stats["gc_count"] = g1[1] - g0[1]
            stats["cache_calls"] = tracer.counts.get("cache.calls", 0) - calls0
            stats["cache_misses"] = tracer.counts.get("cache.misses", 0) - misses0
            rounds.append(stats)
            n_rdds, mb = persisted_storage(runner.sc)
            peak["rdds"] = max(peak["rdds"], n_rdds)
            peak["mb"] = max(peak["mb"], mb)
            peak["heap"] = max(peak["heap"], jvm_heap_used_mb(runner.sc))

    for name in rng.sample(cohort, len(cohort)):
        runner.op(last_session[name], name, collect=True)

    def summed(kind):
        return sum(median(v) for v in samples[kind].values())

    result = {
        "attempted": runner.attempted,
        "failed": runner.failed,
        "curve": [["cold", cold_s]]
        + [["warmup", s] for s in warmup_s]
        + [["round", s] for s in round_s[False]],
    }
    if not args.trace:
        result["metrics"] = {
            "cold_pass_s": cold_s,
            "pass_s": summed("reuse"),
            "rebuild_pass_s": summed("rebuild"),
            "request_p50_ms": percentile(latencies, 50) * 1e3,
            "request_p95_ms": percentile(latencies, 95) * 1e3,
            "requests_per_s": median(round_rates),
            "peak_rss_mb": peak_rss_mb(runner.sc),
        }
    else:

        def med(key):
            return median([r[key] for r in rounds])

        calls = sum(r["cache_calls"] for r in rounds)
        misses = sum(r["cache_misses"] for r in rounds)
        layer.update(
            {
                "catalog.build_ms": med("build_ms"),
                "catalog.build_jobs": med("build_jobs"),
                "spark.exec_ms": med("exec_ms"),
                "spark.jobs": med("jobs"),
                "spark.stages": med("stages"),
                "spark.tasks": med("tasks"),
                "spark.failed_tasks": med("failed_tasks"),
                "spark.gc_ms": med("gc_ms"),
                "spark.gc_count": med("gc_count"),
                "spark.heap_used_mb": peak["heap"],
                "cache.calls": med("cache_calls"),
                "cache.misses": med("cache_misses"),
                "cache.hit_ratio": (1.0 - misses / calls) if calls else 0.0,
                "cache.persisted_rdds": peak["rdds"],
                "cache.persisted_mb": peak["mb"],
                "trace.overhead_ratio": median(round_s[True]) / median(round_s[False]),
            }
        )
        for name, ms in traced_ms.items():
            layer[f"catalog.{name}_ms"] = median(ms)
        result["layer"] = layer
        result["missing"] = tracer.missing
    emit("RESULT", result)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
