"""Custom Python Data Source connector (sources/pydatasource.py)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.schemas import TESTDATA_SCHEMAS
from nyc_taxi_pyspark_spark.sources.io import load_table
from nyc_taxi_pyspark_spark.sources.pydatasource import register

SF_DIR = "/root/testdata/sf0.001"
NATION_FIELDS = ["n_nationkey", "n_name", "n_regionkey"]


@pytest.fixture(scope="module")
def jsonl_tree(spark, tmp_path_factory):
    """The nation table as 3 .jsonl files (one per region bucket)."""
    d = tmp_path_factory.mktemp("jsonl_src")
    rows = (
        load_table(spark, SF_DIR, "nation")
        .select(*NATION_FIELDS)
        .collect()
    )
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.n_regionkey % 3, []).append(r)
    for b, rs in by_bucket.items():
        with open(os.path.join(d, f"part-{b}.jsonl"), "w") as fh:
            for r in rs:
                fh.write(json.dumps(r.asDict()) + "\n")
    return str(d), len(by_bucket), len(rows)


def _read(spark, path):
    register(spark)
    schema = ", ".join(f"{n} {'string' if n == 'n_name' else 'int'}" for n in NATION_FIELDS)
    return spark.read.format("jsonl_files").schema(schema).load(path)


def test_parallel_read_matches_table(spark, jsonl_tree):
    path, n_files, n_rows = jsonl_tree
    df = _read(spark, path)
    assert df.count() == n_rows
    # one input partition per file — the parallel-scan contract
    assert df.rdd.getNumPartitions() == n_files
    got = {tuple(r) for r in df.collect()}
    want = {
        tuple(r)
        for r in load_table(spark, SF_DIR, "nation")
        .select(*NATION_FIELDS)
        .collect()
    }
    assert got == want


def test_filter_pushdown_into_source(spark, jsonl_tree):
    path, _, _ = jsonl_tree
    df = _read(spark, path).filter(F.col("n_regionkey") == 2)
    want = (
        load_table(spark, SF_DIR, "nation")
        .filter(F.col("n_regionkey") == 2)
        .select(*NATION_FIELDS)
        .collect()
    )
    assert {tuple(r) for r in df.collect()} == {tuple(r) for r in want}
    # the supported predicate must reach the source: the physical plan's
    # post-scan Filter keeps only the isnotnull guard — the `= 2` equality
    # is gone from Spark's side (evaluated inside the source's read())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan jsonl_files" in plan
    assert "= 2" not in plan


def test_empty_tree_yields_empty_frame(spark, tmp_path):
    df = _read(spark, str(tmp_path))
    assert df.count() == 0


def test_mixed_filters_split_between_source_and_spark(spark, jsonl_tree):
    path, _, _ = jsonl_tree
    # EqualTo pushes; endswith cannot — Spark must still apply it post-scan
    df = _read(spark, path).filter(
        (F.col("n_regionkey") == 2) & F.col("n_name").endswith("A")
    )
    want = (
        load_table(spark, SF_DIR, "nation")
        .filter((F.col("n_regionkey") == 2) & F.col("n_name").endswith("A"))
        .select(*NATION_FIELDS)
        .collect()
    )
    assert {tuple(r) for r in df.collect()} == {tuple(r) for r in want}


def test_streaming_source_incremental_exactly_once(spark, tmp_path):
    """The connector's streaming half: files appended to the source dir
    arrive in the next micro-batch, each record exactly once, offsets
    advancing by file count.

    The Python-data-source stream spins up a Python worker per batch;
    under full-suite load that startup can fail transiently, so the test
    retries ENVIRONMENT exceptions once with a fresh source dir. Count
    assertions are never retried — a real lost/duplicated record fails
    immediately."""
    import time

    register(spark)
    schema = "n_nationkey int, n_name string, n_regionkey int"

    def attempt(round_no: int) -> None:
        src = tmp_path / f"stream_src_{round_no}"
        src.mkdir()

        def emit(name, lo, hi):
            # Files enter the source dir whole (JsonlStreamReader's
            # contract): the running stream lists the dir on every trigger,
            # and a listing that caught b.jsonl created but not yet written
            # consumed it with 0 rows (10 of 25 under full-suite load).
            part = src / f".{name}.part"
            with open(part, "w") as fh:
                for i in range(lo, hi):
                    fh.write(json.dumps({"n_nationkey": i, "n_name": f"N{i}", "n_regionkey": i % 5}) + "\n")
            os.replace(part, src / name)

        emit("a.jsonl", 0, 10)
        name = f"pysrc_stream_{round_no}_{int(time.time()*1000)}"
        q = (
            spark.readStream.format("jsonl_files")
            .schema(schema)
            .load(str(src))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            n0 = spark.table(name).count()
            assert n0 == 10, (n0, q.status, q.lastProgress)
            emit("b.jsonl", 10, 25)
            q.processAllAvailable()
            got = spark.table(name)
            n1 = got.count()
            # diagnosis rides the assert: one full-suite flake (r12) left
            # no trace of WHICH batch was short or what the source saw
            assert n1 == 25, (  # nothing lost, nothing re-read
                n1,
                sorted(p.name for p in src.iterdir()),
                q.status,
                q.lastProgress,
            )
            assert got.select("n_nationkey").distinct().count() == 25
        finally:
            q.stop()

    try:
        attempt(0)
    except AssertionError:
        raise
    except Exception:
        attempt(1)
