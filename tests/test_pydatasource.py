"""Custom Python Data Source connector (sources/pydatasource.py)."""

from __future__ import annotations

import json
import os
import time

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


def _nation_lines(lo: int, hi: int) -> str:
    return "".join(
        json.dumps({"n_nationkey": i, "n_name": f"N{i}", "n_regionkey": i % 5}) + "\n"
        for i in range(lo, hi)
    )


def _retry_on_environment_error(attempt) -> None:
    """The Python-data-source stream spins up a Python worker per batch;
    under full-suite load that startup can fail transiently, so an
    ENVIRONMENT exception is retried once with a fresh source dir. Count
    assertions are never retried — a real lost/duplicated record fails
    immediately."""
    try:
        attempt(0)
    except AssertionError:
        raise
    except Exception:
        attempt(1)


def _start_stream(spark, src, round_no):
    register(spark)
    name = f"pysrc_stream_{round_no}_{int(time.time() * 1000)}"
    q = (
        spark.readStream.format("jsonl_files")
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .load(str(src))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    return q, name


def test_streaming_source_incremental_exactly_once(spark, tmp_path):
    """The connector's streaming half: files appended to the source dir
    arrive in the next micro-batch, each record exactly once."""

    def attempt(round_no: int) -> None:
        src = tmp_path / f"stream_src_{round_no}"
        src.mkdir()
        (src / "a.jsonl").write_text(_nation_lines(0, 10))
        q, name = _start_stream(spark, src, round_no)
        try:
            q.processAllAvailable()
            n0 = spark.table(name).count()
            assert n0 == 10, (n0, q.status, q.lastProgress)
            (src / "b.jsonl").write_text(_nation_lines(10, 25))
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

    _retry_on_environment_error(attempt)


def test_streaming_source_reads_a_growing_file_once(spark, tmp_path):
    """A file written in place in two halves around a trigger: the trigger
    reads the complete lines of the first half and stops at the byte after
    the last one; the next trigger reads on from there. Every row arrives
    exactly once, the line cut in half included."""
    head = _nation_lines(10, 17)
    tail = _nation_lines(17, 25)
    cut = len(head) + len(tail.splitlines()[0]) // 2  # mid-way through row 17

    def attempt(round_no: int) -> None:
        src = tmp_path / f"grow_src_{round_no}"
        src.mkdir()
        (src / "a.jsonl").write_text(_nation_lines(0, 10))
        q, name = _start_stream(spark, src, round_no)
        try:
            q.processAllAvailable()
            text = head + tail
            with open(src / "b.jsonl", "w") as fh:
                fh.write(text[:cut])
                fh.flush()
                q.processAllAvailable()
                n_half = spark.table(name).count()
                fh.write(text[cut:])
            q.processAllAvailable()
            got = spark.table(name)
            assert (n_half, got.count()) == (17, 25), q.lastProgress
            assert got.select("n_nationkey").distinct().count() == 25
        finally:
            q.stop()

    _retry_on_environment_error(attempt)
