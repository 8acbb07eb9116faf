"""The driver JVM's class-data-sharing archive (``session.get_spark``).

Every launch is a fresh Python process whose ``session._CDS_DIR`` points at
a temporary directory, so the checkout's own archive is neither read nor
written, and whose ``SPARK_CONF_DIR`` is an empty directory unless a test
says otherwise, so the outer environment cannot turn the archive off. The
child prints one ``RESULT`` line on stdout; everything else on stdout must be
free of JVM logging, since the CLI prints its results there.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, os, sys
from nyc_taxi_pyspark_spark import session

session._CDS_DIR = sys.argv[1]
extra_conf = json.loads(sys.argv[2])
if sys.argv[3] == "garbage":
    path = session._archive_path(extra_conf)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(os.urandom(1 << 16))
spark = session.get_spark("archive-test", master="local[2]", shuffle_partitions=2,
                          driver_memory="1g", extra_conf=extra_conf)
jvm = spark._jvm
pid = jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as f:
    mapped = sorted({l.split()[-1] for l in f if l.rstrip().endswith(".jsa")})
rows = spark.sql("SELECT id % 7 AS g, SUM(id) AS s FROM range(100) GROUP BY 1 ORDER BY 1").collect()
print("RESULT " + json.dumps({
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "mapped": mapped,
    "rows": [list(r) for r in rows],
    "conf_marker": spark.conf.get("spark.graft.marker", None),
    "sys_marker": jvm.java.lang.System.getProperty("graft.marker"),
}))
"""

EXPECTED_ROWS = [[g, sum(i for i in range(100) if i % 7 == g)] for g in range(7)]


def _launch(cds_dir, conf_dir, extra_conf=None, mode="plain") -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(cds_dir), json.dumps(extra_conf or {}), mode],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_CONF_DIR": str(conf_dir)},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    noise = [ln for ln in lines if not ln.startswith("RESULT ")]
    assert not [ln for ln in noise if ln.startswith("[") or "cds" in ln.lower()], noise
    (result,) = [json.loads(ln[len("RESULT "):]) for ln in lines if ln.startswith("RESULT ")]
    return result


def _archive_flag(result) -> list[str]:
    return [a for a in result["args"] if a.startswith("-XX:SharedArchiveFile=")]


def _archives(cds_dir) -> list[str]:
    return sorted(str(p) for p in cds_dir.glob("driver-*.jsa"))


@pytest.fixture(scope="module")
def empty_conf(tmp_path_factory):
    return tmp_path_factory.mktemp("conf")


@pytest.fixture(scope="module")
def built(tmp_path_factory, empty_conf):
    """A directory whose archive the first launch built; and that launch."""
    cds_dir = tmp_path_factory.mktemp("cds")
    return cds_dir, _launch(cds_dir, empty_conf)


def test_first_launch_builds_and_second_maps(built, empty_conf):
    cds_dir, first = built
    (archive,) = _archives(cds_dir)
    leftovers = sorted(p.name for p in cds_dir.iterdir() if p.name not in ("conf", os.path.basename(archive)))
    assert leftovers == []  # no temp, lock or failure file
    assert archive in first["mapped"]
    assert first["rows"] == EXPECTED_ROWS

    second = _launch(cds_dir, empty_conf)
    assert archive in second["mapped"]
    assert _archive_flag(second) == [f"-XX:SharedArchiveFile={archive}"]
    assert second["rows"] == first["rows"]


def test_garbage_archive_is_harmless(tmp_path, empty_conf):
    result = _launch(tmp_path, empty_conf, mode="garbage")
    assert result["rows"] == EXPECTED_ROWS
    assert not [m for m in result["mapped"] if m.startswith(str(tmp_path))]


def test_real_conf_dir_turns_archive_off(tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.graft.marker 1\n")
    cds_dir = tmp_path / "cds"
    result = _launch(cds_dir, conf_dir)
    assert _archive_flag(result) == []
    assert result["conf_marker"] == "1"
    assert not cds_dir.exists()


def test_caller_default_java_options_are_merged(built, empty_conf):
    cds_dir, _ = built
    (archive,) = _archives(cds_dir)
    result = _launch(cds_dir, empty_conf, extra_conf={"spark.driver.defaultJavaOptions": "-Dgraft.marker=1"})
    assert result["sys_marker"] == "1"
    assert _archive_flag(result) == [f"-XX:SharedArchiveFile={archive}"]
    assert archive in result["mapped"]
    assert result["rows"] == EXPECTED_ROWS
