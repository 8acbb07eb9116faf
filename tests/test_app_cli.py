"""Front-door smoke tests: the CLI app (reference streamlit_app/app5.py
equivalent) launches against sf0.001 and executes user SQL end-to-end in a
fresh process — the same "vanilla environment" bar as the driver contract."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*argv: str, stdin: str | None = None) -> str:
    out = subprocess.run(
        [sys.executable, "-m", "nyc_taxi_pyspark_spark.serve.app", *argv],
        capture_output=True,
        text=True,
        input=stdin,
        timeout=300,
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_cli_sql_end_to_end():
    stdout = _run(
        "--sf-dir", "/root/testdata/sf0.001",
        "sql", "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY 1",
    )
    assert "o_orderstatus" in stdout and "n" in stdout
    assert len(stdout.strip().splitlines()) >= 2


def test_cli_preview_and_repl():
    stdout = _run(
        "--sf-dir", "/root/testdata/sf0.001", "preview", "--table", "region", "-n", "3"
    )
    assert "r_name" in stdout
    stdout = _run(
        "--sf-dir", "/root/testdata/sf0.001", "repl",
        stdin="SELECT COUNT(*) AS n FROM nation;\n\n",
    )
    assert "n" in stdout
