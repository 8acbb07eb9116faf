"""Front-door smoke tests: the CLI app (reference streamlit_app/app5.py
equivalent) launches against sf0.001 and executes user SQL end-to-end in a
fresh process — the same "vanilla environment" bar as the driver contract."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*argv: str, stdin: str | None = None) -> str:
    return _python("-m", "nyc_taxi_pyspark_spark.serve.app", *argv, stdin=stdin)


def _python(*args: str, stdin: str | None = None, env: dict[str, str] | None = None) -> str:
    out = subprocess.run(
        [sys.executable, *args],
        capture_output=True,
        text=True,
        input=stdin,
        timeout=300,
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO, **(env or {})},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


# The CLI with the session's class-data-sharing archive dir moved to argv[1]
# (the rest of argv is the CLI's), so a test controls whether it exists.
_CLI_WITH_ARCHIVE_DIR = (
    "import sys; from nyc_taxi_pyspark_spark import session; session._CDS_DIR = sys.argv.pop(1); "
    "from nyc_taxi_pyspark_spark.serve.app import main; sys.exit(main())"
)


def test_cli_sql_end_to_end(tmp_path):
    """Stdout holds the result table and nothing else (unified JVM logging
    lines start with "["), both on the launch that builds the driver's
    class-data archive and on the one that maps it."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    tables = []
    for _ in ("build", "use"):
        stdout = _python(
            "-c", _CLI_WITH_ARCHIVE_DIR, str(tmp_path / "cds"),
            "--sf-dir", SF_DIR,
            "sql", "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY 1",
            env={"SPARK_CONF_DIR": str(conf_dir)},
        )
        lines = stdout.strip().splitlines()
        assert lines[0].split() == ["o_orderstatus", "n"], stdout
        assert len(lines) >= 2
        assert all(len(ln.split()) == 2 and ln.split()[1].isdigit() for ln in lines[1:]), stdout
        assert not [ln for ln in lines if ln.startswith("[")], stdout
        tables.append(lines)
    assert list((tmp_path / "cds").glob("driver-*.jsa")), "the first run built no archive"
    assert tables[0] == tables[1]


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


def test_cli_kpi_prints_the_catalog_query(spark, monkeypatch, capsys):
    """``app kpi --which w`` prints the rows of the catalog query behind
    dashboard ``w`` (run in-process on the test session)."""
    from nyc_taxi_pyspark_spark.catalog import QUERIES
    from nyc_taxi_pyspark_spark.serve import app
    from nyc_taxi_pyspark_spark.serve.engine import KPIS, Engine
    from nyc_taxi_pyspark_spark.sources.io import to_pandas_sanitized

    monkeypatch.setattr(app, "_build_engine", lambda sf_dir: Engine(spark, sf_dir))
    for which, name in KPIS.items():
        assert app.main(["--sf-dir", SF_DIR, "kpi", "--which", which]) == 0
        printed = capsys.readouterr().out
        app._print_pdf(to_pandas_sanitized(QUERIES[name](spark, SF_DIR), max_rows=200), max_rows=200)
        assert printed == capsys.readouterr().out
        assert len(printed.splitlines()) > 1
