"""Interactive front door over :class:`~...serve.engine.Engine` — the CLI
equivalent of the reference's Streamlit app (``streamlit_app/app5.py``:
preview at 245-258, ad-hoc SQL console at 261-276, KPI dashboards at
278-344, model scoring with threshold at 347-428).

Streamlit is not part of this environment's baked-in dependency set, so the
front door is a dependency-free CLI with the same five surfaces; each
subcommand maps to one UI tab. Run it as::

    python -m nyc_taxi_pyspark_spark.serve.app --sf-dir /root/testdata/sf0.001 \
        sql "SELECT COUNT(*) AS n FROM orders"

Subcommands: ``tables``, ``preview``, ``sql``, ``repl``, ``kpi``,
``report``, ``score``.
"""

from __future__ import annotations

import argparse
import sys

from nyc_taxi_pyspark_spark.schemas import TESTDATA_TABLES


def _build_engine(sf_dir: str, app_name: str = "engine-app"):
    from nyc_taxi_pyspark_spark.serve.engine import Engine
    from nyc_taxi_pyspark_spark.session import get_spark

    spark = get_spark(app_name, shuffle_partitions=8)
    return Engine(spark, sf_dir)


def _print_pdf(pdf, max_rows: int = 50) -> None:
    with_opts = pdf.head(max_rows).to_string(index=False)
    print(with_opts)


def cmd_tables(eng, _args) -> int:
    for t in TESTDATA_TABLES:
        print(t)
    return 0


def cmd_preview(eng, args) -> int:
    _print_pdf(eng.preview(args.table, n=args.n), max_rows=args.n)
    return 0


def cmd_sql(eng, args) -> int:
    from nyc_taxi_pyspark_spark.sources.io import to_pandas_sanitized

    df = eng.sql(args.query)
    _print_pdf(to_pandas_sanitized(df, max_rows=args.n), max_rows=args.n)
    return 0


def cmd_repl(eng, args) -> int:
    """Ad-hoc SQL console (app5.py:261-276). Reads one statement per line;
    blank line or EOF exits."""
    from nyc_taxi_pyspark_spark.sources.io import to_pandas_sanitized

    print("engine SQL console — empty line to exit", file=sys.stderr)
    for line in sys.stdin:
        stmt = line.strip().rstrip(";")
        if not stmt:
            break
        try:
            _print_pdf(to_pandas_sanitized(eng.sql(stmt), max_rows=args.n))
        except Exception as e:  # noqa: BLE001 - console surface
            print(f"error: {e}", file=sys.stderr)
    return 0


def cmd_kpi(eng, args) -> int:
    from nyc_taxi_pyspark_spark.sources.io import to_pandas_sanitized

    _print_pdf(to_pandas_sanitized(eng.kpi(args.which), max_rows=200), max_rows=200)
    return 0


def cmd_report(eng, args) -> int:
    from nyc_taxi_pyspark_spark.serve.reports import export_kpi_reports, list_reports

    print(export_kpi_reports(eng, args.out))
    for name in list_reports(args.out):
        print(name)
    return 0


def cmd_score(eng, args) -> int:
    """Model scoring with threshold (app5.py:347-428): sample → score."""
    from nyc_taxi_pyspark_spark.catalog.taxi_domain import featured
    from nyc_taxi_pyspark_spark.serve.scoring import load_model, score_batch
    from nyc_taxi_pyspark_spark.sources.io import to_pandas_sanitized

    scored = score_batch(
        load_model(args.model),
        featured(eng.spark).na.fill({"payment_type": 5}),
        threshold=args.threshold,
        sample_n=args.n,
    )
    cols = [c for c in ("proba1", "pred_at_threshold", "prediction") if c in scored.columns]
    _print_pdf(to_pandas_sanitized(scored.select(*cols), max_rows=args.n))
    return 0


def main(argv: list[str] | None = None) -> int:
    from nyc_taxi_pyspark_spark.serve.engine import KPIS

    parser = argparse.ArgumentParser(prog="engine-app", description=__doc__)
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sub = parser.add_subparsers(dest="cmd", required=True)

    sub.add_parser("tables")
    p = sub.add_parser("preview")
    p.add_argument("--table", required=True)
    p.add_argument("-n", type=int, default=10)
    p = sub.add_parser("sql")
    p.add_argument("query")
    p.add_argument("-n", type=int, default=50)
    p = sub.add_parser("repl")
    p.add_argument("-n", type=int, default=50)
    p = sub.add_parser("kpi")
    p.add_argument("--which", choices=list(KPIS), default="payment")
    p = sub.add_parser("report")
    p.add_argument("--out", required=True)
    p = sub.add_parser("score")
    p.add_argument("--model", required=True)
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("-n", type=int, default=50)

    args = parser.parse_args(argv)
    eng = _build_engine(args.sf_dir)
    handler = {
        "tables": cmd_tables,
        "preview": cmd_preview,
        "sql": cmd_sql,
        "repl": cmd_repl,
        "kpi": cmd_kpi,
        "report": cmd_report,
        "score": cmd_score,
    }[args.cmd]
    return handler(eng, args)


if __name__ == "__main__":
    sys.exit(main())
