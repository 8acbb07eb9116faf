#!/usr/bin/env python3
"""Regenerate expected.json: the frozen result of every cohort query.

    python3 perfbench/freeze.py

A query with a DuckDB oracle twin (``catalog.ORACLES``) is frozen as the
order-insensitive hash of the oracle's result on perfbench/data; the only
other check, for a query without a twin, is its row count, taken from
Spark. Spark's result is compared with the oracle's here too, and any
mismatch is printed as a defect: expected.json keeps the oracle's hash
either way, never Spark's own output.
"""

from __future__ import annotations

import json
import sys

from common import COHORTS, DATA_DIR, EXPECTED_PATH, ROOT, result_digest

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    import duckdb

    sys.path.insert(0, str(ROOT))
    from nyc_taxi_pyspark_spark.catalog import ORACLES, QUERIES
    from nyc_taxi_pyspark_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR / t}.parquet'")
    spark = get_spark("perfbench-freeze")
    names = sorted({q for cohort in COHORTS.values() for q in cohort})
    frozen, defects = {}, []
    for name in names:
        got = result_digest(QUERIES[name](spark, str(DATA_DIR)).toPandas())
        if name in ORACLES:
            want = result_digest(con.execute(ORACLES[name]).fetchdf())
            if want != got:
                defects.append(name)
                print(f"DEFECT {name}: spark {got} oracle {want}")
            frozen[name] = want
        else:
            frozen[name] = {"rows": got["rows"], "sha256": None}
        print(f"{name}: {frozen[name]}")
    spark.stop()
    with open(EXPECTED_PATH, "w", encoding="utf-8") as f:
        json.dump({"data": "data/sf0.01", "queries": frozen}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(frozen)} queries frozen, {len(defects)} defects: {defects}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
