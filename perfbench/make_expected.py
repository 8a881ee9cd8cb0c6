"""Regenerate ``expected.json``: the value each ``etl`` and ``stream``
query must produce on the benchmark's fixture tables.

    python3 perfbench/make_expected.py

Every expected value comes from the repo's DuckDB oracle SQL (``ORACLES``)
run over ``data/sf0.01``: row count, column names and the value hash of
``workloads.value_hash``. The benchmark never runs the oracles itself.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from database_migration_engine_spark.io import TABLES  # noqa: E402
from database_migration_engine_spark.plans import ORACLES  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    EXPECTED, ETL_QUERIES, SF_DIR, STREAM_QUERIES, value_hash,
)


def main() -> None:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    expected = {}
    for name in ETL_QUERIES + STREAM_QUERIES:
        t0 = time.perf_counter()
        pdf = con.sql(ORACLES[name]).df()
        expected[name] = {
            "rows": len(pdf), "columns": sorted(pdf.columns), "hash": value_hash(pdf),
        }
        print(f"{name}: {len(pdf)} rows in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
