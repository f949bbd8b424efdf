#!/usr/bin/env python3
"""Drive the product surface exactly as the round driver does:
import __spark_entry__, smoke entry(), run every queries() entry at
sf0.01 and compare with its oracle_sql() twin on DuckDB.

Usage: python scripts/driver_check.py [sf_dir]
Exit code 0 iff entry smokes and every oracle-checked query matches.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from poet_cloud_cost_etl_spark.session import build_session  # noqa: E402

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session(app_name="driver-check", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    rows = E.entry(spark).collect()
    print(f"entry: {len(rows)} rows {'OK' if rows else 'FAIL'}")
    bad = 0 if rows else 1

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # r9: delegate to the shared two-leg harness (exact fetchall leg
    # + the pandas-materialization leg that replicates the driver's
    # fetchdf()/toPandas() type degradation — the r8 red-row class
    # was invisible to the old fetchall-only comparison here).
    from tests.oracle_harness import compare

    qs, osql = E.queries(), E.oracle_sql()
    for name, fn in sorted(qs.items()):
        try:
            sdf = fn(spark, sf)
            cmp = compare(name, sdf, con, osql[name])
            bad += 0 if cmp.match else 1
            print(
                f"{name}: {'MATCH' if cmp.match else 'MISMATCH'}"
                f" ({cmp.spark_rows} rows)"
            )
            for issue in cmp.mismatches:
                print(f"  {issue}")
        except Exception as exc:  # surface per-query errors, keep going
            bad += 1
            print(f"{name}: ERROR {type(exc).__name__}: {str(exc)[:200]}")
    print(f"RESULT: {'PASS' if bad == 0 else f'FAIL ({bad} bad)'}")
    spark.stop()
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
