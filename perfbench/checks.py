"""Output checks: engine results against DuckDB over the same files.

A result is reduced to an order-insensitive hash: columns sorted by
name, each cell canonicalised the way the repo's oracle harness does
(floats by ``repr``, so one ulp of drift is a mismatch), rows sorted.

The DuckDB side needs only the generated files, so a run computes it
in a child process (``python3 perfbench/checks.py ...``, which prints
the expected hashes as JSON) while the untimed warm-up runs, and waits
for it before timing starts; the comparison happens after the timed
work.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys

import duckdb

def canon_cell(v) -> str:
    """tests/oracle_harness.py's cell canon, kept here so the benchmark
    does not depend on the layout of the test suite."""
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "<NaN>" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: sorted column names, then
    the sorted canonical rows with columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for row in canon:
        h.update(repr(row).encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def spark_hash(df) -> str:
    return result_hash(df.columns, [tuple(r) for r in df.collect()])


def table_oracle(tables_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per engine table."""
    from poet_cloud_cost_etl_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def duckdb_hash(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    res = con.execute(sql)
    return result_hash([d[0] for d in res.description], res.fetchall())


# --- sync_cur -----------------------------------------------------------

def cur_costs_sql(cur_dir: str, mappings: dict[str, dict[str, str | None]]) -> str:
    """The ``costs`` view rebuilt in DuckDB straight from the generated
    report files: the same column mapping, a null-on-error cost cast."""
    branches = []
    for src, m in mappings.items():
        def col(target, cast):
            return f"TRY_CAST({m[target]} AS {cast})" if m.get(target) else f"CAST(NULL AS {cast})"

        branches.append(
            f"SELECT {col('date', 'DATE')} AS date, {col('account_id', 'VARCHAR')} AS account_id, "
            f"{col('service', 'VARCHAR')} AS service, {col('region', 'VARCHAR')} AS region, "
            f"{col('cost', 'DOUBLE')} AS cost, {col('currency', 'VARCHAR')} AS currency, "
            f"'{src}' AS source_table "
            f"FROM read_parquet('{os.path.join(cur_dir, src)}/*.parquet', union_by_name=true)"
        )
    return " UNION ALL ".join(branches)


# Per (source, service, region, currency): exact cent sums and counts.
COSTS_AGG_SQL = (
    "SELECT source_table, service, region, currency, "
    "SUM(CAST(ROUND(cost * 100) AS BIGINT)) AS cost_cents, COUNT(*) AS n_rows, "
    "COUNT(cost) AS n_cost, MIN(date) AS first_day, MAX(date) AS last_day, "
    "COUNT(DISTINCT account_id) AS n_accounts FROM costs "
    "GROUP BY source_table, service, region, currency"
)


def costs_agg_spark(costs):
    from pyspark.sql import functions as F

    return costs.groupBy("source_table", "service", "region", "currency").agg(
        F.sum(F.round(F.col("cost") * 100, 0).cast("long")).alias("cost_cents"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count("cost").alias("n_cost"),
        F.min("date").alias("first_day"),
        F.max("date").alias("last_day"),
        F.countDistinct("account_id").alias("n_accounts"),
    )


def cost_by_service_sql(since: str) -> str:
    """The reference's headline query: cost by service over the last
    30 days, in integer cents."""
    return (
        "SELECT service, CAST(SUM(CAST(ROUND(cost * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total "
        f"FROM costs WHERE date >= DATE '{since}' GROUP BY service"
    )


def cost_by_service_spark(costs, since: str):
    from pyspark.sql import functions as F

    return (
        costs.filter(F.col("date") >= F.lit(since).cast("date"))
        .groupBy("service")
        .agg(F.sum(F.round(F.col("cost") * 100, 0).cast("long")).alias("c"))
        .select("service", (F.col("c").cast("double") / 100.0).alias("total"))
        .orderBy(F.desc("total"), "service")
    )


def cur_oracle(cur_dir: str, mappings: dict) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW costs AS {cur_costs_sql(cur_dir, mappings)}")
    return con


def expected_table_hashes(tables_dir: str, queries: list[str]) -> dict[str, str]:
    from poet_cloud_cost_etl_spark.oracles import ORACLES

    con = table_oracle(tables_dir)
    try:
        return {q: duckdb_hash(con, ORACLES[q]) for q in queries}
    finally:
        con.close()


def expected_cur_hashes(cur_dir: str, mappings: dict, since: str) -> dict[str, str]:
    con = cur_oracle(cur_dir, mappings)
    try:
        return {
            "costs_agg": duckdb_hash(con, COSTS_AGG_SQL),
            "cost_by_service": duckdb_hash(con, cost_by_service_sql(since)),
        }
    finally:
        con.close()


def main() -> None:
    ap = argparse.ArgumentParser(description="Print DuckDB's expected result hashes as JSON.")
    ap.add_argument("kind", choices=["tables", "cur"])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--queries", default="", help="tables: comma-separated query names")
    ap.add_argument("--mappings", default="{}", help="cur: JSON {path: {target: column}}")
    ap.add_argument("--since", default="", help="cur: first day of the cost-by-service window")
    args = ap.parse_args()
    if args.kind == "tables":
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        out = expected_table_hashes(args.dir, args.queries.split(","))
    else:
        out = expected_cur_hashes(args.dir, json.loads(args.mappings), args.since)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
