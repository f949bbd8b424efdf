"""Type-discipline lint for the oracle surface (r8 post-mortem,
verdict task 7).

The round driver materializes DuckDB results through pandas
(``fetchdf()``), which silently degrades some SQL types to float64:
DECIMAL(p,s) loses trailing zeros ('10.10' → 10.1) and HUGEINT —
which DuckDB produces for any SUM(BIGINT) or BIGINT*BIGINT division
left un-CAST — loses integerness (997991955456 → 997991955456.0).
Spark's ``toPandas()`` degrades *differently* (Decimal objects,
int64), so exactly these types make a query green under the exact
``fetchall()`` comparison and red under the driver: the r8 failure
mode (``costs_normalize_decimal``, ``embedding_health_audit``) and
two latent r9 hazards this lint caught before their first official
window (``signal_correlation_matrix``, ``conformal_value_bound``).

Contract: every oracle's FINAL projection uses only the
proven-portable type set.  Inner CTEs may use anything (HUGEINT
arithmetic is the exactness workhorse); the lint binds only the
result schema that reaches the driver's hash.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_MEDIUM
from tests.oracle_harness import duckdb_conn

ORACLES = entrymod.oracle_sql()

# Types that survive both engines' pandas materialization with
# identical canonical strings.  Notably absent: DECIMAL, HUGEINT,
# UHUGEINT, UBIGINT/UINTEGER (unsigned widens), FLOAT (float32 repr
# drift vs Spark double).
ALLOWED_FAMILIES = {
    "BOOLEAN",
    "TINYINT",
    "SMALLINT",
    "INTEGER",
    "BIGINT",
    "DOUBLE",
    "VARCHAR",
    "DATE",
    "TIMESTAMP",
}


def _result_families(con: duckdb.DuckDBPyConnection, sql: str):
    rel = con.sql(f"SELECT * FROM ({sql}) __lint LIMIT 0")
    return list(zip(rel.columns, [str(t).split("(")[0] for t in rel.types]))


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF_MEDIUM)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_oracle_result_types_are_driver_portable(name, con):
    offenders = [
        (col, fam)
        for col, fam in _result_families(con, ORACLES[name])
        if fam not in ALLOWED_FAMILIES
    ]
    assert not offenders, (
        f"{name}: driver-fragile result type(s) {offenders} — pandas "
        "materialization degrades these asymmetrically between engines; "
        "CAST the final projection to the proven set (see module doc)"
    )


def test_lint_catches_the_r8_red_row_shapes(con):
    """Regression-test the lint itself against the two pre-fix r8
    shapes: an un-CAST integer division of a SUM (HUGEINT, the
    ``embedding_health_audit`` bug) and a DECIMAL money column (the
    ``costs_normalize_decimal`` bug)."""
    hugeint = "SELECT SUM(x) // COUNT(*) AS m FROM (VALUES (1), (2)) t(x)"
    fams = dict(_result_families(con, hugeint))
    assert fams["m"] not in ALLOWED_FAMILIES

    decimal = "SELECT CAST('10.10' AS DECIMAL(10,2)) AS cost"
    fams = dict(_result_families(con, decimal))
    assert fams["cost"] not in ALLOWED_FAMILIES


def test_oracle_views_resolve(con):
    """The lint's LIMIT-0 plan still binds real table schemas, so a
    renamed testdata column breaks here, not silently."""
    assert os.path.exists(os.path.join(SF_MEDIUM, "documents.parquet"))
    assert con.sql("SELECT COUNT(*) FROM documents").fetchone()[0] > 0
