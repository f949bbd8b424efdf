"""The local twin of the driver's t2 gate: every queries() entry must
match its DuckDB oracle exactly at sf0.01."""

from __future__ import annotations

import pytest

from tests.oracle_harness import compare, duckdb_conn
from tests.conftest import SF_MEDIUM

import __spark_entry__ as entrymod


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb_conn(SF_MEDIUM)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_query_matches_oracle(name, spark, oracle_con):
    df = QUERIES[name](spark, SF_MEDIUM)
    cmp = compare(name, df, oracle_con, ORACLES[name])
    assert cmp.match, f"{name}:\n" + "\n".join(cmp.mismatches)


def test_oracles_and_queries_name_the_same_set():
    """No oracle without a registered query and no query without an
    oracle: a query is either registered and oracle-checked, or
    absent."""
    from poet_cloud_cost_etl_spark.oracles import ORACLES as engine_oracles
    from poet_cloud_cost_etl_spark.queries import QUERIES as engine_queries

    assert set(engine_oracles) == set(engine_queries)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["service", "total"]
