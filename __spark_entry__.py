"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``poet_cloud_cost_etl_spark/`` — queries.py
holds the Spark-side callables, oracles.py the DuckDB SQL twins.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from poet_cloud_cost_etl_spark import oracles as _oracles  # noqa: E402
from poet_cloud_cost_etl_spark import queries as _queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's
    headline "total cost by service over a date window"
    (/root/reference/README.md:125-130) run through the full
    scan→normalize→union-view→aggregate→sort pipeline."""
    return _queries.QUERIES["costs_by_service_30d"](spark, "/root/testdata/sf0.001")


def _rotation_order(names: list[str]) -> list[str]:
    """``names`` staleness-first: names with no GREEN row in any
    committed CORRECTNESS_r*.json first, then ascending by the round
    of their newest green row, registration order breaking ties.
    Only green rows (rows_match and hash_match true, err null) count:
    a red or rows-only row must not defer a query's re-check. With no
    CORRECTNESS files on disk this is plain registration order."""
    repo = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            green = (
                isinstance(row, dict)
                and row.get("rows_match") is True
                and row.get("hash_match") is True
                and row.get("err") is None
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)
    # sorted() is stable, so ties keep registration order
    return sorted(names, key=lambda n: last.get(n, -1))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per registered query, in the order the driver's
    correctness window walks them (``_rotation_order``): its first 50
    entries are the next window, so every query is re-checked in turn
    (tests/test_rotation.py guards the order)."""
    return {n: _queries.QUERIES[n] for n in _rotation_order(list(_queries.QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query. Every registered query has one
    (``test_oracle_parity`` checks that both name the same set)."""
    return dict(_oracles.ORACLES)
