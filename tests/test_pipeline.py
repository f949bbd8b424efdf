"""End-to-end sync pipeline (reference main.py:37-145 parity):
sources → raw sink → normalize → partitioned costs sink → view +
sync_log, with per-source failure isolation and dry-run."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from poet_cloud_cost_etl_spark.catalog import table
from poet_cloud_cost_etl_spark.pipeline import sync
from poet_cloud_cost_etl_spark.sources.base import make_source
from poet_cloud_cost_etl_spark.sources.sync_log import read_sync_log

from tests.conftest import SF_SMALL, count_jobs

TS = datetime(2026, 1, 1)


def _sources(spark):
    events = make_source(
        "events",
        read=lambda s: table(s, SF_SMALL, "events"),
        mapping=lambda: {
            "date": F.col("ts").cast("date"),
            "account_id": F.col("user_id").cast("string"),
            "service": F.col("event_type"),
            "region": F.lit(None),
            "cost": F.col("value"),
            "currency": F.lit("USD"),
        },
        provider="aws",
    )
    orders = make_source(
        "orders",
        read=lambda s: table(s, SF_SMALL, "orders"),
        mapping=lambda: {
            "date": F.col("o_orderdate").cast("date"),
            "account_id": F.col("o_custkey").cast("string"),
            "service": F.col("o_orderpriority"),
            "region": F.col("o_orderstatus"),
            "cost": F.col("o_totalprice"),
            "currency": F.lit("USD"),
        },
        provider="gcp",
    )
    return [events, orders]


def test_sync_end_to_end(spark, tmp_path):
    out = str(tmp_path / "warehouse")
    report = sync(spark, _sources(spark), out, sync_timestamp=TS)
    assert report.ok
    assert report.tables == {"events": 1000, "orders": 1500}

    # costs view is queryable and unioned
    total = spark.sql("SELECT count(*) AS n FROM costs").collect()[0].n
    assert total == 2500
    by_provider = {
        r.cloud_provider: r.n
        for r in spark.sql(
            "SELECT cloud_provider, count(*) AS n FROM costs GROUP BY 1"
        ).collect()
    }
    assert by_provider == {"aws": 1000, "gcp": 1500}

    # partitioned layout: cloud_provider=/year=/month= directories
    import os

    parts = os.listdir(f"{out}/events_normalized")
    assert any(p.startswith("cloud_provider=") for p in parts)

    # sync_log written (closes the reference's latent gap)
    log = read_sync_log(spark, f"{out}/sync_log")
    entries = {r.table_name: r for r in log.collect()}
    assert entries["events"].status == "success"
    assert entries["events"].records_synced == 1000


def test_sync_failure_isolation(spark, tmp_path):
    """A broken source must not sink the run (main.py:119-122)."""

    def boom(s):
        raise RuntimeError("source exploded")

    bad = make_source("bad", read=boom, mapping=dict, provider="aws")
    srcs = _sources(spark) + [bad]
    report = sync(spark, srcs, str(tmp_path / "w2"), sync_timestamp=TS)
    assert report.tables["events"] == 1000
    assert "bad" in report.failures
    log = read_sync_log(spark, str(tmp_path / "w2/sync_log"))
    assert {r.status for r in log.collect()} == {"success", "failed"}


def test_sync_dry_run(spark, tmp_path, capsys):
    """A dry run writes nothing, not even the sync_log row of a source
    whose read fails; the failure is still reported."""

    def boom(s):
        raise RuntimeError("source exploded")

    bad = make_source("bad", read=boom, mapping=dict, provider="aws")
    out = str(tmp_path / "w3")
    report = sync(spark, _sources(spark) + [bad], out, dry_run=True)
    assert report.tables == {} and set(report.failures) == {"bad"}
    captured = capsys.readouterr()
    assert "[dry-run] events" in captured.out
    import os

    assert not os.path.exists(out)


def test_failure_after_normalize_stays_out_of_view(spark, tmp_path, monkeypatch):
    """A source that fails AFTER normalization (sink landing) must be
    excluded from both the costs view and report.tables — a half-landed
    source must never serve rows as if it succeeded."""
    import poet_cloud_cost_etl_spark.pipeline as pl
    from poet_cloud_cost_etl_spark.config import EngineConfig

    real_write = pl.write_jdbc

    def failing_write(df, url, tbl, **kw):
        if "orders" in tbl:
            raise RuntimeError("simulated sink outage")
        return None  # events "lands"

    monkeypatch.setattr(pl, "write_jdbc", failing_write)
    cfg = EngineConfig(
        output_root=str(tmp_path / "out"),
        jdbc_url="jdbc:stub:unused",
    )
    report = sync(spark, _sources(spark), sync_timestamp=TS, config=cfg)
    assert set(report.failures) == {"orders"}
    assert set(report.tables) == {"events"}
    providers = {
        r.cloud_provider
        for r in spark.sql("SELECT DISTINCT cloud_provider FROM costs").collect()
    }
    assert providers == {"aws"}  # orders (gcp) excluded from the view
    assert real_write is not failing_write


def test_warm_sync_job_count(spark, tmp_path):
    """A warm sync of the two fixture sources runs exactly 7 Spark
    jobs: per source the isEmpty guard, the raw write and the
    normalized write (the catalog read reuses its cached schema and
    the row count rides on the normalized write), plus one sync_log
    append for the run. A driver round-trip creeping back in fails
    here whatever the host speed."""
    out = str(tmp_path / "warm")
    sync(spark, _sources(spark), out, sync_timestamp=TS)
    jobs, report = count_jobs(
        spark, lambda: sync(spark, _sources(spark), out, sync_timestamp=TS), "warm-sync"
    )
    assert report.tables == {"events": 1000, "orders": 1500}
    assert jobs == 7


def test_sync_log_rows_one_append_per_run(spark, tmp_path):
    """One sync_log row per landed or failed source, none for an
    empty one, written by a single append with the audit schema; each
    row carries the landed count and the costs rows' sync_timestamp."""
    import os

    from poet_cloud_cost_etl_spark.sources.sync_log import SYNC_LOG_SCHEMA

    def boom(s):
        raise RuntimeError("source exploded")

    empty = make_source(
        "empty",
        read=lambda s: table(s, SF_SMALL, "orders").limit(0),
        mapping=dict,
        provider="gcp",
    )
    bad = make_source("bad", read=boom, mapping=dict, provider="aws")
    out = str(tmp_path / "w")
    report = sync(spark, _sources(spark) + [empty, bad], out, sync_timestamp=TS)
    assert report.tables == {"events": 1000, "orders": 1500, "empty": 0}
    assert set(report.failures) == {"bad"}

    files = [f for f in os.listdir(f"{out}/sync_log") if f.endswith(".parquet")]
    assert len(files) == 1
    log = spark.read.parquet(f"{out}/sync_log")
    assert log.schema == spark.createDataFrame([], "id bigint, " + SYNC_LOG_SCHEMA).schema
    rows = {r.table_name: r for r in log.collect()}
    assert set(rows) == {"events", "orders", "bad"}
    for name in ("events", "orders"):
        assert rows[name].status == "success"
        assert rows[name].records_synced == report.tables[name]
        assert rows[name].columns_count == 9
    assert rows["bad"].status == "failed"
    assert "source exploded" in rows["bad"].error_message
    stamps = {
        r.sync_timestamp
        for r in spark.table("costs").select("sync_timestamp").distinct().collect()
    }
    assert stamps == {r.sync_timestamp for r in rows.values()}


def test_sync_log_failure_keeps_landed_sources(spark, tmp_path, monkeypatch):
    """A failing sync_log append is reported as the run's failure but
    leaves every landed source in report.tables and in the view."""
    import poet_cloud_cost_etl_spark.pipeline as pl

    def failing_append(entry, path):
        raise RuntimeError("log sink down")

    monkeypatch.setattr(pl, "append_sync_log", failing_append)
    report = sync(spark, _sources(spark), str(tmp_path / "w"), sync_timestamp=TS)
    assert report.tables == {"events": 1000, "orders": 1500}
    assert set(report.failures) == {"sync_log"} and not report.ok
    by_provider = {
        r.cloud_provider: r.n
        for r in spark.sql(
            "SELECT cloud_provider, count(*) AS n FROM costs GROUP BY 1"
        ).collect()
    }
    assert by_provider == {"aws": 1000, "gcp": 1500}


def test_sync_window_start_math():
    from datetime import date

    from poet_cloud_cost_etl_spark.pipeline import sync_window_start

    # months=1 = "the current month" (reference --months default)
    assert sync_window_start(datetime(2001, 8, 15), 1) == date(2001, 8, 1)
    assert sync_window_start(datetime(2001, 8, 15), 3) == date(2001, 6, 1)
    # year-boundary crossing
    assert sync_window_start(datetime(2024, 1, 10), 2) == date(2023, 12, 1)
    assert sync_window_start(datetime(2024, 2, 29), 14) == date(2023, 1, 1)
    import pytest

    with pytest.raises(ValueError, match="months"):
        sync_window_start(datetime(2024, 1, 1), 0)


def test_sync_months_scopes_sources(spark, tmp_path):
    """--months N parity (reference src/main.py:39): only records from
    the last N calendar months relative to sync_timestamp survive."""
    from poet_cloud_cost_etl_spark.sources.base import fixture_sources

    ts = datetime(2001, 8, 15)  # orders fixture spans 1995-01..2001-08
    report = sync(
        spark,
        fixture_sources(SF_SMALL),
        output_root=str(tmp_path / "out"),
        sync_timestamp=ts,
        months=3,
        write_raw=False,
    )
    assert report.ok, report.failures
    expected_orders = (
        table(spark, SF_SMALL, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-06-01"))
        .count()
    )
    assert 0 < expected_orders < 1500
    assert report.tables["orders"] == expected_orders
    # events (2024) sit entirely after the 2001 window start: kept
    assert report.tables["events"] == 1000


def test_sync_months_empty_window_hits_p9_guard(spark, tmp_path):
    """A window after all data must flow into the P9 empty-input path
    (0-row report entries), not fail."""
    from poet_cloud_cost_etl_spark.sources.base import fixture_sources

    report = sync(
        spark,
        fixture_sources(SF_SMALL),
        output_root=str(tmp_path / "out"),
        sync_timestamp=datetime(2030, 1, 1),
        months=1,
        write_raw=False,
    )
    assert report.ok, report.failures
    assert report.tables == {"events": 0, "orders": 0}


def test_sync_months_filter_reaches_scan(spark):
    """The month cutoff is a plain literal against the raw date
    column, so it must arrive at the parquet scan as a pushed filter
    (P7) — not a post-scan Filter over full history."""
    from datetime import date

    from poet_cloud_cost_etl_spark.plans import explain as X

    raw = table(spark, SF_SMALL, "orders").filter(
        F.col("o_orderdate") >= F.lit(date(2001, 6, 1))
    )
    assert X.has_pushed_filter(raw, "o_orderdate"), X.formatted_plan(raw)


def test_normalize_decimal_money_ddl(spark):
    """The DECIMAL-money DDL-parity claim behind the
    ``costs_normalize_decimal`` registered query (reference
    sql/init.sql:19).  The hashed query surface renders cost as
    STRING (the r8 post-mortem: the driver's pandas materialization
    degrades DECIMAL(10,2) to float64, so decimals must never reach
    the hash), which means the DecimalType assertion lives HERE:
    the query's internal projection is exactly DecimalType(10,2),
    and the string rendering always carries 2 fraction digits on
    both engines."""
    import re

    from pyspark.sql import types as T

    from poet_cloud_cost_etl_spark.operators.normalize import normalize_mapped
    from poet_cloud_cost_etl_spark.queries import QUERIES

    ev = table(spark, SF_SMALL, "events")
    inner = normalize_mapped(
        ev,
        source_table="events",
        mapping={"cost": F.col("value")},
        cloud_provider="aws",
        sync_timestamp=TS,
        cost_type=T.DecimalType(10, 2),
    )
    assert inner.schema["cost"].dataType == T.DecimalType(10, 2)

    out = QUERIES["costs_normalize_decimal"](spark, SF_SMALL)
    assert dict(out.dtypes)["cost"] == "string"
    rendered = [r.cost for r in out.select("cost").limit(200).collect()]
    assert rendered, "query produced no rows at sf0.001"
    pat = re.compile(r"^-?\d+\.\d{2}$")
    assert all(v is None or pat.match(v) for v in rendered), rendered[:5]
