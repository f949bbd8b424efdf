"""The ``sync`` pipeline — the reference's flagship entry point
(``/root/reference/src/main.py:37-145``) re-expressed Spark-first.

Reference lifecycle: per report path, extract (DuckDB→pandas), load
raw to PG, normalize (pandas), load normalized to PG, then create the
UNION ALL view. Every stage materializes in driver RAM — the
documented 16 GB OOM (CLAUDE.md:128-129).

Here each stage stays a lazy DataFrame. The Spark jobs of a run are:

- per source: whatever its ``read`` runs (a ``mergeSchema`` scan
  infers the merged schema in one job; a cached ``catalog.table``
  schema runs none), the ``isEmpty`` guard, the raw write, and the
  normalized write — whose row count comes from an ``Observation``
  on the written frame, not from a re-read;
- per run: one ``sync_log`` append holding every landed or failed
  source's row (closing the reference's latent gap — init.sql
  defines the table but never writes it).

Raw and normalized tables land as parquet (partitioned for the costs
layout) and, when a URL is configured, the normalized one also via
JDBC. The costs view is registered in the session catalog over a
re-read of the committed files, declared with the schema just
written, so no inference job runs.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import date, datetime

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import EngineConfig
from .operators.normalize import NORMALIZED_COLUMNS, normalize_mapped
from .operators.union_view import create_costs_view
from .sources.base import Source
from .sources.sinks import write_costs_partitioned, write_jdbc, write_parquet_partitioned
from .sources.sync_log import append_sync_log, log_frame


@dataclass
class SyncReport:
    tables: dict[str, int] = field(default_factory=dict)
    failures: dict[str, str] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.failures


def sync_window_start(ts: datetime, months: int) -> date:
    """First day of the calendar month ``months - 1`` months before
    ``ts``'s month — ``--months 1`` means "the current month", like
    the reference's default (``src/main.py:39``)."""
    if months < 1:
        raise ValueError(f"months must be >= 1, got {months}")
    total = ts.year * 12 + (ts.month - 1) - (months - 1)
    return date(total // 12, total % 12 + 1, 1)


def sync(
    spark: SparkSession,
    sources: list[Source],
    output_root: str | None = None,
    sync_timestamp: datetime | None = None,
    dry_run: bool = False,
    write_raw: bool = True,
    config: "EngineConfig | None" = None,
    months: int | None = None,
) -> SyncReport:
    """Run the full extract→normalize→view pipeline.

    ``dry_run`` prints the plan without touching data
    (main.py:41,60-63 parity); failures are isolated per source
    (main.py:119-122 swallows per-path errors and continues). The
    run's ``sync_log`` rows are appended once, after the last source;
    if that append fails, the error is ``report.failures["sync_log"]``
    and every landed source stays in ``report.tables`` and the view.

    ``config`` (config.EngineConfig, reference src/config.py:32-61)
    supplies the output root when ``output_root`` is None and, when
    ``config.jdbc_url`` is set, additionally lands each normalized
    table via the JDBC sink (S6) — the reference's PostgreSQL load.

    ``months`` (reference ``--months N``, src/main.py:39): keep only
    records dated on/after the start of the calendar month N-1 months
    before ``sync_timestamp``. The cutoff is computed driver-side and
    compared as a plain literal against the source's declared
    ``date_column()``, so it reaches the parquet scan as a pushed
    filter (or a partition filter on date-partitioned layouts)
    instead of a post-scan Filter over the full history."""
    if output_root is None:
        if config is None:
            raise ValueError("sync() needs output_root or config")
        output_root = config.output_root
    ts = sync_timestamp or datetime.utcnow()
    report = SyncReport()
    normalized: dict[str, DataFrame] = {}
    log_rows: list[tuple] = []

    start = sync_window_start(ts, months) if months is not None else None

    for src in sources:
        t0 = time.time()
        try:
            raw = src.read(spark)
            if start is not None:
                dc = getattr(src, "date_column", lambda: None)()
                if dc is not None:
                    raw = raw.filter(F.col(dc) >= F.lit(start))
            if dry_run:
                print(f"[dry-run] {src.name}: schema={raw.schema.simpleString()}")
                continue
            if raw.isEmpty():  # P9 empty-input guard (main.py:99-101)
                report.tables[src.name] = 0
                continue
            if write_raw:
                write_parquet_partitioned(
                    raw, f"{output_root}/raw_{src.name}", if_exists="replace"
                )
            norm = normalize_mapped(
                raw,
                source_table=src.name,
                mapping=src.cost_mapping(),
                cloud_provider=src.cloud_provider(),
                sync_timestamp=ts,
            )
            # the row count rides on the write itself (no re-read count)
            obs = Observation()
            path = f"{output_root}/{src.name}_normalized"
            write_costs_partitioned(
                norm.observe(obs, F.count(F.lit(1)).alias("rows")), path,
                if_exists="replace",
            )
            n = obs.get["rows"]
            # re-read the sink so the view is backed by the committed
            # data; the declared schema skips the inference job
            normalized[src.name] = (
                spark.read.schema(norm.schema).parquet(path).select(*NORMALIZED_COLUMNS)
            )
            if config is not None and config.jdbc_url:
                write_jdbc(
                    normalized[src.name],
                    config.jdbc_url,
                    config.jdbc_table(f"{src.name}_normalized"),
                    if_exists="replace",
                    properties=config.jdbc_properties,
                )
            report.tables[src.name] = n
            # in SYNC_LOG_SCHEMA order: table, status, records,
            # columns, error, duration
            log_rows.append(
                (src.name, "success", n, len(NORMALIZED_COLUMNS), None, time.time() - t0)
            )
        except Exception as exc:  # per-source isolation (main.py:119-122)
            # a source that failed mid-landing (e.g. the JDBC write
            # after the parquet write) must not leak into the unified
            # view — nor into the success report — as if it succeeded
            normalized.pop(src.name, None)
            report.tables.pop(src.name, None)
            report.failures[src.name] = str(exc)[:500]
            log_rows.append(
                (src.name, "failed", 0, 0, str(exc)[:500], time.time() - t0)
            )

    if log_rows and not dry_run:
        # one append per run; the log is itself a sink write, so its
        # failure is reported but leaves every landed source landed
        try:
            append_sync_log(log_frame(spark, ts, log_rows), f"{output_root}/sync_log")
        except Exception as exc:
            report.failures["sync_log"] = str(exc)[:500]
    if normalized and not dry_run:
        create_costs_view(spark, normalized)
    return report
