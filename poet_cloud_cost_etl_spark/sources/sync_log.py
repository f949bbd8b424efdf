"""The ``sync_log`` audit table (reference
``/root/reference/sql/init.sql:12-24`` — schema defined there but
never written by the reference code, a latent gap this engine closes).

One append-mode parquet row per (run, table): status, row/column
counts, duration, error. The id is a deterministic surrogate
(xxhash64 of run key) rather than SERIAL — monotonic sequences are a
single-node concept; at scale an idempotent surrogate key is what you
want for exactly-once re-runs.

A run's rows are built on the JVM as one single-partition frame of
literals and appended once: one write job with one task per run,
instead of one driver round-trip (and a 4-partition local frame) per
table.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SYNC_LOG_SCHEMA = (
    "sync_timestamp timestamp, table_name string, status string, "
    "records_synced bigint, columns_count int, error_message string, "
    "duration_seconds double"
)


# (name, type) of each column, in order; a run's rows are tuples of
# every column after ``sync_timestamp``, which the run shares.
_COLUMNS = [tuple(c.split()) for c in SYNC_LOG_SCHEMA.split(", ")]


def log_frame(spark: SparkSession, sync_timestamp: datetime, rows: list[tuple]) -> DataFrame:
    """The run's ``sync_log`` rows as one single-partition frame.

    ``sync_timestamp`` goes through ``F.lit`` so it converts exactly
    like ``normalize_mapped``'s stamp (a naive datetime is read in the
    process time zone) and the log row joins the ``costs`` rows it
    describes."""
    structs = [
        F.struct(*[
            F.lit(v).cast(t).alias(n)
            for (n, t), v in zip(_COLUMNS, (sync_timestamp, *row), strict=True)
        ])
        for row in rows
    ]
    df = spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))
    return df.select(F.xxhash64("sync_timestamp", "table_name").alias("id"), "*")


def append_sync_log(entry: DataFrame, path: str) -> None:
    entry.write.mode("append").parquet(path)


def read_sync_log(spark: SparkSession, path: str) -> DataFrame:
    """Most-recent-first, the reference's descending-index access
    pattern (init.sql:23-24)."""
    return spark.read.parquet(path).orderBy(F.desc("sync_timestamp"))
