"""The benchmark's three workloads.

Each workload generates its inputs from the seed (in a child process,
outside every timer), binds to a live session, runs one untimed
warm-up pass that also captures the outputs to check, and then offers
``pass_ops()``: the operations of one pass, in a seed-fixed order. An
operation raises on a wrong result it can see by itself; the rest of
the checking happens in ``check()`` after the timed work.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
from datetime import datetime

import checks
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

COST_QUERIES = [
    "costs_by_service_30d",
    "costs_union_view",
    "costs_by_account",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q9_product_type_profit",
    "join_asof",
    "window_running_total",
    "anomaly_zscore",
    "timeseries_gapfill",
    "pivot_daily_services",
]
DEDUP_QUERIES = [
    "curation_manifest",
    "dedup_prefix_filter_join",
    "dedup_modularity",
    "dedup_lsh_plan",
]

# The sync runs "now" = SYNC_TS; the headline read covers the 30 days
# before it.
SYNC_TS = datetime(2026, 2, 1)
VIEW_SINCE = "2026-01-02"


def generate(kind: str, seed: int, out: str) -> dict:
    """Run gen.py in a child process and return its manifest."""
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), kind, "--seed", str(seed), "--out", out],
        check=True,
        stdout=subprocess.PIPE,
        text=True,
    )
    return json.loads(res.stdout)


def start_oracle(*args: str) -> subprocess.Popen:
    """Start checks.py computing DuckDB's expected hashes."""
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "checks.py"), *args],
        stdout=subprocess.PIPE,
        text=True,
    )


def finish_oracle(proc: subprocess.Popen) -> dict[str, str]:
    out, _ = proc.communicate()
    if proc.returncode != 0:
        raise RuntimeError(f"oracle process exited with {proc.returncode}")
    return json.loads(out)


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and count of data files under ``path`` (no _SUCCESS/.crc)."""
    total = n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, f))
            n += 1
    return total, n


def release_persisted(spark) -> None:
    """Unpersist RDDs an operator pinned, so one query's cached blocks
    do not slow the next (as bench.py does between queries)."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


class QueryWorkload:
    """A list of registry queries over the generated engine tables."""

    def __init__(self, name: str, queries: list[str], work_dir: str, seed: int):
        self.name = name
        self.queries = list(queries)
        random.Random(seed).shuffle(self.queries)
        self.seed = seed
        self.tables_dir = os.path.join(work_dir, "tables")
        self.hashes: dict[str, str] = {}

    def generate(self) -> None:
        generate("tables", self.seed, self.tables_dir)

    def bind(self, spark) -> None:
        from poet_cloud_cost_etl_spark.oracles import ORACLES
        from poet_cloud_cost_etl_spark.queries import QUERIES

        missing = [q for q in self.queries if q not in ORACLES]
        if missing:
            raise ValueError(f"no DuckDB oracle for {missing}")
        self.spark, self.registry = spark, QUERIES

    def warm(self) -> None:
        """Run each query once, untimed, and hash its output; DuckDB's
        hashes are computed meanwhile and awaited before returning."""
        oracle = start_oracle("tables", "--dir", self.tables_dir, "--queries", ",".join(self.queries))
        try:
            for q in self.queries:
                self.hashes[q] = checks.spark_hash(self.registry[q](self.spark, self.tables_dir))
                release_persisted(self.spark)
        finally:
            self.expected = finish_oracle(oracle)

    def pass_ops(self):
        return [(q, self._op(q)) for q in self.queries]

    def _op(self, q: str):
        def run(tracer) -> None:
            with tracer.span(f"query:{q}"):
                with tracer.span("construct"):
                    df = self.registry[q](self.spark, self.tables_dir)
                with tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("action"):
                    df.write.format("noop").mode("overwrite").save()

        return run

    def after_op(self) -> None:
        release_persisted(self.spark)

    def check(self) -> dict[str, str]:
        """Query name -> mismatch description, for each wrong result."""
        return {
            q: f"engine {self.hashes[q]} != oracle {self.expected[q]}"
            for q in self.queries
            if self.hashes[q] != self.expected[q]
        }

    def wrap_targets(self):
        return []

    def landed(self) -> dict[str, float]:
        return {}


class SyncWorkload:
    """``pipeline.sync`` over generated CUR report paths, then the
    headline cost-by-service read of the landed ``costs`` view."""

    name = "sync_cur"

    def __init__(self, work_dir: str, seed: int):
        self.seed = seed
        self.cur_dir = os.path.join(work_dir, "cur")
        self.out_root = os.path.join(work_dir, "landed")
        self.manifest: dict = {}
        self.syncs = 0
        self.read_rows: list[tuple] = []

    def generate(self) -> None:
        self.manifest = generate("cur", self.seed, self.cur_dir)

    def bind(self, spark) -> None:
        from pyspark.sql import functions as F

        from poet_cloud_cost_etl_spark import pipeline
        from poet_cloud_cost_etl_spark.operators.normalize import (
            AWS_CUR_ALTERNATIVES,
            AWS_CUR_PRIMARY,
            resolve_column,
        )
        from poet_cloud_cost_etl_spark.sources import parquet_source
        from poet_cloud_cost_etl_spark.sources.base import make_source

        self.spark, self.pipeline = spark, pipeline
        self.mappings: dict[str, dict[str, str | None]] = {}
        self.sources = []
        for path_name, info in self.manifest["paths"].items():
            cols = {
                t: resolve_column(info["columns"], t, AWS_CUR_PRIMARY, AWS_CUR_ALTERNATIVES)
                for t in ("date", "account_id", "service", "region", "cost", "currency")
            }
            self.mappings[path_name] = cols
            path = os.path.join(self.cur_dir, path_name)
            self.sources.append(
                make_source(
                    path_name,
                    read=lambda s, p=path: parquet_source.read_parquet_glob(s, p),
                    mapping=lambda c=cols: {
                        t: F.col(src) if src else F.lit(None) for t, src in c.items()
                    },
                    provider="aws",
                    date_col=cols["date"],
                )
            )
        self.expected_rows = {k: v["rows"] for k, v in self.manifest["paths"].items()}

    def warm(self) -> None:
        oracle = start_oracle(
            "cur", "--dir", self.cur_dir, "--mappings", json.dumps(self.mappings),
            "--since", VIEW_SINCE,
        )
        try:
            off = Tracer(enabled=False)
            self._sync(off)
            self._read(off)
        finally:
            self.expected = finish_oracle(oracle)

    def pass_ops(self):
        return [("sync", self._sync), ("costs_view_read", self._read)]

    def _sync(self, tracer) -> None:
        with tracer.span("op:sync"):
            report = self.pipeline.sync(
                self.spark, self.sources, output_root=self.out_root, sync_timestamp=SYNC_TS
            )
        self.syncs += 1
        if not report.ok or report.tables != self.expected_rows:
            raise RuntimeError(f"sync landed {report.tables}, failures {report.failures}")

    def _read(self, tracer) -> None:
        with tracer.span("op:costs_view_read"):
            df = checks.cost_by_service_spark(self.spark.table("costs"), VIEW_SINCE)
            self.read_rows = [tuple(r) for r in df.collect()]

    def after_op(self) -> None:
        pass

    def wrap_targets(self):
        """(object, attribute, span name) for each ``Source.read``."""
        return [(s, "read", "sources.read") for s in self.sources]

    def landed(self) -> dict[str, float]:
        """Bytes and files of the last sync's landing, from disk."""
        raw = norm = (0, 0)
        for name in self.manifest["paths"]:
            b, f = dir_bytes_files(os.path.join(self.out_root, f"raw_{name}"))
            raw = (raw[0] + b, raw[1] + f)
            b, f = dir_bytes_files(os.path.join(self.out_root, f"{name}_normalized"))
            norm = (norm[0] + b, norm[1] + f)
        log_bytes, _ = dir_bytes_files(os.path.join(self.out_root, "sync_log"))
        in_bytes = sum(v["bytes"] for v in self.manifest["paths"].values())
        return {
            "raw_mb": raw[0] / 1e6,
            "raw_files": raw[1],
            "normalized_mb": norm[0] / 1e6,
            "normalized_files": norm[1],
            # sync_log is append-only: charge each sync its share
            "write_amp": (raw[0] + norm[0] + log_bytes / max(self.syncs, 1)) / in_bytes,
        }

    def check(self) -> dict[str, str]:
        """Operation -> mismatch description: the last sync's ``costs``
        view aggregates and the last headline read, against DuckDB."""
        bad = {}
        got = checks.spark_hash(checks.costs_agg_spark(self.spark.table("costs")))
        if got != self.expected["costs_agg"]:
            bad["sync"] = f"costs view aggregates {got} != DuckDB {self.expected['costs_agg']}"
        got = checks.result_hash(["service", "total"], self.read_rows)
        if got != self.expected["cost_by_service"]:
            bad["costs_view_read"] = (
                f"cost by service {got} != DuckDB {self.expected['cost_by_service']}"
            )
        return bad


def make(name: str, work_dir: str, seed: int):
    if name == "sync_cur":
        return SyncWorkload(work_dir, seed)
    if name == "cost_queries":
        return QueryWorkload(name, COST_QUERIES, work_dir, seed)
    if name == "dedup_heavy":
        return QueryWorkload(name, DEDUP_QUERIES, work_dir, seed)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ["sync_cur", "cost_queries", "dedup_heavy"]
