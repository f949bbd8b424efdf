"""Pluggable source interface — the Spark twin of the reference's
``BaseSource`` ABC (``/root/reference/src/sources/base.py:8-22``) and
its 3-step extension recipe (``/root/reference/CLAUDE.md:101-105``):
implement ``read``, provide a column mapping, register.

A source yields a *lazy* DataFrame (never a materialized frame — the
reference's pandas interchange is the documented OOM,
``/root/reference/CLAUDE.md:128-129``) plus the Column mapping the
shared normalize operator consumes.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Protocol

from pyspark.sql import Column, DataFrame, SparkSession


class Source(Protocol):
    name: str

    def read(self, spark: SparkSession) -> DataFrame:
        """Return the raw (drifting-schema) frame, lazily."""
        ...

    def cost_mapping(self) -> dict[str, Column]:
        """Column expressions for the six normalized data columns."""
        ...

    def cloud_provider(self) -> str: ...

    def date_column(self) -> str | None:
        """Raw column carrying the record date (DateType or
        TimestampType), used by ``sync --months N`` temporal scoping
        (reference src/main.py:39). None = source is not
        date-scopable and ``months`` leaves it unfiltered."""
        ...


@dataclass
class SourceRegistry:
    sources: dict[str, Source]

    def register(self, source: Source) -> None:
        self.sources[source.name] = source

    def get(self, name: str) -> Source:
        return self.sources[name]

    def names(self) -> list[str]:
        return sorted(self.sources)


def make_source(
    name: str,
    read: Callable[[SparkSession], DataFrame],
    mapping: Callable[[], dict[str, Column]],
    provider: str,
    date_col: str | None = None,
) -> Source:
    """Ad-hoc source from callables (keeps plugin authoring 3 lines)."""

    class _S:
        pass

    s = _S()
    s.name = name
    s.read = read
    s.cost_mapping = mapping
    s.cloud_provider = lambda: provider
    s.date_column = lambda: date_col
    return s


def fixture_sources(sf_dir: str) -> list[Source]:
    """The two standard fixture sources (events→aws, orders→gcp) used
    by the CLI, the tests and the ``costs_*`` queries — the engine's
    analog of the reference's configured account/report pairs
    (main.py:64-88). Their cost mappings are defined here only."""
    from pyspark.sql import functions as F

    from ..catalog import table

    events = make_source(
        "events",
        read=lambda s: table(s, sf_dir, "events"),
        mapping=lambda: {
            "date": F.col("ts").cast("date"),
            "account_id": F.col("user_id").cast("string"),
            "service": F.col("event_type"),
            "region": F.lit(None),
            "cost": F.col("value"),
            "currency": F.lit("USD"),
        },
        provider="aws",
        date_col="ts",
    )
    orders = make_source(
        "orders",
        read=lambda s: table(s, sf_dir, "orders"),
        mapping=lambda: {
            "date": F.col("o_orderdate").cast("date"),
            "account_id": F.col("o_custkey").cast("string"),
            "service": F.col("o_orderpriority"),
            "region": F.col("o_orderstatus"),
            "cost": F.col("o_totalprice"),
            "currency": F.lit("USD"),
        },
        provider="gcp",
        date_col="o_orderdate",
    )
    return [events, orders]
