"""J-family joins beyond plain equi-joins (SURVEY §2.7).

J1-J4 are pure built-ins (see queries.py). This module adds:

- J5 **as-of join**: for each left row, the most recent right row with
  ``right.ts <= left.ts`` per key. Spark has no built-in; the naive
  formulation is a non-equi join (BroadcastNestedLoopJoin — quadratic,
  unusable at scale). We instead use the *union + windowed
  last-non-null* plan: one shuffle on (key), one sort on (ts) — the
  same cost as a sort-merge join, linear in input size, skew-safe
  under AQE. This is the standard distributed as-of strategy.
- J5b **range/interval join**: equality key + time-range predicate.
  Expressed as an equi-join on the key with the range as a post-join
  filter, which Catalyst executes as SMJ/SHJ + filter — linear-ish
  when keys are selective. (For keyless range joins, bucket the time
  axis and join on bucket — provided by ``bucketed_range_join``.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    how: str = "left",
) -> DataFrame:
    """As-of join: latest ``right`` row with ``right_ts <= left_ts``
    per ``on`` key, attached to each ``left`` row.

    Implementation: tag and union both inputs, then per key ordered by
    time take ``last(value, ignoreNulls=True)`` over an unbounded
    preceding window. Right rows sort before left rows at equal
    timestamps, giving inclusive (<=) semantics — identical to DuckDB
    ``ASOF JOIN ... ON r.ts <= l.ts``.
    """
    lcols = left.columns
    tagged_left = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_values],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__r_ts"),
    )
    tagged_right = right.select(
        F.col(on).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"__r_{c}") for c in right_values],
        F.col(right_ts).alias("__r_ts"),
    )
    unioned = tagged_left.unionByName(tagged_right)

    w = (
        Window.partitionBy("__key")
        .orderBy("__ts", "__is_left")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__asof_{c}")
            for c in right_values
        ],
        F.last("__r_ts", ignorenulls=True).over(w).alias("__asof_ts"),
    )
    out = filled.filter(F.col("__is_left") == 1).select(
        *lcols,
        F.col("__asof_ts").alias(f"asof_{right_ts}"),
        *[F.col(f"__asof_{c}").alias(f"asof_{c}") for c in right_values],
    )
    if how == "inner":
        out = out.filter(F.col(f"asof_{right_ts}").isNotNull())
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    condition: Column,
) -> DataFrame:
    """Equality-key range join: Catalyst plans the equi part as
    SMJ/SHJ and applies the range ``condition`` as a join filter —
    never a cartesian product."""
    return left.join(right, (left[on] == right[on]) & condition, "inner")
