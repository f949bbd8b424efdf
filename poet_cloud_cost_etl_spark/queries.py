"""Query registry: every implemented operator from SURVEY §2, as a
(spark, sf_dir) -> DataFrame callable. Each entry has a DuckDB oracle
twin in ``oracles.py`` (same name, same column names/aliases).

Cross-engine determinism conventions (so the driver's value-hash
matches):

- **Money/quantity aggregates run in integer cents**: per-row
  ``CAST(ROUND(x*100) AS BIGINT)`` then exact integer SUM. Double
  summation is order-dependent (Spark's parallel partial aggregation
  vs DuckDB's sequential scan would differ in the last ulps); integer
  sums are exact and identical. Dollar outputs are derived as
  ``CAST(sum_cents AS DOUBLE)/100.0`` — a single exact division.
- Averages are derived from exact integer sums and counts, never from
  engine-native AVG accumulators.
- Similarities/ratios are rounded to 4-6 decimals on both sides.
- **Final means avoid ROUND(x, 6) when x is a ratio of exact
  integers**: a quotient can land exactly on a .5 tie at the 6th
  decimal, and HALF_UP (Spark) vs banker's/away (other engines) then
  disagree by 1e-6. The convention (round 6+) is integer division of
  the scaled sum — ``(10⁶·s) div n`` — then one exact double
  division; see ``textstats.bigram_cond_prob_score``.
- Every ORDER BY carries a unique tie-break column.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .accounts import Account, AccountRegistry
from .catalog import table
from .operators.normalize import normalize_mapped
from .operators.union_view import create_costs_view
from .sources.base import fixture_sources

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

# Fixed sync timestamp: determinism across the Spark/DuckDB runs
# (the reference mints datetime.utcnow() per run, main.py:72).
SYNC_TS = datetime(2026, 1, 1, 0, 0, 0)
SYNC_TS_SQL = "TIMESTAMP '2026-01-01 00:00:00'"

# Fixture analog of the reference's 27-account registry
# (/root/reference/src/accounts.py:3-52): events.user_id plays the
# account; two accounts are region(nation)-restricted.
REGISTRY = AccountRegistry(
    [
        Account("7", "alpha"),
        Account("23", "bravo"),
        Account("42", "charlie"),
        Account("99", "delta"),
        Account("111", "echo"),
        Account("3", "foxtrot-restricted", region="purchase"),
        Account("58", "golf-restricted", region="click"),
    ]
)


def query(name: str):
    def deco(fn):
        QUERIES[name] = fn
        return fn

    return deco


def cents(col: Column) -> Column:
    """Exact-integer money representation (see module docstring)."""
    return F.round(col * 100, 0).cast("long")


def dollars(sum_cents: Column) -> Column:
    return (sum_cents.cast("double") / F.lit(100.0)).alias("x")


# ---------------------------------------------------------------------------
# The normalized-costs pipeline (reference parity: SURVEY §2.1-2.5)
# ---------------------------------------------------------------------------


def _fixture_costs(
    spark: SparkSession, sf_dir: str, name: str, **normalize_kwargs
) -> DataFrame:
    """Normalize one standard fixture source (``fixture_sources``:
    events→aws, orders→gcp) into the 9-column costs schema."""
    src = next(s for s in fixture_sources(sf_dir) if s.name == name)
    return normalize_mapped(
        src.read(spark),
        source_table=name,
        mapping=src.cost_mapping(),
        cloud_provider=src.cloud_provider(),
        sync_timestamp=SYNC_TS,
        **normalize_kwargs,
    )


def events_as_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize the ``events`` fixture into the 9-column costs schema
    (events.user_id→account, event_type→service, value→cost). This is
    the engine's stand-in for one CUR report path
    (reference main.py:75-122 loop body)."""
    return _fixture_costs(spark, sf_dir, "events")


def orders_as_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second 'report path': orders as a different provider's costs."""
    return _fixture_costs(spark, sf_dir, "orders")


def costs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: the unified ``costs`` view over both normalized sources."""
    return create_costs_view(
        spark,
        {
            "events": events_as_costs(spark, sf_dir),
            "orders": orders_as_costs(spark, sf_dir),
        },
    )


@query("costs_normalize_events")
def q_costs_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/N1-N5: the normalize projection itself (row-level parity)."""
    return events_as_costs(spark, sf_dir)


@query("costs_normalize_decimal")
def q_costs_normalize_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL parity with the reference's DECIMAL money column
    (sql/init.sql:19, README.md:115): the normalized projection with
    cost computed as DecimalType(10,2) — the reference's actual money
    type — then rendered as STRING for the hash-checked surface.

    Two hazards, two defenses (r7 + r8 post-mortems):
    (a) rounding — double→decimal is not engine-portable (Spark
    rounds the double's shortest round-trip decimal string via
    BigDecimal.valueOf; DuckDB rounds the exact binary expansion), so
    the oracle round-trips through VARCHAR before the decimal cast to
    pin DuckDB to Spark's semantics; (b) materialization — the
    driver fetches the DuckDB side through pandas, which degrades
    DECIMAL(10,2) to float64 ('10.10' → 10.1, trailing-zero loss ⇒
    canonical-string change; this kept the row red in r7 AND r8 even
    with (a) fixed), so the *hashed* column is the decimal's string
    rendering — identical on both engines because a scale-2 decimal
    always prints exactly 2 fraction digits.  The DecimalType(10,2)
    schema itself (the actual DDL-parity claim) is asserted in
    tests/test_pipeline.py::test_normalize_decimal_money_ddl, where
    no pandas materialization is involved."""
    from pyspark.sql import types as T

    out = _fixture_costs(
        spark, sf_dir, "events", cost_type=T.DecimalType(10, 2)
    )
    return out.withColumn("cost", F.col("cost").cast("string"))


@query("costs_union_view")
def q_costs_union_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 + A3: provider×service totals over the unified view."""
    costs = costs_view(spark, sf_dir)
    return (
        costs.groupBy("cloud_provider", "service")
        .agg(
            F.sum(cents(F.col("cost"))).alias("cost_cents"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .withColumn("total_cost", F.col("cost_cents").cast("double") / 100.0)
    )


@query("costs_by_service_30d")
def q_costs_by_service_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (A2/O1/P8): total cost by service over a date window —
    the reference's headline query (README.md:125-130), with the
    CURRENT_DATE anchor fixed to the fixture's time range for
    determinism."""
    costs = events_as_costs(spark, sf_dir)
    return (
        costs.filter(F.col("date") >= F.lit("2024-01-15"))
        .groupBy("service")
        .agg(F.sum(cents(F.col("cost"))).alias("cost_cents"))
        .select(
            "service",
            (F.col("cost_cents").cast("double") / 100.0).alias("total"),
        )
        .orderBy(F.desc("total"), "service")
    )


@query("costs_daily_trend")
def q_costs_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: daily cost trend (README.md:137-141)."""
    costs = events_as_costs(spark, sf_dir)
    return (
        costs.groupBy("date")
        .agg(F.sum(cents(F.col("cost"))).alias("cost_cents"))
        .select("date", (F.col("cost_cents").cast("double") / 100.0).alias("daily_cost"))
        .orderBy("date")
    )


@query("costs_by_account")
def q_costs_by_account(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: cost by account (README.md:132-135)."""
    costs = costs_view(spark, sf_dir)
    return (
        costs.groupBy("account_id")
        .agg(
            F.sum(cents(F.col("cost"))).alias("cost_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "account_id",
            (F.col("cost_cents").cast("double") / 100.0).alias("total_cost"),
            "n_items",
        )
    )


@query("top_accounts")
def q_top_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O3: top-10 accounts by spend — TakeOrderedAndProject on the
    Spark side (no full sort at scale)."""
    costs = events_as_costs(spark, sf_dir)
    return (
        costs.groupBy("account_id")
        .agg(F.sum(cents(F.col("cost"))).alias("cost_cents"))
        .select("account_id", (F.col("cost_cents").cast("double") / 100.0).alias("total_cost"))
        .orderBy(F.desc("total_cost"), "account_id")
        .limit(10)
    )


@query("account_filter_in")
def q_account_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P6: registry-compiled predicate (IN-list for unrestricted
    accounts, OR of (account,service) conjunctions for restricted
    ones) pushed into the scan — aws_cur.py:77-118 parity."""
    costs = events_as_costs(spark, sf_dir)
    pred = REGISTRY.where(F.col("account_id"), F.col("service"))
    return (
        costs.filter(pred)
        .groupBy("account_id", "service")
        .agg(F.sum(cents(F.col("cost"))).alias("cost_cents"), F.count(F.lit(1)).alias("n"))
    )


@query("q1_pricing_summary")
def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3/A6 on the TPC-H-ish fact: pricing summary (Q1 analog).
    Demonstrates partial (map-side) aggregation: 4 groups from 600k
    rows means the shuffle moves only partial aggregates."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    g = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents(F.col("l_quantity"))).alias("qty_cents"),
            F.sum(cents(F.col("l_extendedprice"))).alias("base_cents"),
            F.sum(cents(disc_price)).alias("disc_cents"),
            F.sum(cents(charge)).alias("charge_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("qty_cents").cast("double") / 100.0).alias("sum_qty"),
        (F.col("base_cents").cast("double") / 100.0).alias("sum_base_price"),
        (F.col("disc_cents").cast("double") / 100.0).alias("sum_disc_price"),
        (F.col("charge_cents").cast("double") / 100.0).alias("sum_charge"),
        F.round(F.col("qty_cents").cast("double") / F.col("count_order") / 100.0, 4).alias(
            "avg_qty"
        ),
        F.round(F.col("base_cents").cast("double") / F.col("count_order") / 100.0, 4).alias(
            "avg_price"
        ),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.7)
# ---------------------------------------------------------------------------


@query("join_broadcast_dim")
def q_join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: fact⋈dim with an explicit broadcast — the fact side never
    shuffles for the join (checked in tests/test_plans.py)."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey, "inner")
        .groupBy("s_name")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "s_name",
            (F.col("revenue_cents").cast("double") / 100.0).alias("revenue"),
            "n_items",
        )
    )


@query("join_chain_dims")
def q_join_chain_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: multi-hop dim chain customer→nation→region (both hops
    broadcast-able; Catalyst reorders freely)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents(F.col("c_acctbal"))).alias("acctbal_cents"),
        )
        .select(
            "r_name",
            "n_customers",
            (F.col("acctbal_cents").cast("double") / 100.0).alias("total_acctbal"),
        )
    )


@query("join_left_outer")
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left outer — customers keep a row even with zero orders."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.sum(F.when(F.col("o_orderkey").isNotNull(), cents(F.col("o_totalprice")))).alias(
                "cents_nullable"
            ),
        )
        .select(
            "c_custkey",
            "c_mktsegment",
            "order_count",
            (F.coalesce(F.col("cents_nullable"), F.lit(0)).cast("double") / 100.0).alias(
                "total_spend"
            ),
        )
    )


@query("join_semi")
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left-semi — the reference's IN-list account filter
    (aws_cur.py:77-83) is semantically this join."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_active_customers"))
    )


@query("join_anti")
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left-anti — customers with no high-value (>450k) orders.
    (The filter keeps the anti side non-trivial: every customer has
    *some* order in the fixtures.)"""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_inactive_customers"))
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.8)
# ---------------------------------------------------------------------------


@query("window_topn_per_group")
def q_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: top-3 parts by retail price per brand via row_number."""
    p = table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"))
    )


@query("window_lag_delta")
def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: day-over-day revenue delta (anomaly-detection primitive,
    reference roadmap README.md:50). Exact integer cents arithmetic."""
    daily = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("order_date")
    return daily.select(
        "order_date",
        (F.col("rev_cents").cast("double") / 100.0).alias("daily_revenue"),
        (
            (F.col("rev_cents") - F.lag("rev_cents", 1).over(w)).cast("double") / 100.0
        ).alias("delta_vs_prev_day"),
    )


@query("window_moving_avg")
def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: 7-day moving average — frame-spec rolling agg, derived from
    exact windowed integer sums/counts."""
    daily = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("order_date").rowsBetween(-6, 0)
    return daily.select(
        "order_date",
        (F.col("rev_cents").cast("double") / 100.0).alias("daily_revenue"),
        F.round(
            F.sum("rev_cents").over(w).cast("double")
            / F.count(F.lit(1)).over(w)
            / 100.0,
            4,
        ).alias("ma7"),
    )


@query("window_running_total")
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: running (cumulative) cost per account over time."""
    costs = events_as_costs(spark, sf_dir)
    daily = costs.groupBy("account_id", "date").agg(
        F.sum(cents(F.col("cost"))).alias("day_cents")
    )
    w = (
        Window.partitionBy("account_id")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "account_id",
        "date",
        (F.sum("day_cents").over(w).cast("double") / 100.0).alias("running_cost"),
    )


# ---------------------------------------------------------------------------
# Aggregate family completion (SURVEY §2.5 A6/A7)
# ---------------------------------------------------------------------------


@query("agg_stats")
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: avg/min/max/count-distinct/stddev per group. Averages come
    from exact integer sums; stddev is rounded (engine accumulation
    order differs at the last ulps)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.sum(cents(F.col("l_extendedprice"))).alias("price_cents"),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("stddev_price"),
        )
        .select(
            "l_returnflag",
            "n",
            "n_parts",
            "min_price",
            "max_price",
            F.round(F.col("price_cents").cast("double") / F.col("n") / 100.0, 4).alias(
                "avg_price"
            ),
            "stddev_price",
        )
    )


@query("agg_rollup")
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: ROLLUP over (cloud_provider, service) on the costs view —
    subtotals + grand total, with GROUPING indicators."""
    costs = costs_view(spark, sf_dir)
    return (
        costs.rollup("cloud_provider", "service")
        .agg(
            F.grouping("cloud_provider").cast("int").alias("g_provider"),
            F.grouping("service").cast("int").alias("g_service"),
            F.sum(cents(F.col("cost"))).alias("cost_cents"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "cloud_provider",
            "service",
            "g_provider",
            "g_service",
            (F.col("cost_cents").cast("double") / 100.0).alias("total_cost"),
            "n",
        )
    )


@query("agg_cube")
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: CUBE over (l_returnflag, l_linestatus)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents(F.col("l_quantity"))).alias("qty_cents"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("qty_cents").cast("double") / 100.0).alias("sum_qty"),
            "n",
        )
    )


@query("agg_approx_distinct")
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: approximate aggregates (HLL count-distinct + approximate
    percentiles). At 100 TB these replace exact distinct counts that
    would shuffle every key.

    Oracle strategy — the TOLERANCE TWIN: the sketch VALUES are
    engine-specific (DuckDB's HLL and Spark's differ), but their
    accuracy contract is not. The query emits the exact count plus
    booleans asserting the sketches landed within 5% of exact; the
    oracle computes the exact count and literal TRUEs. Both sketches
    are deterministic functions of the data, so this hash-check is
    stable, and a sketch regression (>5% off) flips a boolean and
    fails the hash.

    NOTE: the exact countDistinct/percentile columns exist as ORACLE
    INSTRUMENTATION only — they are what makes the tolerance check
    hash-exact, not part of the operator's production shape, and this
    query is deliberately NOT in the bench headline set (timing it
    would measure the exact path alongside the sketches).  A 100 TB
    deployment runs the sketch-only aggregation."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", 0.02).alias("__approx_parts"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("__exact_med"),
        F.percentile_approx("l_extendedprice", 0.5).alias("__approx_med"),
    )
    rel_err = lambda a, b: F.abs(a - b) / b  # noqa: E731
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            rel_err(
                F.col("__approx_parts").cast("double"),
                F.col("exact_parts").cast("double"),
            )
            <= 0.05
        ).alias("approx_parts_ok"),
        (rel_err(F.col("__approx_med"), F.col("__exact_med")) <= 0.05).alias(
            "approx_median_ok"
        ),
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.4 U3)
# ---------------------------------------------------------------------------


@query("set_intersect")
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: customers with both open ('O') and finished ('F') orders."""
    o = table(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    fin_c = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return open_c.intersect(fin_c)


@query("set_except")
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: customers with open orders but no finished ones."""
    o = table(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    fin_c = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return open_c.subtract(fin_c)


# ---------------------------------------------------------------------------
# Scalar function families (SURVEY §2.9)
# ---------------------------------------------------------------------------


@query("json_extract_props")
def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: JSON extraction from the events.props string column —
    multimodal/typed-metadata entry point. get_json_object compiles to
    a JVM-side path evaluation (no UDF)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count("k").alias("n_with_k"),
        )
    )


@query("string_funcs")
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: lower/upper/replace/split/trim/substring — the name-
    canonicalization function family, row-level over part."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("name_upper"),
        F.size(F.split(F.col("p_name"), " ")).alias("n_words"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.regexp_replace(F.col("p_brand"), "Brand#", "B").alias("brand_code"),
        F.substring(F.col("p_type"), 1, 5).alias("type_prefix"),
        F.length(F.col("p_name")).alias("name_len"),
        F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
    )


@query("date_funcs")
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4: date part extraction + arithmetic (partition-pruning
    building blocks: year()/month() are how CUR month partitions are
    derived, aws_cur.py:68-75)."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        F.year(d).alias("o_year"),
        F.month(d).alias("o_month"),
        F.dayofmonth(d).alias("o_day"),
        F.quarter(d).alias("o_quarter"),
        F.add_months(d, 3).alias("plus_3m"),
        F.date_sub(d, 30).alias("minus_30d"),
        F.last_day(d).alias("month_end"),
        F.datediff(F.lit("1999-01-01").cast("date"), d).alias("days_to_1999"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
    )


@query("math_funcs")
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: math scalar family (sqrt/pow/abs/round/floor/ceil/mod).
    sqrt is IEEE-exact cross-engine; transcendentals (ln/exp) are
    deliberately excluded from oracle-checked outputs (libm differs)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(F.sqrt(F.col("p_retailprice")), 6).alias("sqrt_price"),
        F.pow(F.col("p_size").cast("double"), 2).alias("size_sq"),
        F.abs(F.col("p_size") - 25).alias("abs_dev"),
        F.floor(F.col("p_retailprice")).cast("long").alias("price_floor"),
        F.ceil(F.col("p_retailprice")).cast("long").alias("price_ceil"),
        (F.col("p_partkey") % 7).alias("key_mod7"),
    )


# ---------------------------------------------------------------------------
# As-of + range joins (SURVEY §2.7 J5)
# ---------------------------------------------------------------------------


@query("join_asof")
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: as-of join — for each purchase event, the most recent click
    by the same user at or before the purchase. Implemented with the
    linear union+window plan (operators/joins.py), NOT a nested-loop
    join; oracle uses DuckDB's native ASOF JOIN."""
    from .operators.joins import asof_join

    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["click_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "purchase_value",
        F.col("asof_ts").alias("last_click_ts"),
        F.col("asof_click_value").alias("last_click_value"),
    )


@query("join_range")
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: range/interval join — pairs of events by the same user
    within a 5-minute window. Equi-join on user_id carries the work;
    the range predicate is a join filter (no cartesian product)."""
    ev = table(spark, sf_dir, "events")
    e1 = ev.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("eid1"),
        F.col("ts").alias("ts1"),
    )
    e2 = ev.select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("eid2"),
        F.col("ts").alias("ts2"),
    )
    pairs = e1.join(
        e2,
        (e1.u == e2.u2)
        & (e2.ts2 > e1.ts1)
        & (e2.ts2 <= e1.ts1 + F.expr("INTERVAL 5 MINUTES")),
        "inner",
    )
    return pairs.groupBy("u").agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# Dedup / similarity / text analysis (SURVEY §2.11, X-family)
# ---------------------------------------------------------------------------


@query("dedup_exact")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact dedup — one keeper (min doc_id) per identical text.
    A hash-aggregate on the dedup key: one shuffle, fully scalable."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keeper_doc_id", "n_copies")


@query("dedup_fingerprint")
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2a: canonical-text md5 fingerprint dedup (case/punctuation/
    whitespace-insensitive)."""
    from .operators.dedup import fingerprint

    d = table(spark, sf_dir, "documents")
    return (
        d.select(fingerprint(F.col("text")).alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query("dedup_minhash_lsh")
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2b/c: MinHash (k=8, lexicographic-min md5 with seed prefixes)
    + LSH banding (4 bands × 2 rows) → distinct candidate pairs.
    Shuffles on (band_idx, band_value); engine-portable hashes make
    even this oracle-checkable in SQL."""
    from .operators.dedup import doc_shingles, lsh_candidate_pairs, minhash_signatures

    d = table(spark, sf_dir, "documents")
    sh = doc_shingles(d, "doc_id", "text")
    sig = minhash_signatures(sh, "doc_id", k=8)
    return lsh_candidate_pairs(sig, "doc_id", k=8, bands=4)


@query("dedup_ngram_jaccard")
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2d: exact 3-gram Jaccard near-dup pairs (>= 0.5), fused
    pipeline: per-doc distinct shingle arrays map-side (sizes are
    free), one groupBy(shingle) with in-group pair explosion (df=1
    shingles produce no pairs, so min_df=2 pruning is inherent), one
    pair aggregation. Hot shingle buckets above split_threshold take
    the AQE-splittable self-join branch instead (operators/dedup.py
    _jaccard_core) — zero rows on this corpus."""
    from .operators.dedup import neardup_pairs

    return neardup_pairs(table(spark, sf_dir, "documents"))


@query("dedup_simhash")
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2e: 16-bit SimHash fingerprints (integer bit votes)."""
    from .operators.dedup import simhash16

    d = table(spark, sf_dir, "documents")
    return simhash16(d, "doc_id", "text")


@query("dedup_embedding_cosine")
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2f: embedding-cosine near-dup pairs (>= 0.4), exact all-pairs
    via the block-pair GEMM (hash rows into blocks, shuffle on block
    pairs, float64 GEMM per group — no driver collect, no broadcast).
    The LSH-bucketed variant (ann_lsh_bucketed) is the recall-trading
    cheaper path."""
    from .operators.similarity import cosine_near_dup_pairs

    e = table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(e, "vec_id", "embedding", threshold=0.4)


@query("ann_topk_bruteforce")
def q_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 baseline: exact top-3 cosine neighbors for a small broadcast
    query set (vec_id < 5)."""
    from .operators.similarity import brute_force_topk

    e = table(spark, sf_dir, "embeddings")
    return brute_force_topk(
        e.filter(F.col("vec_id") < 5), e, "vec_id", "embedding", k=3
    )


@query("ann_lsh_bucketed")
def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 scale path: sign-bit LSH buckets (3 hyperplanes → 8
    buckets); neighbors searched only within the query's bucket, so
    the join is bucket-partitioned instead of a cross join."""
    from pyspark.sql.window import Window

    from .operators.similarity import cosine, sign_bucket

    e = table(spark, sf_dir, "embeddings")
    bucketed = e.select(
        "vec_id", "embedding", sign_bucket("embedding", 3).alias("bucket")
    )
    q = bucketed.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        "bucket",
    )
    scored = (
        bucketed.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine("__qv", "embedding"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


@query("text_token_counts")
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: whitespace + BPE-ish regex token counts per document."""
    from .operators.textstats import token_counts

    d = table(spark, sf_dir, "documents")
    return token_counts(d, "doc_id", "text")


@query("text_quality_score")
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: quality scoring — length band, stopword ratio, mean word
    length, duplicate-token ratio (0.25 each)."""
    from .operators.textstats import quality_features

    d = table(spark, sf_dir, "documents")
    return quality_features(d, "doc_id", "text")


@query("text_lang_id")
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/X6: marker-token language-ID heuristic, reported as a
    (true lang × predicted lang) confusion matrix."""
    from .operators.textstats import lang_scores

    d = table(spark, sf_dir, "documents")
    scored = lang_scores(d, "doc_id", "text", "lang")
    return scored.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))


@query("text_profile_by_lang")
def q_text_profile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: per-language corpus profile (exact-sum averages)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
            F.countDistinct("source").alias("n_sources"),
        )
        .select(
            "lang",
            "n_docs",
            F.round(F.col("chars_total").cast("double") / F.col("n_docs"), 4).alias(
                "avg_chars"
            ),
            "n_sources",
        )
    )


@query("doc_fingerprint_winnow")
def q_doc_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: winnowing-style fingerprint selection (lowest 1/16 of md5
    space per distinct shingle)."""
    from .operators.dedup import doc_shingles
    from .operators.textstats import winnow_fingerprint

    d = table(spark, sf_dir, "documents")
    sh = doc_shingles(d, "doc_id", "text")
    return winnow_fingerprint(sh, "doc_id")


# ---------------------------------------------------------------------------
# Streaming operators, batch-equivalent formulations (SURVEY §2.10).
# window()/session_window() work identically in batch groupBy, which
# keeps them DuckDB-oracle-checkable; streaming/pipelines.py runs the
# same shapes as readStream with watermarks (tests/test_streaming.py).
# ---------------------------------------------------------------------------


@query("events_tumbling_daily")
def q_events_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2a: tumbling 1-day window aggregate (epoch-aligned, so the
    window start equals the UTC day truncation)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            (F.col("value_cents").cast("double") / 100.0).alias("total_value"),
        )
    )


@query("events_sliding_2d")
def q_events_sliding_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2b: sliding window (2-day width, 1-day slide) — every event
    lands in exactly two windows."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n",
            (F.col("value_cents").cast("double") / 100.0).alias("total_value"),
        )
    )


@query("events_session_window")
def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3: session windows (30-minute gap) per user. In batch this is
    the gaps-and-islands computation; in streaming the same expression
    runs stateful (see streaming/pipelines.py)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            (F.col("value_cents").cast("double") / 100.0).alias("total_value"),
        )
    )


@query("events_dedup_state")
def q_events_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 batch twin: stateful dedup on (user_id, event_type) —
    distinct users per event type after dropDuplicates. Streaming form
    is dropDuplicatesWithinWatermark."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct_users"))
    )


# ---------------------------------------------------------------------------
# Multimodal columns (SURVEY §2.11 / F8)
# ---------------------------------------------------------------------------


@query("multimodal_metadata")
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata: the filter/join surface of a
    multimodal table ('metadata travels, payloads stay put'). Payload
    is the text's UTF-8 bytes as a stand-in for media bytes."""
    from .operators.multimodal import attach_payload

    d = table(spark, sf_dir, "documents")
    m = attach_payload(d, "doc_id", "text")
    return m.select(
        "doc_id",
        F.col("meta.mime_type").alias("mime_type"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha256").alias("payload_sha256"),
    )


@query("multimodal_payload_stats")
def q_multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload-size profile per source (pure metadata aggregation —
    no payload bytes move through the shuffle)."""
    d = table(spark, sf_dir, "documents")
    payload_len = F.octet_length(F.encode(F.col("text"), "utf-8"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_payloads"),
        F.sum(payload_len.cast("long")).alias("total_bytes"),
        F.min(payload_len).alias("min_bytes"),
        F.max(payload_len).alias("max_bytes"),
    )


@query("multimodal_decode_stub")
def q_multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode (deterministic fake kernel —
    real codecs not in this container). The fake decode is a pure
    function of the payload bytes, so it IS hash-oracle-checkable:
    DuckDB recomputes width/height from the blob and the features
    digest via hex-pair byte extraction.

    The ``features array<float>`` digest goes through an exact
    integer round-trip — ``round(f·255)`` recovers the source byte
    (float32 error ≪ 0.5) — instead of formatting the floats, because
    Spark and DuckDB disagree on double→string for 3 of 256 byte
    values (rounding-boundary formatting). The raw float path is
    pinned bit-for-bit in tests/test_multimodal.py."""
    from .operators.multimodal import attach_payload, decode_images

    d = table(spark, sf_dir, "documents")
    decoded = decode_images(attach_payload(d, "doc_id", "text"), impl="fake")
    return decoded.select(
        "doc_id",
        "width",
        "height",
        "channels",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    "features",
                    lambda x: F.round(x.cast("double") * 255.0)
                    .cast("int")
                    .cast("string"),
                ),
            )
        ).alias("features_md5"),
    )


# ---------------------------------------------------------------------------
# Remaining scalar/set families: arrays (F7), maps (F8), drifting-
# schema union (U1), exact percentiles (A6), correlated subquery (§4)
# ---------------------------------------------------------------------------


@query("array_funcs")
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: higher-order array functions over the embedding vectors —
    size/sort/slice/element_at/aggregate, all JVM-side."""
    from .operators.similarity import norm

    e = table(spark, sf_dir, "embeddings")
    sorted_desc = F.expr(
        "sort_array(transform(embedding, x -> CAST(x AS DOUBLE)), false)"
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.element_at(sorted_desc, 1).alias("c_max"),
        F.element_at(sorted_desc, 2).alias("c_2nd"),
        F.element_at(sorted_desc, 3).alias("c_3rd"),
        F.round(norm("embedding"), 6).alias("l2_norm"),
        F.expr(
            "size(filter(embedding, x -> x > 0))"
        ).alias("n_positive"),
    )


@query("map_funcs")
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: map construction/access — props JSON lifted into a typed
    map, then element_at / size / sorted-keys."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    m = F.create_map(
        F.lit("k"), k, F.lit("u"), F.col("user_id")
    )
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_from_map"),
        F.size(m).alias("n_keys"),
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys_sorted"),
    )


@query("union_drifting_schema")
def q_union_drifting_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: vertical concat across drifting physical schemas —
    unionByName(allowMissingColumns) fills absent columns with NULL
    (the reference's union_by_name=true / pd.concat path)."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderstatus")
    u = a.unionByName(b, allowMissingColumns=True)
    return u.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_totalprice").alias("n_with_price"),
        F.sum(cents(F.col("o_totalprice"))).alias("price_cents"),
    )


@query("agg_percentile")
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A7: exact interpolated percentiles (the exact twin of
    percentile_approx; both engines use the (n-1)*p linear rule)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


@query("subquery_correlated")
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4: correlated scalar subquery — Catalyst decorrelates it into
    a join + aggregate (RewriteCorrelatedScalarSubquery); no manual
    rewrite needed."""
    from .catalog import load_tables

    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n_above_avg
        FROM orders
        WHERE o_totalprice > (
            SELECT avg(o2.o_totalprice) FROM orders o2
            WHERE o2.o_orderstatus = orders.o_orderstatus
        )
        GROUP BY o_orderstatus
        """
    )


# ---------------------------------------------------------------------------
# Analytics extensions: pivot, generators, collect-aggs, time-series
# gap fill, anomaly detection (reference roadmap README.md:50)
# ---------------------------------------------------------------------------

EVENT_SERVICES = ["click", "error", "purchase", "signup", "view"]


@query("pivot_daily_services")
def q_pivot_daily_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family: pivot — daily cost per service as columns. Explicit
    value list keeps the output schema static (no extra pass to
    discover pivot values, and deterministic columns at any scale)."""
    costs = events_as_costs(spark, sf_dir)
    p = (
        costs.groupBy("date")
        .pivot("service", EVENT_SERVICES)
        .agg(F.sum(cents(F.col("cost"))))
    )
    return p.select(
        "date",
        *[
            (F.coalesce(F.col(s), F.lit(0)).cast("double") / 100.0).alias(s)
            for s in EVENT_SERVICES
        ],
    )


@query("explode_top_tokens")
def q_explode_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/UDTF-shape: generator (explode) + frequency top-k."""
    from .operators.dedup import tokens

    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@query("agg_collect_sorted")
def q_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: collect_set/array_agg — sorted distinct statuses per order
    priority, rendered as a deterministic string."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias(
            "statuses"
        ),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@query("timeseries_gapfill")
def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: per-account calendar from
    sequence()+explode, left join daily costs, zero-fill gaps —
    the standard trend-table builder for the costs view."""
    costs = events_as_costs(spark, sf_dir)
    focus = costs.filter(F.col("account_id").isin(["1", "2", "3"]))
    daily = focus.groupBy("account_id", "date").agg(
        F.sum(cents(F.col("cost"))).alias("day_cents")
    )
    span = focus.groupBy("account_id").agg(
        F.min("date").alias("d0"), F.max("date").alias("d1")
    )
    calendar = span.select(
        "account_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("date"),
    )
    return calendar.join(daily, ["account_id", "date"], "left").select(
        "account_id",
        "date",
        (F.coalesce(F.col("day_cents"), F.lit(0)).cast("double") / 100.0).alias(
            "daily_cost"
        ),
    )


@query("anomaly_zscore")
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost anomaly detection (reference roadmap README.md:50): each
    day's total vs the trailing 7-day window — z-score from *exact
    integer* windowed sums (mean and variance derived, not engine
    accumulators), flag |z| > 2."""
    costs = events_as_costs(spark, sf_dir)
    daily = costs.groupBy("date").agg(F.sum(cents(F.col("cost"))).alias("c"))
    w = Window.orderBy("date").rowsBetween(-7, -1)
    # square-sum in decimal(38,0): BIGINT c*c wraps silently past
    # ~$30M/day with ANSI off, and a double sum loses exactness past
    # 2^53 — decimal keeps it exact AND overflow-proof (oracle mirrors
    # with HUGEINT)
    stats = daily.select(
        "date",
        "c",
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).over(w).alias("ss"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    z = (F.col("c").cast("double") - mean) / F.sqrt(var)
    return stats.select(
        "date",
        (F.col("c").cast("double") / 100.0).alias("daily_cost"),
        F.when(F.col("n") >= 7, F.round(z, 4)).alias("zscore"),
        F.when(F.col("n") >= 7, F.abs(z) > 2).alias("is_anomaly"),
    )


@query("costs_by_service_currency")
def q_costs_by_service_currency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: the reference's documented multi-key breakdown
    (CLAUDE.md:74-79 — GROUP BY service, currency)."""
    costs = costs_view(spark, sf_dir)
    return (
        costs.groupBy("service", "currency")
        .agg(F.sum(cents(F.col("cost"))).alias("cost_cents"))
        .select(
            "service",
            "currency",
            (F.col("cost_cents").cast("double") / 100.0).alias("total_cost"),
        )
        .orderBy(F.desc("total_cost"), "service", "currency")
    )


@query("salted_group_sum")
def q_salted_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew pattern: two-phase salted aggregation — result-identical
    to a direct GROUP BY (the oracle IS the direct form), but the
    shuffle spreads each hot key over 8 reducers."""
    from .operators.aggregates import salted_agg

    ev = table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        key_cols=["event_type"],
        measures={
            "value_cents": F.sum(cents(F.col("value"))),
            "n": F.count(F.lit(1)),
        },
        salt_col=F.xxhash64("event_id"),
        n_salts=8,
    )
    return out.select(
        "event_type",
        (F.col("value_cents").cast("double") / 100.0).alias("total_value"),
        "n",
    )


@query("two_phase_count_distinct")
def q_two_phase_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per service via (key,value) pre-dedup —
    the shuffle-friendly COUNT(DISTINCT) expansion."""
    from .operators.aggregates import two_phase_count_distinct

    ev = table(spark, sf_dir, "events")
    return two_phase_count_distinct(ev, ["event_type"], "user_id")


@query("region_restricted_filter")
def q_region_restricted_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5 on a true region column: OR of (account, region)
    conjunctions plus an IN-list, over the orders-provider costs
    (region = order status in that mapping) — the exact shape of
    aws_cur.py:85-106."""
    costs = orders_as_costs(spark, sf_dir)
    reg = AccountRegistry(
        [
            Account("11", "a"),
            Account("29", "b"),
            Account("54", "c", region="O"),
            Account("77", "d", region="F"),
        ]
    )
    pred = reg.where(F.col("account_id"), F.col("region"))
    return (
        costs.filter(pred)
        .groupBy("account_id", "region")
        .agg(
            F.sum(cents(F.col("cost"))).alias("cost_cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query("null_handling")
def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-family null semantics: coalesce / nullif / nvl2-shaped CASE —
    the null-on-error posture's query-side counterpart."""
    costs = costs_view(spark, sf_dir)
    return (
        costs.select(
            "source_table",
            F.coalesce(F.col("region"), F.lit("UNKNOWN")).alias("region_filled"),
            F.nullif(F.col("currency"), F.lit("USD")).alias("non_usd_currency"),
            F.when(F.col("region").isNull(), 0).otherwise(1).alias("has_region"),
        )
        .groupBy("source_table", "region_filled")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("has_region").alias("n_with_region"),
            F.count("non_usd_currency").alias("n_non_usd"),
        )
    )


@query("cross_join_dims")
def q_cross_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian over two small dims (the only sanctioned
    cross join: bounded × bounded)."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return (
        r.crossJoin(n)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query("having_filter")
def q_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family HAVING: post-aggregation predicate on exact counts."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


@query("window_distribution")
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family completion: ntile / percent_rank / cume_dist over a
    tie-broken total order (rank functions are only deterministic
    under a unique ordering).

    Computed via the two-pass range-partitioned global rank
    (operators/ranking.py) instead of a naked ``Window.orderBy`` —
    a global window funnels every row through one task, which is the
    single-node bottleneck this engine exists to avoid. The distilled
    distribution functions are bit-identical to the built-ins for a
    unique ordering (asserted in tests/test_ranking.py)."""
    from .operators.ranking import (
        cume_dist_from_rank,
        ntile_from_rank,
        percent_rank_from_rank,
        with_global_rank,
    )

    o = table(spark, sf_dir, "orders")
    # total row count rides out of the rank's own bucket counts —
    # no separate counting scan of orders
    ranked = with_global_rank(
        o, ["o_totalprice", "o_orderkey"], rank_col="__gr", total_col="__n"
    )
    rk = F.col("__gr")
    return ranked.select(
        "o_orderkey",
        ntile_from_rank(rk, F.col("__n"), 4).alias("quartile"),
        F.round(percent_rank_from_rank(rk, F.col("__n")), 6).alias("pct_rank"),
        F.round(cume_dist_from_rank(rk, F.col("__n")), 6).alias("cume"),
    )


@query("regexp_extract_groups")
def q_regexp_extract_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: regex group extraction — parse the structured p_type
    string ('STANDARD ANODIZED TIN'-style) into components."""
    p = table(spark, sf_dir, "part")
    pat = r"^(\w+) (\w+)"
    return p.select(
        "p_partkey",
        F.regexp_extract(F.col("p_type"), pat, 1).alias("type_class"),
        F.regexp_extract(F.col("p_type"), pat, 2).alias("type_finish"),
        F.regexp_extract(F.col("p_brand"), r"#(\d+)", 1).cast("int").alias("brand_num"),
    )


@query("q3_shipping_priority")
def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog: 3-way fact join with selective filters on all
    sides — Catalyst pushes each filter below the join and reorders;
    final top-10 is TakeOrderedAndProject, not a full sort."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "rev_cents"
            )
        )
        .select(
            "o_orderkey",
            "order_date",
            (F.col("rev_cents").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@query("q5_regional_revenue")
def q_q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog: 6-table snowflake join (region→nation→
    customer→orders→lineitem→supplier with the colocation condition
    c_nationkey = s_nationkey). Dims broadcast; only the fact tables
    shuffle."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    return (
        r.join(n, r.r_regionkey == n.n_regionkey)
        .join(c, n.n_nationkey == c.c_nationkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .groupBy("r_name")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "rev_cents"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "r_name",
            (F.col("rev_cents").cast("double") / 100.0).alias("revenue"),
            "n_items",
        )
    )


@query("agg_argminmax")
def q_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: min_by/max_by — which part is cheapest/priciest per brand
    (tie-broken by key so the answer is unique)."""
    p = table(spark, sf_dir, "part")
    # fixed-width string comparator (price cents first, partkey breaks
    # ties): lexicographic order on zero-padded non-negative integers
    # is numeric order, so this stays exact at any SF — unlike a
    # scaled-double comparator whose components start overlapping once
    # p_partkey outgrows the price step (~sf50). DuckDB's arg_min/max
    # accept VARCHAR comparators but not structs.
    pk = F.concat(
        F.lpad(F.round(F.col("p_retailprice") * 100).cast("bigint").cast("string"), 18, "0"),
        F.lpad(F.col("p_partkey").cast("string"), 18, "0"),
    )
    return p.groupBy("p_brand").agg(
        F.min_by("p_partkey", pk).alias("cheapest_part"),
        F.max_by("p_partkey", pk).alias("priciest_part"),
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
    )


@query("unpivot_daily_services")
def q_unpivot_daily_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family: unpivot/melt — the wide pivot table back to long
    form (round-trips with pivot_daily_services)."""
    wide = QUERIES["pivot_daily_services"](spark, sf_dir)
    return wide.unpivot(
        ids=["date"],
        values=EVENT_SERVICES,
        variableColumnName="service",
        valueColumnName="daily_cost",
    )


# ---------------------------------------------------------------------------
# Training-data pipeline extensions, round 2 (SURVEY §2.11): duplicate
# clustering, IVF ANN, deterministic sampling, token-budget packing
# ---------------------------------------------------------------------------


@query("dedup_clusters")
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 completion: pairwise near-dup hits → duplicate CLUSTERS via
    iterative min-label connected components (operators/graph.py).
    cluster_id = min doc_id of the component (engine-independent);
    ``keep`` marks the canonical doc — filtering on it IS the dedup."""
    from .operators.dedup import neardup_clusters

    cc = neardup_clusters(table(spark, sf_dir, "documents"))
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


@query("ann_ivf")
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4c: IVF approximate top-k — inverted centroid lists, nprobe=2
    probing (operators/similarity.py:ivf_topk). Join is keyed on
    centroid_id: shuffle N + Q·nprobe rows, never the brute-force Q·N."""
    from .operators.similarity import ivf_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return ivf_topk(q, e, "vec_id", "embedding", k=3, n_centroids=8, nprobe=2)


@query("sample_deterministic")
def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-family: stable ~20% Bernoulli sample keyed on
    md5(doc_id) — identical row set under any partitioning, re-run, or
    engine (operators/sampling.py); a seeded df.sample() is none of
    those."""
    from .operators.sampling import deterministic_sample

    d = table(spark, sf_dir, "documents")
    return deterministic_sample(d, "doc_id", 0.2).select("doc_id", "lang", "source")


@query("sample_stratified")
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-family: per-language quota (20 docs/lang) in hash
    order — deterministic stratified draw for balanced eval sets."""
    from .operators.sampling import stratified_sample

    d = table(spark, sf_dir, "documents")
    return stratified_sample(d, "lang", "doc_id", 20).select("lang", "doc_id")


@query("pack_token_budget")
def q_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-family: chunk documents into ~2048-token context-window
    packs, sharded so no global sort exists (operators/packing.py).
    Pack identity is (shard, pack_id)."""
    from .operators.packing import pack_by_token_budget
    from .operators.textstats import token_counts

    d = table(spark, sf_dir, "documents")
    tc = token_counts(d, "doc_id", "text").select(
        "doc_id", F.col("n_ws_tokens").alias("n_tokens")
    )
    return pack_by_token_budget(tc, "doc_id", "n_tokens", budget=2048, n_shards=8)


@query("text_scrub_pii")
def q_text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11: cleaning pass — HTML strip then email/URL/phone redaction
    (operators/scrub.py). The fixture corpus is synthetic and PII-free,
    so deterministic per-doc PII is appended first; the scrub must
    remove exactly what was planted (and nothing else — the original
    text rides along unharmed into the hash comparison)."""
    from .operators.scrub import clean_documents

    d = table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" <b>contact</b> user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.co/"),
        F.col("doc_id").cast("string"),
        F.lit(" or 555-010-"),
        F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
    )
    return clean_documents(
        d.select("doc_id", dirty.alias("text")), "doc_id", "text"
    )


@query("text_repetition_filters")
def q_text_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5+: Gopher-style repetition quality filters — fraction of the
    doc covered by its most frequent word / bigram; high values mark
    boilerplate for exclusion from training data."""
    from .operators.textstats import repetition_stats

    d = table(spark, sf_dir, "documents")
    return repetition_stats(d, "doc_id", "text", flag_threshold=0.1)


@query("decontaminate_benchmark")
def q_decontaminate_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+: train/test decontamination — flag training docs whose
    distinct 3-gram overlap with the benchmark slice (doc_id % 97 == 0
    stands in for an eval set) is ≥ 5% (the synthetic corpus tops out
    near 11%; production thresholds are corpus-calibrated the same way)."""
    from .operators.dedup import benchmark_contamination

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return benchmark_contamination(train, bench, "doc_id", "text", threshold=0.05)


@query("q10_returned_items")
def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog: lost revenue from returned items per customer
    over one year — fact⋈fact shuffle join (orders⋈lineitem), customer
    joined on the grouped key, nation broadcast, top-20 via
    TakeOrderedAndProject."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .filter(
            (F.col("l_returnflag") == "R")
            & (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "rev_cents"
            )
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            (F.col("rev_cents").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query("q18_large_orders")
def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analog: orders whose total quantity exceeds 200 —
    the aggregate-then-join shape (the groupBy(HAVING) result drives
    the join, so only qualifying orders ever reach it)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents(F.col("l_quantity"))).alias("qty_cents"))
        .filter(F.col("qty_cents") > 200 * 100)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
            (F.col("qty_cents").cast("double") / 100.0).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query("multimodal_frame_sample")
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: 1→N frame sampling through Arrow-batched
    mapInPandas (every 4th 64-byte frame of each payload). The fake
    payload is the text's UTF-8 bytes, so frame geometry is pure
    arithmetic on payload length — which makes even this mapInPandas
    path SQL-oracle-checkable."""
    from .operators.multimodal import attach_payload, frame_sample

    d = table(spark, sf_dir, "documents")
    return frame_sample(attach_payload(d, "doc_id", "text"), frame_size=64, every_k=4)


@query("q4_priority_check")
def q_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog: orders in one quarter with at least one
    late-shipped line (l_shipdate > o_orderdate stands in for the
    commit/receipt pair the fixture lacks) — the EXISTS → left-semi
    join shape with a non-equi condition riding the equi key."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query("q12_priority_by_returnflag")
def q_q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analog: per return flag, how many 1997 shipments
    belong to high- vs low-priority orders — join + conditional
    counting (the CASE-inside-SUM shape)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query("q14_promo_revenue")
def q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog: share of June-1997 revenue from PROMO parts —
    broadcast part join + conditional aggregate ratio from exact
    integer cents."""
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-06-01") & (F.col("l_shipdate") < "1997-07-01")
    )
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0)).alias("__promo"),
        F.sum(rev).alias("__total"),
    ).select(
        F.round(
            F.lit(100.0) * F.col("__promo").cast("double") / F.col("__total"), 4
        ).alias("promo_revenue_pct"),
        (F.col("__total").cast("double") / 100.0).alias("total_revenue"),
    )


@query("q19_disjunctive_join")
def q_q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analog: revenue under an OR-of-ANDs predicate that
    mixes both join sides. Catalyst extracts the common equi key
    (l_partkey = p_partkey) so this stays a hash join with a join
    filter — never a cartesian."""
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(25, 50)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            (F.sum(rev).cast("double") / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query("q22_dormant_customers")
def q_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analog: per nation, rich customers (balance above the
    positive-balance average — a broadcast scalar aggregate) with no
    orders at all (anti join). Money stays in integer cents until the
    final division."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(cents(F.col("c_acctbal"))) / F.count(F.lit(1))).alias("__avg_cents")
    )
    rich = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(cents(F.col("c_acctbal")) > F.col("__avg_cents"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
    )
    return (
        rich.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(cents(F.col("c_acctbal"))).cast("double") / 100.0).alias(
                "totacctbal"
            ),
        )
        .orderBy("c_nationkey")
    )


@query("embedding_label_centroids")
def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding analytics: per-label mean vector in (label, dim,
    centroid) long form — scaled-integer sums so the parallel average
    is bit-deterministic (operators/embeddings.py)."""
    from .operators.embeddings import label_centroids

    e = table(spark, sf_dir, "embeddings")
    return label_centroids(e, "label", "embedding")


@query("embedding_quantize_int8")
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding analytics: per-dimension scalar int8 quantization
    (corpus min/max → [-127, 127]); long-form output, broadcast stats
    join, narrow quantization map."""
    from .operators.embeddings import quantize_int8

    e = table(spark, sf_dir, "embeddings")
    return quantize_int8(e, "vec_id", "embedding")


@query("q6_forecast_revenue")
def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analog: the classic selective-scan aggregate — every
    predicate pushes to the parquet scan, no join, one partial+final
    agg. The pushdown is what makes this sub-second at any scale."""
    li = table(spark, sf_dir, "lineitem")
    rev = cents(F.col("l_extendedprice") * F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).alias("__c"), F.count(F.lit(1)).alias("n_lines"))
        .select(
            (F.col("__c").cast("double") / 100.0).alias("revenue"), "n_lines"
        )
    )


@query("q15_top_supplier")
def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 analog: supplier(s) with the maximum quarterly
    revenue — aggregate → broadcast scalar max → equality join back
    (the view + scalar-subquery shape)."""
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_cents"))
    )
    top = rev.agg(F.max("rev_cents").alias("__max"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("rev_cents") == F.col("__max"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_cents").cast("double") / 100.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query("q17_small_quantity_revenue")
def q_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analog: revenue from lineitems under 20% of their
    part's average quantity — the correlated-scalar-per-group shape,
    decorrelated into a per-part aggregate joined back to the facts.
    The threshold derives from exact integer sums so both engines
    compute the identical double."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    # partkey determines brand, so restricting the per-part aggregate
    # to the brand's lineitems first is result-identical and shrinks
    # the dominant shuffle ~25x (only aggregates that survive the
    # final join are ever built)
    li_brand = li.join(F.broadcast(p.select("p_partkey")),
                       li.l_partkey == F.col("p_partkey"), "left_semi")
    per_part = li_brand.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(cents(F.col("l_quantity"))).alias("__qc"),
        F.count(F.lit(1)).alias("__n"),
    )
    thresh = F.lit(0.2) * F.col("__qc").cast("double") / F.col("__n")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("pk"))
        .filter(cents(F.col("l_quantity")).cast("double") < thresh)
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("__rc"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            (F.col("__rc").cast("double") / 100.0).alias("small_qty_revenue"),
            "n_lines",
        )
    )


@query("q21_waiting_orders")
def q_q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analog: suppliers who were the SOLE late shipper on a
    multi-supplier order (l_shipdate > o_orderdate stands in for the
    commit/receipt pair). The classic exists/not-exists chain is
    decorrelated into per-order distinct-supplier counts — pure
    aggregates, no correlated subqueries, scale-clean."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = table(spark, sf_dir, "supplier")
    lo = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate")).alias("__late"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("__n_supp"),
        F.count_distinct(F.when(F.col("__late"), F.col("l_suppkey"))).alias(
            "__n_late"
        ),
    )
    sole_late = (
        lo.filter(F.col("__late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("__n_supp") > 1) & (F.col("__n_late") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        sole_late.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(25)
    )


@query("dq_checks")
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality check suite (dbt-style ETL tests) over the warehouse
    tables: key uniqueness, null rates, referential integrity — each
    check one row (check_name, n_violations). Orphan checks are
    anti joins; everything aggregates before unioning, so the result
    is a handful of rows regardless of scale."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")
    n = table(spark, sf_dir, "nation")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("long").alias("n_violations"),
        )

    dup_orders = o.groupBy("o_orderkey").count().filter(F.col("count") > 1)
    null_dates = o.filter(F.col("o_orderdate").isNull())
    orphan_orders = o.join(c, o.o_custkey == c.c_custkey, "left_anti")
    orphan_lines = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
    bad_nations = c.join(n, c.c_nationkey == n.n_nationkey, "left_anti")
    neg_qty = li.filter(F.col("l_quantity") <= 0)

    checks = [
        one("orders_pk_unique", dup_orders),
        one("orders_date_not_null", null_dates),
        one("orders_custkey_fk", orphan_orders),
        one("lineitem_orderkey_fk", orphan_lines),
        one("customer_nationkey_fk", bad_nations),
        one("lineitem_quantity_positive", neg_qty),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.union(ch)
    return out.orderBy("check_name")


@query("sql_interface_report")
def q_sql_interface_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/SQL surface: the engine's raw SQL-string interface — views
    registered over the scans, analytics written as ANSI SQL and
    executed by spark.sql (the reference's native mode of operation:
    every reference query is a SQL string). Demonstrates the whole
    DataFrame surface is equally reachable via SQL."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT c_mktsegment,
            COUNT(*) AS n_orders,
            CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
                AS total_price
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


@query("funnel_click_to_purchase")
def q_funnel_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence funnel: users whose first purchase follows their
    first click, with the conversion delay — the min-per-stage
    formulation (one groupBy, no self-join; sequences derive from
    per-user stage minima)."""
    ev = table(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return (
        stages.filter(
            F.col("first_click").isNotNull()
            & F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") > F.col("first_click"))
        )
        .select(
            "user_id",
            "first_click",
            "first_purchase",
            (
                F.unix_micros(F.col("first_purchase"))
                - F.unix_micros(F.col("first_click"))
            ).alias("delay_us"),
        )
        .orderBy("user_id")
    )


@query("retention_cohorts")
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted by
    weeks-since-cohort activity — two aggregates (first-seen, then
    cohort × offset), the standard retention matrix in long form."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("offset_weeks"),
            "user_id",
        )
        .groupBy("cohort_week", "offset_weeks")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "offset_weeks")
    )


@query("text_char_entropy")
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5+: character-distribution entropy per doc (low entropy =
    degenerate/repetitive text, an LLM-quality filter). Parallel
    double summation is order-dependent, so each term is rounded to a
    scaled integer first: exact long sum, one final division —
    bit-identical across engines."""
    d = table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.regexp_extract_all(F.col("text"), F.lit("."), 0)).alias("ch")
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("__n"), F.collect_list(F.struct("ch", "c")).alias("__cs")
    )
    # term = (c/n) * log2(n/c), scaled to integer picobits
    term = F.expr(
        "aggregate(__cs, 0L, (acc, s) -> acc + CAST(ROUND("
        "(CAST(s.c AS DOUBLE) / __n) * (log2(CAST(__n AS DOUBLE) / s.c)) * 1e12"
        ") AS LONG))"
    )
    return per_doc.select(
        "doc_id",
        F.col("__n").cast("long").alias("n_chars"),
        F.round(term / F.lit(1e12), 6).alias("char_entropy_bits"),
    )


@query("minhash_similarity_estimate")
def q_minhash_similarity_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2b+: Jaccard ESTIMATE from MinHash signatures for the LSH
    candidate pairs — matching-component fraction, the sketch's
    native estimator (exact integer ratio; compare with the exact
    dedup_ngram_jaccard values to see sketch error)."""
    from .operators.dedup import doc_shingles, lsh_candidate_pairs, minhash_signatures

    d = table(spark, sf_dir, "documents")
    sig = minhash_signatures(doc_shingles(d, "doc_id", "text"), "doc_id", k=8)
    pairs = lsh_candidate_pairs(sig, "doc_id", k=8, bands=4)
    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(1, 9)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(1, 9)])
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(1, 9)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches.cast("double") / 8, 6).alias("est_jaccard"),
        )
    )


@query("ann_ivf_refined")
def q_ann_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4c+: IVF top-k with 2 Lloyd refinement iterations on the
    centroid table (operators/similarity.py:ivf_centroids) — closes
    the gap between the deterministic md5 seed draw and real k-means
    IVF recall. Hash-oracled: ``refine_iters=2`` is a FINITE loop, so
    the oracle unrolls both Lloyd rounds into DuckDB CTEs (min-
    distance assign join → scaled-integer per-dim mean), mirroring
    the deterministic arithmetic exactly; recall vs brute force is
    additionally pinned by tests/test_similarity.py."""
    from .operators.similarity import ivf_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return ivf_topk(
        q, e, "vec_id", "embedding", k=3, n_centroids=8, nprobe=2, refine_iters=2
    )


@query("events_enrich_dim")
def q_events_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7 batch twin: the stream-static dimension enrichment
    (streaming/pipelines.py:enrich_with_dim) run in batch form, so the
    DuckDB oracle hash-checks the join semantics that
    tests/test_streaming.py pins for the streaming side. Broadcast
    left join onto a derived dim key (user_id mod 25 → nation)."""
    from .streaming.pipelines import enrich_with_dim

    ev = (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id")
        .withColumn("dim_key", F.pmod(F.col("user_id"), F.lit(25)))
    )
    dim = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("dim_key"), "n_name"
    )
    return enrich_with_dim(ev, dim, on="dim_key").select(
        "event_id", "user_id", "n_name"
    )


# ---------------------------------------------------------------------------
# TPC-H analog completion (round 3): q2/q7/q8/q9/q11/q13/q16/q20.
# The fixture has no partsupp table, so the four queries that need it
# (q2, q11, q16, q20) use the distinct (l_partkey, l_suppkey)
# relation from lineitem as the part-supplier catalog — same join
# topology, same decorrelation patterns. The derivation lives in ONE
# helper (part_supplier, below) so all four share a single definition
# and plan shape: broadcast semi-join pre-filters BELOW the shuffle,
# then one hash-aggregate on the requested keys.
# ---------------------------------------------------------------------------


def part_supplier(
    spark: SparkSession,
    sf_dir: str,
    *,
    parts: DataFrame | None = None,
    supps: DataFrame | None = None,
    aggs: list | None = None,
    keys: tuple = ("l_partkey", "l_suppkey"),
):
    """Derived part-supplier catalog (the fixture's stand-in for
    TPC-H partsupp, cf. /root/reference has no such table either —
    the analog suite documents the derivation).

    ``parts`` / ``supps`` are optional key DataFrames (``p_partkey`` /
    ``s_suppkey``) applied as BROADCAST left-semi joins before the
    aggregation, so the restriction prunes lineitem rows below the one
    shuffle.  With ``aggs=None`` returns the distinct key set; with
    agg expressions, computes them per key group in the same single
    shuffle (map-side partial agg keeps shuffle volume ~= distinct)."""
    li = table(spark, sf_dir, "lineitem")
    if parts is not None:
        li = li.join(
            F.broadcast(parts.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
    if supps is not None:
        li = li.join(
            F.broadcast(supps.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
            "left_semi",
        )
    if aggs is None:
        return li.select(*keys).distinct()
    return li.groupBy(*keys).agg(*aggs)


@query("q2_min_cost_supplier")
def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analog: cheapest EUROPE supplier per size-5 part.
    "Supply cost" is the minimum observed unit price (exact: cents of
    extendedprice/quantity — min is order-free). The correlated
    min-subquery decorrelates into a per-part aggregate joined back on
    equality; region/nation/supplier dims broadcast."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_size") == 5)
    unit_cents = F.round(
        F.col("l_extendedprice") / F.col("l_quantity") * 100, 0
    ).cast("long")
    cost = part_supplier(
        spark, sf_dir, parts=p, supps=s,
        aggs=[F.min(unit_cents).alias("cost_cents")],
    )
    min_cost = cost.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("cost_cents").alias("__min_cents")
    )
    return (
        cost.join(
            min_cost,
            (cost.l_partkey == F.col("pk"))
            & (cost.cost_cents == F.col("__min_cents")),
        )
        .join(F.broadcast(s), cost.l_suppkey == s.s_suppkey)
        .join(F.broadcast(p), cost.l_partkey == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            (F.col("cost_cents").cast("double") / 100.0).alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


@query("q7_volume_shipping")
def q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analog: shipping volume between NATION_1 and NATION_2
    (both directions) by ship year, 1996-1997. Supplier and customer
    nation dims broadcast onto the fact; the only big shuffle is
    lineitem⋈orders."""
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == n.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    c = table(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == n.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "__rc"
            )
        )
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            (F.col("__rc").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query("q8_market_share")
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analog: NATION_5 suppliers' share of the ASIA market
    for ECONOMY parts by order year. Share = ratio of two exact
    integer-cent sums (one conditional, one total), divided once at
    the end — bit-identical across engines."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("c_custkey")
    )
    supp = table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == n.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    vol = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"), "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey, "left_semi")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0))).alias("__nat"),
            F.sum(vol).alias("__tot"),
        )
        .select(
            "o_year",
            F.round(F.col("__nat").cast("double") / F.col("__tot"), 6).alias(
                "mkt_share"
            ),
        )
        .orderBy("o_year")
    )


@query("q9_product_type_profit")
def q_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analog: profit on PROMO parts by supplier nation and
    order year. With no partsupp.ps_supplycost in the fixture, cost is
    modeled as 10% of retail price per unit — profit stays a
    difference of two exact cent sums."""
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == n.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    cost = cents(F.col("p_retailprice") * F.col("l_quantity") * 0.1)
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_retailprice")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(rev - cost).alias("__pc"))
        .select(
            "nation",
            "o_year",
            (F.col("__pc").cast("double") / 100.0).alias("sum_profit"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


@query("q11_important_stock")
def q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog: parts whose shipped value from NATION_3
    suppliers exceeds 0.1% of that nation's total. The HAVING >
    scalar-subquery shape: per-part integer-cent sums, a 1-row total
    broadcast back, and an EXACT integer comparison (value·1000 >
    total) — no float threshold drift."""
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == n.n_nationkey
    ).select("s_suppkey")
    value = part_supplier(
        spark, sf_dir, supps=s, keys=("l_partkey",),
        aggs=[F.sum(cents(F.col("l_extendedprice"))).alias("value_cents")],
    )
    total = value.agg(F.sum("value_cents").alias("__total_cents"))
    return (
        value.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("__total_cents"))
        .select(
            "l_partkey",
            (F.col("value_cents").cast("double") / 100.0).alias("value"),
        )
        .orderBy(F.desc("value"), "l_partkey")
    )


@query("q13_customer_distribution")
def q_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analog: distribution of per-customer order counts,
    urgent orders excluded — the outer-join + double-aggregation
    shape. Customers with zero qualifying orders land in the c_count=0
    bucket via the left join's nulls."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query("q16_supplier_part_counts")
def q_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analog: distinct supplier counts per (brand, type,
    size) for non-Brand#5 parts, excluding negative-balance suppliers
    (the NOT IN → broadcast anti-join). The part-supplier relation is
    the distinct (l_partkey, l_suppkey) pair set."""
    ps = part_supplier(spark, sf_dir)
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#5")
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query("q20_promotion_candidates")
def q_q20_promotion_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analog: NATION_7 suppliers who shipped more than half
    of a SMALL part's lifetime quantity during 1997 — the nested
    IN/scalar-subquery chain decorrelated into one conditional
    aggregate per (supplier, part) and an exact integer comparison
    (2·qty97 > qty_total)."""
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == n.n_nationkey
    ).select("s_suppkey", "s_name")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL").select(
        "p_partkey"
    )
    in97 = (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    per_sp = part_supplier(
        spark, sf_dir, parts=p, supps=s, keys=("l_suppkey", "l_partkey"),
        aggs=[
            F.sum(
                F.when(in97, cents(F.col("l_quantity"))).otherwise(F.lit(0))
            ).alias("__q97"),
            F.sum(cents(F.col("l_quantity"))).alias("__qtot"),
        ],
    )
    qualifying = (
        per_sp.filter(F.col("__q97") * 2 > F.col("__qtot"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        qualifying.join(F.broadcast(s), qualifying.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Round-4 extensions: batch sessionization / time-weighted aggregation,
# wider window-function surface
# ---------------------------------------------------------------------------


@query("events_sessionize_batch")
def q_events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ST3's session window: gap-based (30 min) session
    assignment per user with deterministic 1-based session ids, one
    row per session (operators/sessions.py). All-integer microsecond
    arithmetic — bit-stable across engines."""
    from .operators.sessions import sessionize

    e = table(spark, sf_dir, "events")
    return sessionize(e, gap_minutes=30).orderBy("user_id", "session_idx")


@query("timeweighted_avg_value")
def q_timeweighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted per-user average (each value held until the next
    event): exact integer cents×µs weighted sums, one final float
    division (operators/sessions.py:time_weighted_avg)."""
    from .operators.sessions import time_weighted_avg

    e = table(spark, sf_dir, "events")
    return time_weighted_avg(e).orderBy("user_id")


@query("window_share_of_total")
def q_window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ratio_to_report pattern: each (event_type, day)'s share of its
    event_type's total spend — a whole-partition window sum over a
    pre-aggregated frame (two-level: shuffle once for the group-by,
    the window reuses that partitioning on the reduced data)."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(cents(F.col("value"))).alias("day_cents"))
    )
    w = Window.partitionBy("event_type")
    return daily.select(
        "event_type",
        "day",
        "day_cents",
        F.round(
            F.col("day_cents").cast("double")
            / F.sum("day_cents").over(w).cast("double"),
            6,
        ).alias("share"),
    ).orderBy("event_type", "day")


@query("window_first_last")
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over the full partition
    frame (UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING), one summary row
    per user: the first, second, and last event_type in time order."""
    e = table(spark, sf_dir, "events")
    full = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            F.row_number().over(order).alias("__rn"),
            F.first_value(F.col("event_type")).over(full).alias("first_type"),
            F.nth_value(F.col("event_type"), 2).over(full).alias("second_type"),
            F.last_value(F.col("event_type")).over(full).alias("last_type"),
            F.count(F.lit(1)).over(full).alias("n_events"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy("user_id")
    )


@query("window_ntile_quartiles")
def q_window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/cume_dist distribution functions: quartile
    assignment by value within each event_type, summarized per
    (event_type, quartile). percent_rank/cume_dist are exact integer
    ratios (single division) — deterministic; the boundary values are
    raw doubles (no summation), so min/max round-trip bit-exactly."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = e.select(
        "event_type",
        "value",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return (
        ranked.groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo_value"),
            F.max("value").alias("hi_value"),
            F.round(F.max("pr"), 6).alias("max_percent_rank"),
            F.round(F.max("cd"), 6).alias("max_cume_dist"),
        )
        .orderBy("event_type", "quartile")
    )


@query("grouping_sets_costs")
def q_grouping_sets_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube: an arbitrary
    set list) with grouping_id disambiguating the aggregation level —
    one shuffle produces all three levels (Spark expands sets in a
    single Expand node, not one pass per set)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("o_totalprice"))).alias("price_cents"),
        )
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


@query("agg_filtered_conditional")
def q_agg_filtered_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause conditional aggregation: per-priority counts and
    sums restricted to different predicates inside ONE aggregation
    pass (count_if + conditional sums), with the average derived from
    the exact integer pair."""
    o = table(spark, sf_dir, "orders")
    open_cents = F.sum(
        F.when(F.col("o_orderstatus") == "O", cents(F.col("o_totalprice")))
        .otherwise(F.lit(0))
    )
    n_open = F.count_if(F.col("o_orderstatus") == "O")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_orderstatus") == "F").alias("n_filled"),
            n_open.alias("n_open"),
            open_cents.alias("open_cents"),
            F.round(
                open_cents.cast("double") / F.nullif(n_open, F.lit(0)).cast("double")
                / 100.0,
                6,
            ).alias("avg_open_price"),
        )
        .orderBy("o_orderpriority")
    )


@query("agg_bool_bitwise")
def q_agg_bool_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and/bool_or and bit_and/bit_or/bit_xor aggregates — the
    flag-rollup family (e.g. 'did every shard pass', 'union of feature
    masks'). All exact integer/boolean ops: engine-independent."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.bool_and(F.col("value") > 0).alias("all_positive"),
            F.bool_or(F.col("value") > 100).alias("any_large"),
            F.bit_and(F.col("user_id")).alias("uid_bit_and"),
            F.bit_or(F.col("user_id")).alias("uid_bit_or"),
            F.bit_xor(F.col("user_id")).alias("uid_bit_xor"),
        )
        .orderBy("event_type")
    )


@query("snapshot_diff_orders")
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC: full-outer snapshot diff (operators/cdc.py) between the
    mid-1997 orders snapshot and a year-later snapshot with simulated
    deletes (orderkey % 37 == 0 vanished) and updates (urgent orders
    repriced +10%) — emits only insert/delete/update rows, the
    incremental alternative to the reference's drop-and-reload sync."""
    from .operators.cdc import snapshot_diff

    o = table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < "1997-07-01").select(
        "o_orderkey", "o_orderstatus", cents(F.col("o_totalprice")).alias("price_cents")
    )
    new = (
        o.filter(F.col("o_orderdate") < "1998-01-01")
        .filter(F.col("o_orderkey") % 37 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                cents(F.col("o_totalprice") * 1.1),
            )
            .otherwise(cents(F.col("o_totalprice")))
            .alias("price_cents"),
        )
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "price_cents"]
    ).orderBy("o_orderkey")


@query("upsert_latest_events")
def q_upsert_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: treat events as a change log keyed by
    (user_id, event_type) and keep each key's newest row (by ts,
    event_id) — the MERGE-style upsert read path
    (operators/cdc.py:latest_by_key)."""
    from .operators.cdc import latest_by_key

    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )
    return latest_by_key(
        e, ["user_id", "event_type"], ["ts_us", "event_id"]
    ).orderBy("user_id", "event_type")


@query("tfidf_top_terms")
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 extension: per-document top-3 tf·idf terms
    (operators/textstats.py:tfidf_top_terms). Ranked on the rounded
    score with term tie-break — order is engine-independent. Output
    bounded to doc_id < 100 (the ranking itself runs corpus-wide)."""
    from .operators.textstats import tfidf_top_terms

    d = table(spark, sf_dir, "documents")
    return (
        tfidf_top_terms(d, "doc_id", "text", k=3)
        .filter(F.col("doc_id") < 100)
        .orderBy("doc_id", "rank")
    )


@query("token_bigram_counts")
def q_token_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 extension: corpus top-20 bigram frequency table
    (operators/textstats.py:corpus_ngram_counts) — n-gram LM /
    boilerplate raw material; top-k via TakeOrderedAndProject."""
    from .operators.textstats import corpus_ngram_counts

    d = table(spark, sf_dir, "documents")
    return corpus_ngram_counts(d, "text", k=20)


@query("token_zipf_fit")
def q_token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 extension: Zipf least-squares fit over the corpus token
    frequency table via regr_slope/regr_intercept
    (operators/textstats.py:zipf_fit) — corpus health probe."""
    from .operators.textstats import zipf_fit

    d = table(spark, sf_dir, "documents")
    return zipf_fit(d, "text")


@query("doc_dup_shingle_fraction")
def q_doc_dup_shingle_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 extension: per-doc fraction of 3-shingles shared with other
    docs (operators/dedup.py:dup_shingle_fraction) — the corpus-overlap
    score that near-dup thresholds binarize."""
    from .operators.dedup import dup_shingle_fraction

    d = table(spark, sf_dir, "documents")
    return dup_shingle_fraction(d, "doc_id", "text").orderBy("doc_id")


@query("chunk_documents_overlap")
def q_chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data prep: overlapping character-window chunking
    (size 80, stride 60; operators/chunking.py) — narrow map+explode,
    no shuffle. Chunk text is emitted as md5 so the compare (and any
    downstream exchange) carries 32 bytes, not the text."""
    from .operators.chunking import chunk_text

    d = table(spark, sf_dir, "documents")
    return (
        chunk_text(d, "doc_id", "text", chunk_size=80, stride=60)
        .select(
            "doc_id",
            "chunk_idx",
            "start",
            F.length("chunk_text").alias("chunk_len"),
            F.md5("chunk_text").alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query("split_assign_train_eval")
def q_split_assign_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-family: deterministic 80/10/10 train/val/test
    assignment keyed on md5(doc_id) (operators/sampling.py:
    split_assign) — split membership survives repartitioning, appends,
    and engine choice. Summarized per split."""
    from .operators.sampling import split_assign

    d = table(spark, sf_dir, "documents")
    return (
        split_assign(d, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("split")
    )


@query("doc_length_histogram")
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of document length (bucket width 20
    chars) with each bucket's share of the corpus — the length-filter
    design view. One shuffle on the bucket key; share is an exact
    integer ratio."""
    d = table(spark, sf_dir, "documents")
    total = d.select(F.count(F.lit(1)).alias("__total"))
    return (
        d.select((F.floor(F.col("n_chars") / 20) * 20).alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(total))
        .select(
            "bucket_lo",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("__total").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("bucket_lo")
    )


@query("key_skew_profile")
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics: the 10 heaviest keys by event count with
    their share of total traffic — the view that decides whether a
    join/agg needs salting or AQE skew handling. Top-k is a
    TakeOrderedAndProject over the per-key aggregate."""
    e = table(spark, sf_dir, "events")
    total = e.select(F.count(F.lit(1)).alias("__total"))
    return (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("__total").cast("double"), 6
            ).alias("share"),
        )
        .orderBy(F.col("n").desc(), F.col("user_id").asc())
        .limit(10)
    )


@query("embedding_bucket_dedup")
def q_embedding_bucket_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 extension: sign-bit bucket near-dup grouping over embeddings
    (operators/embeddings.py:signbit_bucket_dedup) — exact integer
    bucket ids, min-id canonical per bucket."""
    from .operators.embeddings import signbit_bucket_dedup

    e = table(spark, sf_dir, "embeddings")
    return signbit_bucket_dedup(e, "vec_id", "embedding", n_bits=16).orderBy("vec_id")


@query("pipeline_quality_gate")
def q_pipeline_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation gate: quality score (≥ 0.5) AND fingerprint
    -dedup canonical (min doc_id per md5 fingerprint) — the composed
    keep-decision, summarized per (lang, source) with kept/total
    counts and kept chars. One plan: quality features, the dedup
    window, and the roll-up fuse over a single documents scan."""
    from .operators.dedup import fingerprint
    from .operators.textstats import quality_features

    d = table(spark, sf_dir, "documents")
    qf = quality_features(d, "doc_id", "text").select("doc_id", "quality_score")
    w = Window.partitionBy("fp").orderBy("doc_id")
    flags = (
        d.select("doc_id", "lang", "source", "n_chars", fingerprint(F.col("text")).alias("fp"))
        .withColumn("__rn", F.row_number().over(w))
        .join(qf, "doc_id")
        .withColumn(
            "keep", (F.col("__rn") == 1) & (F.col("quality_score") >= 0.5)
        )
    )
    return (
        flags.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_if(F.col("keep")).alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
        )
        .orderBy("lang", "source")
    )


@query("ewma_daily_costs")
def q_ewma_daily_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series smoothing: per-service daily spend with an 8-day
    half-life-1-day EWMA (operators/timeseries.py:ewma). Power-of-two
    integer weights make the weighted sums exact BIGINTs; the single
    final division is the only float op — bit-identical across
    engines and partitionings."""
    from .operators.timeseries import ewma

    costs = events_as_costs(spark, sf_dir)
    daily = costs.groupBy("service", "date").agg(
        F.sum(cents(F.col("cost"))).alias("day_cents")
    )
    smoothed = ewma(daily, ["service"], "date", "day_cents", lookback=8)
    return smoothed.select(
        "service",
        "date",
        (F.col("day_cents").cast("double") / 100.0).alias("daily_cost"),
        F.round(F.col("ewma_day_cents") / 100.0, 6).alias("ewma_cost"),
    ).orderBy("service", "date")


@query("daily_active_users_rolling7")
def q_daily_active_users_rolling7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day distinct users per day
    (operators/timeseries.py:rolling_distinct_count). Rolling
    COUNT(DISTINCT) can't be a window frame; the scalable exact form
    is the bounded ≤7-day fan-out join over per-day distinct pairs."""
    from .operators.timeseries import rolling_distinct_count

    e = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    return rolling_distinct_count(e, "day", "user_id", window_days=7).orderBy(
        "day"
    )


@query("scd2_user_event_type")
def q_scd2_user_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 dimension history from an event log
    (operators/timeseries.py:scd2_intervals): per user, runs of equal
    event_type collapse to validity intervals [valid_from_us,
    valid_to_us) with NULL open end — the MERGE-free history builder.
    Bounded to user_id < 50 to keep driver compare payloads small."""
    from .operators.timeseries import scd2_intervals

    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return scd2_intervals(
        e, "user_id", "event_type", "ts", "event_id"
    ).orderBy("user_id", "segment_idx")


@query("forward_fill_daily_costs")
def q_forward_fill_daily_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF series repair (operators/timeseries.py:forward_fill): the
    gapfill calendar for accounts 1-3, but missing days carry the last
    observed daily total forward instead of zero-filling; days before
    the first observation stay NULL."""
    from .operators.timeseries import forward_fill

    costs = events_as_costs(spark, sf_dir)
    focus = costs.filter(F.col("account_id").isin(["1", "2", "3"]))
    daily = focus.groupBy("account_id", "date").agg(
        F.sum(cents(F.col("cost"))).alias("day_cents")
    )
    span = focus.groupBy("account_id").agg(
        F.min("date").alias("d0"), F.max("date").alias("d1")
    )
    calendar = span.select(
        "account_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("date"),
    )
    grid = calendar.join(daily, ["account_id", "date"], "left")
    filled = forward_fill(grid, ["account_id"], "date", "day_cents")
    return filled.select(
        "account_id",
        "date",
        (F.col("ffill_day_cents").cast("double") / 100.0).alias("ffill_cost"),
    ).orderBy("account_id", "date")


@query("events_inter_arrival_stats")
def q_events_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-rate profile per event_type
    (operators/timeseries.py:inter_arrival_gaps): integer-µs gaps via
    one window pass, then count/min/max plus exact interpolated
    p50/p90 — the queue-health roll-up."""
    from .operators.timeseries import inter_arrival_gaps

    e = table(spark, sf_dir, "events")
    gaps = inter_arrival_gaps(e, "event_type", "ts", "event_id")
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
            F.round(F.expr("percentile(gap_us, 0.5)"), 4).alias("p50_gap_us"),
            F.round(F.expr("percentile(gap_us, 0.9)"), 4).alias("p90_gap_us"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline extensions, round 6: corpus-LM quality
# scoring, split-distribution drift, embedding-norm QA
# ---------------------------------------------------------------------------


@query("text_bigram_lm_score")
def q_text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 extension: mean corpus-bigram conditional probability per
    document (operators/textstats.py:bigram_cond_prob_score) — the
    model-based fluency axis of quality filtering (boilerplate scores
    high, token salad low). Scaled-integer per-bigram probabilities,
    so the score is exact across engines."""
    from .operators.textstats import bigram_cond_prob_score

    d = table(spark, sf_dir, "documents")
    return bigram_cond_prob_score(d, "doc_id", "text").orderBy("doc_id")


@query("split_balance_tvd")
def q_split_balance_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 extension: total-variation distance between the n_chars
    distributions of the train/val/test splits
    (operators/sampling.py:split_balance_tvd) — the drift gate that
    verifies the hash splitter stayed size-blind. Exact integer
    cross-product arithmetic; one corpus shuffle."""
    from .operators.sampling import split_balance_tvd

    d = table(spark, sf_dir, "documents")
    return split_balance_tvd(d, "doc_id", "n_chars")


@query("embedding_norm_outliers")
def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14 extension: per-label L2-norm profile + ±20%-band outlier
    counts (operators/embeddings.py:norm_outliers_by_label) —
    collapsed/exploded-vector QA ahead of ANN indexing."""
    from .operators.embeddings import norm_outliers_by_label

    e = table(spark, sf_dir, "embeddings")
    return norm_outliers_by_label(e, "vec_id", "embedding", "label")


@query("ann_recall_eval")
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/X8 composition: per-query recall@3 of the IVF index
    (nprobe=2) against exact brute force — the retrieval-quality
    metric every ANN deployment monitors when tuning
    nprobe/n_centroids. Both sides are existing oracle-checked
    operators; the recall join is a keyed left join on
    (query_id, neighbor_id). Exact arithmetic: n_hit/k is a single
    double division of small integers."""
    from .operators.similarity import brute_force_topk, ivf_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    bf = brute_force_topk(q, e, "vec_id", "embedding", k=3).select(
        "query_id", "neighbor_id"
    )
    ivf = ivf_topk(
        q, e, "vec_id", "embedding", k=3, n_centroids=8, nprobe=2
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    return (
        bf.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("k")).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


@query("source_mixture_weights")
def q_source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 extension: sqrt-temperature mixture weights per document
    source + integer share of a 10,000-sample budget
    (operators/sampling.py:source_mixture_weights) — the domain-
    rebalancing table a training mix is sampled from. Scaled-integer
    normalization, integer-division shares: exact in any engine."""
    from .operators.sampling import source_mixture_weights

    d = table(spark, sf_dir, "documents")
    return source_mixture_weights(d, "source", budget=10_000, alpha=0.5)


@query("dedup_funnel")
def q_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2/X7 composition: the survivorship report a dedup pipeline
    publishes — how many documents remain after each stage (exact →
    canonical fingerprint → near-dup clustering). Each stage is an
    existing oracle-checked operator; the funnel is four tiny
    aggregates unioned, so the report costs one pass per stage and
    shows where the corpus actually shrinks."""
    from .operators.dedup import fingerprint

    d = table(spark, sf_dir, "documents")

    def one(stage: str, agg_df: DataFrame) -> DataFrame:
        return agg_df.select(
            F.lit(stage).alias("stage"), F.col("n").alias("n_surviving")
        )

    total = one("1_total", d.agg(F.count(F.lit(1)).alias("n")))
    exact = one("2_exact", d.agg(F.countDistinct("text").alias("n")))
    fp = one(
        "3_fingerprint",
        d.agg(F.countDistinct(fingerprint(F.col("text"))).alias("n")),
    )
    clusters = one(
        "4_near_dup_clusters",
        QUERIES["dedup_clusters"](spark, sf_dir).agg(
            F.countDistinct("cluster_id").alias("n")
        ),
    )
    return total.unionByName(exact).unionByName(fp).unionByName(clusters).orderBy(
        "stage"
    )


@query("dataset_fingerprint")
def q_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-integrity extension: an order-independent content
    fingerprint of the orders table — row count, XOR and min/max of a
    canonical per-row digest (md5 over a '|'-joined rendering of the
    business columns, money as integer cents). Any engine, any
    partitioning, any row order produces the same fingerprint, so two
    snapshots can be compared for silent drift with one cheap
    aggregate per side — the reproducibility check a training-data
    pipeline runs before declaring a dataset version immutable.
    XOR is the combiner (commutative, associative, overflow-free);
    sums of hashes are avoided because 64-bit wraparound semantics
    differ across engines."""
    o = table(spark, sf_dir, "orders")
    row_digest = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    F.col("o_orderstatus"),
                    cents(F.col("o_totalprice")).cast("string"),
                    F.col("o_orderdate").cast("string"),
                    F.col("o_orderpriority"),
                )
            ),
            1,
            15,  # 60 bits: fits a signed long exactly
        ),
        16,
        10,
    ).cast("long")
    return (
        o.select(row_digest.alias("__d"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(__d)").alias("xor_digest"),
            F.min("__d").alias("min_digest"),
            F.max("__d").alias("max_digest"),
        )
    )


@query("doc_chunks")
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X21: overlapping context-window chunking
    (operators/packing.py:chunk_documents) — 64-token chunks with a
    16-token overlap, row-level hash-checked including the chunk
    text itself."""
    from .operators.packing import chunk_documents

    d = table(spark, sf_dir, "documents")
    return chunk_documents(d, "doc_id", "text", chunk_tokens=64, overlap=16)


@query("vocab_coverage")
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X22: vocabulary coverage / UNK-rate curve
    (operators/textstats.py:vocab_coverage) at K = 5, 15, 50 — the
    fixture vocabulary is ~30 types, so the grid spans partial to
    full coverage."""
    from .operators.textstats import vocab_coverage

    d = table(spark, sf_dir, "documents")
    return vocab_coverage(d, "doc_id", "text", top_ks=[5, 15, 50])


@query("dedup_incremental")
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X23: corpus-delta dedup (operators/dedup.py:incremental_dedup).
    The hash-threshold 80% of documents plays the already-ingested
    corpus; the other 20% is the incoming batch, each doc classified
    kept / dup_corpus / dup_batch."""
    from .operators.dedup import incremental_dedup
    from .operators.sampling import UNIT_DENOM, unit_hash

    d = table(spark, sf_dir, "documents")
    cut = int(0.8 * UNIT_DENOM)
    corpus = d.filter(unit_hash("doc_id") < cut)
    batch = d.filter(unit_hash("doc_id") >= cut)
    return incremental_dedup(batch, corpus, "doc_id", "text").orderBy("doc_id")


@query("shingle_novelty")
def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: per-doc n-gram novelty (operators/dedup.py:
    shingle_novelty) — share of each doc's distinct 3-shingles first
    introduced by that doc (min-doc-id attribution), ordered by
    least-novel first."""
    from .operators.dedup import shingle_novelty

    d = table(spark, sf_dir, "documents")
    return shingle_novelty(d, "doc_id", "text").orderBy(
        "novelty_ppm", "doc_id"
    )


@query("template_clusters")
def q_template_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25: boilerplate/template detection
    (operators/dedup.py:template_prefix_clusters) — documents sharing
    their first 3 canonical tokens, clusters of >= 2."""
    from .operators.dedup import template_prefix_clusters

    d = table(spark, sf_dir, "documents")
    return template_prefix_clusters(d, "doc_id", "text", prefix_tokens=3)


@query("chunk_dedup_rate")
def q_chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26: sub-document repetition — chunk the corpus (X21), md5 each
    chunk text, and report per-source chunk dedup rates. Catches
    repetition that document-level dedup can't see (shared sections
    inside otherwise-distinct docs). Composition of chunk_documents +
    fingerprint + one aggregate; dup share via integer division."""
    from .operators.packing import chunk_documents

    d = table(spark, sf_dir, "documents")
    chunks = chunk_documents(d, "doc_id", "text", chunk_tokens=64, overlap=16)
    src = d.select("doc_id", "source")
    return (
        chunks.join(F.broadcast(src), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct(F.md5("chunk_text")).alias("n_distinct"),
        )
        .select(
            "source",
            "n_chunks",
            "n_distinct",
            (
                F.expr(
                    "(1000000 * (n_chunks - n_distinct)) div n_chunks"
                ).cast("double")
                / 1_000_000.0
            ).alias("dup_ppm"),
        )
        .orderBy("source")
    )


@query("embedding_label_separation")
def q_embedding_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X27: inter-label centroid cosine separation
    (operators/embeddings.py:label_separation) — every label pair,
    exact scaled-integer dot products."""
    from .operators.embeddings import label_separation

    e = table(spark, sf_dir, "embeddings")
    return label_separation(e, "label", "embedding")


@query("semantic_dedup")
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28: SemDeDup-style embedding near-dup pruning
    (operators/similarity.py:semantic_dedup) — cluster-bucketed
    cosine against any lower-id cluster-mate, lowest id survives.
    One row per vector, ordered by id. The registered threshold is
    0.35, not the real-world 0.95 default: the synthetic fixture
    embeddings are near-orthogonal (max within-cluster cosine ~0.5),
    so 0.35 is the value that actually exercises the keep/dup
    decision boundary on this corpus."""
    from .operators.similarity import semantic_dedup

    e = table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        e, "vec_id", "embedding", n_centroids=8, threshold=0.35
    ).orderBy("vec_id")


@query("source_overlap_matrix")
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X29: cross-source shingle-overlap matrix
    (operators/dedup.py:source_overlap) — Jaccard of distinct
    3-shingle sets for every source pair, zero-overlap pairs
    included."""
    from .operators.dedup import source_overlap

    d = table(spark, sf_dir, "documents")
    return source_overlap(d, "doc_id", "text", "source")


@query("quality_ablation")
def q_quality_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X30: per-rule quality-gate ablation
    (operators/textstats.py:quality_ablation) — each rule's total and
    sole-failure counts plus the combined ANY row, the filter-tuning
    readout for the X5 gate."""
    from .operators.textstats import quality_ablation

    d = table(spark, sf_dir, "documents")
    return quality_ablation(d, "doc_id", "text")


@query("split_leakage_safe")
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31: near-dup-leakage-safe train/val/test split
    (operators/sampling.py:leakage_safe_split) — split keyed on the
    X7 cluster id so near-copies never straddle train and eval;
    n_leaked counts the docs a doc-keyed split would have
    contaminated."""
    from .operators.sampling import leakage_safe_split

    clusters = QUERIES["dedup_clusters"](spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    return leakage_safe_split(clusters, "doc_id", "cluster_id")


@query("dedup_best_of_cluster")
def q_dedup_best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X32: quality-aware survivorship
    (operators/dedup.py:best_of_cluster) — per X7 near-dup cluster,
    the member the X5 quality gate scores highest (ties to the lowest
    id), replacing min-id survivorship with keep-the-cleanest."""
    from .operators.dedup import best_of_cluster
    from .operators.textstats import quality_features

    d = table(spark, sf_dir, "documents")
    clusters = QUERIES["dedup_clusters"](spark, sf_dir)
    scores = quality_features(d, "doc_id", "text").select(
        "doc_id", "quality_score"
    )
    return best_of_cluster(
        clusters, scores, "doc_id", "cluster_id", "quality_score"
    )


@query("importance_weights_dsir")
def q_importance_weights_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X33: DSIR-style hashed importance weights
    (operators/textstats.py:importance_weights) — every doc scored by
    how target-like (lang='en') its hashed-unigram profile is
    relative to the raw corpus; most-target-like first."""
    from .operators.textstats import importance_weights

    d = table(spark, sf_dir, "documents")
    return importance_weights(d, "doc_id", "text", "lang", "en").orderBy(
        F.desc("importance"), "doc_id"
    )


@query("source_token_tvd")
def q_source_token_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X34: pairwise source-distribution shift
    (operators/textstats.py:source_token_tvd) — total-variation
    distance between every pair of sources' unigram distributions,
    most-divergent pairs first."""
    from .operators.textstats import source_token_tvd

    d = table(spark, sf_dir, "documents")
    return source_token_tvd(d, "source", "text").orderBy(
        F.desc("tvd"), "source_a", "source_b"
    )


@query("curriculum_sample")
def q_curriculum_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X35: quality-curriculum sampling
    (operators/sampling.py:score_ramp_sample) — per-language score
    deciles over the X15 bigram-LM fluency score, kept at a hash
    rate ramping from 10% (worst decile) to 100% (best)."""
    from .operators.sampling import score_ramp_sample
    from .operators.textstats import bigram_cond_prob_score

    d = table(spark, sf_dir, "documents")
    scored = bigram_cond_prob_score(d, "doc_id", "text").join(
        d.select("doc_id", "lang"), "doc_id"
    )
    return score_ramp_sample(
        scored, "doc_id", "avg_cond_prob", "lang"
    ).orderBy("lang", "decile", "doc_id")


@query("token_fertility")
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X36: tokenizer-fertility profile
    (operators/textstats.py:token_fertility) — per-language BPE
    tokens per word and chars per BPE token, the vocabulary-sizing
    and compute-pricing readout."""
    from .operators.textstats import token_fertility

    d = table(spark, sf_dir, "documents")
    return token_fertility(d, "text", "lang").orderBy("lang")


@query("effective_mixture_weights")
def q_effective_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X37: dedup-effective mixture weights
    (operators/sampling.py:effective_mixture_weights) — per-source
    weights proportional to post-exact-dedup size with min-id
    cross-source survivor attribution; X19's honest sibling for
    unequally-duplicated corpora."""
    from .operators.sampling import effective_mixture_weights

    d = table(spark, sf_dir, "documents")
    return effective_mixture_weights(d, "doc_id", "text", "source").orderBy(
        "source"
    )


@query("seqlen_truncation_plan")
def q_seqlen_truncation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X38: sequence-length planning
    (operators/textstats.py:seqlen_plan) — per-source exact token
    percentiles (histogram-based, engine-portable) and the token
    loss of truncating at a 64-token context."""
    from .operators.textstats import seqlen_plan

    d = table(spark, sf_dir, "documents")
    return seqlen_plan(d, "source", "text", context_len=64).orderBy("source")


@query("length_drift_by_source")
def q_length_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X40: distribution-drift monitor
    (operators/textstats.py:length_drift_chi2) — chi-square-style
    divergence of each source's document-length histogram from the
    corpus's, exact ppm integers end to end."""
    from .operators.textstats import length_drift_chi2

    d = table(spark, sf_dir, "documents")
    return length_drift_chi2(d, "source", "n_chars", bucket_width=50).orderBy(
        "source"
    )


@query("classifier_hashed_logit")
def q_classifier_hashed_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X41: hashed-feature linear quality classifier
    (operators/textstats.py:hashed_logit_scores) — fastText-style
    hash-bucket scoring of every document, zero-shuffle fold
    expression in the scan stage."""
    from .operators.textstats import hashed_logit_scores

    d = table(spark, sf_dir, "documents")
    return hashed_logit_scores(d, "doc_id", "text").orderBy("doc_id")


@query("hard_negative_mining")
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X39: contrastive hard-negative mining
    (operators/similarity.py:hard_negatives) — for 8 anchor vectors,
    the top-5 most-similar corpus vectors of a DIFFERENT label."""
    from .operators.similarity import hard_negatives

    e = table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 8)
    return hard_negatives(
        anchors, e, "vec_id", "embedding", "label", k=5
    ).orderBy("query_id", "rank")


@query("embedding_pq_codes")
def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X42: product-quantization encoding
    (operators/embeddings.py:pq_encode) — every embedding compressed
    to 4 codeword ids (8 codewords per subspace, deterministic
    codebook draw), long-form with per-subspace quantization error."""
    from .operators.embeddings import pq_encode

    e = table(spark, sf_dir, "embeddings")
    return pq_encode(e, "vec_id", "embedding", m=4, ksub=8).orderBy(
        "vec_id", "subspace"
    )


@query("mixture_token_sample")
def q_mixture_token_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X43: token-budget mixture materialization
    (operators/sampling.py:mixture_budget_sample) — each source's
    sqrt-temperature share of a 12k-token budget, filled in
    deterministic unit-hash order; the kept documents with running
    token totals."""
    from .operators.sampling import mixture_budget_sample

    d = table(spark, sf_dir, "documents")
    return mixture_budget_sample(
        d, "doc_id", "text", "source", token_budget=12000
    ).orderBy("source", "cum_tokens")


@query("training_order_shuffle")
def q_training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X44: deterministic training-order shuffle
    (operators/sampling.py:training_order_shuffle) — every doc
    addressed by (shard, pos), a pure function of (epoch, id);
    epoch=1 here to exercise the reshuffle path."""
    from .operators.sampling import training_order_shuffle

    d = table(spark, sf_dir, "documents")
    return training_order_shuffle(d, "doc_id", n_shards=8, epoch=1).orderBy(
        "shard", "pos"
    )


@query("semantic_dedup_tree")
def q_semantic_dedup_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28 scale form: SemDeDup over the log-depth centroid tree
    (operators/similarity.py:semantic_dedup_tree) — branching 4,
    depth 2 (16 leaves); assignment costs N·b·depth instead of the
    flat N·k, which is what keeps the k-grows-with-N deployment
    policy sub-quadratic. Threshold 0.35 for the same fixture reason
    as ``semantic_dedup``."""
    from .operators.similarity import semantic_dedup_tree

    e = table(spark, sf_dir, "embeddings")
    return semantic_dedup_tree(
        e, "vec_id", "embedding", branching=4, depth=2, threshold=0.35
    ).orderBy("vec_id")


@query("dedup_lsh_recall")
def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X45: MinHash-LSH candidate recall/precision vs exact n-gram
    Jaccard ground truth (operators/dedup.py:lsh_pair_recall) — the
    dedup twin of ann_recall_eval; one summary row."""
    from .operators.dedup import lsh_pair_recall

    d = table(spark, sf_dir, "documents")
    return lsh_pair_recall(d, "doc_id", "text", threshold=0.5)


@query("embedding_random_projection")
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X46: Johnson-Lindenstrauss signed projection
    (operators/embeddings.py:random_projection) — 64-dim embeddings
    to 16 components, zero-shuffle scan-stage folds, long-form."""
    from .operators.embeddings import random_projection

    e = table(spark, sf_dir, "embeddings")
    return random_projection(e, "vec_id", "embedding", out_dim=16).orderBy(
        "vec_id", "rp_dim"
    )


@query("curation_manifest")
def q_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47: the full curation recipe as ONE dataflow — quality gate
    (X5, score >= 0.5) → exact dedup (X2a fingerprint, min-id
    survivor) → near-dup cluster survivorship (X2d pairs + X7
    connected components) → sqrt-temperature token-budget fill (X43,
    8k tokens). The output is the training-corpus MANIFEST: the kept
    documents with running token totals, reproducible bit-for-bit on
    any engine. Every stage is an already-verified operator; this
    query pins their COMPOSITION (the thing a user actually runs).

    Scale: the stages chain without driver materialization — quality
    and fingerprint are scan-stage maps + one fp-keyed aggregate,
    clustering is the X7 bounded-pair path, the budget fill is one
    group-keyed window."""
    from pyspark import StorageLevel

    from .operators.dedup import fingerprint, neardup_clusters
    from .operators.sampling import mixture_budget_sample
    from .operators.textstats import quality_features

    d = table(spark, sf_dir, "documents")
    q = (
        quality_features(d, "doc_id", "text")
        .filter(F.col("quality_score") >= 0.5)
        .select("doc_id")
    )
    kept = d.join(q, "doc_id")
    exact_surv = (
        kept.select("doc_id", fingerprint(F.col("text")).alias("__fp"))
        .groupBy("__fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # base feeds four downstream branches (pair-gen, CC seed ids,
    # survivor join, budget fill). A lazy persist(MEMORY_AND_DISK)
    # beat recomputing it in each branch at both scales measured
    # (5.64s vs 8.90s at sf0.1, 19.5s vs 51.6s at sf1.0,
    # BENCH_SF1_r08.json); an eager localCheckpoint lost to recompute
    # because it adds a blocking materialization round-trip.
    base = kept.join(exact_surv, "doc_id").persist(StorageLevel.MEMORY_AND_DISK)
    cc = neardup_clusters(base)
    surv = base.join(
        cc.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id"),
        "doc_id",
    )
    return mixture_budget_sample(
        surv, "doc_id", "text", "source", token_budget=8000
    ).orderBy("source", "cum_tokens")


@query("collocation_lift")
def q_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X48: corpus collocation mining (operators/textstats.py:
    collocation_lift) — top-20 bigrams by lift (PMI without the
    log), exact counts, one pinned double expression tree."""
    from .operators.textstats import collocation_lift

    d = table(spark, sf_dir, "documents")
    return collocation_lift(d, "text", min_count=5, k=20)


@query("charclass_by_source")
def q_charclass_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X49: per-source character-class ppm profile (operators/
    textstats.py:charclass_profile) — encoding-sanity monitor,
    zero-shuffle scan + |sources|-row aggregate."""
    from .operators.textstats import charclass_profile

    d = table(spark, sf_dir, "documents")
    return charclass_profile(d, "source", "text").orderBy("source")


@query("lexical_diversity")
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X51: per-source lexical-diversity panel (operators/
    textstats.py:lexical_diversity) — TTR + hapax share from exact
    (source, token) counts."""
    from .operators.textstats import lexical_diversity

    d = table(spark, sf_dir, "documents")
    return lexical_diversity(d, "source", "text").orderBy("source")


@query("padding_efficiency_plan")
def q_padding_efficiency_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X52: padding-waste audit for length-bucketed batching
    (operators/packing.py:padding_plan) — pow2 bucket ladder,
    exact ceil-div batch counts, ppm waste shares."""
    from .operators.packing import padding_plan

    d = table(spark, sf_dir, "documents")
    return padding_plan(d, "doc_id", "text", batch_rows=8)


@query("embedding_dim_moments")
def q_embedding_dim_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X50: per-dimension embedding mean/variance (operators/
    embeddings.py:dimension_moments) — decimal-exact scaled sums,
    the anisotropy/collapse monitor."""
    from .operators.embeddings import dimension_moments

    e = table(spark, sf_dir, "embeddings")
    return dimension_moments(e, "embedding")


@query("neardup_degree_hist")
def q_neardup_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X53: near-duplicate graph degree histogram (operators/
    dedup.py:neardup_degree_profile) — bounded X2d pair gen, degree-0
    mass included."""
    from .operators.dedup import neardup_degree_profile

    d = table(spark, sf_dir, "documents")
    return neardup_degree_profile(d, "doc_id", "text", threshold=0.5, min_df=2)


@query("ann_ivf_pq")
def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X54: IVF-PQ top-k with asymmetric distance computation
    (operators/embeddings.py:ivf_pq_topk) — inverted lists bound the
    candidates, PQ codes replace the vectors, each query's m×ksub
    distance table broadcasts; ADC is an order-free micro-integer
    sum."""
    from .operators.embeddings import ivf_pq_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return ivf_pq_topk(q, e, "vec_id", "embedding", k=5, n_centroids=8, nprobe=2)


@query("embedding_standardize")
def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55: per-dimension z-score standardization (operators/
    embeddings.py:standardize_dims) — X50 moments broadcast onto the
    posexploded corpus, one fixed expression tree per element."""
    from .operators.embeddings import standardize_dims

    e = table(spark, sf_dir, "embeddings")
    return standardize_dims(e, "vec_id", "embedding")


@query("text_trigram_backoff")
def q_text_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X59: stupid-backoff trigram LM scoring (operators/
    textstats.py:trigram_backoff_scores) — count-cutoff pruned
    trigram model with the 0.4-weighted bigram backoff, ppm-integer
    scores."""
    from .operators.textstats import trigram_backoff_scores

    d = table(spark, sf_dir, "documents")
    return trigram_backoff_scores(d, "doc_id", "text", min_count=3)


# The fixed probe set for the BM25 retrieval query: three keyword
# probes over the fixture vocabulary (benchmark-prompt / takedown /
# topical shapes).  Fixed here so the DuckDB oracle can embed the
# identical VALUES list.
BM25_PROBES = [
    ("q1", "spark window agg"),
    ("q2", "hash join table"),
    ("q3", "stream batch merge"),
]


@query("bm25_retrieval")
def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56: Okapi BM25 keyword retrieval (operators/textstats.py:
    bm25_topk) — top-10 docs per probe query, rational-idf variant
    (same ranking as log-idf, engine-portable arithmetic), broadcast
    query-term pre-filter before the only corpus shuffle."""
    from .operators.textstats import bm25_topk

    d = table(spark, sf_dir, "documents")
    return bm25_topk(d, "doc_id", "text", BM25_PROBES, k=10).orderBy(
        "query_id", "rank"
    )


@query("bpe_merge_candidates")
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57: one BPE merge-induction round (operators/textstats.py:
    bpe_merge_candidates) — top-20 adjacent-char pairs by corpus
    frequency, pure integer counting, vocab-bounded pair explode."""
    from .operators.textstats import bpe_merge_candidates

    d = table(spark, sf_dir, "documents")
    return bpe_merge_candidates(d, "text", k=20, min_count=5)


@query("doc_compressibility")
def q_doc_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X58: per-doc char-bigram distinctness (operators/textstats.py:
    compressibility_profile) — zero-shuffle compression-ratio proxy
    for template/spam filtering."""
    from .operators.textstats import compressibility_profile

    d = table(spark, sf_dir, "documents")
    return compressibility_profile(d, "doc_id", "text").orderBy("doc_id")


@query("embedding_top_pc")
def q_embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X60: leading principal direction by distributed power
    iteration (operators/embeddings.py:top_principal_component) —
    exact DECIMAL Gram sums, 8 pinned index-ordered-fold iterations,
    fixed-size d² shuffle."""
    from .operators.embeddings import top_principal_component

    e = table(spark, sf_dir, "embeddings")
    return top_principal_component(e, "embedding", dim=64, iters=8)


@query("characteristic_terms")
def q_characteristic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61: per-source characteristic terms by conditional lift
    (operators/textstats.py:characteristic_terms) — the c-TF-IDF
    data-card primitive, one (group, term) shuffle + bounded
    broadcast joins."""
    from .operators.textstats import characteristic_terms

    d = table(spark, sf_dir, "documents")
    return characteristic_terms(d, "source", "text", min_count=10, k=5).orderBy(
        "source", "rank"
    )


@query("vocab_kmv_estimate")
def q_vocab_kmv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62: per-source KMV distinct-vocabulary sketch (operators/
    textstats.py:kmv_distinct_estimate) — pure-integer estimator,
    fixed-size per-group shuffle via WindowGroupLimit."""
    from .operators.textstats import kmv_distinct_estimate

    d = table(spark, sf_dir, "documents")
    return kmv_distinct_estimate(d, "source", "text", k=64).orderBy("source")


@query("source_datacard")
def q_source_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X63: per-source datasheet panel (operators/textstats.py:
    source_datacard) — volume, exact-dup share, mean quality, and
    language makeup in one |G|-row frame."""
    from .operators.textstats import source_datacard

    d = table(spark, sf_dir, "documents")
    return source_datacard(d, "source", "doc_id", "text").orderBy("source")


@query("neardup_probe_retrieval")
def q_neardup_probe_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X64: query-time near-dup retrieval (operators/dedup.py:
    neardup_probe_retrieval) — ~14% of docs as probes (doc_id %
    7 == 0; the residue is chosen so the fixture's near-dup
    clusters are actually probed), banded-MinHash candidates,
    exact-Jaccard verify, top-5 per probe."""
    from .operators.dedup import neardup_probe_retrieval

    d = table(spark, sf_dir, "documents")
    probes = d.filter(F.col("doc_id") % 7 == 0)
    return neardup_probe_retrieval(probes, d, "doc_id", "text", k_top=5).orderBy(
        "probe_id", "rank"
    )


@query("vocab_growth_curve")
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65: Heaps-law vocabulary growth curve (operators/textstats.py:
    vocab_growth_curve) — new distinct 3-gram phrases per id-order
    corpus decile (the unigram vocabulary saturates in the first
    decile on this fixture; the shingle space is the discriminating
    curve); the data-acquisition saturation signal."""
    from .operators.textstats import vocab_growth_curve

    d = table(spark, sf_dir, "documents")
    return vocab_growth_curve(d, "doc_id", "text", n_buckets=10, unit="shingle")


@query("substring_dup_coverage")
def q_substring_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X66: exact-substring duplication coverage (operators/dedup.py:
    substring_dup_coverage) — per-doc fraction of 3-gram positions
    occurring >=2 times corpus-wide; the ExactSubstr (Lee et al.
    2021) cut signal and memorization-risk audit."""
    from .operators.dedup import substring_dup_coverage

    d = table(spark, sf_dir, "documents")
    return substring_dup_coverage(d, "doc_id", "text").orderBy("doc_id")


@query("dedup_bloom_gate")
def q_dedup_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X67: Bloom-filter dedup gate + false-positive eval
    (operators/dedup.py: bloom_gate_eval) — history = docs with
    doc_id % 3 != 0 folded into a 2048-bit / 4-hash Bloom filter,
    incoming = docs with doc_id % 2 == 0 gated by broadcast bit-set
    probe; exact fingerprint join grades the maybe-dups.  The splits
    OVERLAP on doc_id in {2, 4} mod 6 (true members -> guaranteed
    4/4 hits, exact_dup true) while doc_id % 6 == 0 is genuinely new
    — so both eval legs fire, and the (m_bits, n_hashes) dial is
    sized so the fixture also exhibits false positives."""
    from .operators.dedup import bloom_gate_eval

    d = table(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") % 3 != 0)
    incoming = d.filter(F.col("doc_id") % 2 == 0)
    return bloom_gate_eval(
        history, incoming, "doc_id", "text", m_bits=2048, n_hashes=4
    ).orderBy("doc_id")


@query("embedding_remove_top_pc")
def q_embedding_remove_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X68: all-but-the-top deflation (operators/embeddings.py:
    remove_top_pc) — project the X60 leading principal direction out
    of every embedding; long-form (vec_id, dim, deflated).  Scoped
    to vec_id % 5 == 0 to keep the oracle row count at 64 dims/vec
    bounded."""
    from .operators.embeddings import remove_top_pc

    e = table(spark, sf_dir, "embeddings")
    sub = e.filter(F.col("vec_id") % 5 == 0)
    return remove_top_pc(sub, "vec_id", "embedding", dim=64).orderBy(
        "vec_id", "dim"
    )


@query("dedup_containment")
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69: asymmetric containment pairs (operators/dedup.py:
    containment_pairs) — |A∩B|/min(|A|,|B|) >= 0.8 over the shared
    X2d pair core; reports jaccard alongside so the asymmetry gap is
    visible.  The fixture's clusters are same-length near-dups
    (containment 1.0 at jaccard 0.9-0.99); the pure-subsumption
    regime (jaccard_max) is pinned by the unit test's quote-farm
    fixture."""
    from .operators.dedup import containment_pairs

    d = table(spark, sf_dir, "documents")
    return containment_pairs(d, "doc_id", "text", threshold=0.8).orderBy(
        "doc_a", "doc_b"
    )


@query("snapshot_diff")
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70: corpus snapshot diff (operators/dedup.py: snapshot_diff)
    — old = doc_id % 7 != 0; new = doc_id % 5 != 0 with an edited
    revision for doc_id % 11 == 0 (changed), plus re-keyed copies
    (+1000000) of old docs with doc_id % 13 == 0 (added with
    content_elsewhere=true — the moved/renamed signal)."""
    from .operators.dedup import snapshot_diff

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 7 != 0)
    base_new = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    moved = d.filter(
        (F.col("doc_id") % 13 == 0) & (F.col("doc_id") % 7 != 0)
    ).select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    new = base_new.unionByName(moved)
    return snapshot_diff(old, new, "doc_id", "text").orderBy("doc_id")


@query("ann_index_shard_plan")
def q_ann_index_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72: IVF serving-shard balance plan (operators/similarity.py:
    index_shard_plan) — 8 inverted lists LPT-snake-dealt onto 3
    shards (3 chosen so passes wrap unevenly and the odd/even snake
    reversal is exercised)."""
    from .operators.similarity import index_shard_plan, ivf_centroids

    e = table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(e, "vec_id", "embedding", k=8)
    return index_shard_plan(
        e, cents, "vec_id", "embedding", n_shards=3
    ).orderBy("rank")


@query("ann_mrr_eval")
def q_ann_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X73: MRR@5 of the IVF index vs the exact nearest neighbor
    (operators/similarity.py: retrieval_mrr_eval) — 12 probe
    queries, nprobe=1 so rank drift and misses actually occur (the
    regime the metric exists to catch)."""
    from .operators.similarity import retrieval_mrr_eval

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 12)
    return retrieval_mrr_eval(
        q, e, "vec_id", "embedding", k=5, n_centroids=8, nprobe=1
    ).orderBy("query_id")


@query("dedup_bbit_minhash")
def q_dedup_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74: b-bit minwise Jaccard estimation eval (operators/
    dedup.py: bbit_minhash_eval) — k=24 components compressed to 2
    bits each (6 bytes/doc), estimate vs exact Jaccard over the
    pairs-sharing-a-shingle population."""
    from .operators.dedup import bbit_minhash_eval

    d = table(spark, sf_dir, "documents")
    return bbit_minhash_eval(d, "doc_id", "text", k=24, b=2).orderBy(
        "doc_a", "doc_b"
    )


@query("dedup_simhash_pairs")
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X75: SimHash hamming-distance near-dup pairs (operators/
    dedup.py: simhash_hamming_pairs) — Manku-2007 block banding on
    the X2e fingerprints, exact popcount filter at max_hamming=1
    (the 16-bit demo space saturates above that on a shared-
    vocabulary corpus; the operator docstring records the 64-bit
    production dial)."""
    from .operators.dedup import simhash_hamming_pairs

    d = table(spark, sf_dir, "documents")
    return simhash_hamming_pairs(
        d, "doc_id", "text", max_hamming=1
    ).orderBy("doc_a", "doc_b")


@query("multimodal_sniff_format")
def q_multimodal_sniff_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X76: magic-byte format sniffing (operators/multimodal.py:
    sniff_payload_format) — deterministic payloads with real PNG /
    JPEG / RIFF magic prefixes by doc_id % 4 (residue 3 gets no
    magic), classified back from the bytes alone."""
    from .operators.multimodal import sniff_payload_format

    d = table(spark, sf_dir, "documents")
    magic = (
        F.when(F.col("doc_id") % 4 == 0, F.expr("X'89504E470D0A1A0A'"))
        .when(F.col("doc_id") % 4 == 1, F.expr("X'FFD8FFE0'"))
        .when(F.col("doc_id") % 4 == 2, F.expr("X'52494646'"))
        .otherwise(F.expr("X''"))
    )
    payloads = d.select(
        "doc_id",
        F.concat(magic, F.encode(F.col("text"), "utf-8")).alias("payload"),
    )
    return sniff_payload_format(payloads, "doc_id", "payload").orderBy(
        "doc_id"
    )


@query("dedup_lsh_plan")
def q_dedup_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77: LSH banding dial planner (operators/dedup.py:
    lsh_parameter_plan) — MMDS S-curve survival per (bands, rows)
    split of a k=24 signature, averaged over the corpus's own
    estimated pair-Jaccard distribution (X74), duplicate side vs
    noise side."""
    from .operators.dedup import lsh_parameter_plan

    d = table(spark, sf_dir, "documents")
    return lsh_parameter_plan(d, "doc_id", "text", k=24).orderBy("bands")


@query("neardup_pagerank")
def q_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78: integer-ppm PageRank over the X2d near-dup graph
    (operators/graph.py: pagerank_ppm) — 8 damped rounds of exact
    integer arithmetic; the template/hub ranking of the duplication
    structure."""
    from .operators.dedup import neardup_pairs
    from .operators.graph import pagerank_ppm

    edges = neardup_pairs(table(spark, sf_dir, "documents"))
    return pagerank_ppm(edges).orderBy("node")


@query("license_propagation")
def q_license_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79: strictest-license propagation through the X7 dedup
    clusters (operators/dedup.py: license_propagation) — synthetic
    deterministic license tags by doc_id % 4 (cc-by, mit, apache-2.0,
    proprietary), cluster survivors inherit the strictest member
    tag; `escalated` marks docs whose own tag was weaker."""
    from .operators.dedup import license_propagation, neardup_clusters

    d = table(spark, sf_dir, "documents")
    cc = neardup_clusters(d)
    lic = d.select(
        "doc_id",
        F.expr(
            "CASE doc_id % 4 WHEN 0 THEN 'proprietary' "
            "WHEN 1 THEN 'cc-by' WHEN 2 THEN 'mit' "
            "ELSE 'apache-2.0' END"
        ).alias("license"),
    )
    return license_propagation(
        cc, lic, "doc_id", "license",
        strictness=["proprietary", "cc-by", "apache-2.0", "mit"],
    ).orderBy("doc_id")


@query("embedding_health_audit")
def q_embedding_health_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80: embedding corpus health audit (operators/embeddings.py:
    embedding_health_audit) — NaN/Inf/zero-vector/dim-mismatch
    counts plus exact quantized norm statistics, one row; corrupt
    rows are injected deterministically (doc_id-keyed) so every
    counter exercises a non-zero path at the oracle SF."""
    from .operators.embeddings import embedding_health_audit

    e = table(spark, sf_dir, "embeddings")
    # deterministic corruption: vec_id 0 -> NaN in dim 0; vec_id 1 ->
    # truncated to 3 dims; vec_id 2 -> all-zero vector
    corrupted = e.select(
        "vec_id",
        F.expr(
            "CASE WHEN vec_id = 0 THEN "
            "  array_insert(slice(embedding, 2, size(embedding) - 1), 1, "
            "               CAST('NaN' AS FLOAT)) "
            "WHEN vec_id = 1 THEN slice(embedding, 1, 3) "
            "WHEN vec_id = 2 THEN transform(embedding, x -> "
            "                                CAST(0.0 AS FLOAT)) "
            "ELSE embedding END"
        ).alias("embedding"),
    )
    return embedding_health_audit(corrupted, "vec_id", "embedding", dim=64)


@query("classifier_pr_curve")
def q_classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X81: exact-integer PR curve (operators/textstats.py: pr_curve)
    — the X41 hashed-logit mean_weight scored against the lang=='en'
    pseudo-label on a 1/1000 threshold lattice; the operating-point
    table for the quality-filter deployment decision."""
    from .operators.textstats import hashed_logit_scores, pr_curve

    d = table(spark, sf_dir, "documents")
    scored = hashed_logit_scores(
        d.withColumn("label", (F.col("lang") == "en").cast("int")),
        "doc_id",
        "text",
        carry=("label",),
    )
    return pr_curve(scored, "mean_weight", "label").orderBy(
        F.desc("threshold")
    )


@query("dedup_cluster_density")
def q_dedup_cluster_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X82: transitive-merge audit (operators/dedup.py:
    cluster_density_audit) — edge density of every multi-member X7
    cluster; sparse clusters flag chain merges (the threshold+CC
    over-merge failure)."""
    from .operators.dedup import (
        cluster_density_audit,
        neardup_clusters,
        neardup_pairs,
    )

    d = table(spark, sf_dir, "documents")
    # Bounded pair set shared by CC and the density scorer —
    # materialized once.
    pairs = neardup_pairs(d).localCheckpoint(eager=True)
    cc = neardup_clusters(d, pairs=pairs)
    return cluster_density_audit(cc, pairs).orderBy("cluster_id")


@query("cms_heavy_hitters")
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83: Count-Min sketch heavy-hitters eval (operators/
    textstats.py: cms_heavy_hitters_eval) — 3×256-counter sketch of
    the token stream, estimates vs exact counts for the top-50
    tokens; one-sided overcount by construction."""
    from .operators.textstats import cms_heavy_hitters_eval

    d = table(spark, sf_dir, "documents")
    return cms_heavy_hitters_eval(d, "text").orderBy("tok")


@query("dedup_sorted_neighborhood")
def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84: sorted-neighborhood candidate pairs (operators/dedup.py:
    sorted_neighborhood_pairs) — canonical-text sort, window-3
    neighbors, exact-Jaccard scoring; the linear-candidate-count
    paradigm next to LSH banding and shingle blocking."""
    from .operators.dedup import sorted_neighborhood_pairs

    d = table(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(d, "doc_id", "text", window=3).orderBy(
        "doc_a", "doc_b", "sort_gap"
    )


@query("classifier_pr_auc")
def q_classifier_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X85: PR-AUC scalar (operators/textstats.py: pr_auc) — exact
    integer trapezoid over the X81 curve; the corpus-wide
    classifier-comparison headline number."""
    from .operators.textstats import hashed_logit_scores, pr_auc, pr_curve

    d = table(spark, sf_dir, "documents")
    scored = hashed_logit_scores(
        d.withColumn("label", (F.col("lang") == "en").cast("int")),
        "doc_id",
        "text",
        carry=("label",),
    )
    return pr_auc(pr_curve(scored, "mean_weight", "label"))


@query("dedup_prefix_filter_join")
def q_dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X86: prefix-filtered similarity join (operators/dedup.py:
    prefix_filter_jaccard_join) — SSJoin/PPJoin candidate collapse
    at Jaccard >= 1/2; by the prefix-filter theorem the result set
    is identical to X2d's, with a fraction of the candidates."""
    from .operators.dedup import prefix_filter_jaccard_join

    d = table(spark, sf_dir, "documents")
    res = prefix_filter_jaccard_join(d, "doc_id", "text", 1, 2)
    # Checkpoint the (bounded) duplicate-pair set before the
    # presentation sort: orderBy's range-sampling pass otherwise
    # RE-EXECUTES the final verification-join stage — the expensive
    # reduce — once for the sampler and once for the sort (measured
    # 14.1s vs 8.8s at sf0.1, r10). The materialized set is the
    # query's own output, never corpus-sized.
    return res.localCheckpoint(eager=True).orderBy("doc_a", "doc_b")


# Canary registry for the X87 leak scan: two phrases that occur in
# the fixture vocabulary stream plus one planted secret that must
# report zero (the "scanned and clean" audit row).
CANARIES = ["table table", "fast key", "zzz-canary-7f3a"]


@query("canary_leak_scan")
def q_canary_leak_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X87: canary-string leak scan (operators/textstats.py:
    canary_scan) — exact-substring sweep of a broadcast canary
    registry over the corpus; per-canary doc count, non-overlapping
    occurrence count, and first hit doc.  Zero-hit canaries report a
    clean row."""
    from .operators.textstats import canary_scan

    d = table(spark, sf_dir, "documents")
    return canary_scan(d, "doc_id", "text", CANARIES).orderBy("canary")


@query("priority_sample_docs")
def q_priority_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X88: Duffield-Lund-Thorup priority sampling
    (operators/sampling.py: priority_sample) — the 32 highest
    q = w·2^32 div (h+1) docs weighted by n_chars, with the
    (k+1)-th-priority threshold and per-row Horvitz-Thompson
    max(w, τ) subset-sum estimates."""
    from .operators.sampling import priority_sample

    d = table(spark, sf_dir, "documents")
    return priority_sample(d, "doc_id", "n_chars", 32).orderBy("doc_id")


@query("dedup_lsh_clusters_star")
def q_dedup_lsh_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X89: pairless LSH-bucket clustering (operators/graph.py:
    hyperedge_components) — band buckets are hyperedges, each
    replaced by its m-1 star edges instead of the m(m-1)/2 clique
    X7 expands; components are provably identical, candidate volume
    is linear in membership.  Clusters the full corpus (singletons
    cluster with themselves)."""
    from .operators.dedup import (
        doc_shingles,
        lsh_band_membership,
        minhash_signatures,
    )
    from .operators.graph import hyperedge_components

    d = table(spark, sf_dir, "documents")
    sh = doc_shingles(d, "doc_id", "text")
    sig = minhash_signatures(sh, "doc_id", 8)
    buckets = lsh_band_membership(sig, "doc_id", 8, 4)
    labels = hyperedge_components(
        buckets,
        ["band_idx", "band_val"],
        "doc_id",
        nodes=d.select("doc_id"),
        id_col="doc_id",
    )
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    ).orderBy("doc_id")


@query("events_k_anonymity")
def q_events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90: k-anonymity audit (operators/scrub.py: k_anonymity_audit)
    — census of (event_type, props.k) quasi-identifier combos at
    k=10; combos under the threshold are the re-identification
    risk slice."""
    from .operators.scrub import k_anonymity_audit

    ev = table(spark, sf_dir, "events")
    qi = ev.select(
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("prop_k"),
    )
    return k_anonymity_audit(qi, ["event_type", "prop_k"], 10).orderBy(
        "event_type", "prop_k"
    )


@query("classifier_agreement_kappa")
def q_classifier_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91: Cohen's kappa agreement audit (operators/textstats.py:
    agreement_kappa) — the X41 hashed-logit pred_keep vs the
    lang=='en' pseudo-label; chance-corrected agreement from exact
    confusion-cell integers."""
    from .operators.textstats import agreement_kappa, hashed_logit_scores

    d = table(spark, sf_dir, "documents")
    scored = hashed_logit_scores(
        d.withColumn("label", (F.col("lang") == "en").cast("int")),
        "doc_id",
        "text",
        carry=("label",),
    )
    return agreement_kappa(
        scored.select(
            F.col("pred_keep").cast("int").alias("pred"), F.col("label")
        ),
        "pred",
        "label",
    )


@query("unimax_budget_allocation")
def q_unimax_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92: UniMax epoch-capped budget allocation
    (operators/sampling.py: unimax_allocation) — water-fill a
    100k-token budget uniformly over sources, at most 4 epochs per
    source, exact integer closed form."""
    from .operators.dedup import tokens
    from .operators.sampling import unimax_allocation

    d = table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source", F.size(tokens("text")).cast("long").alias("n_toks")
    )
    return unimax_allocation(
        per_doc, "source", "n_toks", budget=100_000, epoch_cap=4
    ).orderBy("source")


@query("ivf_cluster_purity")
def q_ivf_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93: cluster label purity (operators/embeddings.py:
    cluster_label_purity) — the 8 IVF inverted lists validated
    against the embeddings labels; per-list majority label and
    purity ppm, the ANN-mixes-classes danger panel."""
    from .operators.embeddings import cluster_label_purity
    from .operators.similarity import ivf_assign, ivf_centroids

    e = table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(e, "vec_id", "embedding", k=8)
    assigned = ivf_assign(e, cents, "vec_id", "embedding", nprobe=1).join(
        e.select("vec_id", "label"), "vec_id"
    )
    return cluster_label_purity(assigned, "centroid_id", "label").orderBy(
        "cluster"
    )


@query("dedup_cluster_radius")
def q_dedup_cluster_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X94: cluster radius audit (operators/graph.py: cluster_hops)
    — BFS hops from each doc to its cluster canonical over the X2d
    near-dup graph; per-cluster radius and mean hops, the
    transitive-chain-merge depth panel (companion to X82's edge
    density)."""
    from .operators.dedup import neardup_pairs
    from .operators.graph import cluster_hops

    d = table(spark, sf_dir, "documents")
    # The pairs' one consumer is the adjacency that cluster_hops
    # builds (and checkpoints) once for its CC and its BFS.
    hops = cluster_hops(
        d.select("doc_id"), neardup_pairs(d),
        id_col="doc_id", src_col="doc_a", dst_col="doc_b",
    )
    return (
        hops.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max("hops").cast("long").alias("radius"),
            F.expr("1000000 * sum(hops) div count(1)")
            .cast("long")
            .alias("mean_hops_ppm"),
        )
        .filter(F.col("n_members") > 1)
        .orderBy("cluster_id")
    )


@query("length_outliers_robust")
def q_length_outliers_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X95: robust median/MAD outlier gate (operators/textstats.py:
    robust_outlier_panel) — per-source doc-length screen at the
    3-robust-sigma cut; the Zipf-tail-safe twin of X17's
    mean/stddev QA."""
    from .operators.textstats import robust_outlier_panel

    d = table(spark, sf_dir, "documents")
    return robust_outlier_panel(
        d, "source", "n_chars", "doc_id"
    ).orderBy("source")


@query("dedup_within_doc_blocks")
def q_dedup_within_doc_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96: within-document duplicate-block removal
    (operators/dedup.py: within_doc_block_dedup) — the zero-shuffle
    FineWeb-style repeated-segment rewrite, 8-token blocks."""
    from .operators.dedup import within_doc_block_dedup

    d = table(spark, sf_dir, "documents")
    return within_doc_block_dedup(d, "doc_id", "text", seg_tokens=8).orderBy(
        "doc_id"
    )


@query("dedup_corpus_blocks")
def q_dedup_corpus_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X97: corpus-level duplicate-block rewrite (operators/dedup.py:
    corpus_block_dedup) — CCNet paragraph-hash dedup re-keyed to
    8-token blocks, canonical-occurrence-keeps-one semantics."""
    from .operators.dedup import corpus_block_dedup

    d = table(spark, sf_dir, "documents")
    return corpus_block_dedup(
        d, "doc_id", "text", seg_tokens=8, max_freq=1
    ).orderBy("doc_id")


@query("encoding_artifacts")
def q_encoding_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98: encoding-corruption audit (operators/textstats.py:
    encoding_artifact_panel) — U+FFFD / C0-control / mojibake
    lead-char census per source, length-difference counting."""
    from .operators.textstats import encoding_artifact_panel

    d = table(spark, sf_dir, "documents")
    return encoding_artifact_panel(d, "source", "text").orderBy("source")


@query("distinct_ngram_diversity")
def q_distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X99: distinct-n diversity + unigram entropy per source
    (operators/textstats.py: distinct_ngram_diversity) — the Li et
    al. 2016 distinct-1/2/3 panel with scaled-integer Shannon
    entropy."""
    from .operators.textstats import distinct_ngram_diversity

    d = table(spark, sf_dir, "documents")
    return distinct_ngram_diversity(d, "source", "text").orderBy("source")


@query("source_overlap_kmv")
def q_source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X100: KMV sketch overlap matrix (operators/dedup.py:
    kmv_source_overlap) — the fixed-size-sketch scale twin of X29's
    exact shingle-overlap matrix, k=64."""
    from .operators.dedup import kmv_source_overlap

    d = table(spark, sf_dir, "documents")
    return kmv_source_overlap(d, "text", "source", k=64)


@query("good_turing_missing_mass")
def q_good_turing_missing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X101: Good-Turing missing-mass panel (operators/textstats.py:
    good_turing_panel) — unseen-vocabulary mass and the r=1 Turing
    discount per source."""
    from .operators.textstats import good_turing_panel

    d = table(spark, sf_dir, "documents")
    return good_turing_panel(d, "source", "text").orderBy("source")


@query("quality_rank_fusion")
def q_quality_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X102: Borda rank fusion (operators/textstats.py:
    rank_fusion_topk) — three zero-shuffle per-doc signals (token
    count, distinct-token ppm, mean token length e2) fused by rank,
    top-3 per source."""
    from .operators.dedup import TOKENS_SQL
    from .operators.textstats import rank_fusion_topk

    d = table(spark, sf_dir, "documents")
    toks = TOKENS_SQL.format(col="text")
    sig = d.select(
        "source",
        "doc_id",
        F.expr(
            f"CAST(size(filter({toks}, __x -> __x != '')) AS BIGINT)"
        ).alias("sig_tokens"),
        F.expr(
            f"(1000000 * size(array_distinct(filter({toks}, __x -> __x != ''))))"
            f" div greatest(size(filter({toks}, __x -> __x != '')), 1)"
        ).alias("sig_distinct_ppm"),
        F.expr(
            f"(100 * length(array_join(filter({toks}, __x -> __x != ''), '')))"
            f" div greatest(size(filter({toks}, __x -> __x != '')), 1)"
        ).alias("sig_toklen_e2"),
    )
    return rank_fusion_topk(
        sig,
        "source",
        "doc_id",
        ["sig_tokens", "sig_distinct_ppm", "sig_toklen_e2"],
        k=3,
    )


@query("lm_gate_ablation")
def q_lm_gate_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X103: bigram-LM gate ablation (operators/textstats.py:
    lm_gate_ablation) — per-source survivor shares at a 0.02
    mean-conditional-probability cut."""
    from .operators.textstats import lm_gate_ablation

    d = table(spark, sf_dir, "documents")
    return lm_gate_ablation(
        d, "doc_id", "text", "source", min_score_ppm=20000
    ).orderBy("source")


@query("neyman_audit_allocation")
def q_neyman_audit_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X104: Neyman optimal audit-budget allocation
    (operators/sampling.py: neyman_allocation) — n_h proportional to
    N_h*sigma_h over doc length, 1000-sample budget, Hamilton
    largest-remainder top-up."""
    from .operators.sampling import neyman_allocation

    d = table(spark, sf_dir, "documents")
    return neyman_allocation(d, "source", "n_chars", budget=1000)


@query("length_tail_hill")
def q_length_tail_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X105: Hill tail-exponent estimator (operators/textstats.py:
    hill_tail_index) — doc-length tail heaviness per source over the
    top-21 order statistics (k=20)."""
    from .operators.textstats import hill_tail_index

    d = table(spark, sf_dir, "documents")
    return hill_tail_index(d, "source", "n_chars", "doc_id", k=20)


@query("shuffle_key_skew_audit")
def q_shuffle_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X106: shuffle-key skew audit (operators/aggregates.py:
    skew_audit) — hot-key concentration, key entropy, and the
    required salt factor for a 32-way shuffle keyed on
    events.user_id."""
    from .operators.aggregates import skew_audit

    e = table(spark, sf_dir, "events")
    return skew_audit(e, "user_id", partitions=32, top_k=256)


@query("range_partition_plan")
def q_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X107: equi-depth range-partition planner
    (operators/aggregates.py: range_partition_plan) — exact 8-way
    boundaries over doc length with realized per-partition balance."""
    from .operators.aggregates import range_partition_plan

    d = table(spark, sf_dir, "documents")
    return range_partition_plan(d, "n_chars", n_partitions=8)


@query("benford_value_audit")
def q_benford_value_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X108: Benford first-digit audit (operators/aggregates.py:
    benford_audit) — observed vs expected first-digit shares of the
    events value column in integer cents."""
    from .operators.aggregates import benford_audit

    e = table(spark, sf_dir, "events")
    return benford_audit(e, "value")


@query("multimodal_image_dims")
def q_multimodal_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X109: header-byte image dimensions (operators/multimodal.py:
    image_header_dims) — deterministic payloads carrying REAL PNG /
    GIF / BMP headers with doc-id-derived dimensions (residue 3 gets
    plain text), parsed back from the bytes alone."""
    from .operators.multimodal import image_header_dims

    d = table(spark, sf_dir, "documents")
    w = "(16 + doc_id % 1000)"
    h = "(16 + (doc_id * 7) % 1000)"

    def be4(v: str) -> str:
        return f"unhex(lpad(hex({v}), 8, '0'))"

    def le2(v: str) -> str:
        return (
            f"unhex(concat(lpad(hex({v} % 256), 2, '0'), "
            f"lpad(hex({v} div 256), 2, '0')))"
        )

    def le4(v: str) -> str:
        return (
            f"unhex(concat(lpad(hex({v} % 256), 2, '0'), "
            f"lpad(hex({v} div 256), 2, '0'), '0000'))"
        )

    png = (
        "concat(X'89504E470D0A1A0A', X'0000000D', X'49484452', "
        f"{be4(w)}, {be4(h)})"
    )
    gif = f"concat(X'474946383961', {le2(w)}, {le2(h)})"
    bmp = (
        "concat(X'424D', X'46000000', X'00000000', X'36000000', "
        f"X'28000000', {le4(w)}, {le4(h)}, X'0100180000000000')"
    )
    payloads = d.select(
        "doc_id",
        F.expr(
            f"CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN {png} "
            f"WHEN 1 THEN {gif} WHEN 2 THEN {bmp} "
            "ELSE encode(text, 'utf-8') END"
        ).alias("payload"),
    )
    return image_header_dims(payloads, "doc_id", "payload").orderBy("doc_id")


@query("dedup_levenshtein_block")
def q_dedup_levenshtein_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X110: bounded edit-distance near-dup pairs
    (operators/dedup.py: levenshtein_block_join) — (first token,
    length bucket) blocking, Levenshtein over 40-char canonical
    prefixes, distance <= 8."""
    from .operators.dedup import levenshtein_block_join

    d = table(spark, sf_dir, "documents")
    return levenshtein_block_join(
        d, "doc_id", "text", max_dist=8, prefix_chars=40, length_bucket=16
    )


@query("signal_correlation_matrix")
def q_signal_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X111: exact Pearson correlation matrix
    (operators/aggregates.py: signal_correlation_matrix) over the
    X102 per-doc quality signals + raw length."""
    from .operators.aggregates import signal_correlation_matrix
    from .operators.dedup import TOKENS_SQL

    d = table(spark, sf_dir, "documents")
    toks = TOKENS_SQL.format(col="text")
    sig = d.select(
        F.col("n_chars").alias("sig_chars"),
        F.expr(
            f"CAST(size(filter({toks}, __x -> __x != '')) AS BIGINT)"
        ).alias("sig_tokens"),
        F.expr(
            f"(1000000 * size(array_distinct(filter({toks}, __x -> __x != ''))))"
            f" div greatest(size(filter({toks}, __x -> __x != '')), 1)"
        ).alias("sig_distinct_ppm"),
        F.expr(
            f"(100 * length(array_join(filter({toks}, __x -> __x != ''), '')))"
            f" div greatest(size(filter({toks}, __x -> __x != '')), 1)"
        ).alias("sig_toklen_e2"),
    )
    return signal_correlation_matrix(
        sig, ["sig_chars", "sig_tokens", "sig_distinct_ppm", "sig_toklen_e2"]
    )


@query("signal_spearman_by_source")
def q_signal_spearman_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X112: exact Spearman rank correlation per source
    (operators/aggregates.py: spearman_rank_correlation) between doc
    length and distinct-token share — doubled average ranks keep the
    tie handling integer-exact."""
    from .operators.aggregates import spearman_rank_correlation
    from .operators.dedup import TOKENS_SQL

    d = table(spark, sf_dir, "documents")
    toks = TOKENS_SQL.format(col="text")
    sig = d.select(
        "source",
        F.col("n_chars").alias("sig_chars"),
        F.expr(
            f"(1000000 * size(array_distinct(filter({toks}, __x -> __x != ''))))"
            f" div greatest(size(filter({toks}, __x -> __x != '')), 1)"
        ).alias("sig_distinct_ppm"),
    )
    return spearman_rank_correlation(
        sig, "source", "sig_chars", "sig_distinct_ppm"
    )


@query("join_size_estimate")
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X113: exact pre-join cardinality estimate
    (operators/aggregates.py: join_size_estimate) — events.user_id
    vs customer.c_custkey, with hot-pair fanout and a strategy
    recommendation."""
    from .operators.aggregates import join_size_estimate

    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    return join_size_estimate(
        e, "user_id", c, "c_custkey", broadcast_threshold_rows=2000
    )


@query("embedding_similarity_profile")
def q_embedding_similarity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X114: random-pair cosine isotropy histogram
    (operators/similarity.py: similarity_profile) — hash-paired
    disjoint pairs, 20 bins over [-1, 1]."""
    from .operators.similarity import similarity_profile

    e = table(spark, sf_dir, "embeddings")
    return similarity_profile(e, "vec_id", "embedding", bins=20)


@query("documents_constraint_suite")
def q_documents_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X115: Deequ-style single-pass constraint suite
    (operators/aggregates.py: constraint_suite) — seven admission
    checks on the documents drop compiled into ONE aggregate scan;
    chk05 deliberately excludes 'zh' from the allowed set so the
    fixture exercises the fail branch."""
    from .operators.aggregates import constraint_suite

    d = table(spark, sf_dir, "documents")
    return constraint_suite(
        d,
        [
            {"name": "chk01_rows", "kind": "row_count", "lo": 1},
            {"name": "chk02_text_complete", "kind": "completeness",
             "col": "text", "lo": 1000000},
            {"name": "chk03_docid_unique", "kind": "distinctness",
             "col": "doc_id", "lo": 1000000},
            {"name": "chk04_lang_iso2", "kind": "match", "col": "lang",
             "pattern": "^[a-z][a-z]$", "lo": 1000000},
            {"name": "chk05_lang_allowed", "kind": "in_set",
             "col": "lang", "allowed": ["en", "de", "fr", "es"],
             "lo": 1000000},
            {"name": "chk06_nchars_min", "kind": "min", "col": "n_chars",
             "lo": 1},
            {"name": "chk07_nchars_max", "kind": "max", "col": "n_chars",
             "hi": 1000000},
        ],
    )


@query("source_mean_bootstrap_ci")
def q_source_mean_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X116: Poisson-bootstrap CI (operators/sampling.py:
    poisson_bootstrap_ci) — 95% resampling interval for each
    source's mean n_chars from 32 deterministic hash-seeded
    replicates, all computed in one corpus scan."""
    from .operators.sampling import poisson_bootstrap_ci

    d = table(spark, sf_dir, "documents")
    return poisson_bootstrap_ci(d, "doc_id", "n_chars", "source", b_reps=32)


@query("heaps_law_fit")
def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X117: Heaps-law exponent fit (operators/textstats.py:
    heaps_law_fit) — log-log least squares over 16 id-order
    (cumulative shingle instances, cumulative vocabulary)
    checkpoints; beta is the data-acquisition saturation scalar."""
    from .operators.textstats import heaps_law_fit

    d = table(spark, sf_dir, "documents")
    return heaps_law_fit(d, "doc_id", "text", n_buckets=16)


@query("length_rank_test_en_zh")
def q_length_rank_test_en_zh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X118: exact Mann-Whitney U (operators/aggregates.py:
    mann_whitney_u) — is the en length distribution shifted vs zh?
    Rank test on the distinct-length lattice, tie-corrected z."""
    from .operators.aggregates import mann_whitney_u

    d = table(spark, sf_dir, "documents")
    return mann_whitney_u(d, "lang", "n_chars", "en", "zh")


@query("length_ks_test_en_zh")
def q_length_ks_test_en_zh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X119: exact two-sample Kolmogorov-Smirnov
    (operators/aggregates.py: ks_two_sample) — the shape-shift
    companion to X118 on the same en-vs-zh length comparison;
    cross-multiplied integer CDFs, no floating CDF anywhere."""
    from .operators.aggregates import ks_two_sample

    d = table(spark, sf_dir, "documents")
    return ks_two_sample(d, "lang", "n_chars", "en", "zh")


@query("multimodal_wav_info")
def q_multimodal_wav_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X121: WAV header audio parameters (operators/multimodal.py:
    wav_header_info) — deterministic payloads carrying REAL 44-byte
    canonical RIFF/WAVE headers with doc-id-derived parameters
    (residue 3 gets plain text), parsed back from the bytes alone.
    The oracle derives the expected values INDEPENDENTLY from the
    doc_id formulas, so a byte-packing or parsing error on either
    leg mismatches."""
    from .operators.multimodal import wav_header_info

    d = table(spark, sf_dir, "documents")
    ch = "(1 + doc_id % 2)"
    rate = "(8000 + (doc_id % 5) * 2000)"
    bits = "(8 * (1 + doc_id % 3))"
    dsize = "(800 + (doc_id * 13) % 4000)"

    def le2(v: str) -> str:
        return (
            f"unhex(concat(lpad(hex({v} % 256), 2, '0'), "
            f"lpad(hex(({v} div 256) % 256), 2, '0')))"
        )

    def le4(v: str) -> str:
        return (
            f"unhex(concat(lpad(hex({v} % 256), 2, '0'), "
            f"lpad(hex(({v} div 256) % 256), 2, '0'), "
            f"lpad(hex(({v} div 65536) % 256), 2, '0'), "
            f"lpad(hex(({v} div 16777216) % 256), 2, '0')))"
        )

    wav = (
        f"concat(X'52494646', {le4(f'(36 + {dsize})')}, X'57415645', "
        f"X'666D7420', X'10000000', X'0100', {le2(ch)}, {le4(rate)}, "
        f"{le4(f'({rate} * {ch} * {bits} div 8)')}, "
        f"{le2(f'({ch} * {bits} div 8)')}, {le2(bits)}, "
        f"X'64617461', {le4(dsize)})"
    )
    payload = d.select(
        "doc_id",
        F.expr(
            f"CASE WHEN doc_id % 4 = 3 THEN CAST('not audio' AS BINARY) "
            f"ELSE {wav} END"
        ).alias("payload"),
    )
    return wav_header_info(payload, "doc_id", "payload").orderBy("doc_id")


@query("doc_span_merge")
def q_doc_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X122: span coalescing (operators/scrub.py: merge_spans) —
    deterministic doc-id-derived overlapping char spans merged into
    maximal intervals with gap tolerance 2; the redaction/loss-mask
    primitive."""
    from .operators.scrub import merge_spans

    d = table(spark, sf_dir, "documents")
    spans = d.select(
        "doc_id",
        F.expr("explode(sequence(0, CAST(doc_id % 4 AS INT)))").alias("j"),
        "n_chars",
    ).select(
        "doc_id",
        F.expr("(doc_id * 7 + j * 13) % n_chars").alias("s"),
        F.expr("(doc_id * 7 + j * 13) % n_chars + 5 + doc_id % 11").alias(
            "e"
        ),
    )
    return merge_spans(spans, "doc_id", "s", "e", gap=2)


@query("embedding_mmr_select")
def q_embedding_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X120: MMR diverse top-k (operators/similarity.py: mmr_select)
    — 6 relevant-but-diverse vectors for the vec_id-0 probe from a
    24-deep relevance shortlist; the RAG/few-shot de-redundancy
    selection, greedy rounds unrolled as plan stages (no driver
    collect)."""
    from .operators.similarity import mmr_select

    e = table(spark, sf_dir, "embeddings")
    probe = (
        e.orderBy("vec_id").limit(1).select(F.col("embedding").alias("__probe"))
    )
    base = e.filter("vec_id > 0").crossJoin(F.broadcast(probe))
    return mmr_select(base, "vec_id", "embedding", "__probe", k=6, shortlist=24)


@query("conformal_value_bound")
def q_conformal_value_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X123: split-conformal upper bound (operators/aggregates.py:
    conformal_threshold) — the 90%-coverage value threshold per
    event_type with a finite-sample guarantee; exact order
    statistic, no percentile interpolation."""
    from .operators.aggregates import conformal_threshold

    e = table(spark, sf_dir, "events")
    return conformal_threshold(e, "event_type", "value", alpha_ppm=100000)


@query("dedup_modularity")
def q_dedup_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X124: Newman modularity of the X7 clustering over the X4
    evidence graph (operators/graph.py: modularity) — the
    whole-partition score next to X82's per-cluster density; same
    pair/CC composition as dedup_cluster_density."""
    from .operators.dedup import neardup_clusters, neardup_pairs
    from .operators.graph import modularity

    d = table(spark, sf_dir, "documents")
    # The bounded pair set feeds CC once and modularity three times
    # (within-edges, degrees, edge count) — materialize it once;
    # un-pinned, each consumer re-executed the pair explode +
    # aggregate.
    pairs = neardup_pairs(d).localCheckpoint(eager=True)
    cc = neardup_clusters(d, pairs=pairs)
    return modularity(cc, pairs)


@query("ann_ndcg_eval")
def q_ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X125: nDCG@5 of the IVF index vs the exact cosine top-5
    (operators/similarity.py: retrieval_ndcg_eval) — graded
    whole-list retrieval quality next to X73's MRR and X8's recall;
    12 probe queries, nprobe=1 so rank drift actually occurs.
    Discounts are a precomputed integer-ppm LUT, so no transcendental
    is evaluated at query time in either engine."""
    from .operators.similarity import retrieval_ndcg_eval

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 12)
    return retrieval_ndcg_eval(
        q, e, "vec_id", "embedding", k=5, n_centroids=8, nprobe=1
    ).orderBy("query_id")


@query("classifier_calibration")
def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X126: reliability curve + Brier/ECE of the X41 hashed-logit
    classifier (operators/textstats.py: calibration_brier) against
    the lang=='en' pseudo-label — the calibration companion to
    X81/X83's ranking metrics; forecast probability is the
    documented fixed affine clamp of the integer mean token
    weight."""
    from .operators.textstats import calibration_brier, hashed_logit_scores

    d = table(spark, sf_dir, "documents")
    scored = hashed_logit_scores(
        d.withColumn("label", (F.col("lang") == "en").cast("int")),
        "doc_id",
        "text",
        carry=("label",),
    )
    return calibration_brier(scored, "label", n_bins=10)


@query("split_kfold_grouped")
def q_split_kfold_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X127: leakage-safe k-fold plan (operators/sampling.py:
    group_kfold_plan) — X31's cluster-keyed assignment generalized
    to 5-fold cross-validation over the X7 near-dup clusters;
    n_leaked_naive counts the docs a doc-keyed k-fold would have
    contaminated across folds."""
    from .operators.sampling import group_kfold_plan

    clusters = QUERIES["dedup_clusters"](spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    return group_kfold_plan(clusters, "doc_id", "cluster_id", k=5)


# --- round-9 registrations (X128-X147; BUDGET ≤ 20, see capacity
# note below: 30 pre-r9 queries wait on their first official row and
# take the first 30 window slots, so ≤ 20 new names keeps the r9
# window exactly clearing the debt) ---


@query("term_burstiness")
def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X128: Church-Gale term burstiness panel (operators/textstats.py:
    term_burstiness) — tf/df and top-doc concentration for the 20
    highest-df terms."""
    from .operators.textstats import term_burstiness

    d = table(spark, sf_dir, "documents")
    return term_burstiness(d, "doc_id", "text", top_k=20)


@query("winsorized_length_stats")
def q_winsorized_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X134: per-source winsorized doc-length statistics
    (operators/textstats.py: winsorized_panel) — exact rank-based
    P1/P99 clamp, winsorized mean, clipped mass."""
    from .operators.textstats import winsorized_panel

    d = table(spark, sf_dir, "documents")
    return winsorized_panel(d, "source", "n_chars", "doc_id").orderBy(
        "source"
    )


@query("output_file_plan")
def q_output_file_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X135: output-file sizing plan (operators/aggregates.py:
    output_file_plan) — per-source byte mass → file counts at a
    64 KiB demo budget (the operator default is 128 MiB; the small
    budget exercises multi-file plans at fixture scale)."""
    from .operators.aggregates import output_file_plan

    d = table(spark, sf_dir, "documents")
    return output_file_plan(d, "source", "text", target_file_bytes=65536)


@query("zorder_locality")
def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X136: Morton/Z-order clustering-key locality eval
    (operators/aggregates.py: zorder_locality) over (n_chars,
    doc_id) — per Z-range min/max envelopes and range-coverage
    ppm."""
    from .operators.aggregates import zorder_locality

    d = table(spark, sf_dir, "documents")
    return zorder_locality(d, "n_chars", "doc_id", bits=4)


@query("freshness_decay_weights")
def q_freshness_decay_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X145: exact power-of-2 freshness decay over event time
    (operators/aggregates.py: freshness_decay_weights) — per
    event_type recency-weighted counts and cents, 30-day
    half-life."""
    from .operators.aggregates import freshness_decay_weights

    ev = table(spark, sf_dir, "events")
    return freshness_decay_weights(
        ev, "event_type", "ts", cents(F.col("value")), half_life_days=30
    )


@query("ivf_cluster_silhouette")
def q_ivf_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X130: centroid-based silhouette panel (operators/embeddings.py:
    centroid_silhouette) — the O(N·k) internal cluster-quality twin
    of X93's external purity, over the X8 IVF partition."""
    from .operators.embeddings import centroid_silhouette

    emb = table(spark, sf_dir, "embeddings")
    return centroid_silhouette(emb, "vec_id", "embedding", n_centroids=8)


@query("kmeans_lloyd_step")
def q_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X144: one-Lloyd-step convergence diagnostics
    (operators/embeddings.py: lloyd_step_diagnostics) — membership,
    mean assignment similarity before/after one k-means round, and
    centroid movement; the refine_iters stopping dial."""
    from .operators.embeddings import lloyd_step_diagnostics

    emb = table(spark, sf_dir, "embeddings")
    return lloyd_step_diagnostics(emb, "vec_id", "embedding", n_centroids=8)


@query("semantic_threshold_calibration")
def q_semantic_threshold_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X137: SemDeDup threshold operating table
    (operators/similarity.py: cosine_threshold_calibration) —
    precision/recall of each candidate cosine threshold against
    label agreement over the cluster-bucketed pairs."""
    from .operators.similarity import cosine_threshold_calibration

    emb = table(spark, sf_dir, "embeddings")
    return cosine_threshold_calibration(
        emb, "vec_id", "embedding", "label", n_centroids=8
    )


@query("ccnet_perplexity_buckets")
def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X132: CCNet-style per-language head/middle/tail quality
    terciles (operators/textstats.py: perplexity_buckets) over the
    X15 bigram-LM score."""
    from .operators.textstats import perplexity_buckets

    d = table(spark, sf_dir, "documents")
    return perplexity_buckets(d, "doc_id", "text", "lang")


@query("doc_lang_mixture")
def q_doc_lang_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X133: within-document language-mixture detection
    (operators/textstats.py: lang_mixture_panel) — per-source rate
    of documents whose 64-token chunks vote for different
    languages."""
    from .operators.textstats import lang_mixture_panel

    d = table(spark, sf_dir, "documents")
    return lang_mixture_panel(d, "doc_id", "text", "source")


@query("domain_tag_mixture")
def q_domain_tag_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X138: rule-based domain tagging + mixture panel
    (operators/textstats.py: domain_tag_mixture) — keyword-rule
    domain votes, doc shares and token mass per domain."""
    from .operators.textstats import domain_tag_mixture

    d = table(spark, sf_dir, "documents")
    return domain_tag_mixture(d, "doc_id", "text")


@query("markup_density")
def q_markup_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X143: markup/boilerplate-signal census
    (operators/textstats.py: markup_density) — per-source tag/link/
    sentence-punct counts over the RAW text."""
    from .operators.textstats import markup_density

    d = table(spark, sf_dir, "documents")
    return markup_density(d, "source", "text")


@query("unique_token_mass")
def q_unique_token_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X140: duplication-adjusted source contribution
    (operators/dedup.py: unique_token_mass) — X24's first-occurrence
    attribution rolled up to the source axis."""
    from .operators.dedup import unique_token_mass

    d = table(spark, sf_dir, "documents")
    return unique_token_mass(d, "doc_id", "text", "source")


@query("boundary_overlap_chains")
def q_boundary_overlap_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X142: document continuation detection (operators/dedup.py:
    boundary_overlap_chains) — tail-shingle = head-shingle edges per
    source pair with the template-boundary df cap."""
    from .operators.dedup import boundary_overlap_chains

    d = table(spark, sf_dir, "documents")
    return boundary_overlap_chains(d, "doc_id", "text", "source")


@query("quantile_sample_error")
def q_quantile_sample_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X141: sampled-quantile rank-error eval
    (operators/aggregates.py: quantile_sample_error) — exact order
    statistics vs a deterministic 1/16 hash sample, realized rank
    error per percentile."""
    from .operators.aggregates import quantile_sample_error

    d = table(spark, sf_dir, "documents")
    return quantile_sample_error(d, "doc_id", "n_chars")


@query("bitext_margin_mining")
def q_bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X129: margin-based nearest-neighbor pair mining
    (operators/similarity.py: margin_knn_pairs) — the LASER bitext
    criterion over the label-parity split, centroid-bucketed
    candidates, top-20 by margin."""
    from .operators.similarity import margin_knn_pairs

    emb = table(spark, sf_dir, "embeddings")
    return margin_knn_pairs(emb, "vec_id", "embedding", "label")


@query("source_coverage_greedy")
def q_source_coverage_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X131: greedy max-coverage source selection
    (operators/sampling.py: greedy_source_coverage) — 4 unrolled
    marginal-vocabulary-gain rounds, no driver loop."""
    from .operators.sampling import greedy_source_coverage

    d = table(spark, sf_dir, "documents")
    return greedy_source_coverage(d, "doc_id", "text", "source", steps=4)


@query("contrastive_pairs_plan")
def q_contrastive_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X139: contrastive pair-construction feasibility panel
    (operators/packing.py: contrastive_pairs_plan) —
    adjacent-chunk positives, in-batch negative availability per
    hash batch."""
    from .operators.packing import contrastive_pairs_plan

    d = table(spark, sf_dir, "documents")
    return contrastive_pairs_plan(d, "doc_id", "text")


@query("dedup_survivor_bias")
def q_dedup_survivor_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X146: survivorship-policy bias audit (operators/dedup.py:
    survivor_bias_panel) — corpus vs min-id vs best-score retention,
    mean quality per policy over the X7 clusters."""
    from .operators.dedup import survivor_bias_panel
    from .operators.textstats import quality_features

    d = table(spark, sf_dir, "documents")
    clusters = QUERIES["dedup_clusters"](spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    scores = quality_features(d, "doc_id", "text").select(
        "doc_id",
        F.round(F.col("quality_score") * 100).cast("long").alias("score_e2"),
    )
    return survivor_bias_panel(
        clusters, scores, "doc_id", "cluster_id", "score_e2"
    )


@query("pc_variance_explained")
def q_pc_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X147: top-PC variance-explained ratio
    (operators/embeddings.py: pc_variance_explained) — uGu/(uu·trG)
    over the X60 exact Gram and power vector; the ABTT go/no-go
    number."""
    from .operators.embeddings import pc_variance_explained

    emb = table(spark, sf_dir, "embeddings")
    return pc_variance_explained(emb, "embedding", 64)


@query("pii_cooccurrence_audit")
def q_pii_cooccurrence_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PII co-occurrence audit (operators/scrub.py:
    pii_cooccurrence_audit) — per-source multi-PII linkage-record
    rates over the X11 portable regex classes."""
    from .operators.scrub import pii_cooccurrence_audit

    d = table(spark, sf_dir, "documents")
    return pii_cooccurrence_audit(d, "doc_id", "text", "source")


@query("uniform_group_sample")
def q_uniform_group_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact per-group uniform draw (operators/sampling.py:
    uniform_group_sample) — 5 docs per source by the seed-free
    (md5(id), id) order, two-phase rank (no whole-group window)."""
    from .operators.sampling import uniform_group_sample

    d = table(spark, sf_dir, "documents")
    return uniform_group_sample(d, "source", "doc_id", 5)


@query("dedup_survival_by_source")
def q_dedup_survival_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source dedup survival curves — X20's funnel rolled onto
    the SOURCE axis under GLOBAL dedup with the canonical
    lowest-id-survivor rule: a mirror site's docs lose to the
    original source's lower ids, so its curve collapses while the
    original's stays flat — the honest per-source shrinkage table a
    mixture rebalance (X19/X37) should read instead of raw sizes.
    Stages reuse the oracle-checked cores: exact text groups,
    X2a canonical fingerprints, X7 near-dup clusters (survivor =
    cluster canonical). Scale: three keyed min-aggregates + keyed
    joins back to the |sources| axis; the cluster stage is the
    existing pair+CC chain — nothing new shuffles."""
    from .operators.dedup import fingerprint, neardup_clusters

    d = table(spark, sf_dir, "documents")
    base = d.select("source", "doc_id", "text")
    src_of = base.select("doc_id", "source")
    totals = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )

    def stage_counts(surv_ids: DataFrame, stage: str) -> DataFrame:
        return (
            surv_ids.join(src_of, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_surviving"))
            .withColumn("stage", F.lit(stage))
        )

    exact = stage_counts(
        base.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
            "doc_id"
        ),
        "2_exact",
    )
    fp = stage_counts(
        base.select(fingerprint(F.col("text")).alias("__fp"), "doc_id")
        .groupBy("__fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id"),
        "3_fingerprint",
    )
    cc = neardup_clusters(d)
    cl = stage_counts(
        cc.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id"),
        "4_near_dup_clusters",
    )
    tot_stage = totals.select(
        "source", F.col("n_total").alias("n_surviving")
    ).withColumn("stage", F.lit("1_total"))
    allst = (
        tot_stage.unionByName(exact).unionByName(fp).unionByName(cl)
    )
    return (
        allst.join(F.broadcast(totals), "source")
        .select(
            "source",
            "stage",
            "n_surviving",
            F.expr("(1000000 * n_surviving) div n_total")
            .cast("long")
            .alias("survival_ppm"),
        )
        .orderBy("source", "stage")
    )


@query("lm_heldout_eval")
def q_lm_heldout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out trigram-LM eval per source (operators/textstats.py:
    trigram_backoff_heldout_eval) — train counts from the 4/5
    unit-hash split, scores over the held 1/5; the self-scoring
    flattery X59 permits is structurally impossible here."""
    from .operators.textstats import trigram_backoff_heldout_eval

    d = table(spark, sf_dir, "documents")
    return trigram_backoff_heldout_eval(d, "doc_id", "text", "source")


@query("exact_substring_cut_spans")
def q_exact_substring_cut_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ExactSubstr cut list (operators/dedup.py:
    exact_substring_cut_spans) — merged 1-based half-open token
    spans of corpus-duplicated 3-gram positions; the rewrite step
    X66's coverage signal feeds."""
    from .operators.dedup import exact_substring_cut_spans

    d = table(spark, sf_dir, "documents")
    return exact_substring_cut_spans(d, "doc_id", "text")


@query("exact_substring_rewrite")
def q_exact_substring_rewrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ExactSubstr rewrite (operators/dedup.py:
    exact_substring_rewrite) — the corpus with every duplicated-span
    token dropped; completes the X66 signal -> cut list -> rewrite
    chain."""
    from .operators.dedup import exact_substring_rewrite

    d = table(spark, sf_dir, "documents")
    return exact_substring_rewrite(d, "doc_id", "text")


@query("langid_source_agreement")
def q_langid_source_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source lang-label agreement (operators/textstats.py:
    langid_agreement_by_source) — X91 kappa of the X5b marker
    prediction vs the lang column, keyed by source: the
    which-source-to-distrust label-quality audit."""
    from .operators.textstats import langid_agreement_by_source

    d = table(spark, sf_dir, "documents")
    return langid_agreement_by_source(d, "doc_id", "text", "lang", "source")


@query("embedding_participation_ratio")
def q_embedding_participation_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Effective dimensionality (operators/embeddings.py:
    participation_ratio) — trace(G)^2 / ||G||_F^2 of the exact X60
    Gram, no eigendecomposition; the rank-collapse dial."""
    from .operators.embeddings import participation_ratio

    e = table(spark, sf_dir, "embeddings")
    return participation_ratio(e, "embedding")


@query("tfidf_cosine_pairs")
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X156 all-pairs tf·idf cosine join (operators/dedup.py:
    tfidf_cosine_pairs) — exact-integer weights, DECIMAL norms/dot,
    one final double expression."""
    from .operators.dedup import tfidf_cosine_pairs

    d = table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(d, "doc_id", "text", threshold=0.3).orderBy(
        "doc_a", "doc_b"
    )


@query("bag_jaccard_pairs")
def q_bag_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X157 weighted (bag) Jaccard join (operators/dedup.py:
    bag_jaccard_pairs) — pure integer multiset similarity."""
    from .operators.dedup import bag_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    return bag_jaccard_pairs(
        d, "doc_id", "text", threshold_ppm=300_000
    ).orderBy("doc_a", "doc_b")


@query("cdc_chunk_stats")
def q_cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X158 content-defined chunking census (operators/packing.py:
    cdc_chunk_stats) — edit-stable chunk boundaries, per-source
    duplication panel."""
    from .operators.packing import cdc_chunk_stats

    d = table(spark, sf_dir, "documents")
    return cdc_chunk_stats(d, "doc_id", "text", "source")


@query("embedding_drift_by_label")
def q_embedding_drift_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X159 embedding drift (operators/embeddings.py:
    embedding_drift_by_label) — id-parity half means compared per
    label on exact integer sum vectors."""
    from .operators.embeddings import embedding_drift_by_label

    e = table(spark, sf_dir, "embeddings")
    return embedding_drift_by_label(e, "vec_id", "embedding", "label")


@query("duplication_gini")
def q_duplication_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X160 duplication-concentration Gini (operators/dedup.py:
    duplication_gini) — exact lattice Gini of exact-dup
    multiplicities per source."""
    from .operators.dedup import duplication_gini

    d = table(spark, sf_dir, "documents")
    return duplication_gini(d, "doc_id", "text", "source")


@query("line_dedup_by_source")
def q_line_dedup_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X161 CCNet line-dedup census (operators/dedup.py:
    line_dedup_by_source) — per-source sentence/line duplication."""
    from .operators.dedup import line_dedup_by_source

    d = table(spark, sf_dir, "documents")
    return line_dedup_by_source(d, "doc_id", "text", "source")


@query("cluster_dilution_audit")
def q_cluster_dilution_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X162 cluster transitivity audit (operators/dedup.py:
    cluster_dilution_audit) — direct member-survivor Jaccard per
    cluster-size bucket."""
    from .operators.dedup import cluster_dilution_audit

    d = table(spark, sf_dir, "documents")
    return cluster_dilution_audit(d, "doc_id", "text", threshold=0.5)


@query("minhash_calibration")
def q_minhash_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X163 MinHash estimator calibration (operators/dedup.py:
    minhash_calibration) — exact-J deciles vs empirical matched
    signature fraction."""
    from .operators.dedup import minhash_calibration

    d = table(spark, sf_dir, "documents")
    return minhash_calibration(d, "doc_id", "text", k=8)


@query("winnow_fingerprints")
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X164 winnowing fingerprint census (operators/dedup.py:
    winnow_fingerprint_census) — Schleimer 2003 rightmost-min window
    selection; per-source shared-fingerprint rates."""
    from .operators.dedup import winnow_fingerprint_census

    d = table(spark, sf_dir, "documents")
    return winnow_fingerprint_census(d, "doc_id", "text", "source", w=4)


@query("source_containment_direction")
def q_source_containment_direction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X165 directed containment census (operators/dedup.py:
    source_containment_direction) — who subsumes whom, by source
    pair."""
    from .operators.dedup import source_containment_direction

    d = table(spark, sf_dir, "documents")
    return source_containment_direction(
        d, "doc_id", "text", "source", threshold=0.5
    )


@query("dup_span_position_profile")
def q_dup_span_position_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X166 duplication-position profile (operators/dedup.py:
    dup_span_position_profile) — X148 cut spans projected onto
    position deciles per source."""
    from .operators.dedup import dup_span_position_profile

    d = table(spark, sf_dir, "documents")
    return dup_span_position_profile(d, "doc_id", "text", "source")


@query("semantic_decontamination")
def q_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X167 semantic decontamination (operators/similarity.py:
    semantic_decontamination) — IVF-bucketed cosine flags against
    the deterministic pseudo-benchmark."""
    from .operators.similarity import semantic_decontamination

    e = table(spark, sf_dir, "embeddings")
    return semantic_decontamination(
        e, "vec_id", "embedding", bench_mod=97, threshold=0.3
    )


@query("ivf_nprobe_recall_curve")
def q_ivf_nprobe_recall_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X168 IVF recall-vs-nprobe curve (operators/similarity.py:
    ivf_nprobe_recall_curve) — exact recall@k against brute force
    per sweep point."""
    from .operators.similarity import ivf_nprobe_recall_curve

    e = table(spark, sf_dir, "embeddings")
    return ivf_nprobe_recall_curve(e, "vec_id", "embedding", k=5)


@query("source_crossentropy_matrix")
def q_source_crossentropy_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X169 source-pair cross-entropy matrix (operators/textstats.py:
    source_crossentropy_matrix) — add-one-smoothed unigram H(A|B) in
    the X99 scaled-integer-ln convention."""
    from .operators.textstats import source_crossentropy_matrix

    d = table(spark, sf_dir, "documents")
    return source_crossentropy_matrix(d, "doc_id", "text", "source")


@query("mixture_epoch_plan")
def q_mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X170 data-constrained mixture plan (operators/sampling.py:
    mixture_epoch_plan) — token allocations, epochs, and the
    4-epoch-cap deficit per source."""
    from .operators.sampling import mixture_epoch_plan

    d = table(spark, sf_dir, "documents")
    return mixture_epoch_plan(
        d, "source", "text", budget_tokens=2_000_000, alpha=0.5
    )


@query("line_dedup_rewrite")
def q_line_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X171 line-dedup rewrite (operators/dedup.py:
    line_dedup_rewrite) — global first-occurrence line survivorship
    and document rebuild; completes the X161 census -> rewritten
    corpus chain."""
    from .operators.dedup import line_dedup_rewrite

    d = table(spark, sf_dir, "documents")
    return line_dedup_rewrite(d, "doc_id", "text")


@query("events_markov_transitions")
def q_events_markov_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X172 event-sequence transition census (operators/behavior.py:
    markov_transitions) — first-order Markov matrix of the per-user
    event stream, exact ppm conditionals."""
    from .operators.behavior import markov_transitions

    e = table(spark, sf_dir, "events")
    return markov_transitions(e, "user_id", "event_type", "ts", "event_id")


@query("purchase_attribution_last_touch")
def q_purchase_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X173 last-touch revenue attribution (operators/behavior.py:
    purchase_attribution) — latest preceding non-purchase touch
    within 24h, integer-cents revenue shares."""
    from .operators.behavior import purchase_attribution

    e = table(spark, sf_dir, "events")
    return purchase_attribution(
        e, "user_id", "event_type", "ts", "event_id", "value"
    )


@query("events_seasonality_chi2")
def q_events_seasonality_chi2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X174 hour-of-day seasonality panel (operators/behavior.py:
    seasonality_chi2) — exact closed-form chi-square vs uniform per
    event type."""
    from .operators.behavior import seasonality_chi2

    e = table(spark, sf_dir, "events")
    return seasonality_chi2(e, "event_type", "ts")


@query("events_rfm_segments")
def q_events_rfm_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X179 RFM segmentation (operators/behavior.py: rfm_segments) —
    exact value-lattice quartile bands, no per-user global window."""
    from .operators.behavior import rfm_segments

    e = table(spark, sf_dir, "events")
    return rfm_segments(e, "user_id", "ts", "event_type", "value")


@query("vocab_hll_estimate")
def q_vocab_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X175 register-level HyperLogLog (operators/textstats.py:
    hll_register_estimate) — the oracle-checkable HLL next to the
    KMV sketch (X62); integer register math, signed error vs exact."""
    from .operators.textstats import hll_register_estimate

    d = table(spark, sf_dir, "documents")
    return hll_register_estimate(d, "source", "text")


@query("vocab_chao1_richness")
def q_vocab_chao1_richness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X176 nonparametric vocabulary richness (operators/textstats.py:
    vocab_richness_estimators) — Chao1 + first-order jackknife per
    source."""
    from .operators.textstats import vocab_richness_estimators

    d = table(spark, sf_dir, "documents")
    return vocab_richness_estimators(d, "source", "text")


@query("knn_hubness_audit")
def q_knn_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X177 kNN-graph hubness audit (operators/similarity.py:
    knn_hubness_audit) — k-occurrence skew + reciprocity per label
    over the exact top-k graph."""
    from .operators.similarity import knn_hubness_audit

    e = table(spark, sf_dir, "embeddings")
    return knn_hubness_audit(e, "vec_id", "embedding", "label", k=5)


@query("neardup_paradigm_agreement")
def q_neardup_paradigm_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X178 cross-paradigm near-dup agreement census
    (operators/dedup.py: paradigm_agreement) — MinHash-LSH vs
    tf-idf-cosine candidates, union re-scored by exact Jaccard."""
    from .operators.dedup import paradigm_agreement

    d = table(spark, sf_dir, "documents")
    return paradigm_agreement(d, "doc_id", "text")


@query("session_path_trigrams")
def q_session_path_trigrams(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X180 session-bounded path census (operators/behavior.py:
    session_path_trigrams) — top event-type trigram paths within
    30-min gap sessions."""
    from .operators.behavior import session_path_trigrams

    e = table(spark, sf_dir, "events")
    return session_path_trigrams(e, "user_id", "event_type", "ts", "event_id")


@query("cohort_ltv_curves")
def q_cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X181 cohort LTV curves (operators/behavior.py:
    cohort_ltv_curves) — cumulative cohort revenue, the monetary half
    of retention_cohorts."""
    from .operators.behavior import cohort_ltv_curves

    e = table(spark, sf_dir, "events")
    return cohort_ltv_curves(e, "user_id", "ts", "event_type", "value")


@query("encoding_artifact_rewrite")
def q_encoding_artifact_rewrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X182 encoding-artifact rewrite (operators/textstats.py:
    encoding_artifact_rewrite) — the action half of X98."""
    from .operators.textstats import encoding_artifact_rewrite

    d = table(spark, sf_dir, "documents")
    return encoding_artifact_rewrite(d, "doc_id", "text")


@query("mixture_design_effect")
def q_mixture_design_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X185 mixture design effect (operators/sampling.py:
    mixture_design_effect) — Kish n_eff/deff of the X19 weights over
    the temperature grid."""
    from .operators.sampling import mixture_design_effect

    d = table(spark, sf_dir, "documents")
    return mixture_design_effect(d, "source")


@query("srp_cosine_calibration")
def q_srp_cosine_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X183 SRP cosine-sketch calibration (operators/similarity.py:
    srp_cosine_calibration) — sign-bit match rate vs 1 - theta/pi
    per cosine band."""
    from .operators.similarity import srp_cosine_calibration

    e = table(spark, sf_dir, "embeddings")
    return srp_cosine_calibration(e, "vec_id", "embedding")


@query("pq_distortion_by_label")
def q_pq_distortion_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X186 PQ distortion audit (operators/embeddings.py:
    pq_distortion_by_label) — per-(label, subspace) quantization
    error + dead-codeword census."""
    from .operators.embeddings import pq_distortion_by_label

    e = table(spark, sf_dir, "embeddings")
    return pq_distortion_by_label(e, "vec_id", "embedding", "label")


@query("mutual_knn_clusters")
def q_mutual_knn_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X187 mutual-kNN clustering census (operators/similarity.py:
    mutual_knn_clusters) — CC over reciprocal top-k edges, per-size
    panel with label purity."""
    from .operators.similarity import mutual_knn_clusters

    e = table(spark, sf_dir, "embeddings")
    return mutual_knn_clusters(e, "vec_id", "embedding", "label", k=5)


@query("source_overlap_hll")
def q_source_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X184 HLL register-merge overlap matrix (operators/textstats.py:
    source_overlap_hll) — union/intersection estimates from max-merged
    registers vs exact."""
    from .operators.textstats import source_overlap_hll

    d = table(spark, sf_dir, "documents")
    return source_overlap_hll(d, "source", "text")
