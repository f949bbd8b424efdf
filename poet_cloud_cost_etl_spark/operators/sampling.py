"""Deterministic sampling for training-data curation (SURVEY §2.11
extension family): hash-threshold sampling and per-stratum quotas.

``df.sample()`` is seed-dependent *per partitioning* — the same seed
over a different file split yields a different sample, which breaks
reproducible dataset builds and cross-engine verification. Everything
here derives the sampling decision from a HASH OF THE ROW KEY instead:
stable under repartitioning, re-runs, engine choice, and incremental
appends (a row's in/out decision never changes), which is how
large-scale corpus pipelines version their samples.

All expressions are native (md5 → hex slice → integer), so the
operators are scan-stage narrow maps with no shuffle (quota sampling
adds the one per-stratum shuffle its window needs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# First 8 hex chars of md5(key) as an integer in [0, 2^32) — the
# uniform "unit hash". conv() returns a string; the cast is exact
# (max 0xffffffff fits in a long).
_UNIT_SQL = "CAST(conv(substring(md5(CAST({col} AS STRING)), 1, 8), 16, 10) AS BIGINT)"

UNIT_DENOM = 4294967296  # 2^32


def unit_hash(col: str) -> Column:
    """Integer hash in [0, 2^32), uniform over keys."""
    return F.expr(_UNIT_SQL.format(col=col))


def deterministic_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep rows whose unit hash falls below ``fraction`` — a stable
    ~``fraction`` Bernoulli sample keyed on ``key_col``."""
    threshold = int(fraction * UNIT_DENOM)
    return df.filter(unit_hash(key_col) < threshold)


def stratified_sample(
    df: DataFrame, strata_col: str, key_col: str, n_per_stratum: int
) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, chosen by hash
    order (a deterministic shuffle) with the key as tie-break.

    Scale: one shuffle on the stratum key; each stratum ranks
    independently. Skewed strata are bounded by the rank cutoff —
    row_number short-circuits nothing, but AQE splits oversized
    partitions; for pathological single-stratum corpora pre-filter
    with ``deterministic_sample`` at a generous fraction first."""
    w = Window.partitionBy(strata_col).orderBy(
        unit_hash(key_col).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def split_assign(
    df: DataFrame,
    key_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the key's unit hash
    mod 100 buckets into train (< train_pct), val (< train_pct +
    val_pct), test (rest). Same hash-keyed stability contract as
    ``deterministic_sample`` — a row's split never changes under
    repartitioning, appends, or engine choice, which is what keeps
    eval sets uncontaminated across dataset versions. Pure narrow
    map."""
    bucket = unit_hash(key_col) % 100
    return df.withColumn(
        out_col,
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def leakage_safe_split(
    clusters: DataFrame,
    id_col: str,
    cluster_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """X31: near-dup-leakage-safe train/val/test split. Hashing each
    DOCUMENT id sprays the members of a near-dup cluster across
    splits — the eval set then contains near-copies of training docs
    and benchmark numbers inflate. Hashing the CLUSTER id instead
    sends every member of a component to the same split by
    construction. Input is the (id, cluster) table X7 produces.

    Output is one row per split: document and cluster counts plus
    ``n_leaked`` — the docs whose doc-keyed assignment would have
    landed elsewhere, i.e. exactly the contamination the cluster key
    prevents (0 for singleton-only corpora, since then doc id ==
    cluster id).

    Scale: two narrow-map hash columns over the cluster table and one
    aggregate — no join, no extra shuffle beyond the X7 input."""
    both = split_assign(
        split_assign(clusters, cluster_col, train_pct, val_pct, out_col="split"),
        id_col,
        train_pct,
        val_pct,
        out_col="__naive",
    )
    return (
        both.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(cluster_col).alias("n_clusters"),
            F.count_if(F.col("split") != F.col("__naive")).alias("n_leaked"),
        )
        .orderBy("split")
    )


def group_kfold_plan(
    clusters: DataFrame,
    id_col: str,
    cluster_col: str,
    k: int = 5,
) -> DataFrame:
    """X127: leakage-safe k-fold assignment — the cross-validation
    generalization of X31's fixed train/val/test split.  Fold =
    unit_hash(cluster_id) mod k, so every member of a near-dup
    cluster lands in the same fold by construction and no fold's
    held-out set contains near-copies of another fold's training
    docs — the property plain doc-keyed k-fold silently violates on
    a deduplicated-but-clustered corpus.

    Output is one row per fold: doc and cluster counts, the fold's
    exact ppm share of the corpus (integer division — folds are
    hash-balanced, not exactly equal, and the share column is how
    you check the imbalance is acceptable before training k models),
    and ``n_leaked_naive`` — the docs a doc-keyed assignment would
    have placed in a different fold than their cluster, i.e. the
    contamination the cluster key prevents.

    Scale: two narrow hash columns and one k-row aggregate over the
    X7 cluster table; the share column is a window over k rows. No
    join, no shuffle beyond the input."""
    from pyspark.sql.window import Window

    assigned = clusters.select(
        F.col(id_col),
        F.col(cluster_col),
        (unit_hash(cluster_col) % k).alias("fold"),
        (unit_hash(id_col) % k).alias("__naive"),
    )
    per_fold = assigned.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(cluster_col).alias("n_clusters"),
        F.count_if(F.col("fold") != F.col("__naive")).alias(
            "n_leaked_naive"
        ),
    )
    return per_fold.select(
        "fold",
        "n_docs",
        "n_clusters",
        "n_leaked_naive",
        (
            F.expr(
                "CAST((1000000 * n_docs) div sum(n_docs) OVER () AS DOUBLE)"
            )
            / 1_000_000.0
        ).alias("docs_share"),
    ).orderBy("fold")


def source_mixture_weights(
    df: DataFrame,
    group_col: str,
    budget: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based mixture weights per source/domain — the
    standard rebalancing step before sampling a training mix: weight
    w_s ∝ n_s^alpha (alpha < 1 upweights small domains, alpha = 1 is
    proportional), plus each source's integer share of a ``budget``
    of samples. alpha=0.5 is the sqrt temperature most mixes start
    from.

    Exactness: n^alpha for alpha=0.5 is a single sqrt (IEEE-exact);
    each value is scaled-integer rounded BEFORE the corpus-wide sum,
    so the normalizing denominator is an exact integer and both the
    weight and the floor-share are deterministic in any engine. For
    other alphas pow() is used — still a single libm call per group,
    rounded before summation.

    Scale: one keyed count aggregate, then all arithmetic on a
    k-row table joined to its own 1-row broadcast total."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    powed = (
        F.sqrt(F.col("n_docs").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("n_docs").cast("double"), F.lit(alpha))
    )
    scaled = counts.withColumn(
        "__ws", F.round(powed * 1_000_000.0).cast("long")
    )
    total = scaled.agg(F.sum("__ws").alias("__wt"))
    return (
        scaled.crossJoin(F.broadcast(total))
        .select(
            F.col(group_col),
            "n_docs",
            # ppm via integer division, not round-6: a float quotient
            # can land on a .5 tie that engines round differently
            (
                F.expr("(1000000 * __ws) div __wt").cast("double") / 1_000_000.0
            ).alias("weight"),
            F.expr(f"({budget} * __ws) div __wt").alias("n_sampled"),
        )
        .orderBy(group_col)
    )


def split_balance_tvd(
    df: DataFrame,
    key_col: str,
    size_col: str,
    bucket_width: int = 50,
    n_buckets: int = 10,
) -> DataFrame:
    """Split-quality gate: total-variation distance between the
    ``size_col`` distributions of each pair of splits produced by
    ``split_assign``. A hash-keyed splitter should be size-blind;
    a TVD drifting from ~0 flags a correlation between the split key
    and document length (the classic way an eval set silently stops
    representing the train set).

    Exactness: TVD = ½·Σ|p_a − p_b| is computed as the exact integer
    cross-product form ½·Σ|n_a[b]·T_b − n_b[b]·T_a| / (T_a·T_b) in
    decimal(38,0) — int64 would wrap once the cross-product reaches
    ~0.08·N² (N ≈ 1e10 rows, plausible at 100 TB) — then reduced to
    ppm by integer division (the round-6 convention: no ROUND on a
    float quotient of exact integers), one exact float division by
    10⁶ at the very end.

    Scale: one corpus shuffle (the (split, bucket) count), then all
    arithmetic happens on a ≤ 3·n_buckets-row table (checkpointed so
    the three pair joins don't re-scan the corpus)."""
    s = split_assign(df, key_col)
    bucket = F.least(
        F.lit(n_buckets - 1), F.expr(f"{size_col} div {bucket_width}")
    ).alias("bucket")
    counts = (
        s.select("split", bucket)
        .groupBy("split", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    totals = counts.groupBy("split").agg(F.sum("n").alias("t"))
    pairs = df.sparkSession.createDataFrame(
        [("train", "val"), ("train", "test"), ("val", "test")],
        ["split_a", "split_b"],
    )
    grid = pairs.crossJoin(counts.select("bucket").distinct())
    ca = counts.select(
        F.col("split").alias("split_a"), "bucket", F.col("n").alias("__na")
    )
    cb = counts.select(
        F.col("split").alias("split_b"), "bucket", F.col("n").alias("__nb")
    )
    ta = totals.select(F.col("split").alias("split_a"), F.col("t").alias("__ta"))
    tb = totals.select(F.col("split").alias("split_b"), F.col("t").alias("__tb"))
    j = (
        grid.join(ca, ["split_a", "bucket"], "left")
        .join(cb, ["split_b", "bucket"], "left")
        .fillna(0, ["__na", "__nb"])
        .join(ta, "split_a")
        .join(tb, "split_b")
    )
    dec = "decimal(38,0)"
    return (
        j.groupBy("split_a", "split_b", "__ta", "__tb")
        .agg(
            F.sum(
                F.abs(
                    F.col("__na").cast(dec) * F.col("__tb").cast(dec)
                    - F.col("__nb").cast(dec) * F.col("__ta").cast(dec)
                )
            ).alias("__num")
        )
        .select(
            "split_a",
            "split_b",
            F.col("__ta").alias("n_a"),
            F.col("__tb").alias("n_b"),
            (
                F.expr(
                    f"(1000000 * __num) div (2 * cast(__ta as {dec})"
                    f" * cast(__tb as {dec}))"
                ).cast("double")
                / 1_000_000.0
            ).alias("tvd"),
        )
        .orderBy("split_a", "split_b")
    )


def score_ramp_sample(
    df: DataFrame,
    id_col: str,
    score_col: str,
    strata_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """X35: quality-curriculum sampling — bucket documents into
    score deciles WITHIN each stratum (language), then keep a
    deterministic hash sample whose rate ramps linearly with the
    decile: 1/n_buckets of the worst bucket, everything in the best.
    The standard "keep more of the good stuff" downsampling step
    between quality scoring and mixture assembly; stratifying the
    deciles by language stops a cross-language score shift from
    silently draining one language.

    Determinism: the decile is ntile over (score, id) — total order,
    engine-independent; the keep decision is the md5 unit hash of the
    id against an integer threshold. No RNG anywhere.

    Scale: one shuffle keyed on the stratum for the decile window
    (the scored table is narrow — id, score — orders of magnitude
    smaller than the corpus it describes; for strata too large for
    one task, swap the exact ntile for broadcast approx_percentile
    cut-points, which changes only tie placement), then a narrow
    filter. The ramp thresholds are pure arithmetic on the decile."""
    w = Window.partitionBy(strata_col).orderBy(
        F.col(score_col).asc(), F.col(id_col).asc()
    )
    bucketed = df.withColumn("__decile", F.ntile(n_buckets).over(w))
    # Integer div, NOT a float cast: double->int casts truncate in
    # Spark but round in DuckDB, so a float threshold could disagree
    # on boundary hashes.
    threshold = F.expr(f"(__decile * {UNIT_DENOM}) div {n_buckets}")
    return (
        bucketed.filter(unit_hash(id_col) < threshold)
        .select(
            F.col(id_col),
            F.col(strata_col),
            F.col("__decile").alias("decile"),
            F.col(score_col),
        )
    )


def effective_mixture_weights(
    df: DataFrame, id_col: str, text_col: str, group_col: str
) -> DataFrame:
    """X37: dedup-effective mixture weights — per-source weights
    proportional to the source's EFFECTIVE (post-exact-dedup) size,
    not its raw row count. A source that is 90% internal copies
    contributes its distinct mass only; cross-source duplicates are
    attributed to the lowest-doc-id survivor's source (the same
    keeper rule as X1/X32). This is the honest version of X19's
    count-proportional weights for corpora with unequal duplication.

    Scale: fingerprint is a narrow map; survivor election is one
    shuffle keyed on the fingerprint (min over a two-field struct —
    no window, no sort); the rest is arithmetic on a k-row table
    joined to its broadcast total."""
    from .dedup import fingerprint

    fps = df.select(
        F.col(id_col), F.col(group_col).alias("__g"), fingerprint(F.col(text_col)).alias("__fp")
    )
    survivors = (
        fps.groupBy("__fp")
        .agg(F.min(F.struct(F.col(id_col), F.col("__g"))).alias("__keep"))
        .select(F.col("__keep.__g").alias("__g"))
    )
    raw = fps.groupBy("__g").agg(F.count(F.lit(1)).alias("n_raw"))
    eff = survivors.groupBy("__g").agg(F.count(F.lit(1)).alias("n_effective"))
    joined = raw.join(eff, "__g", "left").select(
        F.col("__g"),
        "n_raw",
        F.coalesce("n_effective", F.lit(0)).alias("n_effective"),
    )
    tot = joined.agg(F.sum("n_effective").alias("__tot"))
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            F.col("__g").alias(group_col),
            "n_raw",
            "n_effective",
            (
                F.expr("(1000000 * n_effective) div n_raw").cast("double")
                / 1_000_000.0
            ).alias("distinct_share"),
            (
                F.expr("(1000000 * n_effective) div __tot").cast("double")
                / 1_000_000.0
            ).alias("weight"),
        )
    )


def _tokens(col: str) -> Column:
    from .dedup import tokens as _dedup_tokens

    return _dedup_tokens(col)


def mixture_budget_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    token_budget: int,
    alpha: float = 0.5,
) -> DataFrame:
    """X43: token-budget mixture materialization — the step that
    turns mixture WEIGHTS into an actual training corpus. Each
    group's token budget is its temperature-weighted share
    (w_s ∝ n_docs^alpha, the ``source_mixture_weights`` arithmetic)
    of ``token_budget``; within a group, documents are taken in
    unit-hash order (the deterministic shuffle) while the running
    token total stays within budget. Returns the KEPT documents with
    their group, token count, and running total — the sample is
    stable under repartitioning, re-runs, and engine choice, and
    incremental appends never evict a previously-kept doc from an
    unchanged group prefix.

    Exactness: budgets are integer divisions of scaled-integer
    weights (the ``source_mixture_weights`` convention); the cut is
    cumsum <= budget on exact integer token counts.

    Scale: one narrow-map token count, a k-row budget table
    broadcast onto the corpus, ONE shuffle on the group key for the
    running-sum window. A pathologically dominant group is a single
    window partition — the stratified-sample caveat applies
    (pre-thin with ``deterministic_sample`` or raise alpha); AQE
    splits cannot help inside one partition, but group counts in
    corpus mixes are dozens, so parallelism comes from the group
    fan-out."""
    tc = df.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        F.size(_tokens(text_col)).alias("n_tokens"),
    )
    counts = tc.groupBy("grp").agg(F.count(F.lit(1)).alias("__n"))
    powed = (
        F.sqrt(F.col("__n").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("__n").cast("double"), F.lit(alpha))
    )
    scaled = counts.withColumn("__ws", F.round(powed * 1_000_000.0).cast("long"))
    total = scaled.agg(F.sum("__ws").alias("__wt"))
    budgets = (
        scaled.crossJoin(F.broadcast(total))
        .select("grp", F.expr(f"({int(token_budget)} * __ws) div __wt").alias("__budget"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy(unit_hash(id_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tc.join(F.broadcast(budgets), "grp")
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= F.col("__budget"))
        .select(
            F.col(id_col),
            F.col("grp").alias(group_col),
            "n_tokens",
            "cum_tokens",
        )
    )


def training_order_shuffle(
    df: DataFrame, id_col: str, n_shards: int = 8, epoch: int = 0
) -> DataFrame:
    """X44: deterministic global training-order shuffle — every row
    gets a (shard, pos) address: shard = hash(epoch, id) mod
    n_shards, pos = rank of the hash within the shard. Round-robin
    readers over the shards replay the exact same "random" order on
    any engine, any partitioning, any rerun — which is how training
    runs stay reproducible and resumable (order is a pure function
    of (epoch, id), not of cluster layout). A new ``epoch`` value
    reshuffles everything.

    Scale: one shuffle on the shard key (n_shards partitions — size
    n_shards to the cluster, it is the write parallelism), one
    row_number per shard. The hash makes shard sizes near-uniform by
    construction, so there is no skew to manage. In production the
    result is written ``partitionBy(shard)`` sorted by pos — the
    sorted-shard files ARE the epoch's data order."""
    h = F.expr(
        "CAST(conv(substring(md5(concat(CAST({e} AS STRING), '|', "
        "CAST({c} AS STRING))), 1, 8), 16, 10) AS BIGINT)".format(
            e=int(epoch), c=id_col
        )
    )
    w = Window.partitionBy("shard").orderBy(F.col("__h").asc(), F.col(id_col).asc())
    return (
        df.select(F.col(id_col), h.alias("__h"))
        .withColumn("shard", (F.col("__h") % F.lit(int(n_shards))).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select(F.col(id_col), "shard", "pos")
    )


def priority_sample(
    df: DataFrame, key_col: str, weight_col: str, k: int
) -> DataFrame:
    """X88: priority sampling (Duffield-Lund-Thorup 2007) — the
    weighted k-sample with UNBIASED subset-sum estimates, the tool
    for "estimate any slice's token total from a fixed-size sample"
    corpus accounting: each row gets priority q = w/u (u uniform),
    the k highest-priority rows are kept, and every kept row's
    Horvitz-Thompson weight estimate is max(w, τ) with τ the
    (k+1)-th priority.  Σ max(w, τ) over the sample is unbiased for
    Σw over ANY predicate-restricted subset — near-optimal variance
    (within 1+O(1/k) of the best possible k-sample, per the paper).

    Engine-pinned arithmetic: u = (unit_hash(key)+1)/2^32 rational,
    so the quantized priority q = (w · 2^32) div (h+1) is EXACT
    integer arithmetic (weights must be integers; max fixture weight
    ~1e5 · 2^32 ≈ 4e14 — no overflow).  Order (q desc, key asc) is a
    deterministic total order; the quantized-q tie/truncation
    behavior is part of the pinned semantics.  If |corpus| ≤ k the
    threshold is 0 and every estimate is the exact weight.

    Scale: two TakeOrdered top-(k+1) passes over a narrow
    (key, w, q) projection — no global-partition window, no shuffle
    beyond the top-k machinery; τ is a broadcast 1-row frame."""
    r = (unit_hash(key_col) + F.lit(1)).alias("__r")
    keyed = df.select(
        F.col(key_col),
        F.col(weight_col).cast("long").alias("weight"),
        F.expr(
            f"(CAST({weight_col} AS BIGINT) * {UNIT_DENOM}) div "
            f"({_UNIT_SQL.format(col=key_col)} + 1)"
        ).alias("priority"),
    )
    top_k1 = keyed.orderBy(
        F.col("priority").desc(), F.col(key_col).asc()
    ).limit(int(k) + 1)
    tau = top_k1.agg(
        F.when(F.count(F.lit(1)) == int(k) + 1, F.min("priority"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("threshold")
    )
    sample = keyed.orderBy(
        F.col("priority").desc(), F.col(key_col).asc()
    ).limit(int(k))
    return sample.crossJoin(F.broadcast(tau)).select(
        F.col(key_col),
        "weight",
        "priority",
        "threshold",
        F.greatest(F.col("weight"), F.col("threshold")).alias("est_weight"),
    )


def unimax_allocation(
    df: DataFrame,
    group_col: str,
    size_col: str,
    budget: int,
    epoch_cap: int = 4,
) -> DataFrame:
    """X92: UniMax budget allocation (Chung et al. 2023 "UniMax:
    Fairer and More Effective Language Sampling"; epoch cap per
    Muennighoff et al. 2023 data-constrained scaling) — distribute a
    token ``budget`` UNIFORMLY across sources, but never take more
    than ``epoch_cap`` passes over any source: the allocation that
    stops temperature-mixing (X19) from either starving small
    domains or repeating them into memorization.

    Semantics: capacity_s = epoch_cap · tokens_s; water-fill level L
    solves Σ min(L, cap_s) = budget.  EXACT integer closed form: in
    (capacity asc, group) order with prefix sums, a source saturates
    iff filling every remaining source to ITS capacity still fits
    the remaining budget; the unsaturated sources split the rest
    evenly — quotient each, and the remainder goes +1 apiece to the
    FIRST (budget-left mod m) sources in the same pinned order (no
    fractional tokens, no float level).  If Σ cap ≤ budget every
    source saturates (the budget simply can't be met — surfaced by
    the saturated flags all being true).

    Output per source: tokens, capacity, allocation, epochs_ppm =
    1e6·alloc div tokens, saturated.  Σ allocation = min(budget,
    Σ capacity) exactly.

    Scale: one group aggregate to the source-level table (sources
    number in the dozens), then window prefix sums over THAT bounded
    table — the corpus-sized work is the token count only."""
    sizes = df.groupBy(group_col).agg(
        F.sum(size_col).cast("long").alias("tokens")
    )
    w = Window.orderBy(F.col("capacity").asc(), F.col(group_col).asc())
    wall = Window.partitionBy()
    capped = sizes.select(
        F.col(group_col),
        "tokens",
        (F.lit(int(epoch_cap)) * F.col("tokens")).cast("long").alias("capacity"),
    )
    ranked = capped.select(
        F.col(group_col),
        "tokens",
        "capacity",
        F.row_number().over(w).alias("__i"),
        (F.sum("capacity").over(w) - F.col("capacity")).cast("long").alias("__pfx"),
        F.count(F.lit(1)).over(wall).cast("long").alias("__n"),
    )
    # a source saturates iff cap_i * (n - i + 1) + pfx_i <= budget:
    # every source from i on could take cap_i and still fit — so the
    # water level is above cap_i.
    B = int(budget)
    marked = ranked.withColumn(
        "saturated",
        F.expr(f"capacity * (__n - __i + 1) + __pfx <= {B}"),
    )
    sat = marked.agg(
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col("capacity")).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("__sat_total"),
        F.coalesce(
            F.sum(F.when(F.col("saturated"), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("__sat_n"),
    )
    return (
        marked.crossJoin(F.broadcast(sat))
        .select(
            F.col(group_col),
            "tokens",
            "capacity",
            F.when(F.col("saturated"), F.col("capacity"))
            .otherwise(
                F.expr(f"({B} - __sat_total) div (__n - __sat_n)")
                + F.when(
                    F.col("__i") - F.col("__sat_n")
                    <= F.expr(f"({B} - __sat_total) % (__n - __sat_n)"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("allocation"),
            "saturated",
        )
        .withColumn(
            "epochs_ppm", F.expr("1000000 * allocation div tokens").cast("long")
        )
    )


def neyman_allocation(
    df: DataFrame, group_col: str, value_col: str, budget: int
) -> DataFrame:
    """X104: Neyman optimal allocation of an eval/QA sampling budget
    across strata (Neyman 1934) — the variance-minimizing rule
    n_h ∝ N_h·σ_h for estimating a corpus mean from a fixed audit
    budget.  UniMax (X92) answers "how do I fill a TRAINING budget
    under epoch caps"; this answers the orthogonal auditing question
    "where do my QA samples buy the most variance reduction":
    high-variance strata get disproportionately many samples,
    deterministic strata (σ = 0) none at all — the textbook result.

    Exactness: N_h·σ_h = sqrt(N_h·Σx² − (Σx)²) EXACTLY (the N_h
    cancels), so the weight is one sqrt of an exact integer — the
    sums run in DECIMAL(38,0) (the X60 Gram convention; BIGINT
    overflows at N·Σx² scale) and the sqrt is rounded to an integer
    weight before any division.  Allocation is floor(budget·w_h/W)
    plus largest-remainder top-up, remainders ranked with a pinned
    (remainder desc, group asc) order — Σ n_alloc = budget exactly
    whenever W > 0 (Hamilton's method).

    Scale: one keyed aggregate over the corpus (three sums with
    map-side combine), then all arithmetic on the |G|-row table —
    one |G|-row window for the remainder rank, one 1-row broadcast
    total."""
    from pyspark.sql.window import Window

    v = F.col(value_col).cast("decimal(38,0)")
    per = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(v).alias("__sv"),
        F.sum(v * v).alias("__sv2"),
    )
    s2num = (
        F.col("n_rows").cast("decimal(38,0)") * F.col("__sv2")
        - F.col("__sv") * F.col("__sv")
    )
    w = per.select(
        "grp",
        "n_rows",
        F.round(F.sqrt(s2num.cast("double"))).cast("long").alias("neyman_w"),
    )
    tot = w.agg(F.sum("neyman_w").alias("__wt"))
    j = w.crossJoin(F.broadcast(tot)).select(
        "grp",
        "n_rows",
        "neyman_w",
        F.expr(
            f"CASE WHEN __wt = 0 THEN 0 ELSE ({budget} * neyman_w) div __wt END"
        ).alias("alloc_floor"),
        F.expr(
            f"CASE WHEN __wt = 0 THEN 0 ELSE ({budget} * neyman_w) % __wt END"
        ).alias("__rem"),
        F.col("__wt").alias("__wt"),
    )
    wleft = Window.orderBy(F.col("__rem").desc(), F.col("grp").asc())
    leftover = F.expr(f"CASE WHEN __wt = 0 THEN 0 ELSE {budget} - __floor_sum END")
    floors = j.agg(F.sum("alloc_floor").alias("__floor_sum"))
    return (
        j.crossJoin(F.broadcast(floors))
        .withColumn("__rk", F.row_number().over(wleft).cast("long"))
        .select(
            F.col("grp").alias(group_col),
            "n_rows",
            "neyman_w",
            "alloc_floor",
            (F.col("__rk") <= leftover).cast("long").alias("extra"),
            (
                F.col("alloc_floor") + (F.col("__rk") <= leftover).cast("long")
            ).alias("n_alloc"),
        )
        .orderBy(group_col)
    )


# Cumulative Poisson(1) CDF scaled to 2^32 (floor), k = 0..8: a unit
# hash u < _POIS1_T32[k] means the deterministic Poisson draw is <= k.
# Hardcoded so no engine evaluates exp() at query time (the X108
# hardcoded-constants convention); draws are capped at 9.
_POIS1_T32 = [
    1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
    4292415291, 4294609777, 4294923276, 4294962463,
]


def _poisson1_weight_sql(id_col: str, rep: int) -> str:
    """Deterministic Poisson(1) count for (row, replicate): the md5
    unit hash of 'id|rep' inverted through the hardcoded CDF."""
    u = (
        f"CAST(conv(substring(md5(concat(CAST({id_col} AS STRING), "
        f"'|', '{rep}')), 1, 8), 16, 10) AS BIGINT)"
    )
    whens = " ".join(
        f"WHEN {u} < {t}L THEN {k}" for k, t in enumerate(_POIS1_T32)
    )
    return f"CASE {whens} ELSE 9 END"


def poisson_bootstrap_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    group_col: str,
    b_reps: int = 32,
) -> DataFrame:
    """X116: Poisson-bootstrap confidence interval for a per-group
    mean (Chamandy et al. 2012, "Estimating uncertainty for massive
    data streams"; Kleiner et al.'s BLB is the heavier alternative) —
    the error bar every per-source quality metric (X30/X63/X103)
    should carry before anyone compares two sources: a 2-point
    mean gap on 40 docs is noise, on 40M docs it's real, and only a
    resampling interval says which.

    The classical bootstrap resamples n rows WITH replacement B
    times — undistributable at 100 TB (each replicate is a global
    multinomial).  The Poisson trick: each row independently enters
    replicate b with multiplicity ~ Poisson(1) (the B·n multinomial
    marginals decouple), so every replicate becomes two conditional
    SUMs and the corpus is scanned ONCE.  The draw is the md5 unit
    hash of (id, b) inverted through a hardcoded Poisson(1) CDF —
    deterministic, engine-identical, reproducible across reruns
    (the X43/X44 hash convention; no engine RNG anywhere).

    Exactness: integer weights (0-9), integer value sums; the
    replicate mean is (10^6·Σw·x) div Σw with the 10^6 multiply in
    DECIMAL(38,0) (BIGINT overflows at corpus scale, the X111
    convention); a zero-weight replicate yields NULL and is dropped
    (degenerate resample, the X91 convention).  The CI is exact
    order statistics over the ≤B surviving replicate means at the
    X107 ceil positions ceil(25·L/1000) and ceil(975·L/1000)
    (1-indexed) — no floating percentile interpolation.

    Scale: ONE corpus scan, ONE group-keyed hash aggregate whose
    map-side combine reduces everything; the shuffle carries
    |G|·(2B+2) integers and the order-statistic step sorts a
    bounded B-element array per group row.  The replicate dimension
    lives in aggregate COLUMNS, never exploded rows."""
    wx = [
        F.expr(
            f"sum(CAST({_poisson1_weight_sql(id_col, b)} AS BIGINT) "
            f"* {value_col})"
        ).alias(f"__swx{b}")
        for b in range(b_reps)
    ]
    w = [
        F.expr(f"sum(CAST({_poisson1_weight_sql(id_col, b)} AS BIGINT))").alias(
            f"__sw{b}"
        )
        for b in range(b_reps)
    ]
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"sum({value_col})").alias("__sx"),
        *wx,
        *w,
    )
    reps = ", ".join(
        f"CASE WHEN __sw{b} > 0 THEN CAST((CAST(1000000 AS DECIMAL(38,0)) "
        f"* __swx{b}) div __sw{b} AS BIGINT) END"
        for b in range(b_reps)
    )
    return (
        g.withColumn(
            "__reps",
            F.expr(
                f"array_sort(filter(array({reps}), x -> x IS NOT NULL))"
            ),
        )
        .select(
            "grp",
            "n",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * __sx) div n AS BIGINT)"
            ).alias("mean_e6"),
            F.expr(
                "CASE WHEN size(__reps) > 0 THEN element_at(__reps, "
                "CAST((25 * size(__reps) + 999) div 1000 AS INT)) END"
            ).alias("boot_lo_e6"),
            F.expr(
                "CASE WHEN size(__reps) > 0 THEN element_at(__reps, "
                "CAST((975 * size(__reps) + 999) div 1000 AS INT)) END"
            ).alias("boot_hi_e6"),
            F.expr("size(__reps)").cast("long").alias("reps_valid"),
        )
        .orderBy("grp")
    )


def greedy_source_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    steps: int = 4,
) -> DataFrame:
    """X131: greedy source selection by marginal vocabulary gain —
    the submodular-coverage answer to "which ``steps`` sources buy
    the most distinct content?": repeatedly pick the source whose
    shingle set adds the most NOT-YET-COVERED distinct shingles
    (the 1−1/e-approximate max-coverage greedy; Nemhauser et al.
    1978).  Raw size ranks mirror-heavy sources first; marginal
    gain ranks them last — this is the acquisition-order table
    X140's novelty audit implies.

    Determinism: ties break on ascending source name; gains are
    exact distinct counts.  The selection loop is UNROLLED into the
    plan (``steps`` anti-join rounds) — no driver-side collect; each
    round's covered set is localCheckpoint-ed so round r does not
    replay rounds 1..r−1.  A source with NO uncovered shingles left
    is unpickable (zero marginal value), so once coverage is
    complete the output stops early with fewer than ``steps`` rows —
    the oracle unrolls to the identical convention.

    Scale: per round, one shingle-keyed anti-join + one group count
    + a |sources|-row argmax — the corpus-sized table is touched
    once per round, always key-partitioned; covered-set size is
    bounded by distinct corpus shingles."""
    from .dedup import doc_shingles

    grp = df.select(F.col(id_col), F.col(group_col).alias("__grp"))
    ss = (
        doc_shingles(df, id_col, text_col)
        .join(grp, id_col)
        .select("__grp", "shingle")
        .distinct()
        .localCheckpoint(eager=True)
    )
    covered = None
    winners = []
    for step in range(1, steps + 1):
        remaining = (
            ss
            if covered is None
            else ss.join(covered, "shingle", "left_anti")
        )
        gains = remaining.groupBy("__grp").agg(
            F.count(F.lit(1)).cast("long").alias("gain")
        )
        # Lazy checkpoint (r14): the winner row persists when the
        # covered set below materializes (one driver sync per step
        # instead of two); the final union re-reads the persisted row.
        winner = (
            gains.orderBy(F.col("gain").desc(), F.col("__grp").asc())
            .limit(1)
            .select(
                F.lit(step).cast("long").alias("step"),
                F.col("__grp"),
                "gain",
            )
            .localCheckpoint(eager=False)
        )
        winners.append(winner)
        newly = remaining.join(
            F.broadcast(winner.select("__grp")), "__grp"
        ).select("shingle")
        covered = (
            newly
            if covered is None
            else covered.union(newly)
        ).distinct().localCheckpoint(eager=True)
    out = winners[0]
    for w in winners[1:]:
        out = out.unionByName(w)
    from pyspark.sql.window import Window

    wc = Window.orderBy("step").rowsBetween(Window.unboundedPreceding, 0)
    return out.select(
        "step",
        F.col("__grp").alias(group_col),
        "gain",
        F.sum("gain").over(wc).cast("long").alias("covered_total"),
    ).orderBy("step")


def uniform_group_sample(
    df: DataFrame, group_col: str, id_col: str, n: int
) -> DataFrame:
    """r10-queue: exact deterministic top-``n`` uniform draw PER
    GROUP — X9's stratified sampler gives hash-Bernoulli *fractions*
    (count only approximately proportional); this gives exact
    per-group COUNTS, the form an eval-set builder or per-source
    audit quota actually needs. The draw order is (md5(id), id) —
    seed-free, engine-reproducible, uniform over each group.

    Output: the sampled rows as (group, id, draw_rank), draw_rank
    1..n within each group.

    Scale: the naive form is one row_number window per group —
    a mega-group becomes one unbounded window partition. Delegates
    to ``similarity._topb_per_group`` (the SAME two-phase seed-free
    draw the IVF centroid machinery uses — one implementation, r9
    review finding): each input partition pre-prunes to its local
    top-n per group, then the global window ranks only survivors —
    no whole-group single-task window at any scale."""
    from .similarity import _topb_per_group

    return (
        _topb_per_group(
            df.select(F.col(group_col), F.col(id_col)),
            group_col,
            id_col,
            int(n),
            rank_col="draw_rank",
        )
        .withColumn("draw_rank", F.col("draw_rank").cast("long"))
        .orderBy(group_col, "draw_rank")
    )


def mixture_epoch_plan(
    df: DataFrame,
    group_col: str,
    text_col: str,
    budget_tokens: int,
    alpha: float = 0.5,
    cap_epochs_e6: int = 4_000_000,
) -> DataFrame:
    """X170: data-constrained mixture plan — X19 computes the
    temperature weights; this computes what those weights COST in
    repetition: each source's token allocation under a total
    ``budget_tokens``, the implied epochs over its available unique
    tokens, and the one-shot cap at ``cap_epochs_e6`` (default 4
    epochs — the Muennighoff et al. 2023 point past which repeated
    tokens stop buying loss).  A plan whose small-source epochs blow
    past the cap is the temperature telling you it wants data that
    does not exist; the capped deficit is exactly the budget that
    must move to the uncapped sources (reported, not silently
    reallocated — reallocation is a POLICY, this is the
    accounting).

    Exactness: X19's rounded-before-sum ^alpha weights; allocation
    = (budget·w_s) div Σw (exact integer); epochs_e6 = (10⁶·alloc)
    div n_tokens; the cap is integer min; deficit = alloc −
    capped_alloc.  All arithmetic DECIMAL(38,0)-safe (budget·w
    reaches 1e6·1e12 at web scale).

    Scale: one corpus scan for per-source token counts (size of the
    canonical token array, map-side combinable), then a |sources|-
    row table crossed with its own 1-row broadcast total."""
    from .dedup import tokens

    counts = df.groupBy(F.col(group_col).alias("source")).agg(
        F.sum(F.size(tokens(text_col))).cast("long").alias("n_tokens")
    )
    powed = (
        F.sqrt(F.col("n_tokens").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
    )
    scaled = counts.withColumn(
        "__ws", F.round(powed * 1_000_000.0).cast("long")
    )
    total = scaled.agg(F.sum(F.col("__ws").cast("decimal(38,0)")).alias("__wt"))
    return (
        scaled.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_tokens",
            F.expr("(1000000 * __ws) div CAST(__wt AS LONG)")
            .cast("long")
            .alias("weight_ppm"),
            F.expr(
                f"CAST((CAST({budget_tokens} AS DECIMAL(38,0)) * __ws) "
                "div __wt AS LONG)"
            ).alias("alloc_tokens"),
        )
        .select(
            "source",
            "n_tokens",
            "weight_ppm",
            "alloc_tokens",
            F.expr(
                "CASE WHEN n_tokens = 0 THEN 0 ELSE "
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * alloc_tokens) "
                "div n_tokens AS LONG) END"
            ).alias("epochs_e6"),
        )
        .select(
            "source",
            "n_tokens",
            "weight_ppm",
            "alloc_tokens",
            "epochs_e6",
            F.expr(f"least(epochs_e6, CAST({cap_epochs_e6} AS LONG))")
            .cast("long")
            .alias("capped_epochs_e6"),
            F.expr(
                f"CASE WHEN epochs_e6 <= {cap_epochs_e6} THEN 0 ELSE "
                f"alloc_tokens - CAST((CAST({cap_epochs_e6} AS "
                "DECIMAL(38,0)) * n_tokens) div 1000000 AS LONG) END"
            )
            .cast("long")
            .alias("deficit_tokens"),
        )
        .orderBy("source")
    )


def mixture_design_effect(
    df: DataFrame,
    group_col: str,
    alphas: tuple[float, ...] = (0.3, 0.5, 0.7, 1.0),
) -> DataFrame:
    """X185: Kish effective sample size / design effect of the X19
    temperature-mixture weights, swept over a temperature grid — the
    survey-statistics answer to "what does alpha COST in statistical
    efficiency": weighting docs by w_s proportional to n_s^alpha
    makes estimates behave like n_eff = (sum n_s*w_s)^2 /
    (sum n_s*w_s^2) unweighted samples (Kish 1965); deff = n/n_eff
    is the variance inflation the rebalancing buys its domain
    coverage with.  The per-DOC importance weight of the alpha mix
    relative to the raw corpus is w_s ∝ p_s/(n_s/N) ∝ n_s^(alpha-1)
    — so alpha=1 (proportional) has every weight equal and deff=1
    EXACTLY (pinned by test), and the grid shows the efficiency
    slope as temperature sharpens, next to X19 (the weights), X92
    (UniMax caps) and X170 (epoch costs).

    Exactness: per-source weights are scaled-integer rounds
    w = round(1e12*n^(alpha-1)) BEFORE any sum (e12 keeps
    resolution for the sub-unity powers); the two accumulations
    n*w and n*w^2 run in DECIMAL(38,0); n_eff and deff are each ONE
    IEEE double expression over exact integers (cast, multiply,
    divide — no float accumulation).

    Scale: one |S|-row count aggregate crossed with the constant
    alpha grid; everything downstream is |S|*|alphas| rows."""
    counts = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    grid = counts.select(
        "__g",
        "__n",
        F.explode(
            F.array(*[F.lit(int(round(a * 100))) for a in alphas])
        ).alias("alpha_e2"),
    ).withColumn(
        "__w",
        F.round(
            F.pow(
                F.col("__n").cast("double"),
                F.col("alpha_e2") / 100.0 - 1.0,
            )
            * 1_000_000_000_000.0
        ).cast("long"),
    )
    return (
        grid.groupBy("alpha_e2")
        .agg(
            F.sum("__n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_sources"),
            F.sum(F.col("__n").cast("decimal(38,0)") * F.col("__w")).alias(
                "__s1"
            ),
            F.sum(
                F.col("__n").cast("decimal(38,0)")
                * F.col("__w")
                * F.col("__w")
            ).alias("__s2"),
        )
        .select(
            "alpha_e2",
            "n_docs",
            "n_sources",
            F.expr(
                "CAST(__s1 AS DOUBLE) * CAST(__s1 AS DOUBLE) "
                "/ CAST(__s2 AS DOUBLE)"
            ).alias("n_eff"),
            F.expr(
                "CAST(n_docs AS DOUBLE) * CAST(__s2 AS DOUBLE) "
                "/ (CAST(__s1 AS DOUBLE) * CAST(__s1 AS DOUBLE))"
            ).alias("deff"),
        )
        .orderBy("alpha_e2")
    )
