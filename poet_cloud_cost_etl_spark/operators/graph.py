"""Connected components over a near-duplicate pair graph — the step
that turns pairwise dedup hits (X2/X3 operators) into CLUSTERS, so a
pipeline can keep one canonical document per cluster. The reference
stops at pairwise loading (it has no graph stage); this is part of the
LLM-training-data extension family (SURVEY §2.11).

Algorithm: iterative min-label propagation. Every node starts labeled
with its own id; each round, a node adopts the minimum label among
itself and its neighbors; at fixpoint every node carries the minimum
node id of its component (which doubles as a canonical, deterministic
cluster id — no engine-specific numbering).  ``cluster_hops`` runs the
same fixpoint loop over the same adjacency with a min-plus relaxation.

Scale notes (100 TB):

- One round = one shuffle of the (symmetrized) edge list joined to the
  current labels + a min-aggregate — all hash-partitioned on node id,
  broadcast-free, skew handled by AQE.
- Rounds needed = the largest hop distance from a node to its
  component's minimum id. Every near-dup graph the registry builds
  needs exactly one (sf0.01: 25 edges; sf0.1: 256 edges over 477
  endpoints), so the loop ends at its first probe, after two rounds.
  ``max_iter`` caps adversarial chains, and deep chains are real: 12
  documents that are sliding 6-word windows form a 3-gram Jaccard 0.6
  path of radius 11.
- Measured alternatives, both removed (4 cores, ``local[4]``, sf0.1):
  a fixed budget of 4 lazy rounds plus a confirming round ran 5 rounds
  where the probe loop runs 2 (e.g. ``dedup_clusters`` 3.07 → 2.71 s,
  30 → 18 jobs without it) and raised on the chain above; the
  O(log n)-round large-star/small-star alternation [Kiveris et al.,
  "Connected Components in MapReduce and Beyond"] lost on the two
  deepest registry graphs, ``mutual_knn_clusters`` (9 rounds: 4.41 vs
  3.65 s, 78 vs 68 jobs) and ``dedup_lsh_clusters_star`` (5 rounds:
  3.03 vs 2.58 s, 46 vs 29 jobs).
- Rounds chain through lazy ``localCheckpoint``s, which cut the
  lineage — without them the plan doubles per iteration and the driver
  re-optimizes an exponentially growing tree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Return ``(id_col, cluster_id)`` where ``cluster_id`` is the
    minimum node id reachable from each node (singletons cluster with
    themselves). ``nodes`` must contain every id that may appear in
    ``edges``; ``edges`` may be directed — it is symmetrized here.
    Raises instead of returning labels when ``max_iter`` rounds do not
    confirm the fixpoint (unconverged labels split components)."""
    adj = _adjacency(nodes, edges, id_col, src_col, dst_col)
    return _min_labels(adj, max_iter).select(
        F.col("node").alias(id_col), F.col("v").alias("cluster_id")
    )


def _symmetrize(
    edges: DataFrame, src_col: str, dst_col: str, a: str, b: str
) -> DataFrame:
    """Distinct ``(a, b)`` rows holding both orientations of every edge.
    Single-reference (r14): both orientations explode out of ONE pass
    over the edge list — a union of two selects referenced the
    (typically expensive) upstream pair chain twice, as two
    concurrently-submitted map stages that each re-executed everything
    after the pair core's internal checkpoint."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src_col).alias(a), F.col(dst_col).alias(b)),
                    F.struct(F.col(dst_col).alias(a), F.col(src_col).alias(b)),
                )
            ).alias("__e")
        )
        .select(f"__e.{a}", f"__e.{b}")
        .distinct()
    )


def _adjacency(
    nodes: DataFrame, edges: DataFrame, id_col: str, src_col: str, dst_col: str
) -> DataFrame:
    """``(a, b, is_self)``: the symmetrized edges plus one ``(v, v,
    true)`` SELF row per node, so a round is join → aggregate with the
    value table referenced exactly once (r14).  EAGER checkpoint: its
    map stages are independent of the round chain, so a lazy adjacency
    would be recomputed by every round's concurrently-submitted join
    stage — measured 2× slower on the CC-heavy bench subset."""
    return (
        _symmetrize(edges, src_col, dst_col, "a", "b")
        .select("a", "b", F.lit(False).alias("is_self"))
        .unionByName(
            nodes.select(
                F.col(id_col).alias("a"),
                F.col(id_col).alias("b"),
                F.lit(True).alias("is_self"),
            )
        )
        .localCheckpoint(eager=True)
    )


def _min_labels(adj: DataFrame, max_iter: int) -> DataFrame:
    """``(node, v)``: min-label propagation to the fixpoint.  Initial
    labels come from the MATERIALIZED self rows, not from ``nodes`` —
    the node frame may itself be an expensive pipeline (r14: measured
    1.6× on mutual_knn_clusters, whose nodes are the gemm top-k vertex
    set)."""
    seeds = adj.filter(F.col("is_self")).select(
        F.col("a").alias("node"), F.col("a").alias("v")
    )
    return _fixpoint(adj, seeds, F.col("v"), max_iter, "connected_components")


def _fixpoint(
    adj: DataFrame, values: DataFrame, relax: Column, max_iter: int, what: str
) -> DataFrame:
    """Relax ``values`` ``(node, v)`` over ``adj`` until nothing
    changes: each round, v(n) := min of ``relax`` over the rows
    ``(n, m, is_self)``, where ``relax`` reads the neighbor's ``v`` and
    ``is_self``.  Returns the fixpoint ``(node, v)``; raises after
    ``max_iter`` rounds without one.

    Two rounds per probe: ``relax`` must never increase a value, so the
    probe (round 2k vs 2k−1) detects exactly the fixpoint a per-round
    probe finds, at half the driver syncs.  The previous value rides the
    same aggregate (the self row's term — exactly one self row per
    node), so the probe is a scan-filter over the round's own output."""

    def _round(cur: DataFrame, with_prev: bool = False) -> DataFrame:
        joined = adj.join(cur, adj["b"] == cur["node"]).select(
            F.col("a").alias("__n"), relax.alias("v"), "is_self"
        )
        aggs = [F.min("v").alias("v")]
        if with_prev:
            aggs.append(F.min(F.when(F.col("is_self"), F.col("v"))).alias("__prev"))
        return joined.groupBy("__n").agg(*aggs).withColumnRenamed("__n", "node")

    it = 0
    while it < max_iter:
        step = min(2, max_iter - it)
        for _ in range(step - 1):
            values = _round(values).localCheckpoint(eager=False)
        # LAZY probe checkpoint (r15): the count below is its
        # materializing action, so the probe costs ONE driver sync.
        # The frame has no other consumer before the count, so the
        # lazy-recompute race the eager adjacency avoids cannot occur.
        both = _round(values, with_prev=True).localCheckpoint(eager=False)
        it += step
        values = both.select("node", "v")
        # NULL-safe (r15): an edge endpoint missing from ``nodes`` has
        # no self row, so its __prev is NULL; it keeps reading as
        # changed until max_iter raises, instead of a round where only
        # such nodes changed reading as converged.  Full-scan count,
        # not limit(1): a limit runs CollectLimit's incremental
        # partition rounds as separate jobs and then backfills the
        # checkpoint (measured r15: ~0.5-1 s slower per CC query).
        if both.filter(
            (F.col("v") != F.col("__prev")) | F.col("__prev").isNull()
        ).count() == 0:
            return values
    raise RuntimeError(
        f"{what} did not confirm convergence in {max_iter} rounds — set "
        "max_iter > graph diameter (diameter rounds reach the fixpoint; "
        "one more confirms it)"
    )


def pagerank_ppm(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    iters: int = 8,
    damping_pct: int = 85,
) -> DataFrame:
    """X78: PageRank over an undirected pair graph in EXACT ppm
    integer arithmetic — the template/hub detector for the near-dup
    graph: a boilerplate page that half the crawl partially copies
    accumulates rank from every neighbor, while members of a closed
    duplicate cluster stay near uniform.  Curation reviews the top
    of this ranking the way search reviewed link hubs.

    Semantics: edges are symmetrized (a→b and b→a); scores start at
    1e6 ppm-of-uniform per node and update
    p' = (100 − d)·1e4 + (d · Σ_j p_j div deg_j) div 100
    for exactly ``iters`` rounds with damping d = ``damping_pct``.
    ALL integer arithmetic: per-neighbor contributions are integer
    divisions and the neighbor sum is an order-free integer SUM — no
    float summation-order hazard in either engine (the repo's ppm
    convention; the div-truncation mass loss is part of the pinned
    definition, bounded by deg per node per round).  Isolated nodes
    never enter (no edges — rank is about the graph).

    Scale: per iteration one (dst-keyed) aggregate over the edge
    list joined to the current score table — the textbook
    edge-partitioned PageRank; scores/degrees are node-sized.
    The symmetrized (src, dst, deg) edge frame is materialized ONCE
    (localCheckpoint) before the loop: the upstream edge list is
    typically an expensive LSH/similarity-join chain, and without
    the pin every iteration would replay it from the parquet scan —
    8 iterations cost 8 pair-generations instead of 1.
    localCheckpoint per round caps the score lineage exactly like
    CC."""
    sym = _symmetrize(edges, src_col, dst_col, "src", "dst")
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    # r14: the 8 per-iteration checkpoints are LAZY (lineage cut, RDD
    # persisted, each iteration referenced once by the next) so the
    # whole chain materializes inside the caller's single job — the
    # former eager form was 8 driver-synced jobs.  sym_deg stays EAGER:
    # its join stage is independent of the score chain, so every
    # iteration's concurrently-submitted map stage would recompute a
    # lazy sym_deg (and its upstream pair generation) from scratch.
    sym_deg = sym.join(deg, "src").localCheckpoint(eager=True)
    deg = sym_deg.select("src", "deg").distinct()
    p = deg.select(
        F.col("src").alias("node"), F.lit(1_000_000).cast("long").alias("p")
    )
    base = (100 - damping_pct) * 10_000
    for _ in range(int(iters)):
        contrib = (
            sym_deg.join(p, sym_deg.src == p.node)
            .select(F.col("dst"), F.expr("p div deg").alias("c"))
        )
        p = (
            contrib.groupBy("dst")
            .agg(F.sum("c").cast("long").alias("__s"))
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"{base} + ({damping_pct} * __s) div 100"
                ).cast("long").alias("p"),
            )
            .localCheckpoint(eager=False)
        )
    return p.select(
        F.col("node"),
        (F.col("p").cast("double") / 1_000_000.0).alias("pagerank"),
    )


def hyperedge_components(
    members: DataFrame,
    group_cols: list[str],
    member_col: str,
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 20,
) -> DataFrame:
    """X89: connected components over HYPEREDGES (group-membership
    tables) without ever materializing in-group pairs — the scale
    path for LSH-bucket clustering: X7 expands each bucket of m docs
    into m·(m−1)/2 candidate pairs before clustering, which is
    exactly the quadratic blow-up the skew split exists to contain;
    but when the goal is the CLUSTERS (not scored pairs), the
    expansion is pure waste.  A bucket is a hyperedge — replace its
    clique with the m−1 STAR edges (member → bucket-min) and the
    connected components are IDENTICAL (each bucket stays internally
    connected through its min; unions of buckets compose unchanged —
    asserted against the clique expansion by test).  Pair count
    drops from Σ m²/2 to Σ m, and a degenerate 10⁶-member bucket
    (the hot-bucket hazard) costs 10⁶ edges, not 5·10¹¹.

    This is the standard single-linkage trick in minhash dedup at
    corpus scale (the "bucket → union-find" formulation of
    Lee et al. 2022 Deduplicating Training Data Makes LMs Better —
    pair scoring is skipped entirely when banding alone decides).

    ``members``: one row per (group, member); ``nodes`` defaults to
    the distinct members (pass the full corpus to cluster singletons
    with themselves).

    Scale: one group-keyed min-window (map-side combinable via the
    groupBy/join form below — no collect_list), then the shared
    minlabel/checkpoint CC machinery over a member-count-sized edge
    list."""
    g = [F.col(c) for c in group_cols]
    # The membership table feeds BOTH the bucket-min aggregate and the
    # star join (and the default nodes) — materialize it once (r14):
    # un-pinned, each reference re-executed the whole upstream banded-
    # signature chain (the expensive md5 pipeline) in its own stage.
    members = members.localCheckpoint(eager=True)
    mins = members.groupBy(*g).agg(F.min(member_col).alias("__gmin"))
    star = (
        members.join(mins, group_cols)
        .filter(F.col(member_col) != F.col("__gmin"))
        .select(
            F.col(member_col).alias("src"), F.col("__gmin").alias("dst")
        )
        .distinct()
    )
    if nodes is None:
        nodes = members.select(F.col(member_col).alias(id_col)).distinct()
    return connected_components(
        nodes, star, id_col=id_col, max_iter=max_iter
    )


def cluster_hops(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """X94: hop distance from every node to its cluster canonical
    (the min-id root) — the DEPTH companion to X82's edge-density
    audit: a near-dup cluster whose members sit many hops from the
    survivor was built by TRANSITIVE chaining (A≈B≈C≈D with A≉D),
    exactly the over-merge mode a pairwise threshold can't see.
    radius (max hops) per cluster is the review dial: radius ≤ 1 is
    a star of true dups; radius ≥ 3 at a 0.5 threshold deserves a
    human look before the cluster collapses to one survivor.

    Semantics: BFS level over the symmetrized graph from each
    component's min-id node (components computed here via the shared
    CC machinery, so labels and roots agree with X7 by
    construction).  Exact integers; singletons have hops 0.

    Scale: CC (shared machinery) + diameter-many min-plus rounds,
    each one edge-keyed join + node-keyed min aggregate with
    localCheckpoint lineage cuts — same per-round shape and cost as
    one CC round.  Convergence is confirmed (a round that changes
    nothing), never assumed."""
    adj = _adjacency(nodes, edges, id_col, src_col, dst_col)
    labels = _min_labels(adj, max_iter).withColumnRenamed("v", "cluster_id")
    dist = labels.select(
        "node",
        F.when(F.col("node") == F.col("cluster_id"), F.lit(0))
        .otherwise(F.lit(1_000_000_000))
        .cast("long")
        .alias("v"),
    )
    # a self row contributes d + 0, a neighbor d + 1
    hops = _fixpoint(
        adj,
        dist,
        F.col("v") + F.when(F.col("is_self"), F.lit(0)).otherwise(F.lit(1)),
        max_iter,
        "cluster_hops",
    )
    return labels.join(hops, "node").select(
        F.col("node").alias(id_col), "cluster_id", F.col("v").alias("hops")
    )


def modularity(
    clusters: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """X124: Newman-Girvan modularity of a clustering over an
    evidence graph (Newman & Girvan 2004) — the one-number answer
    to "is this dedup partition real structure or an artifact of
    the threshold?": Q = Σ_c [e_c/m − (d_c/2m)²] compares each
    cluster's internal edge fraction against the degree-preserving
    null model.  Q near 0 means the clustering explains nothing
    beyond degrees (threshold too low — one giant hairball); the
    complement to X82's per-cluster density: X82 flags WHICH
    clusters are chain-merges, Q scores the partition as a whole,
    tracked across threshold dials.

    Exactness: all counts (m, per-cluster within-edges e_c, degree
    sums d_c) are exact integers in DECIMAL(38,0) (Σd_c² reaches
    4m², the X111 overflow argument); obs_ppm = (10⁶·Σe_c) div m
    and exp_ppm = (10⁶·Σd_c²) div (4m²) are exact NON-NEGATIVE
    integer divisions, and modularity_ppm := obs_ppm − exp_ppm — a
    difference of two floored ppms, deterministic and
    engine-identical, never a negative-numerator division (Spark
    div truncates, DuckDB // floors; the X120 trap).  m = 0 →
    NULLs (X91).

    Scale: two id-keyed label joins (the volumes CC already
    processed), one degree aggregate, two cluster-keyed aggregates,
    and a 1-row panel.  Nothing touches more than the edge list."""
    lab = clusters.select(F.col(id_col).alias("__id"), "cluster_id")
    e2 = (
        edges.select(F.col(src_col).alias("__a"), F.col(dst_col).alias("__b"))
        .join(lab.withColumnRenamed("__id", "__a").withColumnRenamed(
            "cluster_id", "__ca"), "__a")
        .join(lab.withColumnRenamed("__id", "__b").withColumnRenamed(
            "cluster_id", "__cb"), "__b")
    )
    within = e2.filter("__ca = __cb").groupBy("__ca").agg(
        F.count(F.lit(1)).alias("ec")
    )
    deg = (
        edges.select(
            F.explode(F.array(F.col(src_col), F.col(dst_col))).alias("__id")
        )
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dc = deg.join(lab, "__id").groupBy("cluster_id").agg(
        F.sum("d").alias("dcs")
    )
    m = edges.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("m"))
    s = (
        dc.join(within, dc.cluster_id == within["__ca"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum(F.coalesce("ec", F.lit(0))).cast("decimal(38,0)").alias(
                "sum_ec"
            ),
            F.sum(F.expr("CAST(dcs AS DECIMAL(38,0)) * dcs")).alias(
                "sum_dc2"
            ),
        )
        .crossJoin(F.broadcast(m))
    )
    return s.select(
        F.expr("CAST(m AS BIGINT)").alias("n_edges"),
        "n_clusters",
        F.expr(
            "CASE WHEN m > 0 THEN CAST((1000000 * sum_ec) div m AS BIGINT) "
            "END"
        ).alias("obs_within_ppm"),
        F.expr(
            "CASE WHEN m > 0 THEN "
            "CAST((1000000 * sum_dc2) div (4 * m * m) AS BIGINT) END"
        ).alias("exp_within_ppm"),
        F.expr(
            "CASE WHEN m > 0 THEN "
            "CAST((1000000 * sum_ec) div m - "
            "(1000000 * sum_dc2) div (4 * m * m) AS BIGINT) END"
        ).alias("modularity_ppm"),
    )
