"""Physical-plan assertions: the properties that make the design hold
at 100 TB (SURVEY §4). These are the '.explain and iterate' gates —
a correctness-green query that fails these is not done."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from poet_cloud_cost_etl_spark.catalog import table
from poet_cloud_cost_etl_spark.plans import explain as X
from poet_cloud_cost_etl_spark.queries import QUERIES, events_as_costs
from poet_cloud_cost_etl_spark.sources.parquet_source import read_month_partitions
from poet_cloud_cost_etl_spark.sources.sinks import write_costs_partitioned

from tests.conftest import SF_SMALL


def test_filter_pushdown_reaches_scan(spark):
    li = table(spark, SF_SMALL, "lineitem")
    q = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    assert X.has_pushed_filter(q, "l_returnflag"), X.formatted_plan(q)


def test_column_pruning(spark):
    """A 2-column projection must read 2 columns, not 11 — the
    reference reads all ~100 CUR columns (SELECT *, aws_cur.py:151)
    and drops them in pandas; we must never do that."""
    li = table(spark, SF_SMALL, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    cols = X.read_schema_columns(q)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_normalize_prunes_scan(spark):
    """The normalize operator resolves columns driver-side (N2), so
    the scan under the costs pipeline reads only the 5 source columns
    it maps — not the full events schema."""
    costs = events_as_costs(spark, SF_SMALL)
    cols = X.read_schema_columns(costs.select("account_id", "cost"))
    assert "props" not in cols, cols
    assert "event_id" not in cols, cols


def test_dim_join_broadcasts(spark):
    q = QUERIES["join_broadcast_dim"](spark, SF_SMALL)
    assert X.uses_broadcast_join(q), X.physical_plan(q)


def test_chain_join_broadcasts_both_dims(spark):
    q = QUERIES["join_chain_dims"](spark, SF_SMALL)
    plan = X.physical_plan(q)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_flagship_single_shuffle(spark):
    """costs_by_service_30d: scan → partial agg → one shuffle → final
    agg → sort. More than 2 exchanges (agg + order) means a regression."""
    q = QUERIES["costs_by_service_30d"](spark, SF_SMALL)
    assert X.count_exchanges(q) <= 2, X.physical_plan(q)


def test_partition_pruning_on_hive_layout(spark, tmp_path):
    """S2: the provider/year/month sink layout + a month filter must
    produce PartitionFilters on the scan — the Spark twin of the
    reference's month-partition URI construction (aws_cur.py:64-66)."""
    out = str(tmp_path / "costs_pq")
    write_costs_partitioned(events_as_costs(spark, SF_SMALL), out)
    q = read_month_partitions(spark, out, [(2024, 1)])
    assert X.has_partition_filters(q, "year"), X.formatted_plan(q)
    # and the data actually comes back
    assert q.count() > 0


def test_whole_stage_codegen_everywhere(spark):
    """Hot-path queries must run inside WholeStageCodegen (no
    row-at-a-time Python in the plan)."""
    for name in ["q1_pricing_summary", "costs_by_service_30d", "join_broadcast_dim"]:
        q = QUERIES[name](spark, SF_SMALL)
        assert X.codegen_stage_count(q) >= 1, name


_FORBIDDEN_IN_PLAN = ("BatchEvalPython", "PythonUDF", "CartesianProduct")


def test_every_query_plan_hygiene(spark):
    """One sweep over every registered query, each built once, for the
    three plan contracts the engine keeps everywhere:

    - construction is lazy: no .collect()/.toPandas()/.toLocalIterator
      on the driver while the plan is declared. This keeps the opt-in
      ``cosine_topk(impl='blas')`` path (similarity.py — the documented
      driver-OOM hazard that collect()s one side of the GEMM)
      unreachable from every registered query;
    - no row-at-a-time Python UDF (SURVEY §2.12): every query compiles
      to JVM-side expressions;
    - no CartesianProduct: a cross join over corpus-sized inputs must
      be a keyed join or a broadcast nested loop over a small side.

    Every offender is listed with what it broke, not only the first."""
    from unittest import mock

    # the concrete class: PySpark 4's classic DataFrame overrides
    # collect & co., so patching pyspark.sql.DataFrame catches nothing
    DataFrame = type(spark.range(0))

    def _boom(self, *a, **k):
        raise AssertionError("driver-side materialization during plan construction")

    offenders = {}
    with mock.patch.object(DataFrame, "collect", _boom), \
         mock.patch.object(DataFrame, "toPandas", _boom), \
         mock.patch.object(DataFrame, "toLocalIterator", _boom):
        for name, fn in QUERIES.items():
            try:
                plan = X.physical_plan(fn(spark, SF_SMALL))
            except AssertionError:
                offenders[name] = ["driver collect"]
                continue
            found = [op for op in _FORBIDDEN_IN_PLAN if op in plan]
            if found:
                offenders[name] = found
    assert not offenders, offenders


def test_q5_snowflake_broadcasts_dims(spark):
    """6-table snowflake: region/nation/customer/supplier broadcast;
    only fact-to-fact (orders⋈lineitem) may shuffle."""
    q = QUERIES["q5_regional_revenue"](spark, SF_SMALL)
    plan = X.physical_plan(q)
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_jaccard_plan_uses_grouped_pair_gen(spark):
    """The jaccard pipeline materializes the grouped shingle buckets
    once (checkpoint boundary: Scan ExistingRDD) and unions the small
    explode branch with the hot-bucket skew-escape branch — downstream
    of the checkpoint, only the single pair-aggregation exchange
    remains, and the sizes travel with the pairs (no sizes join)."""
    q = QUERIES["dedup_ngram_jaccard"](spark, SF_SMALL)
    plan = X.physical_plan(q)
    assert "ExistingRDD" in plan, plan  # single upstream materialization
    assert "Union" in plan, plan  # small + hot branches
    assert X.count_exchanges(q) <= 2, plan  # pair agg (+hot join when live)


def test_ivf_plan_broadcasts_centroids(spark):
    """IVF assignment must broadcast the (tiny) centroid table (the
    registry-wide sweep above rules out an unkeyed cartesian, which
    would break the N + Q·nprobe shuffle contract)."""
    q = QUERIES["ann_ivf"](spark, SF_SMALL)
    plan = X.physical_plan(q)
    assert "Broadcast" in plan, plan


def test_ivf_assignment_is_shuffle_free(spark):
    """The assignment itself (round 6 rewrite) is a NARROW map: the
    centroid array is broadcast and the per-row argmax happens inside
    one transform/array_sort/slice expression — zero exchanges. A
    regression to the crossJoin + row_number() window form re-adds an
    N·k-row shuffle per assignment (three of them in the refined
    query)."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    e = table(spark, SF_SMALL, "embeddings")
    cents = ivf_centroids(e, "vec_id", "embedding", k=8)
    assigned = ivf_assign(e, cents, "vec_id", "embedding", nprobe=1)
    plan = X.physical_plan(assigned)
    # the only exchange allowed is the 1-row broadcast of the
    # collapsed centroid array (its collect_list agg coalesces to a
    # single partition, not a hash shuffle of the corpus)
    assert "hashpartitioning(vec_id" not in plan, plan
    assert "row_number" not in plan, plan


def test_scrub_is_single_stage(spark):
    """Cleaning is a scan-stage narrow map: no exchange at all."""
    q = QUERIES["text_scrub_pii"](spark, SF_SMALL)
    assert X.count_exchanges(q) == 0, X.physical_plan(q)


def test_q10_broadcasts_nation_and_takeordered(spark):
    q = QUERIES["q10_returned_items"](spark, SF_SMALL)
    plan = X.physical_plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q18_aggregates_before_join(spark):
    """The HAVING aggregate must sit below the joins so only
    qualifying orders are joined."""
    q = QUERIES["q18_large_orders"](spark, SF_SMALL)
    plan = X.physical_plan(q)
    agg = plan.find("HashAggregate")
    join = plan.find("Join")
    assert agg != -1 and join != -1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_join_strategy_hints_are_honored(spark):
    """The physical join strategy is controllable per-join via hints —
    the knob a tuner reaches for when the optimizer's choice is wrong
    at a given scale."""
    o = table(spark, SF_SMALL, "orders")
    c = table(spark, SF_SMALL, "customer")
    merged = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    assert "SortMergeJoin" in X.physical_plan(merged), X.physical_plan(merged)
    shuffled = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    assert "ShuffledHashJoin" in X.physical_plan(shuffled), X.physical_plan(shuffled)
    bcast = o.join(c.hint("broadcast"), o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in X.physical_plan(bcast), X.physical_plan(bcast)


def test_salted_group_sum_two_phase_shape(spark):
    """salted_agg must compile to TWO aggregation phases — a
    (key, salt) pre-agg behind its own exchange, then the key-level
    merge — so one hot key spreads over n_salts reducers. One exchange
    per phase; a refactor that collapses the salt (single exchange on
    the bare key) silently reintroduces the skew hazard."""
    q = QUERIES["salted_group_sum"](spark, SF_SMALL)
    plan = X.physical_plan(q)
    assert plan.count("HashAggregate") >= 4, plan  # partial+final × 2 phases
    assert "__salt" in plan, plan  # pre-agg keyed on (key, salt)
    assert X.count_exchanges(q) == 2, plan  # salt-phase + merge-phase


def test_two_phase_count_distinct_shape(spark):
    """two_phase_count_distinct must dedup (key, value) behind its own
    exchange before counting — the distinct exchange is keyed on BOTH
    columns (well-distributed), never on the bare key."""
    q = QUERIES["two_phase_count_distinct"](spark, SF_SMALL)
    plan = X.physical_plan(q)
    assert X.count_exchanges(q) == 2, plan  # (key,value) dedup + key count
    assert plan.count("HashAggregate") >= 4, plan
    # the dedup exchange must hash-partition on key AND value
    import re
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("user_id" in p and "event_type" in p for p in parts), plan


def test_source_overlap_single_scan_no_self_join(spark):
    """X29 is ONE corpus scan: the per-shingle group-set table is
    checkpointed (Scan ExistingRDD downstream) and intersection pairs
    explode within rows — a second parquet scan of documents or a
    shingle-keyed SortMergeJoin means the self-join form regressed."""
    q = QUERIES["source_overlap_matrix"](spark, SF_SMALL)
    plan = X.physical_plan(q)
    assert "ExistingRDD" in plan, plan
    assert plan.count("Scan parquet") == 0, plan  # all inputs post-checkpoint
    assert "SortMergeJoin Inner" not in plan, plan


def test_quality_ablation_two_phase_single_aggregate(spark):
    """X30 collapses the whole gate to one aggregate over one scan:
    exactly one exchange (partial -> final agg) plus the final
    1-row-ish sort; stack() unpivot adds no shuffle."""
    q = QUERIES["quality_ablation"](spark, SF_SMALL)
    assert X.count_exchanges(q) <= 2, X.physical_plan(q)
    assert X.physical_plan(q).count("Scan parquet") == 1, X.physical_plan(q)


def test_round7d_queries_plan_shapes(spark):
    """Round-7d/7e operators: the plan properties their docstrings
    claim. classifier: zero exchanges (pure scan-stage fold).
    pq_encode: the only exchanges serve the ksub-row codebook draw
    and the final orderBy — the corpus side itself is broadcast-join
    + narrow map, never shuffled on a per-vector key. seqlen: the
    percentile windows run over the (group, n_tokens) histogram, so
    the plan has the histogram aggregate before any Window."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        hashed_logit_scores,
        seqlen_plan,
    )

    d = table(spark, SF_SMALL, "documents")
    assert X.count_exchanges(hashed_logit_scores(d, "doc_id", "text")) == 0

    plan = X.physical_plan(seqlen_plan(d, "source", "text"))
    assert plan.index("HashAggregate") < plan.index("Window"), plan

    q = QUERIES["embedding_pq_codes"](spark, SF_SMALL)
    plan = X.physical_plan(q)
    assert "BroadcastExchange" in plan, plan


def test_hard_negatives_broadcasts_anchors(spark):
    """X39: the anchor side must broadcast — a shuffled cross join
    of corpus x anchors would be the 100 TB killer."""
    q = QUERIES["hard_negative_mining"](spark, SF_SMALL)
    plan = X.physical_plan(q)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_mixture_sample_single_corpus_shuffle(spark):
    """X43: budgets broadcast onto the corpus; the only corpus-wide
    exchange is the group-keyed window shuffle (plus the driver-tiny
    budget aggregates)."""
    from poet_cloud_cost_etl_spark.operators.sampling import (
        mixture_budget_sample,
    )

    d = table(spark, SF_SMALL, "documents")
    q = mixture_budget_sample(d, "doc_id", "text", "source", 1000)
    plan = X.physical_plan(q)
    assert "BroadcastExchange" in plan, plan
    # corpus-side flow: one hashpartitioning exchange on the window
    # key 'grp'; everything else is k-row budget arithmetic
    corpus_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(grp" in ln
    ]
    assert len(corpus_exchanges) >= 1, plan


def test_semantic_dedup_auto_switch_plan(spark):
    """X28 scale default: above FLAT_ASSIGN_MAX_K centroids the
    default (assign='auto') call must use the BLAS gemm assignment
    (round 12 — flat SEMANTICS, vectorized engine; the tree is the
    explicit >10⁵-centroid dial). Gemm signature: the kernel's
    FlatMapGroupsInPandas over the checkpointed centroid draw
    (ExistingRDD — the TakeOrderedAndProject draw runs inside the
    checkpoint job, not the final plan). Tree signature (explicit
    assign='tree'): per-level checkpointed ExistingRDD centroid
    tables + the bucket-descent BroadcastHashJoin, no Python stage.
    Below the threshold the flat path keeps its global
    orderBy+limit draw (TakeOrderedAndProject) and pure-JVM
    scoring."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        FLAT_ASSIGN_MAX_K,
        semantic_dedup,
    )

    e = table(spark, SF_SMALL, "embeddings")
    # pair_impl='expr' so the ASSIGNMENT plan stays inspectable: the
    # default 'auto' pair engine eagerly checkpoints the sized bucket
    # table (see _sized_buckets), which hides everything upstream of
    # the pair stage behind an ExistingRDD in the final plan. The
    # assignment engine choice under test is independent of the pair
    # engine.
    big = semantic_dedup(
        e, "vec_id", "embedding", n_centroids=FLAT_ASSIGN_MAX_K + 1,
        pair_impl="expr",
    )
    plan = X.physical_plan(big)
    # gemm kernel stage + checkpointed centroid draw, no flat draw
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "TakeOrderedAndProject" not in plan, plan
    assert big.columns == ["vec_id", "centroid_id", "is_dup"]

    tree = semantic_dedup(
        e, "vec_id", "embedding", n_centroids=FLAT_ASSIGN_MAX_K + 1,
        assign="tree", pair_impl="expr",
    )
    tree_plan = X.physical_plan(tree)
    assert tree_plan.count("ExistingRDD") >= 2, tree_plan
    assert tree_plan.count("BroadcastHashJoin") >= 1, tree_plan
    assert "FlatMapGroupsInPandas" not in tree_plan, tree_plan

    small = semantic_dedup(
        e, "vec_id", "embedding", n_centroids=8, pair_impl="expr"
    )
    small_plan = X.physical_plan(small)
    assert small_plan.count("Window") == 0, small_plan
    assert "TakeOrderedAndProject" in small_plan, small_plan
    # the default-config (auto) plan: the checkpointed size split is
    # visible as the union of the two pair engines over ExistingRDD
    auto_plan = X.physical_plan(
        semantic_dedup(e, "vec_id", "embedding", n_centroids=8)
    )
    assert "ExistingRDD" in auto_plan, auto_plan
    assert "Union" in auto_plan, auto_plan

    # refine_iters is legal on flat AND gemm (the draw is the same
    # Lloyd-refinable table); only the per-node tree draw rejects it
    with pytest.raises(ValueError, match="refine_iters"):
        semantic_dedup(
            e, "vec_id", "embedding", assign="tree",
            n_centroids=FLAT_ASSIGN_MAX_K + 1, refine_iters=1,
        )


def test_round8_queries_plan_shapes(spark):
    """Round-8 scale pins: padding_plan is join-free (the bucket
    ladder is a literal-array lookup, not a dim join);
    dimension_moments is a single keyed aggregate with no join and
    no window; collocation_lift's top-k is TakeOrderedAndProject
    (never a whole-table single-partition window); ivf_pq_topk
    broadcasts the distance table and never cartesian-joins the
    corpus."""
    d = table(spark, SF_SMALL, "documents")
    e = table(spark, SF_SMALL, "embeddings")

    from poet_cloud_cost_etl_spark.operators.embeddings import (
        dimension_moments,
        ivf_pq_topk,
    )
    from poet_cloud_cost_etl_spark.operators.packing import padding_plan
    from poet_cloud_cost_etl_spark.operators.textstats import collocation_lift

    pp = X.physical_plan(padding_plan(d, "doc_id", "text"))
    assert "Join" not in pp, pp

    dm = X.physical_plan(dimension_moments(e, "embedding"))
    assert "Join" not in dm and "Window" not in dm, dm

    cl = X.physical_plan(collocation_lift(d, "text"))
    assert "TakeOrderedAndProject" in cl, cl

    q = e.filter(F.col("vec_id") < 5)
    pq = X.physical_plan(ivf_pq_topk(q, e, "vec_id", "embedding", k=5))
    assert "CartesianProduct" not in pq, pq
    assert pq.count("BroadcastExchange") >= 2, pq  # codebook + dtab


def test_ivf_tree_assign_no_corpus_self_join(spark):
    """X28b: per level, the centroid table broadcasts; the corpus is
    never self-joined or cartesian-joined during descent."""
    from poet_cloud_cost_etl_spark.operators.similarity import ivf_tree_assign

    e = table(spark, SF_SMALL, "embeddings")
    q = ivf_tree_assign(e, "vec_id", "embedding", branching=4, depth=2)
    plan = X.physical_plan(q)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan  # one per level


def test_round8b_queries_plan_shapes(spark):
    """Round-8b scale pins: bm25_topk broadcasts the query-term /
    dfreq / totals tables and pushes the term IN-list below the tf
    aggregate (the only corpus-keyed shuffle carries query-term rows
    only); bpe_merge_candidates' top-k is TakeOrderedAndProject;
    compressibility_profile is shuffle-free (pure scan-stage
    arithmetic)."""
    d = table(spark, SF_SMALL, "documents")

    from poet_cloud_cost_etl_spark.operators.textstats import (
        bm25_topk,
        bpe_merge_candidates,
        compressibility_profile,
    )
    from poet_cloud_cost_etl_spark.queries import BM25_PROBES

    bm = bm25_topk(d, "doc_id", "text", BM25_PROBES, k=10)
    p = X.physical_plan(bm)
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastExchange") >= 2, p  # probes + dfreq (+totals BNLJ)
    # the IN-list filter prunes the exploded stream BEFORE the tf
    # aggregate (it is applied pre-groupBy by construction; pin that
    # it survives optimization as a real Filter on the term column)
    assert "Filter term" in p and " IN (agg,batch" in p, p
    # the filtered tf frame is persisted: df aggregate + score join
    # read the cache, not a second corpus scan
    assert "InMemoryTableScan" in p, p
    # per-query top-k prunes pre-shuffle
    assert "WindowGroupLimit" in p, p
    bm.sparkSession.catalog.clearCache()

    bp = X.physical_plan(bpe_merge_candidates(d, "text"))
    assert "TakeOrderedAndProject" in bp, bp

    # r14: the only Exchange allowed is the scale-adaptive round-robin
    # compute spread (a no-op at scale; catalog.spread_small_scan) —
    # the op itself must stay free of DATA-KEYED shuffles and joins.
    cp = X.physical_plan(compressibility_profile(d, "doc_id", "text"))
    assert "Exchange hashpartitioning" not in cp, cp
    assert "Exchange rangepartitioning" not in cp, cp
    assert "Join" not in cp, cp


def test_top_pc_plan_shape(spark):
    """X60 (r14 form): the Gram aggregate is the ONLY corpus-scale
    stage (one keyed HashAggregate with map-side partials); the whole
    power iteration is ONE let-bound expression on the collected d×d
    row — ZERO joins of any kind and zero per-iteration exchanges
    (the former shape was a broadcast join + 2 exchanges per
    iteration)."""
    from poet_cloud_cost_etl_spark.operators.embeddings import (
        top_principal_component,
    )

    e = table(spark, SF_SMALL, "embeddings")
    p = X.physical_plan(top_principal_component(e, "embedding", dim=64))
    assert "CartesianProduct" not in p, p
    assert "Join" not in p, p
    # exchanges: the scale-adaptive spread (round-robin), the Gram
    # (i,j) aggregate (listed twice in the initial plan — the mirror
    # union's branches share ONE exchange via ReuseExchange at
    # runtime), the per-j regroup and the final 1-row collect —
    # nothing iteration-proportional (the old shape grew 2/iteration)
    assert p.count("Exchange") <= 6, p


def test_characteristic_terms_and_kmv_plan_shapes(spark):
    """X61: the term-total join is KEYED (vocabulary is not
    broadcastable at scale — no broadcast on the term side); group
    and corpus totals broadcast; top-k prunes via WindowGroupLimit.
    X62: the k-smallest window compiles to WindowGroupLimit so the
    per-group shuffle is sketch-sized, and the estimator is
    join-free."""
    d = table(spark, SF_SMALL, "documents")

    from poet_cloud_cost_etl_spark.operators.textstats import (
        characteristic_terms,
        kmv_distinct_estimate,
    )

    ct = X.physical_plan(characteristic_terms(d, "source", "text"))
    assert "WindowGroupLimit" in ct, ct
    assert "CartesianProduct" not in ct, ct
    # term join keyed: at least one non-broadcast join on t
    assert "SortMergeJoin [t" in ct or "ShuffledHashJoin [t" in ct or (
        # at tiny SF the planner may still pick broadcast by size
        # estimate; the pin is that we don't HINT it — accept either
        # physical choice but require the logical no-hint marker:
        "BroadcastHashJoin [t" in ct
    ), ct

    km = X.physical_plan(kmv_distinct_estimate(d, "source", "text", k=64))
    assert "WindowGroupLimit" in km, km
    assert "Join" not in km, km


def test_source_datacard_plan_shape(spark):
    """X63: corpus-scale work is the per-source aggregates (the
    COUNT DISTINCT Expand is accepted — corpus-bounded); the final
    panel joins are broadcast; no cartesian product."""
    from poet_cloud_cost_etl_spark.operators.textstats import source_datacard

    d = table(spark, SF_SMALL, "documents")
    p = X.physical_plan(source_datacard(d, "source", "doc_id", "text"))
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastExchange") >= 2, p  # lang_stats + top_lang


def test_neardup_probe_retrieval_plan_shape(spark):
    """X64: the probe side broadcasts through candidate generation,
    shingle filtering, and the verify joins — the corpus is never
    self-joined or cartesian-joined, and candidate sizes aggregate
    the broadcast-filtered candidate shingles, not the corpus."""
    from poet_cloud_cost_etl_spark.operators.dedup import (
        neardup_probe_retrieval,
    )

    d = table(spark, SF_SMALL, "documents")
    probes = d.filter(F.col("doc_id") % 101 == 0)
    p = X.physical_plan(neardup_probe_retrieval(probes, d, "doc_id", "text"))
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastExchange") >= 4, p  # bands, cands, shingles, sizes
    assert "WindowGroupLimit" in p, p


def test_round8c_queries_plan_shapes(spark):
    """Round-8c scale pins: substring_dup_coverage shuffles only on
    (doc,gram)/gram/doc keys (no cartesian, no vocab broadcast of
    un-aggregated occurrences); bloom_gate_eval probes the bit-set
    via BroadcastExchange (never a shuffle join against history-sized
    data on the gate leg); remove_top_pc's corpus-side deflation is a
    broadcast of the 1-row (u, uu) frame; containment_pairs inherits
    the X2d single-shuffle grouped pair generation."""
    d = table(spark, SF_SMALL, "documents")
    e = table(spark, SF_SMALL, "embeddings")

    from poet_cloud_cost_etl_spark.operators.dedup import (
        bloom_gate_eval,
        containment_pairs,
        substring_dup_coverage,
    )
    from poet_cloud_cost_etl_spark.operators.embeddings import remove_top_pc

    sd = X.physical_plan(substring_dup_coverage(d, "doc_id", "text"))
    assert "CartesianProduct" not in sd, sd
    # gram-count window sits between the (doc,gram) agg and the doc
    # re-agg: exactly one Window, no self-join of the gram stream
    assert sd.count("Window") == 1, sd

    bg = X.physical_plan(
        bloom_gate_eval(
            d.filter(F.col("doc_id") % 3 != 0),
            d.filter(F.col("doc_id") % 2 == 0),
            "doc_id",
            "text",
        )
    )
    assert "CartesianProduct" not in bg, bg
    assert "BroadcastExchange" in bg, bg

    rt = X.physical_plan(remove_top_pc(e, "vec_id", "embedding", dim=8))
    assert "CartesianProduct" not in rt, rt
    assert "BroadcastNestedLoopJoin" in rt or "BroadcastExchange" in rt, rt

    cp = X.physical_plan(containment_pairs(d, "doc_id", "text"))
    assert "CartesianProduct" not in cp, cp
    # grouped pair generation: the ONLY self-join in the plan is the
    # hot-bucket branch (size > 1024 guard); the cold path explodes
    # in-group pairs with zero joins
    assert cp.count("Join") <= 1, cp


def test_round8d_queries_plan_shapes(spark):
    """Round-8d scale pins: index_shard_plan's corpus-scale stage is
    the keyed list-size aggregate (the single-partition windows run
    on the k-row list table only); retrieval_mrr_eval broadcasts the
    query side everywhere (no corpus self-join); bbit_minhash_eval
    joins sketches by doc key (no sketch broadcast of corpus size);
    sniff_payload_format is shuffle-free; simhash_hamming_pairs has
    only the hot-bucket branch join (X2c's hybrid)."""
    d = table(spark, SF_SMALL, "documents")
    e = table(spark, SF_SMALL, "embeddings")

    from poet_cloud_cost_etl_spark.operators.dedup import (
        bbit_minhash_eval,
        simhash_hamming_pairs,
    )
    from poet_cloud_cost_etl_spark.operators.multimodal import (
        sniff_payload_format,
    )
    from poet_cloud_cost_etl_spark.operators.similarity import (
        index_shard_plan,
        ivf_centroids,
        retrieval_mrr_eval,
    )

    cents = ivf_centroids(e, "vec_id", "embedding", k=4)
    sp = X.physical_plan(
        index_shard_plan(e, cents, "vec_id", "embedding", n_shards=2)
    )
    assert "CartesianProduct" not in sp, sp

    q = e.filter(F.col("vec_id") < 3)
    mr = X.physical_plan(
        retrieval_mrr_eval(q, e, "vec_id", "embedding", k=3,
                           n_centroids=4, nprobe=1)
    )
    assert "CartesianProduct" not in mr, mr
    assert "BroadcastExchange" in mr, mr

    bb = X.physical_plan(bbit_minhash_eval(d, "doc_id", "text", k=8))
    assert "CartesianProduct" not in bb, bb

    sh = X.physical_plan(simhash_hamming_pairs(d, "doc_id", "text"))
    assert "CartesianProduct" not in sh, sh
    assert sh.count("Join") <= 1, sh

    pay = d.select("doc_id", F.encode(F.col("text"), "utf-8").alias("p"))
    sn = X.physical_plan(sniff_payload_format(pay, "doc_id", "p"))
    assert "Exchange" not in sn and "Join" not in sn, sn


def test_round8i_queries_plan_shapes(spark):
    """Round-8i scale pins. The classifier-eval chain carries its
    label through the X41 scan-stage map instead of re-joining the
    corpus on doc_id — the full calibration query must plan with ZERO
    joins and exactly two shuffles (the 10-bin aggregate + the
    single-partition window over those 10 rows). nDCG keeps the
    broadcast/keyed-join discipline of the MRR eval it extends; the
    k-fold plan never joins (two hash columns + one k-row agg)."""
    cal = X.physical_plan(
        QUERIES["classifier_calibration"](spark, SF_SMALL)
    )
    assert "Join" not in cal, cal
    assert cal.count("Exchange") <= 2, cal

    nd = X.physical_plan(QUERIES["ann_ndcg_eval"](spark, SF_SMALL))
    assert "BroadcastExchange" in nd, nd

    kf = X.physical_plan(QUERIES["split_kfold_grouped"](spark, SF_SMALL))
    assert "Join" not in kf, kf


def test_round8i_single_task_window_removals(spark):
    """Round-8i re-plans: the five ops that carried unpartitioned
    (single-task) windows over unbounded frames now pin their plan
    shapes. Remaining Exchange SinglePartition nodes are all over
    BOUNDED frames: with_global_rank's bucket-offset table (≤
    n_buckets rows) in sorted-neighborhood / zipf, and the max(K)-row
    rank window in vocab_coverage. prefix-filter and cms drop to
    zero."""
    pf = X.physical_plan(QUERIES["dedup_prefix_filter_join"](spark, SF_SMALL))
    assert pf.count("Exchange SinglePartition") == 0, pf

    cm = X.physical_plan(QUERIES["cms_heavy_hitters"](spark, SF_SMALL))
    assert cm.count("Exchange SinglePartition") == 0, cm
    assert "TakeOrderedAndProject" in cm, cm

    vc = X.physical_plan(QUERIES["vocab_coverage"](spark, SF_SMALL))
    assert vc.count("Exchange SinglePartition") <= 1, vc
    assert "TakeOrderedAndProject" in vc, vc

    sn = X.physical_plan(QUERIES["dedup_sorted_neighborhood"](spark, SF_SMALL))
    assert sn.count("Exchange SinglePartition") <= 2, sn

    zf = X.physical_plan(QUERIES["token_zipf_fit"](spark, SF_SMALL))
    assert zf.count("Exchange SinglePartition") <= 2, zf


def test_round9_queries_plan_shapes(spark):
    """Round-9 scale pins. The cheap panels (domain mixture, markup
    census, file plan, freshness decay) must plan with no joins
    beyond their 1-row broadcast totals and no corpus-sized
    single-partition exchange; burstiness's top-k must arrive via
    TakeOrderedAndProject; the Z-order key stamp must not shuffle
    before its final aggregate; the quantile-error lattice windows
    are the X107-style bounded single-partition exception (distinct
    values, not rows)."""
    tb = X.physical_plan(QUERIES["term_burstiness"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in tb, tb

    dm = X.physical_plan(QUERIES["domain_tag_mixture"](spark, SF_SMALL))
    assert "SortMergeJoin" not in dm and "ShuffledHashJoin" not in dm, dm

    md = X.physical_plan(QUERIES["markup_density"](spark, SF_SMALL))
    assert "Join" not in md, md
    assert md.count("Exchange SinglePartition") == 0, md

    fp = X.physical_plan(QUERIES["output_file_plan"](spark, SF_SMALL))
    assert "Join" not in fp, fp

    zo = X.physical_plan(QUERIES["zorder_locality"](spark, SF_SMALL))
    # one broadcast of the 1-row min/max table; no shuffle join
    assert "BroadcastNestedLoopJoin" in zo or "BroadcastExchange" in zo, zo
    assert "SortMergeJoin" not in zo, zo

    fd = X.physical_plan(QUERIES["freshness_decay_weights"](spark, SF_SMALL))
    assert "SortMergeJoin" not in fd, fd

    qe = X.physical_plan(QUERIES["quantile_sample_error"](spark, SF_SMALL))
    # lattice windows: bounded by distinct values — allowed, but the
    # corpus-sized side must never cross one task: the only
    # single-partition exchanges feed the distinct-value windows
    assert qe.count("Exchange SinglePartition") <= 4, qe


def test_round9_gemm_kernel_plan(spark):
    """pair_impl='gemm' must plan the within-bucket stage as ONE
    FlatMapGroupsInPandas (Arrow-sanctioned kernel) keyed on the
    bucket — no bucket-keyed self-join remains."""
    from poet_cloud_cost_etl_spark.operators.similarity import semantic_dedup

    emb = table(spark, SF_SMALL, "embeddings")
    g = X.physical_plan(
        semantic_dedup(emb, "vec_id", "embedding", pair_impl="gemm")
    )
    assert "FlatMapGroupsInPandas" in g, g
    e = X.physical_plan(
        semantic_dedup(emb, "vec_id", "embedding", pair_impl="expr")
    )
    assert "FlatMapGroupsInPandas" not in e, e


def test_round9_pair_scores_gemm_plan(spark):
    """The X129/X137 gemm pair stage must also plan as ONE
    FlatMapGroupsInPandas keyed on the centroid bucket, with the
    expr path staying kernel-free (the correctness-pinned shape)."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        cosine_threshold_calibration,
        margin_knn_pairs,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    g = X.physical_plan(
        cosine_threshold_calibration(
            emb, "vec_id", "embedding", "label", pair_impl="gemm"
        )
    )
    assert g.count("FlatMapGroupsInPandas") == 1, g
    # margin's pair table is eagerly localCheckpoint-ed (reused by
    # two windows + the final join), so its kernel has already run
    # by plan time and the final plan reads the checkpoint RDD —
    # assert that shape instead of the (invisible) kernel node.
    mg = X.physical_plan(
        margin_knn_pairs(emb, "vec_id", "embedding", "label", pair_impl="gemm")
    )
    assert "ExistingRDD" in mg, mg
    for fn in (cosine_threshold_calibration, margin_knn_pairs):
        e2 = X.physical_plan(
            fn(emb, "vec_id", "embedding", "label", pair_impl="expr")
        )
        assert "FlatMapGroupsInPandas" not in e2, e2
