"""Connected components and cluster hops (operators/graph.py) against
pure-Python references — union-find for the labels, BFS from each
component's minimum id for the hops — on toy fixtures, a chain and the
real sf0.01 near-dup pair graph; plus the loud failures (an
unconverged loop, an edge endpoint missing from ``nodes``)."""

from __future__ import annotations

from collections import defaultdict

import pytest

from poet_cloud_cost_etl_spark.operators.graph import (
    cluster_hops,
    connected_components,
)


def _union_find(nodes, edges):
    """{node: minimum id of its component}: every union hangs the larger
    root under the smaller, so each root is its set's minimum."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _bfs_hops(nodes, edges):
    """{node: (cluster_id, hops from the cluster's minimum id)}."""
    labels = _union_find(nodes, edges)
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    hops = {}
    for root in set(labels.values()):
        hops[root], frontier = 0, [root]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in hops:
                        hops[v] = hops[u] + 1
                        nxt.append(v)
            frontier = nxt
    return {n: (labels[n], hops[n]) for n in nodes}


@pytest.fixture(scope="module")
def real_pair_graph(spark):
    """The sf0.01 near-dup pair graph the registered cluster queries
    build, as Python lists."""
    from conftest import SF_MEDIUM

    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import neardup_pairs

    d = table(spark, SF_MEDIUM, "documents")
    nodes = [r.doc_id for r in d.select("doc_id").collect()]
    edges = [(r.doc_a, r.doc_b) for r in neardup_pairs(d).collect()]
    assert edges, "fixture pair graph unexpectedly empty"
    return nodes, edges


GRAPHS = {
    # two multi-node components, one isolated pair, one singleton
    "fixture": (
        list(range(1, 12)),
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (9, 10)],
    ),
    "empty_edges": (list(range(1, 5)), []),
    # diameter 15: eight probes under the default max_iter=20
    "chain16": (list(range(16)), [(i, i + 1) for i in range(15)]),
}


@pytest.fixture(params=[*GRAPHS, "sf001_pairs"])
def graph(request, spark):
    if request.param == "sf001_pairs":
        nodes, edges = request.getfixturevalue("real_pair_graph")
    else:
        nodes, edges = GRAPHS[request.param]
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id BIGINT")
    edges_df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    return nodes, edges, nodes_df, edges_df


def test_cc_matches_union_find(graph):
    nodes, edges, nodes_df, edges_df = graph
    got = {
        r.id: r.cluster_id
        for r in connected_components(nodes_df, edges_df).collect()
    }
    assert got == _union_find(nodes, edges)


def test_cluster_hops_matches_bfs(graph):
    nodes, edges, nodes_df, edges_df = graph
    got = {
        r.id: (r.cluster_id, r.hops)
        for r in cluster_hops(nodes_df, edges_df).collect()
    }
    assert got == _bfs_hops(nodes, edges)


def test_chain_deeper_than_max_iter_raises(spark):
    """A 64-node chain needs 63 rounds: with max_iter=12 the loop must
    raise rather than return labels that split the chain."""
    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not confirm convergence"):
        connected_components(nodes, edges, max_iter=12)


def test_deep_near_dup_chain_is_one_cluster(spark):
    """12 documents that are sliding 6-word windows: each neighbouring
    pair has 3-gram Jaccard 3/5 = 0.6, each pair two apart 2/6, so the
    pair graph is a path of radius 11 — deeper than any fixed round
    budget a near-clique assumption would pick."""
    from poet_cloud_cost_etl_spark.operators.dedup import (
        neardup_clusters,
        neardup_pairs,
    )

    words = [f"w{i}" for i in range(17)]
    docs = spark.createDataFrame(
        [(i, " ".join(words[i : i + 6])) for i in range(12)],
        "doc_id BIGINT, text STRING",
    )
    clusters = {r.doc_id: r.cluster_id for r in neardup_clusters(docs).collect()}
    assert clusters == {i: 0 for i in range(12)}
    hops = cluster_hops(
        docs.select("doc_id"), neardup_pairs(docs),
        id_col="doc_id", src_col="doc_a", dst_col="doc_b",
    )
    assert max(r.hops for r in hops.collect()) == 11


# ---------------------------------------------------------------------------
# Contract violations — an edge endpoint missing from ``nodes`` — must be
# DETECTED (loud error), never silently returned as split components or
# wrong distances.  The missing endpoint has no self row, so its __prev is
# NULL; the NULL-safe probe keeps flagging it as changed until max_iter.
# ---------------------------------------------------------------------------


def test_missing_endpoint_detected_probe_path(spark):
    nodes = spark.createDataFrame([(1,), (2,)], ["id"])
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])  # 3 ∉ nodes
    with pytest.raises(RuntimeError):
        connected_components(nodes, edges, max_iter=4)


def test_missing_endpoint_detected_cluster_hops(spark):
    nodes = spark.createDataFrame([(1,), (2,)], ["id"])
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    with pytest.raises(RuntimeError):
        cluster_hops(nodes, edges, max_iter=4)
