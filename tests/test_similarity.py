"""X3 cosine near-dup: the three kernels (expr cross-join, broadcast
BLAS, block-pair GEMM) must agree bit-for-bit, and the default scale
path must never materialize the corpus on the driver.

Reference parity: the reference documents driver OOM on whole-corpus
materialization as its failure mode; the block-pair impl is the
distributed answer (shuffle on block ids, GEMM per block pair).
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from poet_cloud_cost_etl_spark.catalog import table
from poet_cloud_cost_etl_spark.operators.similarity import cosine_near_dup_pairs

from tests.conftest import SF_MEDIUM


def _pairs(df: DataFrame) -> set[tuple]:
    return {(r.id_a, r.id_b, r.cos_sim) for r in df.collect()}


def test_block_pair_matches_blas_and_expr(spark):
    e = table(spark, SF_MEDIUM, "embeddings")
    got = {
        impl: _pairs(cosine_near_dup_pairs(e, "vec_id", "embedding", 0.4, impl=impl))
        for impl in ("expr", "blas", "block")
    }
    assert got["expr"], "fixture should contain near-dup pairs"
    assert got["block"] == got["expr"]
    assert got["block"] == got["blas"]


def test_block_pair_covers_all_block_counts(spark):
    """Every unordered row pair must land in exactly one block-pair
    group, whatever n_blocks is (1 = single group, 13 > distinct ids'
    spread, prime so hash blocks are uneven)."""
    e = table(spark, SF_MEDIUM, "embeddings")
    want = _pairs(cosine_near_dup_pairs(e, "vec_id", "embedding", 0.4, impl="expr"))
    for n in (1, 3, 13):
        assert (
            _pairs(
                cosine_near_dup_pairs(
                    e, "vec_id", "embedding", 0.4, impl="block", n_blocks=n
                )
            )
            == want
        ), n


def test_default_impl_never_collects_to_driver(spark, monkeypatch):
    """The registered dedup_embedding_cosine query runs the default
    impl; it must not pull the corpus through DataFrame.collect (the
    reference's documented OOM). We poison collect() and execute the
    full operator — only the test's own final count touches the
    driver, via count(), not collect()."""

    def _boom(self):
        raise AssertionError("driver-side collect() in similarity operator")

    e = table(spark, SF_MEDIUM, "embeddings")
    # the concrete class: PySpark 4's classic DataFrame overrides
    # collect, so patching pyspark.sql.DataFrame catches nothing
    monkeypatch.setattr(type(e), "collect", _boom)
    out = cosine_near_dup_pairs(e, "vec_id", "embedding", 0.4)
    assert out.count() > 0


def test_blas_impl_is_opt_in_only(spark):
    """impl='blas' still works (opt-in) but is not the default."""
    import inspect

    sig = inspect.signature(cosine_near_dup_pairs)
    assert sig.parameters["impl"].default == "block"


def test_gemm_assign_matches_expr_ivf_assign(spark):
    """The r12 BLAS assignment kernel must reproduce the expr path
    bit-for-bit: same (id, centroid_id, probe_rank) rows as
    ivf_assign for the same centroid table, any nprobe — the round-6
    cosine + centroid-id-asc comparator is the contract both engines
    implement."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        _gemm_assign, ivf_assign, ivf_centroids,
    )

    e = table(spark, SF_MEDIUM, "embeddings")
    cents = ivf_centroids(e, "vec_id", "embedding", 16)
    for nprobe in (1, 3):
        expr_rows = sorted(
            (r.vec_id, r.centroid_id, r.probe_rank)
            for r in ivf_assign(
                e, cents, "vec_id", "embedding", nprobe=nprobe
            ).collect()
        )
        gemm_rows = sorted(
            (r.vec_id, r.centroid_id, r.probe_rank)
            for r in _gemm_assign(
                e, cents, "vec_id", "embedding", nprobe
            ).collect()
        )
        assert gemm_rows == expr_rows and len(gemm_rows) > 0


def test_gemm_topk_matches_brute_force(spark):
    """_gemm_topk must reproduce brute_force_topk exactly —
    (query_id, neighbor_id, cos_sim, rank) — for a bounded query
    set: per-group partial top-k + global re-rank is lossless by
    comparator transitivity."""
    from pyspark.sql import functions as F

    from poet_cloud_cost_etl_spark.operators.similarity import (
        _gemm_topk, brute_force_topk,
    )

    e = table(spark, SF_MEDIUM, "embeddings")
    q = e.filter(F.col("vec_id") % 37 == 0)
    bf = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in brute_force_topk(q, e, "vec_id", "embedding", 5).collect()
    )
    gm = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in _gemm_topk(q, e, "vec_id", "embedding", 5).collect()
    )
    assert gm == bf and len(gm) > 0


def test_gemm_kernels_chunked_parity(spark):
    """r13 (ADVICE r12): the kernels matmul in fixed
    _GEMM_ROW_BLOCK-row chunks so per-task live memory is BLOCK×k /
    |Q|×BLOCK, not the whole m×k block.  Shrinking the block to 7
    (via the row_block argument — r14, ADVICE r13: no module-global
    mutation) forces many chunks through the merge path — rows
    (including ranks) must stay bit-identical to the expr twins."""
    from pyspark.sql import functions as F

    from poet_cloud_cost_etl_spark.operators import similarity as S
    e = table(spark, SF_MEDIUM, "embeddings")
    cents = S.ivf_centroids(e, "vec_id", "embedding", 16)
    expr_rows = sorted(
        (r.vec_id, r.centroid_id, r.probe_rank)
        for r in S.ivf_assign(
            e, cents, "vec_id", "embedding", nprobe=3
        ).collect()
    )
    gemm_rows = sorted(
        (r.vec_id, r.centroid_id, r.probe_rank)
        for r in S._gemm_assign(
            e, cents, "vec_id", "embedding", 3, row_block=7
        ).collect()
    )
    assert gemm_rows == expr_rows and len(gemm_rows) > 0

    q = e.filter(F.col("vec_id") % 37 == 0)
    bf = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in S.brute_force_topk(
            q, e, "vec_id", "embedding", 5
        ).collect()
    )
    gm = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in S._gemm_topk(
            q, e, "vec_id", "embedding", 5, row_block=7
        ).collect()
    )
    assert gm == bf and len(gm) > 0


def test_gemm_assign_string_ids(spark):
    """r13 (ADVICE r12): the salt is pmod(hash(id), G) — a STRING id
    corpus must plan and reproduce the expr path (the former
    pmod(id, G) salt raised AnalysisException on non-numeric ids)."""
    from pyspark.sql import functions as F

    from poet_cloud_cost_etl_spark.operators import similarity as S

    e = table(spark, SF_MEDIUM, "embeddings").select(
        F.concat(F.lit("v"), F.format_string("%06d", "vec_id")).alias(
            "sid"
        ),
        "embedding",
    )
    cents = S.ivf_centroids(e, "sid", "embedding", 16)
    expr_rows = sorted(
        (r.sid, r.centroid_id, r.probe_rank)
        for r in S.ivf_assign(
            e, cents, "sid", "embedding", nprobe=2
        ).collect()
    )
    gemm_rows = sorted(
        (r.sid, r.centroid_id, r.probe_rank)
        for r in S._gemm_assign(e, cents, "sid", "embedding", 2).collect()
    )
    assert gemm_rows == expr_rows and len(gemm_rows) > 0


def test_zero_norm_vectors_emit_no_pairs_all_impls(spark):
    """r13 zero-norm convention (VERDICT r12 #3): a zero vector's
    cosine is NaN (numpy kernels) / NULL (expr) — it fails every
    >= threshold comparison, so ALL impls drop its pairs and agree
    on the remaining ones."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # zero-norm: never pairs
        (4, [0.9, 0.1, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        impl: _pairs(
            cosine_near_dup_pairs(
                df, "vec_id", "embedding", 0.5, impl=impl, n_blocks=2
            )
        )
        for impl in ("expr", "blas", "block")
    }
    assert got["expr"] == got["blas"] == got["block"]
    assert got["expr"], "non-zero rows should still pair"
    assert all(3 not in (a, b) for a, b, _ in got["expr"])


def test_knn_edges_bruteforce_rides_gemm_bit_identical(spark):
    """r13: the X177/X187 brute-force ground truth routes through
    _gemm_topk (both matmul axes chunked, so probe == corpus is
    fine).  Edges must be bit-identical to the interpreted
    brute_force_topk pass — same comparator, ~100x cheaper."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        _knn_edges, brute_force_topk,
    )

    e = table(spark, SF_MEDIUM, "embeddings")
    expr = sorted(
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(
            e, e, "vec_id", "embedding", 5
        ).collect()
    )
    gemm = sorted(
        (r.query_id, r.neighbor_id)
        for r in _knn_edges(
            e, "vec_id", "embedding", 5, "bruteforce", 8, 2
        ).collect()
    )
    assert gemm == expr and len(gemm) > 0


from hypothesis import given, settings, strategies as st  # noqa: E402


@given(
    st.lists(
        st.integers(min_value=0, max_value=4),  # 5 distinct directions
        min_size=4,
        max_size=24,
    ),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=8, deadline=None)
def test_gemm_topk_chunk_merge_vs_reference(spark, dirs, k):
    """Property (r13): _gemm_topk with a tiny chunk block must equal
    a pure-Python (round-6 cosine DESC, id ASC, self-excluded) top-k
    reference.  Vectors are drawn from 5 distinct directions so
    cosine TIES are constant — the id-asc tie-break must hold across
    chunk-merge boundaries, the subtlest part of the r13 kernel."""
    import numpy as np

    from poet_cloud_cost_etl_spark.operators import similarity as S

    basis = [
        [1.0, 0.0, 0.0],
        [0.0, 1.0, 0.0],
        [0.7, 0.7, 0.0],
        [0.0, 0.0, 1.0],
        [0.5, 0.5, 0.5],
    ]
    rows = [(i, basis[d]) for i, d in enumerate(dirs)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def r6(x):
        return float(S._round6_half_up(np.array([x]))[0])

    expect = set()
    for qid, qv in rows:
        cands = []
        for nid, nv in rows:
            if nid == qid:
                continue
            q, n = np.array(qv), np.array(nv)
            c = r6(float(q @ n / (np.linalg.norm(q) * np.linalg.norm(n))))
            cands.append((-c, nid))
        cands.sort()
        for rank, (negc, nid) in enumerate(cands[:k], start=1):
            expect.add((qid, nid, -negc, rank))

    # row_block=3 as an ARGUMENT (r14, ADVICE r13): the former
    # try/finally module-global mutation could leak a 3-row block
    # into unrelated tests under parallel execution.
    got = {
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in S._gemm_topk(
            df, df, "vec_id", "embedding", k, n_groups=4, row_block=3
        ).collect()
    }
    assert got == expect


def test_gemm_topk_group_derivation_caps_replication():
    """r14 (ADVICE r13): the derived group count follows cluster
    parallelism only while |Q|*G stays under _GEMM_REPL_CAP; a known
    probe size caps it (floor 32), so the probe-replication shuffle
    is bounded on any cluster width."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        _GEMM_REPL_CAP,
        _derive_topk_groups,
    )

    # unknown probe size: pure parallelism (floored)
    assert _derive_topk_groups(8, None) == 32
    assert _derive_topk_groups(8000, None) == 8000
    # known small probe: cap doesn't bind at sane widths
    assert _derive_topk_groups(256, 64) == 256
    # wide cluster + moderate probe: cap binds
    assert _derive_topk_groups(8000, 1000) == _GEMM_REPL_CAP // 1000
    # corpus-sized probe: floor holds (the self-kNN G=32 shape)
    assert _derive_topk_groups(8000, 10_000_000) == 32
