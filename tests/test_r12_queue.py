"""Hand-computed semantics and invariants of the r12-cohort operators."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


# ----- X164 winnowing fingerprint census ------------------------------------


def test_winnow_detection_guarantee(spark):
    """The winnowing contract (Schleimer 2003): any shared token run
    of length >= w + 2 (>= w consecutive shared 3-grams) yields at
    least one shared fingerprint between the two documents — the
    per-REGION detection density MinHash cannot promise."""
    from poet_cloud_cost_etl_spark.operators.dedup import (
        winnow_fingerprint_census,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india"
    docs = [
        (1, f"one unique opening sequence here {shared} tail one", "s1"),
        (2, f"two different starting words now {shared} tail two", "s2"),
        (3, "entirely disjoint text with no overlap at all", "s3"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    out = {
        r.source: r
        for r in winnow_fingerprint_census(
            df, "doc_id", "text", "source", w=4
        ).collect()
    }
    # both docs carrying the shared run must report >= 1 shared
    # fingerprint instance; the disjoint doc must report none
    assert out["s1"].n_shared >= 1
    assert out["s2"].n_shared >= 1
    assert out["s3"].n_shared == 0
    for r in out.values():
        assert r.n_fingerprints >= r.n_distinct > 0
        assert 0 <= r.shared_ppm <= 1_000_000


def test_winnow_density_bound(spark):
    """Selected fingerprints are a subset of gram positions and at
    least one per w-window: for a doc with g grams, the count sits in
    [ceil((g - w + 1) / w), g - w + 1]."""
    from poet_cloud_cost_etl_spark.operators.dedup import (
        winnow_fingerprint_census,
    )

    n_tokens = 30
    text = " ".join(f"tok{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text, "s")], ["doc_id", "text", "source"])
    r = winnow_fingerprint_census(df, "doc_id", "text", "source", w=4).collect()[0]
    g = n_tokens - 2          # 3-gram count
    windows = g - 4 + 1       # full w-windows
    assert math.ceil(windows / 4) <= r.n_fingerprints <= windows


def test_winnow_duckdb_parity(spark):
    """Non-empty on sf0.001; oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import (
        winnow_fingerprint_census,
    )

    d = table(spark, SF_SMALL, "documents")
    assert winnow_fingerprint_census(
        d, "doc_id", "text", "source", w=4
    ).collect()


# ----- X165 directed containment census --------------------------------------


def test_containment_direction_hand_computed(spark):
    """A small doc fully inside a large doc: the contained source is
    the SMALL side's, containment 10^6 ppm exactly; the equal-size
    pair is excluded (no direction)."""
    from poet_cloud_cost_etl_spark.operators.dedup import (
        source_containment_direction,
    )

    small = "alpha bravo charlie delta echo"
    big = small + " foxtrot golf hotel india juliet kilo lima"
    docs = [
        (1, small, "src_small"),
        (2, big, "src_big"),
        # equal-size disjoint-vocab pair sharing one shingle run:
        (3, "papa quebec romeo sierra tango", "s3"),
        (4, "papa quebec romeo sierra tango", "s4"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    rows = source_containment_direction(
        df, "doc_id", "text", "source", threshold=0.5
    ).collect()
    cells = {(r.source_contained, r.source_container): r for r in rows}
    assert ("src_small", "src_big") in cells
    assert cells[("src_small", "src_big")].mean_containment_ppm == 1_000_000
    # docs 3/4 are identical (equal shingle counts) -> excluded
    assert not any("s3" in c or "s4" in c for cell in cells for c in cell)


def test_containment_direction_duckdb_parity(spark):
    """Non-empty on sf0.001; oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import (
        source_containment_direction,
    )

    d = table(spark, SF_SMALL, "documents")
    assert source_containment_direction(
        d, "doc_id", "text", "source", threshold=0.5
    ).collect()


# ----- X166 duplication-position profile -------------------------------------


def test_dup_position_profile_hand_computed(spark):
    """A fully-duplicated 20-token doc pair puts dup_ppm = 10^6 in
    every decile of its source; a unique doc's source reads 0."""
    from poet_cloud_cost_etl_spark.operators.dedup import (
        dup_span_position_profile,
    )

    dup_text = " ".join(f"w{i}" for i in range(20))
    docs = [
        (1, dup_text, "dup_src"),
        (2, dup_text, "dup_src"),
        (3, "entirely unique tokens never repeated anywhere else", "clean"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    rows = dup_span_position_profile(df, "doc_id", "text", "source").collect()
    by = {(r.source, r.decile): r for r in rows}
    assert len(rows) == 20  # 2 sources x 10 deciles
    for d in range(10):
        assert by[("dup_src", d)].dup_ppm == 1_000_000, d
        assert by[("dup_src", d)].n_tokens == 4  # 2 docs x 2 tokens/decile
        assert by[("clean", d)].dup_ppm == 0, d


def test_dup_position_profile_duckdb_parity(spark):
    """Decile token masses on sf0.001 sum to the corpus token count;
    oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import (
        dup_span_position_profile,
    )

    d = table(spark, SF_SMALL, "documents")
    rows = dup_span_position_profile(d, "doc_id", "text", "source").collect()
    assert rows
    # decile token masses must sum to the corpus token count
    total = sum(r.n_tokens for r in rows)
    from poet_cloud_cost_etl_spark.operators.dedup import tokens

    corpus = (
        table(spark, SF_SMALL, "documents")
        .select(F.sum(F.size(tokens("text"))).alias("n"))
        .collect()[0]
        .n
    )
    assert total == corpus


# ----- X167 semantic decontamination -----------------------------------------


def test_semantic_decontamination_hand_computed(spark):
    """A candidate identical to a benchmark vector is flagged with
    max_cos 1.0; an orthogonal one is not."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        semantic_decontamination,
    )

    d = 8
    bench_vec = [1.0] + [0.0] * (d - 1)
    ortho = [0.0, 1.0] + [0.0] * (d - 2)
    rows = [
        (0, bench_vec),          # benchmark (id % 97 == 0)
        (97, [0.5] * d),         # benchmark
        (1, bench_vec),          # candidate == benchmark 0
        (2, ortho),              # candidate orthogonal to bench 0
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = {
        r.vec_id: r
        for r in semantic_decontamination(
            df, "vec_id", "embedding", bench_mod=97, threshold=0.99,
            n_centroids=2, nprobe=2,
        ).collect()
    }
    assert 1 in out and out[1].max_cos == 1.0
    assert 2 not in out


def test_semantic_decontamination_duckdb_parity(spark):
    """Non-empty on sf0.001; oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import (
        semantic_decontamination,
    )

    e = table(spark, SF_SMALL, "embeddings")
    assert semantic_decontamination(
        e, "vec_id", "embedding", bench_mod=97, threshold=0.3
    ).collect()  # threshold tuned so the fixture flags rows


def test_semantic_decontamination_gemm_regime(spark):
    """Above FLAT_ASSIGN_MAX_K the operator switches to the BLAS
    _gemm_assign kernel (same round-6/tie-break comparator) — an
    identical candidate/benchmark pair assigns to the same bucket,
    so it is still flagged with max_cos 1.0 in the gemm regime."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import (
        semantic_decontamination,
    )

    e = table(spark, SF_SMALL, "embeddings")
    # plant an exact duplicate of benchmark vector 0 as candidate 1
    bench0 = e.filter(F.col("vec_id") == 0).select(
        F.lit(100001).alias("vec_id"), "embedding", "label"
    )
    df = e.unionByName(bench0)
    out = {
        r.vec_id: r
        for r in semantic_decontamination(
            df, "vec_id", "embedding", bench_mod=97, threshold=0.99,
            n_centroids=40, nprobe=2,
        ).collect()
    }
    assert 100001 in out and out[100001].max_cos == 1.0


# ----- X168 IVF nprobe recall curve -------------------------------------------


def test_nprobe_recall_monotone(spark):
    """Recall@k is nondecreasing in nprobe (more probed lists can
    only add candidates), and every sweep point covers every query."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import (
        ivf_nprobe_recall_curve,
    )

    e = table(spark, SF_SMALL, "embeddings")
    rows = sorted(
        ivf_nprobe_recall_curve(e, "vec_id", "embedding", k=5).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 4]
    assert len({r.n_queries for r in rows}) == 1
    assert rows[0].mean_recall_ppm <= rows[1].mean_recall_ppm
    assert rows[1].mean_recall_ppm <= rows[2].mean_recall_ppm
    assert rows[2].mean_recall_ppm > 0


def test_nprobe_recall_gemm_regime(spark):
    """Above FLAT_ASSIGN_MAX_K the curve runs on the BLAS kernels
    (_gemm_topk ground truth, _gemm_assign lists/probes): still
    monotone in nprobe, still one row per sweep point, still a
    fixed-size query set."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import (
        ivf_nprobe_recall_curve,
    )

    e = table(spark, SF_SMALL, "embeddings")
    rows = sorted(
        ivf_nprobe_recall_curve(
            e, "vec_id", "embedding", k=5, n_centroids=40
        ).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 4]
    assert {r.n_queries for r in rows} == {64}
    assert rows[0].mean_recall_ppm <= rows[1].mean_recall_ppm
    assert rows[1].mean_recall_ppm <= rows[2].mean_recall_ppm


def test_gemm_regime_partition_invariance(spark):
    """The BLAS kernels salt by pmod(id, G) and score per row against
    the full centroid set, so the result must not depend on the input
    partitioning — repartition(3) and repartition(11) yield identical
    rows for both X167 and X168 in the gemm regime."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import (
        ivf_nprobe_recall_curve, semantic_decontamination,
    )

    e = table(spark, SF_SMALL, "embeddings")
    for op, kw in (
        (semantic_decontamination, dict(bench_mod=97, threshold=0.3,
                                        n_centroids=40, nprobe=2)),
        (ivf_nprobe_recall_curve, dict(k=5, n_centroids=40)),
    ):
        a = sorted(
            tuple(r) for r in op(
                e.repartition(3), "vec_id", "embedding", **kw
            ).collect()
        )
        b = sorted(
            tuple(r) for r in op(
                e.repartition(11), "vec_id", "embedding", **kw
            ).collect()
        )
        assert a == b and len(a) > 0


# ----- X169 source cross-entropy matrix ---------------------------------------


def test_crossentropy_hand_computed(spark):
    """A='a a b', B='a b b b': every cell of the 2x2 matrix verified
    against the scaled-integer-ln formula by hand."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        source_crossentropy_matrix,
    )

    docs = [(1, "a a b", "A"), (2, "a b b b", "B")]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    out = {
        (r.source_a, r.source_b): r
        for r in source_crossentropy_matrix(
            df, "doc_id", "text", "source"
        ).collect()
    }

    def L(x):
        return int(math.floor(1_000_000 * math.log(x) + 0.5))

    # V = 2; N_A = 3, N_B = 4
    # H(A|B) = L(6) - (2*L(2) + 1*L(4)) div 3
    assert out[("A", "B")].crossentropy_nats_e6 == L(6) - (
        (2 * L(2) + L(4)) // 3
    )
    # H(A|A) = L(5) - (2*L(3) + 1*L(2)) div 3
    assert out[("A", "A")].crossentropy_nats_e6 == L(5) - (
        (2 * L(3) + L(2)) // 3
    )
    # H(B|A) = L(5) - (1*L(3) + 3*L(2)) div 4
    assert out[("B", "A")].crossentropy_nats_e6 == L(5) - (
        (L(3) + 3 * L(2)) // 4
    )
    # H(B|B) = L(6) - (1*L(2) + 3*L(4)) div 4
    assert out[("B", "B")].crossentropy_nats_e6 == L(6) - (
        (L(2) + 3 * L(4)) // 4
    )
    # Gibbs: modeling A with B's statistics can't beat A's own model
    assert (
        out[("A", "B")].crossentropy_nats_e6
        >= out[("A", "A")].crossentropy_nats_e6
    )
    assert all(r.n_terms_matched == 2 for r in out.values())


def test_crossentropy_duckdb_parity(spark):
    """One cell per sf0.001 source pair; oracle parity runs in
    test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.textstats import (
        source_crossentropy_matrix,
    )

    d = table(spark, SF_SMALL, "documents")
    rows = source_crossentropy_matrix(d, "doc_id", "text", "source").collect()
    assert len(rows) == 400  # 20 sources squared


# ----- X170 mixture epoch plan -------------------------------------------------


def test_mixture_epoch_plan_hand_computed(spark):
    """Two sources (100 / 10,000 tokens), budget 20,000: the small
    source's allocation implies ~18 epochs -> capped at 4 with the
    deficit accounted exactly; the large source stays under cap."""
    from poet_cloud_cost_etl_spark.operators.sampling import (
        mixture_epoch_plan,
    )

    docs = [(1, " ".join(["x"] * 100), "small")] + [
        (2 + i, " ".join(["y"] * 1000), "large") for i in range(10)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    out = {
        r.source: r
        for r in mixture_epoch_plan(
            df, "source", "text", budget_tokens=20_000, alpha=0.5
        ).collect()
    }
    ws_small, ws_large = 10_000_000, 100_000_000  # round(1e6*sqrt(n))
    wt = ws_small + ws_large
    alloc_small = (20_000 * ws_small) // wt
    assert out["small"].alloc_tokens == alloc_small
    assert out["small"].epochs_e6 == (1_000_000 * alloc_small) // 100
    assert out["small"].capped_epochs_e6 == 4_000_000
    assert out["small"].deficit_tokens == alloc_small - (
        4_000_000 * 100
    ) // 1_000_000
    assert out["large"].capped_epochs_e6 == out["large"].epochs_e6
    assert out["large"].deficit_tokens == 0


def test_mixture_epoch_plan_duckdb_parity(spark):
    """One row per sf0.001 source; oracle parity runs in
    test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.sampling import (
        mixture_epoch_plan,
    )

    d = table(spark, SF_SMALL, "documents")
    rows = mixture_epoch_plan(
        d, "source", "text", budget_tokens=2_000_000, alpha=0.5
    ).collect()
    assert len(rows) == 20


# ----- X171 line-dedup rewrite --------------------------------------------------


def test_line_dedup_rewrite_hand_computed(spark):
    """The duplicated long sentence survives only at its global first
    occurrence (min doc, then min position); short lines always
    survive; the rebuild preserves in-document order."""
    from poet_cloud_cost_etl_spark.operators.dedup import line_dedup_rewrite

    boiler = "this exact boilerplate sentence is duplicated everywhere"
    docs = [
        (1, f"short one. {boiler}. a unique closing thought here"),
        (2, f"{boiler}. another document body with its own words"),
        (3, "totally original document. nothing repeats in this one"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in line_dedup_rewrite(df, "doc_id", "text").collect()}
    # doc 1 holds the first occurrence (min doc id) -> keeps all 3
    assert out[1].n_lines == 3 and out[1].n_lines_kept == 3
    assert boiler in out[1].text_rewritten
    # doc 2 loses the boilerplate line only
    assert out[2].n_lines == 2 and out[2].n_lines_kept == 1
    assert boiler not in out[2].text_rewritten
    assert "another document body" in out[2].text_rewritten
    # doc 3 untouched
    assert out[3].n_lines_kept == out[3].n_lines == 2
    # order preserved in doc 1: short line before boiler before closing
    t = out[1].text_rewritten
    assert t.index("short one") < t.index(boiler) < t.index("unique closing")


def test_line_dedup_rewrite_short_lines_always_kept(spark):
    """Lines under min_chars are never cut even when duplicated."""
    from poet_cloud_cost_etl_spark.operators.dedup import line_dedup_rewrite

    docs = [(1, "yes. no. yes"), (2, "yes. no")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in line_dedup_rewrite(df, "doc_id", "text").collect()}
    assert out[1].kept_ppm == 1_000_000
    assert out[2].kept_ppm == 1_000_000


def test_line_dedup_rewrite_duckdb_parity(spark):
    """Non-empty on sf0.001; oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import line_dedup_rewrite

    d = table(spark, SF_SMALL, "documents")
    assert line_dedup_rewrite(d, "doc_id", "text").collect()
