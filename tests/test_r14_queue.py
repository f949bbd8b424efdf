"""Hand-computed semantics and invariants of the r14-cohort operators."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _ts(s):
    return datetime.fromisoformat(s)


_EV_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


# ----- X180 session path trigrams --------------------------------------------


def test_path_trigrams_respect_session_boundary(spark):
    """a,b,c then a 40-min gap then d,e,f: only the two in-session
    trigrams exist — no b>c>d / c>d>e leakage across the gap."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        session_path_trigrams,
    )

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "a", 0.0, ""),
        (2, _ts("2024-01-01T00:01:00"), 1, "b", 0.0, ""),
        (3, _ts("2024-01-01T00:02:00"), 1, "c", 0.0, ""),
        (4, _ts("2024-01-01T00:42:00"), 1, "d", 0.0, ""),
        (5, _ts("2024-01-01T00:43:00"), 1, "e", 0.0, ""),
        (6, _ts("2024-01-01T00:44:00"), 1, "f", 0.0, ""),
    ]
    df = spark.createDataFrame(rows, _EV_COLS)
    out = {
        r.path: r
        for r in session_path_trigrams(
            df, "user_id", "event_type", "ts", "event_id"
        ).collect()
    }
    assert set(out) == {"a>b>c", "d>e>f"}
    assert out["a>b>c"].n_paths == 1
    assert out["a>b>c"].share_ppm == 500_000


# ----- X181 cohort LTV curves ------------------------------------------------


def test_cohort_ltv_cumulative(spark):
    """Two same-cohort users: $10 purchase in week 0, $5 in week 1 —
    the cumulative column accumulates and the per-user LTV is the
    integer cents division."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        cohort_ltv_curves,
    )

    rows = [
        # both users first seen Mon 2024-01-01 (cohort week)
        (1, _ts("2024-01-01T10:00:00"), 1, "purchase", 10.0, ""),
        (2, _ts("2024-01-01T11:00:00"), 2, "view", 0.0, ""),
        # week 1 purchase by user 2
        (3, _ts("2024-01-08T09:00:00"), 2, "purchase", 5.0, ""),
    ]
    df = spark.createDataFrame(rows, _EV_COLS)
    out = {
        r.offset_weeks: r
        for r in cohort_ltv_curves(
            df, "user_id", "ts", "event_type", "value"
        ).collect()
    }
    assert out[0].cohort_size == 2
    assert out[0].week_revenue == 10.0 and out[0].cum_revenue == 10.0
    assert out[1].week_revenue == 5.0 and out[1].cum_revenue == 15.0
    assert out[1].cum_ltv_cents_per_user == 750  # 1500 cents / 2 users


# ----- X182 encoding artifact rewrite ----------------------------------------


def test_encoding_rewrite_hand_computed(spark):
    """Replacement and control chars are stripped (and the whitespace
    they leave collapsed); mojibake is flagged but NOT touched; a
    clean doc passes through unchanged."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        encoding_artifact_rewrite,
    )

    docs = [
        (1, "bad �� text \x07here", "en", "s1", 20),
        (2, "cafÃ© mojibake", "en", "s1", 14),
        (3, "perfectly clean", "en", "s1", 15),
    ]
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.doc_id: r for r in encoding_artifact_rewrite(df, "doc_id", "text").collect()}
    assert out[1].n_replacement_removed == 2
    assert out[1].n_ctrl_removed == 1
    assert out[1].text_clean == "bad text here"
    assert out[1].changed is True
    assert out[2].n_mojibake_flagged == 1
    assert "Ã" in out[2].text_clean  # flagged, never stripped
    assert out[2].changed is False
    assert out[3].text_clean == "perfectly clean"
    assert out[3].changed is False


# ----- X185 mixture design effect --------------------------------------------


def test_design_effect_alpha1_is_identity(spark):
    """alpha=1 gives every doc the same weight: deff == 1.0 exactly
    (integer weights are identical, the ratio is exact)."""
    from poet_cloud_cost_etl_spark.operators.sampling import (
        mixture_design_effect,
    )

    docs = [(i, "x", "en", f"s{i % 3}", 1) for i in range(30)] + [
        (100 + i, "x", "en", "big", 1) for i in range(70)
    ]
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {
        r.alpha_e2: r
        for r in mixture_design_effect(df, "source").collect()
    }
    assert out[100].deff == 1.0
    assert abs(out[100].n_eff - 100.0) < 1e-9
    # sharper temperature on a skewed corpus costs efficiency
    assert out[30].deff > 1.0
    assert out[30].n_eff < 100.0
    # deff grows monotonically as alpha drops below 1
    assert out[30].deff >= out[50].deff >= out[70].deff >= 1.0


# ----- X183 SRP cosine calibration -------------------------------------------


def test_srp_identical_vectors_match_all_bits(spark):
    """A duplicated vector pair has cosine 1.0 (band 10), expectation
    1e6 (theta = 0) and all 16 sign bits equal — gap 0 for that
    band."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        srp_cosine_calibration,
    )

    base = [0.5, -0.25, 0.125, 1.0] * 16
    rows = [(1, base, 0), (2, base, 0)] + [
        (10 + i, [(-1.0) ** (i + j) * (0.1 + 0.01 * j) for j in range(64)], 1)
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"]).select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
        "label",
    )
    out = {r.cos_band: r for r in srp_cosine_calibration(df, "vec_id", "embedding").collect()}
    assert 10 in out
    assert out[10].expected_match_ppm == 1_000_000
    assert out[10].empirical_match_ppm == 1_000_000
    assert out[10].gap_ppm == 0
    for r in out.values():
        assert 0 <= r.empirical_match_ppm <= 1_000_000
        assert 0 <= r.expected_match_ppm <= 1_000_000


# ----- X186 PQ distortion ----------------------------------------------------


def test_pq_distortion_invariants(spark):
    """Every (label, subspace) cell: codes_used <= ksub, distortion
    non-negative, and the per-label vector mass reappears in every
    subspace row."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.embeddings import (
        pq_distortion_by_label,
    )

    e = table(spark, SF_SMALL, "embeddings")
    rows = pq_distortion_by_label(e, "vec_id", "embedding", "label").collect()
    assert rows
    by_label = {}
    for r in rows:
        assert 1 <= r.codes_used <= 8
        assert 0 <= r.mean_dist_sq_e6 <= r.max_dist_sq_e6
        by_label.setdefault(r.label, set()).add((r.subspace, r.n_vecs))
    for label, cells in by_label.items():
        assert {s for s, _ in cells} == {0, 1, 2, 3}
        assert len({n for _, n in cells}) == 1  # same mass in every subspace


# ----- X187 mutual-kNN clusters ----------------------------------------------


def test_mutual_knn_toy_clusters(spark):
    """Two tight pairs + one isolated vector at k=1: the mutual graph
    links each pair, the isolate is a singleton; pure pairs score
    purity 1e6."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        mutual_knn_clusters,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.99, 0.01, 0.0, 0.0], 0),
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.0, 0.99, 0.01, 0.0], 1),
        (5, [0.0, 0.0, 0.0, 1.0], 2),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"]).select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
        "label",
    )
    out = {
        r.cluster_size: r
        for r in mutual_knn_clusters(df, "vec_id", "embedding", "label", k=1).collect()
    }
    assert out[2].n_clusters == 2 and out[2].n_vecs == 4
    assert out[2].mean_purity_ppm == 1_000_000
    assert out[1].n_clusters == 1 and out[1].n_vecs == 1


def test_mutual_knn_string_labels_and_tie_break(spark):
    """r11 ADVICE regression: a STRING label column must analyze (the
    old max(struct(count, -label)) negated the label), and a tied
    dominant count must break toward the SMALLEST label — 'a' beats
    'b' in a 1-1 pair, purity 500000."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        mutual_knn_clusters,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], "b"),
        (2, [0.99, 0.01, 0.0, 0.0], "a"),
        (3, [0.0, 0.0, 0.0, 1.0], "c"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"]).select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
        "label",
    )
    out = {
        r.cluster_size: r
        for r in mutual_knn_clusters(
            df, "vec_id", "embedding", "label", k=1
        ).collect()
    }
    assert out[2].n_clusters == 1 and out[2].n_vecs == 2
    assert out[2].mean_purity_ppm == 500_000
    assert out[1].n_clusters == 1


# ----- X184 HLL overlap ------------------------------------------------------


def test_hll_overlap_identical_sources(spark):
    """Two sources with identical text: the max-merged union
    registers equal each side's registers, so est(union) == est(A)
    == est(B) and the inclusion-exclusion intersection equals the
    union estimate."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        hll_register_estimate, source_overlap_hll,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [(1, text, "en", "sA", 1), (2, text, "en", "sB", 1)]
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    per = {
        r.source: r.hll_estimate
        for r in hll_register_estimate(df, "source", "text").collect()
    }
    out = source_overlap_hll(df, "source", "text").collect()
    assert len(out) == 1
    r = out[0]
    assert r.hll_union_estimate == per["sA"] == per["sB"]
    assert r.hll_inter_estimate == r.hll_union_estimate
    assert r.exact_union == r.exact_inter == 8


def test_hll_overlap_fixture_error_bounded(spark):
    """On the fixture corpus every pair's union estimate stays inside
    the loose 3-sigma band (the small-range correction dominates at
    this vocabulary size, so estimates are tight)."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.textstats import (
        source_overlap_hll,
    )

    d = table(spark, SF_SMALL, "documents")
    rows = source_overlap_hll(d, "source", "text").collect()
    assert len(rows) == 190  # 20 choose 2
    for r in rows:
        assert abs(r.union_err_ppm) < 400_000, r
