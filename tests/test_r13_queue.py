"""Hand-computed semantics and invariants of the r13-cohort operators."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _ts(s):
    return datetime.fromisoformat(s)


# ----- X172 markov transitions ----------------------------------------------


def test_markov_hand_computed(spark):
    """One user emitting a,b,a,b and another emitting c,c: the
    transition cells, conditional row ppm, and corpus share ppm are
    hand-checkable integers."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        markov_transitions,
    )

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "a", 0.0, ""),
        (2, _ts("2024-01-01T00:01:00"), 1, "b", 0.0, ""),
        (3, _ts("2024-01-01T00:02:00"), 1, "a", 0.0, ""),
        (4, _ts("2024-01-01T00:03:00"), 1, "b", 0.0, ""),
        (5, _ts("2024-01-01T00:00:00"), 2, "c", 0.0, ""),
        (6, _ts("2024-01-01T00:01:00"), 2, "c", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {
        (r.from_type, r.to_type): r
        for r in markov_transitions(
            df, "user_id", "event_type", "ts", "event_id"
        ).collect()
    }
    assert out[("a", "b")].n_transitions == 2
    assert out[("b", "a")].n_transitions == 1
    assert out[("c", "c")].n_transitions == 1
    # P(b|a) = 2/2, P(a|b) = 1/1 (the 2nd b is terminal), share 2/4
    assert out[("a", "b")].row_ppm == 1_000_000
    assert out[("a", "b")].share_ppm == 500_000
    assert out[("b", "a")].row_ppm == 1_000_000


def test_markov_tiebreak_is_event_id(spark):
    """Simultaneous timestamps order by event_id — the house (epoch,
    id) comparator, so the result is partitioning-independent."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        markov_transitions,
    )

    t = _ts("2024-01-01T00:00:00")
    rows = [
        (2, t, 1, "b", 0.0, ""),
        (1, t, 1, "a", 0.0, ""),
        (3, t, 1, "c", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {
        (r.from_type, r.to_type)
        for r in markov_transitions(
            df, "user_id", "event_type", "ts", "event_id"
        ).collect()
    }
    assert out == {("a", "b"), ("b", "c")}


# ----- X173 purchase attribution ---------------------------------------------


def test_attribution_hand_computed(spark):
    """Purchase 60s after a click attributes to click; a purchase
    whose only prior touch is 25h old attributes to (none); a
    first-event purchase attributes to (none); an intervening
    purchase does NOT become a touch."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        purchase_attribution,
    )

    rows = [
        # user 1: click -> purchase(10.00) 60s later
        (1, _ts("2024-01-01T00:00:00"), 1, "click", 0.0, ""),
        (2, _ts("2024-01-01T00:01:00"), 1, "purchase", 10.0, ""),
        # user 1: second purchase right after the first -> still the
        # click (purchases are never touches), inside 24h
        (3, _ts("2024-01-01T00:02:00"), 1, "purchase", 5.0, ""),
        # user 2: view, then purchase 25h later -> (none)
        (4, _ts("2024-01-01T00:00:00"), 2, "view", 0.0, ""),
        (5, _ts("2024-01-02T01:00:00"), 2, "purchase", 7.0, ""),
        # user 3: purchase with no prior events -> (none)
        (6, _ts("2024-01-01T00:00:00"), 3, "purchase", 3.0, ""),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {
        r.attributed_type: r
        for r in purchase_attribution(
            df, "user_id", "event_type", "ts", "event_id", "value"
        ).collect()
    }
    assert set(out) == {"click", "(none)"}
    assert out["click"].n_purchases == 2
    assert out["click"].revenue == 15.0
    assert out["(none)"].n_purchases == 2
    assert out["(none)"].revenue == 10.0
    # shares: 1500/2500 and 1000/2500 cents
    assert out["click"].revenue_share_ppm == 600_000
    assert out["(none)"].revenue_share_ppm == 400_000


# ----- X174 seasonality chi2 --------------------------------------------------


def test_seasonality_chi2_extremes(spark):
    """All-in-one-hour -> chi2 = 23*N*1e6 exactly; perfectly uniform
    over 24 hours -> chi2 = 0; peak-hour ties break to the earliest
    hour."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        seasonality_chi2,
    )

    rows = []
    eid = 0
    for i in range(24):  # 'burst': 24 events, all at hour 3
        rows.append((eid, _ts(f"2024-01-01T03:00:{i:02d}"), 1, "burst", 0.0, ""))
        eid += 1
    for h in range(24):  # 'flat': one event per hour
        rows.append((eid, _ts(f"2024-01-01T{h:02d}:00:00"), 1, "flat", 0.0, ""))
        eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r.event_type: r for r in seasonality_chi2(df, "event_type", "ts").collect()}
    b, f = out["burst"], out["flat"]
    assert b.n_events == 24 and b.n_hours_active == 1
    assert b.peak_hour == 3 and b.peak_count == 24
    # chi2 = (24*24^2 - 24^2)/24 = 23*24 = 552
    assert b.chi2_uniform_e6 == 552 * 1_000_000
    assert f.chi2_uniform_e6 == 0
    assert f.peak_hour == 0 and f.peak_count == 1  # tie -> earliest


# ----- X179 RFM segments ------------------------------------------------------


def test_rfm_hand_computed(spark):
    """Four users with strictly increasing recency/frequency/spend
    land in the four distinct quartile bands; counts and exact
    revenue are hand-checkable."""
    from poet_cloud_cost_etl_spark.operators.behavior import rfm_segments

    rows = []
    eid = 0
    # user u: (last-day offset u-1, u events, u purchases of $u)
    for u in (1, 2, 3, 4):
        for i in range(u):
            rows.append(
                (
                    eid,
                    _ts(f"2024-01-{7 + u:02d}T00:00:{i:02d}"),
                    u,
                    "purchase",
                    float(u),
                    "",
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {
        r.segment: r
        for r in rfm_segments(
            df, "user_id", "ts", "event_type", "value"
        ).collect()
    }
    # user 4 is most recent (recency 0 -> R1) and highest F/M -> F4M4;
    # user 1 least recent -> R4, lowest F/M -> F1M1
    assert out["R1F4M4"].n_users == 1
    assert out["R4F1M1"].n_users == 1
    assert len(out) == 4
    assert out["R1F4M4"].total_revenue == 16.0  # 4 purchases x $4
    assert out["R4F1M1"].total_events == 1


def test_rfm_lattice_quartiles_are_exact(spark):
    """The lattice thresholds implement cum >= ceil(q*N/4) exactly:
    with 8 identical-metric users everyone lands in band 1 (one
    segment), never a fabricated spread."""
    from poet_cloud_cost_etl_spark.operators.behavior import rfm_segments

    rows = [
        (u, _ts("2024-01-01T00:00:00"), u, "purchase", 2.0, "")
        for u in range(8)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = rfm_segments(df, "user_id", "ts", "event_type", "value").collect()
    assert len(out) == 1
    assert out[0].segment == "R1F1M1"
    assert out[0].n_users == 8


# ----- X175 HLL register estimate --------------------------------------------


def test_hll_small_range_is_linear_counting(spark):
    """With far fewer distinct tokens than registers, the small-range
    branch fires and linear counting is near-exact (64*ln(64/V) with
    V empty registers is within 1 of the true count when each token
    occupies its own register)."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        hll_register_estimate,
    )

    docs = [(1, "alpha beta gamma", "en", "s1", 10)]
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    r = hll_register_estimate(df, "source", "text").collect()[0]
    assert r.exact_distinct == 3
    assert r.registers_used <= 3
    assert abs(r.hll_estimate - 3) <= 1
    assert r.n_tokens == 3


def test_hll_fixture_error_bounded(spark):
    """Whole-fixture estimate lands within the sketch contract
    (~3 sigma of 1.04/sqrt(64) = 13% relative error; the fixture
    vocabulary is small, so the small-range correction is in play
    and the estimate should be tight)."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.textstats import (
        hll_register_estimate,
    )

    d = table(spark, SF_SMALL, "documents")
    corpus = d.withColumn("source", F.lit("all"))
    r = hll_register_estimate(corpus, "source", "text").collect()[0]
    assert r.exact_distinct > 10
    assert abs(r.err_ppm) < 400_000, r


# ----- X176 Chao1 richness ----------------------------------------------------


def test_chao1_hand_computed(spark):
    """'a a b c' per the formulas: D=3, f1=2 (b,c), f2=1 (a),
    chao1 = 3 + 2*1/(2*2) = 3.5, jackknife = 5."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        vocab_richness_estimators,
    )

    df = spark.createDataFrame(
        [(1, "a a b c", "en", "s1", 7)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    r = vocab_richness_estimators(df, "source", "text").collect()[0]
    assert (r.n_tokens, r.observed_distinct) == (4, 3)
    assert (r.f1_singletons, r.f2_doubletons) == (2, 1)
    assert r.chao1_e6 == 3_500_000  # 3 + (2*1)/(2*(1+1)) = 3.5
    assert r.jackknife1 == 5


def test_chao1_no_singletons_converged(spark):
    """Every token seen twice: f1 = 0 so both estimators equal the
    observed vocabulary — the 'source is exhausted' reading."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        vocab_richness_estimators,
    )

    df = spark.createDataFrame(
        [(1, "x y x y", "en", "s1", 7)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    r = vocab_richness_estimators(df, "source", "text").collect()[0]
    assert r.chao1_e6 == 2_000_000
    assert r.jackknife1 == 2


# ----- X177 kNN hubness -------------------------------------------------------


def test_hubness_invariants_and_hub_detection(spark):
    """Global edge mass is k per vector (sum over labels of
    n_vecs*mean_kocc_e6 backs out to k*N), and a deliberately
    central vector is the max-k-occurrence point of its label."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        knn_hubness_audit,
    )

    # label 0: a central vector every satellite points at
    rows = [(0, [1.0, 0.0, 0.0, 0.0], 0)]
    sats = [
        [0.9, 0.1, 0.0, 0.0],
        [0.9, 0.0, 0.1, 0.0],
        [0.9, 0.0, 0.0, 0.1],
        [0.9, -0.1, 0.0, 0.0],
    ]
    rows += [(i + 1, v, 0) for i, v in enumerate(sats)]
    # label 1: an orthogonal pair
    rows += [(10, [0.0, 1.0, 0.0, 0.0], 1), (11, [0.0, 0.95, 0.3, 0.0], 1)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    df = df.select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
        "label",
    )
    out = {r.label: r for r in knn_hubness_audit(df, "vec_id", "embedding", "label", k=2).collect()}
    n = 7
    total_kocc = sum(
        r.n_vecs * r.mean_kocc_e6 for r in out.values()
    )  # e6-scaled, integer-div per label: allow the div slack
    assert abs(total_kocc - 2 * n * 1_000_000) <= n * len(out)
    assert out[0].max_kocc >= 4  # the central vector is a hub
    # the orthogonal pair are mutual 1-NNs: reciprocity > 0
    assert out[1].reciprocity_ppm > 0


def test_hubness_edge_count_exact(spark):
    """Every query emits exactly k edges when the corpus is larger
    than k, so per-label mean k-occurrence e6 sums are exact
    integer divisions — re-derived here independently."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import (
        brute_force_topk, knn_hubness_audit,
    )

    e = table(spark, SF_SMALL, "embeddings").limit(60)
    e = e.localCheckpoint(eager=True)
    edges = brute_force_topk(e, e, "vec_id", "embedding", 3)
    assert edges.count() == 60 * 3
    panel = knn_hubness_audit(e, "vec_id", "embedding", "label", k=3)
    got = panel.agg(F.sum(F.col("n_vecs"))).collect()[0][0]
    assert got == 60


# ----- X178 paradigm agreement ------------------------------------------------


def test_paradigm_identical_docs_are_both(spark):
    """Two identical documents are caught by BOTH paradigms and
    verify at exact Jaccard 1.0; a disjoint doc pairs with
    neither."""
    from poet_cloud_cost_etl_spark.operators.dedup import paradigm_agreement

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, text, "en", "s1", 10),
        (2, text, "en", "s2", 10),
        (3, "entirely different content about spark catalyst plans", "en", "s3", 10),
    ]
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.paradigm: r for r in paradigm_agreement(df, "doc_id", "text").collect()}
    assert "both" in out
    assert out["both"].n_pairs == 1
    assert out["both"].mean_jaccard_ppm == 1_000_000
    assert sum(r.n_pairs for r in out.values()) == 1


def test_paradigm_buckets_partition_the_union(spark):
    """On the fixture corpus the three buckets are disjoint by
    construction and every bucket's mean sits between its min and
    max."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import paradigm_agreement

    d = table(spark, SF_SMALL, "documents")
    rows = paradigm_agreement(d, "doc_id", "text").collect()
    assert rows, "fixture corpus has near-dups; census must be non-empty"
    for r in rows:
        assert r.paradigm in ("both", "lsh_only", "cosine_only")
        assert r.min_jaccard_ppm <= r.mean_jaccard_ppm <= r.max_jaccard_ppm
        assert r.n_pairs > 0
