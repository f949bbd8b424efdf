"""Hand-computed semantics and invariants of the r11-cohort operators."""

from __future__ import annotations


from tests.conftest import SF_SMALL


# ----- X156 tf·idf cosine ---------------------------------------------------


def test_tfidf_cosine_hand_computed(spark):
    """Two docs sharing one rare term; doc 3 disjoint. With df caps
    off the fixture is tiny enough to verify the weight arithmetic
    by hand."""
    from poet_cloud_cost_etl_spark.operators.dedup import tfidf_cosine_pairs

    docs = [
        (1, "alpha alpha beta"),
        (2, "alpha gamma"),
        (3, "delta delta"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = tfidf_cosine_pairs(df, "doc_id", "text", threshold=0.0).collect()
    assert len(out) == 1 and (out[0].doc_a, out[0].doc_b) == (1, 2)
    # alpha df=2 -> idf 500000; beta/gamma/delta df=1 -> 1000000
    # w1 = {alpha: 2*5e5=1e6, beta: 1e6}; w2 = {alpha: 5e5, gamma: 1e6}
    # dot = 1e6*5e5 = 5e11; s1 = 2e12; s2 = 0.25e12 + 1e12 = 1.25e12
    import math

    expect = round(5e11 / (math.sqrt(2e12) * math.sqrt(1.25e12)), 6)
    assert out[0].cosine == expect


def test_tfidf_cosine_duckdb_parity(spark):
    """Non-empty on sf0.001; oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import tfidf_cosine_pairs

    d = table(spark, SF_SMALL, "documents")
    assert tfidf_cosine_pairs(
        d, "doc_id", "text", threshold=0.3
    ).collect()


# ----- X157 bag Jaccard -----------------------------------------------------


def test_bag_jaccard_hand_computed(spark):
    """Multiplicity awareness: doc1 says alpha 3x, doc2 1x — set
    Jaccard would be 1.0 on the {alpha} support; bag is 1/3."""
    from poet_cloud_cost_etl_spark.operators.dedup import bag_jaccard_pairs

    docs = [(1, "alpha alpha alpha"), (2, "alpha")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = bag_jaccard_pairs(
        df, "doc_id", "text", threshold_ppm=0
    ).collect()
    assert len(out) == 1
    r = out[0]
    # M = min(3,1) = 1; S_a=3, S_b=1; J = 1/(3+1-1) = 1/3
    assert (r.w_common, r.jaccard_w_ppm) == (1, 1_000_000 // 3)


def test_bag_jaccard_duckdb_parity(spark):
    """Non-empty on sf0.001; oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import bag_jaccard_pairs

    d = table(spark, SF_SMALL, "documents")
    assert bag_jaccard_pairs(
        d, "doc_id", "text", threshold_ppm=300_000
    ).collect()


# ----- X158 CDC chunking ----------------------------------------------------


def test_cdc_chunks_edit_stability(spark):
    """The CDC property: prepending a token to a doc changes only
    the FIRST chunk's hash — every chunk after the first boundary
    re-synchronizes (fixed windows would shift all of them)."""
    from poet_cloud_cost_etl_spark.operators.packing import cdc_chunks

    base = " ".join(f"tok{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, base), (2, "inserted " + base)], ["doc_id", "text"]
    )
    out = cdc_chunks(df, "doc_id", "text", boundary_mod=8).collect()
    h1 = [r.chunk_hash for r in out if r.doc_id == 1]
    h2 = [r.chunk_hash for r in out if r.doc_id == 2]
    assert len(h1) > 3  # expected ~200/8 chunks; must actually split
    # all chunks after the first boundary agree
    assert h1[1:] == h2[1:]
    assert h1[0] != h2[0]
    # chunk_idx is dense from 0 and n_tokens sums to the token count
    idx1 = [r.chunk_idx for r in out if r.doc_id == 1]
    assert idx1 == list(range(len(idx1)))
    assert sum(r.n_tokens for r in out if r.doc_id == 1) == 200


def test_cdc_chunk_stats_duckdb_parity(spark):
    """Non-empty on sf0.001; oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.packing import cdc_chunk_stats

    d = table(spark, SF_SMALL, "documents")
    assert cdc_chunk_stats(d, "doc_id", "text", "source").collect()


# ----- X159 embedding drift -------------------------------------------------


def test_embedding_drift_identical_halves(spark):
    """Both halves drawn from the same two vectors -> mean vectors
    equal -> cos exactly 1.0 and equal norms."""
    from poet_cloud_cost_etl_spark.operators.embeddings import (
        embedding_drift_by_label,
    )

    rows = [
        (0, [1.0, 0.0], 7),
        (2, [0.0, 1.0], 7),
        (1, [1.0, 0.0], 7),
        (3, [0.0, 1.0], 7),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = embedding_drift_by_label(
        df, "vec_id", "embedding", "label"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_a, r.n_b, r.mean_cos) == (2, 2, 1.0)
    assert r.mean_norm_a_e6 == r.mean_norm_b_e6


def test_embedding_drift_orthogonal_halves(spark):
    from poet_cloud_cost_etl_spark.operators.embeddings import (
        embedding_drift_by_label,
    )

    rows = [(0, [1.0, 0.0], 1), (1, [0.0, 1.0], 1)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    r = embedding_drift_by_label(
        df, "vec_id", "embedding", "label"
    ).collect()[0]
    assert r.mean_cos == 0.0


def test_embedding_drift_duckdb_parity(spark):
    """Non-empty on sf0.001; oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.embeddings import (
        embedding_drift_by_label,
    )

    e = table(spark, SF_SMALL, "embeddings")
    assert embedding_drift_by_label(
        e, "vec_id", "embedding", "label"
    ).collect()


# ----- X160 duplication Gini ------------------------------------------------


def test_duplication_gini_hand_computed(spark):
    """Source A: all groups size 1 (gini 0). Source B: sizes [1, 3]
    -> n=2, S=4, sorted T = 1·1 + 2·3 = 7; G = (2·7 − 3·4)/(2·4)
    = 2/8 -> 250000 ppm."""
    from poet_cloud_cost_etl_spark.operators.dedup import duplication_gini

    docs = (
        [(i, f"unique {i}", "a") for i in range(4)]
        + [(10, "solo text", "b")]
        + [(11 + j, "tripled text", "b") for j in range(3)]
    )
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    out = {r.source: r for r in duplication_gini(
        df, "doc_id", "text", "source"
    ).collect()}
    assert out["a"].gini_ppm == 0
    b = out["b"]
    assert (b.n_groups, b.n_docs, b.gini_ppm) == (2, 4, 250_000)


def test_duplication_gini_duckdb_parity(spark):
    """Non-empty on sf0.001; oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import duplication_gini

    d = table(spark, SF_SMALL, "documents")
    assert duplication_gini(d, "doc_id", "text", "source").collect()


# ----- X161 line dedup ------------------------------------------------------


def test_line_dedup_hand_computed(spark):
    from poet_cloud_cost_etl_spark.operators.dedup import (
        line_dedup_by_source,
    )

    boiler = "subscribe to our newsletter today friends."
    docs = [
        (1, f"{boiler} unique sentence one here okay.", "s1"),
        (2, f"{boiler} another unique sentence right here.", "s1"),
        (3, "totally unrelated content in this document.", "s2"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    out = {r.source: r for r in line_dedup_by_source(
        df, "doc_id", "text", "source", min_chars=20
    ).collect()}
    s1 = out["s1"]
    # 4 line instances in s1; the boilerplate line occurs twice
    assert (s1.n_lines, s1.n_distinct, s1.n_dup_instances) == (4, 3, 2)
    assert s1.dup_ppm == (1_000_000 * 2) // 4
    assert out["s2"].n_dup_instances == 0


def test_line_dedup_duckdb_parity(spark):
    """Non-empty on sf0.001; oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import (
        line_dedup_by_source,
    )

    d = table(spark, SF_SMALL, "documents")
    assert line_dedup_by_source(
        d, "doc_id", "text", "source"
    ).collect()


# ----- X162 cluster dilution ------------------------------------------------


def test_cluster_dilution_duckdb_parity(spark):
    """Non-empty on sf0.001; oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import (
        cluster_dilution_audit,
    )

    d = table(spark, SF_SMALL, "documents")
    assert cluster_dilution_audit(
        d, "doc_id", "text", threshold=0.5
    ).collect()


def test_cluster_dilution_chain_is_diluted(spark):
    """A chain A~B~C where A and C are dissimilar: CC puts all three
    in one cluster; the C->A star edge must be flagged diluted."""
    from poet_cloud_cost_etl_spark.operators.dedup import (
        cluster_dilution_audit,
    )

    # B overlaps heavily with both A and C; A and C share little:
    # J(A,B) = 7/9, J(B,C) = 6/10, J(A,C) = 5/11 < 0.5 (diluted)
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 x1"
    c = "w3 w4 w5 w6 w7 w8 w9 x1 x2 x3"  # near B, far from A
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], ["doc_id", "text"]
    )
    out = cluster_dilution_audit(df, "doc_id", "text", threshold=0.5)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].cluster_size_bucket == "3-4"
    assert rows[0].n_edges == 2  # B->A and C->A star edges
    assert rows[0].n_diluted >= 1  # the C->A edge is below threshold


# ----- X163 minhash calibration ---------------------------------------------


def test_minhash_calibration_duckdb_parity(spark):
    """Non-empty on sf0.001; oracle parity runs in test_oracle_parity."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import minhash_calibration

    d = table(spark, SF_SMALL, "documents")
    assert minhash_calibration(d, "doc_id", "text", k=8).collect()


def test_minhash_calibration_identical_docs_match_fully(spark):
    """Identical texts: exact J = 1e6 (decile 9) and every signature
    component matches -> mean_match_ppm = 1e6."""
    from poet_cloud_cost_etl_spark.operators.dedup import minhash_calibration

    t = "the quick brown fox jumps over the lazy dog again"
    df = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
    rows = minhash_calibration(df, "doc_id", "text", k=8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.j_decile, r.n_pairs) == (9, 1)
    assert r.mean_j_ppm == 1_000_000 and r.mean_match_ppm == 1_000_000


def test_tfidf_max_df_guard(spark):
    """df >= 1e6 would zero the idf weight and open the 0/0-NaN
    engine-divergence hazard — rejected up front."""
    import pytest

    from poet_cloud_cost_etl_spark.operators.dedup import tfidf_cosine_pairs

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="max_df"):
        tfidf_cosine_pairs(df, "doc_id", "text", max_df=1_000_000)
