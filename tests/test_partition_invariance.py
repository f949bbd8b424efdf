"""Partition-count invariance: the determinism contract that the
whole float strategy (integer cents, scaled-integer sums, rounded
folds) exists to guarantee. A 1000-executor run differs from
local[4] precisely in scan split sizes and shuffle widths — so every
result must be bit-identical when both knobs change. The oracle
parity sweep pins results at ONE partitioning; this test pins the
invariance itself on the queries whose arithmetic would drift first
if a float summation-order dependence crept in."""

from __future__ import annotations

import pytest

# The float-heaviest representatives of each family: money aggregate,
# windowed running math, scaled-integer vector means, GEMM cosine
# kernel, corpus-LM rationals, Lloyd-refined IVF (iterative + floats).
QUERIES_UNDER_TEST = [
    "costs_by_service_30d",
    "window_moving_avg",
    "embedding_label_centroids",
    "dedup_embedding_cosine",
    "text_bigram_lm_score",
    "ann_ivf_refined",
    "dataset_fingerprint",  # XOR-digest order-independence is its whole claim
    # r11 cohort: the float/aggregation shapes that would drift first
    # are the DECIMAL dot/norm accumulations (tfidf, drift), the
    # collect_list-ordered chunk hash (cdc), and the lattice window
    # (gini).
    "tfidf_cosine_pairs",
    "cdc_chunk_stats",
    "embedding_drift_by_label",
    "duplication_gini",
    # r12 cohort: the window-function selection (winnow — lead over a
    # doc-keyed sort), the HUGEINT/DECIMAL ln-product sums
    # (crossentropy), the global first-occurrence min-struct (line
    # rewrite), and the sweep-rank recall (nprobe curve).
    "winnow_fingerprints",
    "source_crossentropy_matrix",
    "line_dedup_rewrite",
    "ivf_nprobe_recall_curve",
    # r13 cohort: the per-user lag/last windows over micro-second ties
    # (markov, attribution), the lattice cumulative window + broadcast
    # thresholds (rfm), the register MAX + DECIMAL harmonic sum (hll),
    # and the dual-candidate full-outer union with round-6 cosine
    # membership (paradigm agreement).
    "events_markov_transitions",
    "purchase_attribution_last_touch",
    "events_rfm_segments",
    "vocab_hll_estimate",
    "neardup_paradigm_agreement",
    # r14 cohort: the session-flag running sum under tied micro-second
    # orders (path trigrams), the cohort-keyed cumulative cents window
    # (ltv), the double-pow rounding + DECIMAL sums (design effect),
    # the SRP sign folds + acos rounding (srp calibration), and the
    # recursive-CC min-label fixpoint over mutual edges (knn clusters).
    "session_path_trigrams",
    "cohort_ltv_curves",
    "mixture_design_effect",
    "srp_cosine_calibration",
    "mutual_knn_clusters",
]

SF = "/root/testdata/sf0.001"


def _rows(spark, name):
    from poet_cloud_cost_etl_spark.queries import QUERIES

    df = QUERIES[name](spark, SF)
    cols = sorted(df.columns)
    return sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("name", QUERIES_UNDER_TEST)
def test_result_invariant_under_partitioning(spark, name):
    """Same query, three (shuffle width, scan split) settings —
    including a 2-partition setting that forces different partial-
    aggregation groupings and a 64/tiny-split setting that fragments
    the scans — must collect identical rows."""
    conf = spark.conf
    baseline = _rows(spark, name)
    settings = [
        ("2", str(512 * 1024 * 1024)),  # wide tasks, narrow shuffle
        ("64", str(256 * 1024)),  # tiny scan splits, wide shuffle
    ]
    prev_sp = conf.get("spark.sql.shuffle.partitions")
    prev_mpb = conf.get("spark.sql.files.maxPartitionBytes")
    try:
        for sp, mpb in settings:
            conf.set("spark.sql.shuffle.partitions", sp)
            conf.set("spark.sql.files.maxPartitionBytes", mpb)
            assert _rows(spark, name) == baseline, (
                f"{name} drifted at shuffle_partitions={sp}, "
                f"maxPartitionBytes={mpb}"
            )
    finally:
        conf.set("spark.sql.shuffle.partitions", prev_sp)
        conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
