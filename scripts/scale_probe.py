#!/usr/bin/env python3
"""Order-of-magnitude scale probe (round-6 ask #3).

The 100×-design claims in the plan audits deserve an empirical point
beyond sf0.1, but the driver only materializes sf{0.001,0.01,0.1}.
This script builds a 10× scale-up of sf0.1 (so ~sf1.0) in /tmp and
times the heaviest queries at both scales, writing the curve to
BENCH_SF1_r{N}.json at the repo root.

Scale-up construction (deterministic, DuckDB):
- documents: 10 ID-offset copies; every token in copy i is prefixed
  ``c{i}`` so cross-copy shingle/bigram overlap vanishes — the
  near-dup graph scales linearly (10× clusters), NOT as artificial
  10-cliques of identical texts, which would quadratically inflate
  LSH bucket pair-generation and measure a fiction. n_chars is
  recomputed from the rewritten text.
- embeddings: 10 ID-offset copies; dimension 0 shifted by 0.001·i so
  copies are near but not identical (IVF assignment stays spread).
- orders: 10 key-offset copies (window_distribution ranks a unique
  key, so copies just widen the distribution).

Usage: python scripts/scale_probe.py [--out BENCH_SF1_r07.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
SCALED = "/tmp/spark-graft-sf1.0"
COPIES = 10
HEAVY = [
    "dedup_clusters",
    "ann_ivf_refined",
    "text_bigram_lm_score",
    "window_distribution",
    "tfidf_top_terms",
    # round-7 heavy operators: the cluster-composition chain and the
    # corpus-overlap matrix.
    "dedup_best_of_cluster",
    "split_leakage_safe",
    "source_overlap_matrix",
    # round-8 operators heavy enough to deserve a decade point:
    # the fixed-size-shuffle Gram/power-iteration chain, the keyed-
    # vocab-join panel, the datacard composition, and the pruned
    # trigram LM. bm25_retrieval is NOT probed as-registered: the
    # scale-up's c{i} token prefixes would leave its fixed query
    # terms matching nothing at sf1.0 (an empty-path fiction, ratio
    # 0.43 observed) — the scaled-fair variant below prefixes the
    # query terms instead.
    "embedding_top_pc",
    "characteristic_terms",
    # round-8c: the ExactSubstr coverage op — a full-corpus gram
    # shuffle + gram-partitioned window; the c{i} copy prefixes keep
    # cross-copy grams disjoint so duplication structure scales
    # linearly, not as copy-cliques.
    "substring_dup_coverage",
    # round-8c: containment shares the X2d grouped pair core — the
    # decade point measures the pair-generation shuffle directly.
    "dedup_containment",
    "source_datacard",
    "text_trigram_backoff",
    # round-8g: the corpus-level block-dedup rewrite (count agg +
    # occurrence->hash join + ordered rebuild; the c{i} prefixes keep
    # cross-copy blocks disjoint so duplicate structure scales
    # linearly), the KMV sketch overlap (pair stage is |G|^2*k and
    # CONSTANT across scales — only the hash-distinct scan grows),
    # the Expand multi-countDistinct diversity panel, and the
    # LM-score gate (corpus bigram counts + two joins + panel).
    "dedup_corpus_blocks",
    "source_overlap_kmv",
    "distinct_ngram_diversity",
    "lm_gate_ablation",
    # round-8i: the five ops whose single-task stages were removed
    # this round (unpartitioned windows -> TakeOrdered / two-phase
    # rank / rank-offset join) — probed so the plan-shape fixes have
    # a measured decade point, not just an .explain argument.
    "dedup_prefix_filter_join",
    "dedup_sorted_neighborhood",
    "vocab_coverage",
    "cms_heavy_hitters",
    "token_zipf_fit",
    # round-9 operators heavy enough to deserve a decade point (the
    # c{i} prefixes keep cross-copy shingle overlap at zero, so the
    # shingle-join families scale linearly — fair):
    "dedup_survivor_bias",
    "source_coverage_greedy",
    "unique_token_mass",
    "boundary_overlap_chains",
    "pc_variance_explained",
    # round-9b: the heaviest never-probed queries (sf0.1 bench rank).
    # The graph family (modularity / pagerank / radius / density /
    # license / kfold) recomputes the X2d pair core + X7 CC per run —
    # the c{i} copy prefixes keep cross-copy shingles disjoint, so the
    # near-dup graph and its clusters scale linearly and each probe
    # measures the op's own aggregate on top of the shared core. The
    # id-residue subsets (vec_id % 5 probes, doc_id % 7 probes,
    # doc_id % 4 licenses) stay scale-invariant under the 10^7 id
    # offsets: 10^7 ≡ 0 (mod 4) and (mod 5), so each copy replicates
    # the base residue classes exactly; mod 7 the offset is ≡ 3, so
    # copy i's residues shift by 3i but each copy still contributes
    # exactly 1/7 of its ids. Either way subset fractions are
    # constant across scales and the probes grow with the corpus.
    "dedup_modularity",
    "neardup_pagerank",
    "dedup_cluster_radius",
    "dedup_cluster_density",
    "license_propagation",
    "dedup_lsh_clusters_star",
    "split_kfold_grouped",
    "embedding_remove_top_pc",
    "dedup_lsh_plan",
    "neardup_probe_retrieval",
    "dedup_lsh_recall",
    "dedup_bbit_minhash",
    # round-10: the ExactSubstr REWRITE (r9 verdict task 3) — the
    # cut-span table joins back to token positions and rebuilds every
    # doc; the span fanout deserves a measured decade point. The c{i}
    # prefixes keep cross-copy 3-grams disjoint, so duplicated spans
    # scale linearly.
    "exact_substring_rewrite",
    # round-11 (r10 verdict task 5): the two unprobed r10
    # registrations. lm_heldout_eval's train/held-out split is by
    # doc-id residue (scale-invariant under the 10^7 offsets, see the
    # round-9b note) and the c{i} prefixes keep cross-copy grams
    # disjoint, so the two keyed model joins grow linearly with the
    # corpus; langid_source_agreement's kappa cells are bounded by
    # |classes|^2 per source and the source column is copy-invariant,
    # so only the marker scan grows.
    "lm_heldout_eval",
    "langid_source_agreement",
    # round-11: the two r11-cohort ops BENCH_SF1_r10 did not probe.
    # embedding_drift_by_label: label-keyed exact integer sum vectors
    # — one fixed-width shuffle per label, linear scan. The id-parity
    # halves stay balanced under the 10^7 offsets (even offset flips
    # no parity class). duplication_gini: the c{i} prefixes keep
    # cross-copy texts distinct, so each copy replicates the base
    # multiplicity lattice and the per-source size-lattice window
    # stays bounded by distinct sizes, never documents.
    "embedding_drift_by_label",
    "duplication_gini",
]
N_RUNS = 3

# SemDeDup's documented scaling knob is cluster granularity: k grows
# with N so per-cluster pair work stays constant (operators/
# similarity.py:semantic_dedup docstring). The registered query pins
# k=8 for oracle determinism; probing THAT at 10x data would measure
# 10x-bigger clusters (quadratic pair growth) — a mis-deployment, not
# the operator. The probe therefore applies the knob: k=8 at sf0.1,
# k=64 at sf1.0 — EXACTLY the tree probe's 8^depth leaf count, so the
# within-bucket pair stage (identical algorithm, cluster-size-driven)
# costs the same on both sides and the flat-vs-tree delta isolates
# the ASSIGNMENT strategy (N·k vs N·b·depth), which is the claim the
# record exists to test. (The first cut used k=80 ≠ 64 leaves; the
# tree then paid ~25% more pair work and the comparison was
# apples-to-oranges.)
def _semantic_dedup_scaled(spark, sf_dir, k_scale):
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import semantic_dedup

    e = table(spark, sf_dir, "embeddings")
    k = 8 ** (2 if k_scale > 1 else 1)
    return semantic_dedup(
        e, "vec_id", "embedding", n_centroids=k, assign="flat"
    )


def _semantic_dedup_tree(spark, sf_dir, k_scale):
    # The tree answer to the same deployment: leaf count grows with N
    # (depth 1 -> 2 at 10x data, branching 8, so 8 -> 64 leaves ==
    # constant cluster size) but each row compares only b·depth
    # centroids instead of k. Flat scaled-k is N^1.5 by construction;
    # this is N·log N — the probe records both so the record shows
    # WHY the tree form exists.
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import (
        semantic_dedup_tree,
    )

    depth = 2 if k_scale > 1 else 1
    e = table(spark, sf_dir, "embeddings")
    return semantic_dedup_tree(
        e, "vec_id", "embedding", branching=8, depth=depth, threshold=0.35
    )


# bm25 at 10x, scale-fair: the c{i} prefixes break raw term overlap,
# so the scaled probe prefixes each query's terms with one copy tag —
# each query matches ~1 copy's worth of docs (the same absolute match
# count as sf0.1) while the corpus-side scan, explode, filter, and
# totals pass over 10x the data. That isolates exactly the part that
# scales.
def _bm25_scaled(spark, sf_dir, k_scale):
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.textstats import bm25_topk
    from poet_cloud_cost_etl_spark.queries import BM25_PROBES

    pfx = ["c0", "c3", "c7"] if k_scale > 1 else ["", "", ""]
    probes = [
        (qid, " ".join(p + t for t in qtext.split()))
        for (qid, qtext), p in zip(BM25_PROBES, pfx)
    ]
    d = table(spark, sf_dir, "documents")
    return bm25_topk(d, "doc_id", "text", probes, k=10)


# Round-9 (r8 verdict task 6): the equal-leaf-count r8 probe showed
# flat and tree both ~21x at 10x data because WITHIN-LEAF pair work
# (interpreted higher-order cosine per pair) dominated and buried the
# assignment-strategy delta the record exists to demonstrate. The
# gemm twins run the SAME probes with the BLAS within-leaf kernel
# (_bucket_dups(pair_impl="gemm"), bit-identical results — pinned by
# test_semantic_dedup_gemm_matches_expr), so pair cost stops masking
# assignment cost: flat k=64 scores 64 centroids/row, the depth-2
# tree scores 16 — the N·k vs N·b·log k claim, finally isolated.
def _semantic_dedup_gemm(spark, sf_dir, k_scale):
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import semantic_dedup

    e = table(spark, sf_dir, "embeddings")
    k = 8 ** (2 if k_scale > 1 else 1)
    return semantic_dedup(
        e, "vec_id", "embedding", n_centroids=k, assign="flat",
        pair_impl="gemm",
    )


def _semantic_dedup_tree_gemm(spark, sf_dir, k_scale):
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import (
        semantic_dedup_tree,
    )

    depth = 2 if k_scale > 1 else 1
    e = table(spark, sf_dir, "embeddings")
    return semantic_dedup_tree(
        e, "vec_id", "embedding", branching=8, depth=depth, threshold=0.35,
        pair_impl="gemm",
    )


# The two round-9 bucketed-pair embedding ops pin k=8 in their
# registered queries (oracle determinism); at 10x data that measures
# 10x-bigger buckets (quadratic pair growth — a mis-deployment, same
# reasoning as the semantic probes above). The scaled variants apply
# the granularity knob: k = 8 -> 64 so bucket size stays constant.
def _threshold_calibration_scaled(pair_impl, assign="flat"):
    def fn(spark, sf_dir, k_scale):
        from poet_cloud_cost_etl_spark.catalog import table
        from poet_cloud_cost_etl_spark.operators.similarity import (
            cosine_threshold_calibration,
        )

        e = table(spark, sf_dir, "embeddings")
        k = 8 ** (2 if k_scale > 1 else 1)
        return cosine_threshold_calibration(
            e, "vec_id", "embedding", "label", n_centroids=k,
            pair_impl=pair_impl, assign=assign,
        )

    return fn


def _margin_mining_scaled(pair_impl, assign="flat"):
    def fn(spark, sf_dir, k_scale):
        from poet_cloud_cost_etl_spark.catalog import table
        from poet_cloud_cost_etl_spark.operators.similarity import (
            margin_knn_pairs,
        )

        e = table(spark, sf_dir, "embeddings")
        k = 8 ** (2 if k_scale > 1 else 1)
        return margin_knn_pairs(
            e, "vec_id", "embedding", "label", n_centroids=k,
            pair_impl=pair_impl, assign=assign,
        )

    return fn


# Shared-stage isolation probe (SURVEY r10 follow-up, settled r9):
# dedup_lsh_plan (8.52x) and dedup_bbit_minhash (8.62x) both embed
# the X2d/_pair_common grouped pair core — timing the core ALONE
# shows whether the 8.5x is the shared stage or the per-op tail.
def _bbit_pair_core_only(spark, sf_dir, k_scale):
    from pyspark.sql import functions as F

    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import (
        _pair_common,
        shingles,
        tokens,
    )

    d = table(spark, sf_dir, "documents")
    arrs = (
        d.select(F.col("doc_id"), tokens("text").alias("__t"))
        .select(
            F.col("doc_id"),
            F.array_distinct(shingles("__t")).alias("__sh"),
        )
        .filter(F.size("__sh") > 0)
    )
    sh_n = arrs.select(
        F.col("doc_id"),
        F.size("__sh").cast("long").alias("n_sh"),
        F.explode("__sh").alias("shingle"),
    )
    return _pair_common(sh_n, "doc_id", None, None)


def _semantic_dedup_auto(spark, sf_dir, k_scale):
    """X28 at the r10 DEFAULTS (assign='auto', pair_impl='auto') with
    the scaled-k deployment knob — the configuration a default caller
    actually runs at scale."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import semantic_dedup

    e = table(spark, sf_dir, "embeddings")
    k = 8 ** (2 if k_scale > 1 else 1)
    return semantic_dedup(e, "vec_id", "embedding", n_centroids=k)


def _hubness_ivf_scaled(spark, sf_dir, k_scale):
    """X177 in its scaled deployment shape: IVF candidate generation
    with n_centroids grown with N (8 -> 64 at 10x) so bucket pair
    volume stays constant — the same granularity knob as the
    semantic-dedup probes."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import (
        knn_hubness_audit,
    )

    e = table(spark, sf_dir, "embeddings")
    k = 8 ** (2 if k_scale > 1 else 1)
    return knn_hubness_audit(
        e, "vec_id", "embedding", "label", k=5,
        candidates="ivf", n_centroids=k, nprobe=2,
    )


def _srp_scaled(spark, sf_dir, k_scale):
    """X183 with the scaled granularity knob (n_centroids 8 -> 64 at
    10x): constant bucket pair volume — the deployment shape."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import (
        srp_cosine_calibration,
    )

    e = table(spark, sf_dir, "embeddings")
    k = 8 ** (2 if k_scale > 1 else 1)
    return srp_cosine_calibration(e, "vec_id", "embedding", n_centroids=k)


def _mutual_knn_ivf_scaled(spark, sf_dir, k_scale):
    """X187 in its scaled deployment shape: IVF candidate edges with
    n_centroids grown with N (8 -> 64 at 10x) — the same granularity
    knob as knn_hubness_ivf_scaled; CC rides the mutual edge table."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.similarity import (
        mutual_knn_clusters,
    )

    e = table(spark, sf_dir, "embeddings")
    k = 8 ** (2 if k_scale > 1 else 1)
    return mutual_knn_clusters(
        e, "vec_id", "embedding", "label", k=5,
        candidates="ivf", n_centroids=k, nprobe=2,
    )


def _registered(name):
    """Probe a registered query as registered, by name (k_scale
    unused: the probe measures the registered configuration)."""

    def fn(spark, sf_dir, k_scale):
        from poet_cloud_cost_etl_spark.queries import QUERIES

        return QUERIES[name](spark, sf_dir)

    return fn


SCALED_K = [
    ("semantic_dedup_scaled_k", _semantic_dedup_scaled),
    ("semantic_dedup_tree_scaled", _semantic_dedup_tree),
    ("semantic_dedup_gemm_scaled_k", _semantic_dedup_gemm),
    ("semantic_dedup_tree_gemm_scaled", _semantic_dedup_tree_gemm),
    ("semantic_threshold_calibration_scaled", _threshold_calibration_scaled("expr")),
    ("bitext_margin_mining_scaled", _margin_mining_scaled("expr")),
    ("semantic_threshold_calibration_gemm", _threshold_calibration_scaled("gemm")),
    ("bitext_margin_mining_gemm", _margin_mining_scaled("gemm")),
    # gemm pair kernel + tree assignment: the full scale shape (the
    # remaining ~19x of the flat gemm probes is flat assignment's
    # N*k growth at k prop. to N — same term the X28 tree removes).
    ("semantic_threshold_calibration_tree_gemm",
     _threshold_calibration_scaled("gemm", "tree")),
    ("bitext_margin_mining_tree_gemm", _margin_mining_scaled("gemm", "tree")),
    # round-10 (r9 verdict task 6): the REGISTERED configuration —
    # pair_impl="auto" (per-bucket expr/gemm split at GEMM_MIN_BUCKET)
    # + assign="auto" — probed with the same scaled-k deployment knob,
    # so BENCH_SF1 reflects what a default caller actually runs.
    ("semantic_threshold_calibration_auto",
     _threshold_calibration_scaled("auto", "auto")),
    ("bitext_margin_mining_auto", _margin_mining_scaled("auto", "auto")),
    # round-10: decade points for the r11-queue operators BEFORE they
    # register (tests/test_r11_queue.py) — the c{i} copy prefixes keep
    # cross-copy terms/shingles/lines disjoint, so candidate
    # generation scales linearly and each probe measures the op, not
    # copy-clique fiction.
    ("semantic_dedup_auto_scaled", _semantic_dedup_auto),
    ("tfidf_cosine_pairs_r11", _registered("tfidf_cosine_pairs")),
    ("bag_jaccard_pairs_r11", _registered("bag_jaccard_pairs")),
    ("cdc_chunk_stats_r11", _registered("cdc_chunk_stats")),
    ("line_dedup_by_source_r11", _registered("line_dedup_by_source")),
    ("cluster_dilution_audit_r11", _registered("cluster_dilution_audit")),
    ("minhash_calibration_r11", _registered("minhash_calibration")),
    ("dedup_survival_by_source", _registered("dedup_survival_by_source")),
    # round-11b: decade points for the r13-queue operators BEFORE they
    # register (tests/test_r13_queue.py). The user-keyed window
    # families ride the new events scale-up (10x users, constant
    # per-user streams — see build_scaled_events); the vocab panels
    # see 10x token mass over a c{i}-prefixed vocabulary (HLL/Chao1
    # registers and frequency-of-frequencies scale with vocab, scans
    # with the corpus); paradigm agreement's two candidate generators
    # are the already-probed X2c/X156 bounded cores. knn_hubness is
    # probed in its SCALED deployment shape (candidates="ivf",
    # n_centroids 8->64 — constant bucket size, the semantic-family
    # knob); the registered bruteforce config is |N|^2 BY DESIGN and
    # is not probed as-registered (the bm25/semantic-k=8 precedent).
    ("events_markov_transitions_r13", _registered("events_markov_transitions")),
    ("purchase_attribution_r13",
     _registered("purchase_attribution_last_touch")),
    ("events_seasonality_chi2_r13", _registered("events_seasonality_chi2")),
    ("events_rfm_segments_r13", _registered("events_rfm_segments")),
    ("vocab_hll_estimate_r13", _registered("vocab_hll_estimate")),
    ("vocab_chao1_richness_r13", _registered("vocab_chao1_richness")),
    ("neardup_paradigm_agreement_r13",
     _registered("neardup_paradigm_agreement")),
    ("knn_hubness_ivf_scaled", _hubness_ivf_scaled),
    # round 13: the REGISTERED bruteforce config became probe-able —
    # _knn_edges routes the |N|² ground truth through the
    # double-chunked _gemm_topk kernel (bit-identical rows), so the
    # 100× FLOP growth at 10× is vectorized gemm, not interpreted
    # evals (86 s -> ~5 s at sf0.1).  Expected super-linear BY
    # DESIGN (exact N² ground truth); the ivf entry above remains
    # the linear deployment shape.
    ("knn_hubness_bruteforce_r13", _registered("knn_hubness_audit")),
    # round-11b: decade points for the r14-queue operators BEFORE
    # they register. The events/window families ride the events
    # scale-up; encoding_artifact_rewrite is a pure narrow map; the
    # design-effect grid is |S|-row arithmetic; srp calibration's
    # pair stage is the IVF-bucketed X137 shape (k=8 fixture pin —
    # buckets grow 10x, so this probes the registered config's
    # documented super-linear term honestly); pq distortion rides
    # X42's broadcast-codebook scan; the HLL overlap matrix grows
    # only in its token scan (registers and |S|^2 cells constant).
    # mutual_knn_clusters probes in its scaled deployment shape
    # (candidates="ivf", n_centroids 8->64) like knn_hubness.
    ("session_path_trigrams_r14", _registered("session_path_trigrams")),
    ("cohort_ltv_curves_r14", _registered("cohort_ltv_curves")),
    ("encoding_artifact_rewrite_r14", _registered("encoding_artifact_rewrite")),
    ("mixture_design_effect_r14", _registered("mixture_design_effect")),
    ("srp_cosine_calibration_r14", _registered("srp_cosine_calibration")),
    ("pq_distortion_by_label_r14", _registered("pq_distortion_by_label")),
    ("source_overlap_hll_r14", _registered("source_overlap_hll")),
    ("mutual_knn_ivf_scaled", _mutual_knn_ivf_scaled),
    # round 12 (VERDICT r11 task 3): the shipping default is now
    # k ∝ N (n_centroids=None -> max(8, ceil(N/64)), assign="auto"),
    # so the _r14 registered-config probe above measures the
    # scale-safe shape. The _scaled entry keeps the explicit
    # fixed-k=64 point for comparison; the historical k=8 quadratic
    # (43x at 10x, BENCH_SF1_r11) is now an opt-in mis-deployment
    # (pass n_centroids=8 explicitly), no longer probed.
    ("srp_cosine_calibration_scaled", _srp_scaled),
    # round 12 (VERDICT r11 task 6): decade points for the r12 cohort
    # AT its registration round — the only cohort that reached
    # registration without BENCH_SF1 entries. All eight ride the
    # c{i}-prefixed documents / shifted embeddings scale-ups:
    # winnowing + line-rewrite are linear selections over the token/
    # line streams (cross-copy shingles and lines disjoint by
    # construction); containment-direction and dup-span ride the
    # already-probed X69/X148 bounded pair/span cores; semantic
    # decontamination and the nprobe recall curve are IVF-bucketed
    # shapes (the family where the X183 quadratic hid — the point of
    # probing them); crossentropy grows in its token scan (|S|^2
    # cells constant); mixture_epoch_plan is a per-source token
    # aggregate into a |S|-row panel.
    ("winnow_fingerprints_r12", _registered("winnow_fingerprints")),
    ("source_containment_direction_r12",
     _registered("source_containment_direction")),
    ("dup_span_position_profile_r12",
     _registered("dup_span_position_profile")),
    ("semantic_decontamination_r12",
     _registered("semantic_decontamination")),
    ("ivf_nprobe_recall_curve_r12", _registered("ivf_nprobe_recall_curve")),
    ("source_crossentropy_matrix_r12",
     _registered("source_crossentropy_matrix")),
    ("mixture_epoch_plan_r12", _registered("mixture_epoch_plan")),
    ("line_dedup_rewrite_r12", _registered("line_dedup_rewrite")),
    ("bbit_pair_core_only", _bbit_pair_core_only),
    ("bm25_retrieval_scaled", _bm25_scaled),
]


def build_scaled(src: str, dst: str, copies: int = COPIES) -> None:
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW copies AS SELECT unnest(range({copies})) AS c")

    con.execute(
        f"""
        COPY (
            SELECT d.doc_id + c.c * 10000000 AS doc_id,
                   regexp_replace(d.text, '(\\S+)', 'c' || c.c || '\\1', 'g')
                       AS text,
                   d.lang, d.source,
                   length(regexp_replace(d.text, '(\\S+)',
                                         'c' || c.c || '\\1', 'g')) AS n_chars
            FROM read_parquet('{src}/documents.parquet') d, copies c
        ) TO '{dst}/documents.parquet' (FORMAT parquet)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT e.vec_id + c.c * 10000000 AS vec_id,
                   CAST(list_concat([e.embedding[1] + 0.001 * c.c],
                                    e.embedding[2:]) AS FLOAT[]) AS embedding,
                   e.label
            FROM read_parquet('{src}/embeddings.parquet') e, copies c
        ) TO '{dst}/embeddings.parquet' (FORMAT parquet)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT o.* REPLACE (o.o_orderkey + c.c * 1000000000 AS o_orderkey)
            FROM read_parquet('{src}/orders.parquet') o, copies c
        ) TO '{dst}/orders.parquet' (FORMAT parquet)
        """
    )
    con.close()
    build_scaled_events(src, dst, copies)


def build_scaled_events(src: str, dst: str, copies: int = COPIES) -> None:
    """events: 10 id-offset copies with NEW user ids per copy — each
    copy replicates the base per-user event streams exactly, so the
    user-keyed window families (markov, attribution, RFM) scale as
    10x users with constant per-user work (linear), the hour/type
    cells keep constant cardinality with 10x counts, and the RFM
    value lattice is copy-invariant (identical per-user metrics per
    copy -> same distinct values). Added r11 for the r13-staged
    behavior operators; kept separate so an existing scaled dir can
    be upgraded without rebuilding the text/embedding tables."""
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW copies AS SELECT unnest(range({copies})) AS c")
    con.execute(
        f"""
        COPY (
            SELECT e.event_id + c.c * 10000000 AS event_id, e.ts,
                   e.user_id + c.c * 10000000 AS user_id,
                   e.event_type, e.value, e.props
            FROM read_parquet('{src}/events.parquet') e, copies c
        ) TO '{dst}/events.parquet' (FORMAT parquet)
        """
    )
    con.close()


def _time_one(name: str) -> dict:
    """Fresh-process worker: time ``name`` at both scales and print
    one JSON line. Process isolation is the measurement fix for JVM
    aging: a query measured after 40+ prior executions in the same
    JVM pays their heap history (old-gen pressure, code-cache
    churn) — observed as dedup_clusters@sf1.0 timing 43s late in a
    shared-JVM pass vs 20s in a fresh process, same code, same
    data. One JVM per query removes the shared state entirely; the
    10x ratio is then a property of the operator, not of its
    position in the run order."""
    from poet_cloud_cost_etl_spark.config import EngineConfig
    from poet_cloud_cost_etl_spark.queries import QUERIES
    from poet_cloud_cost_etl_spark.session import build_session

    cfg = EngineConfig.from_env()
    spark = build_session(app_name=f"scale-probe-{name}", **cfg.session_kwargs())
    spark.sparkContext.setLogLevel("ERROR")
    scaled_ops = dict(SCALED_K)
    out = {"name": name}
    for key, sf_dir, k_scale, n_warm in (
        # 3 warm-ups at the cheap scale: a fresh JVM's first jobs pay
        # Spark-internal JIT, which otherwise lands in the sf0.1
        # numbers and deflates the ratio (observed: sf1.0 < sf0.1 for
        # a 1s query with a single warm-up). By the sf1.0 pass the
        # JVM is hot; one warm-up covers the new plan/codegen.
        ("sf0.1", SF01, 1, 5),
        ("sf1.0", SCALED, COPIES, 2),
    ):
        if name in scaled_ops:
            fn = lambda: scaled_ops[name](spark, sf_dir, k_scale)  # noqa: E731
        else:
            fn = lambda: QUERIES[name](spark, sf_dir)  # noqa: E731
        # noop sink, not count(): under count() Catalyst prunes
        # unreferenced columns — deleting per-row output expression
        # trees and unique-keyed final joins entirely, so a probe
        # could time a fraction of the real operator (observed:
        # substring_dup_coverage 0.39s counted vs 2.02s materialized
        # at sf0.1, ratio_10x 0.8 — a fiction). Matches bench.py.
        for _ in range(n_warm):
            fn().write.format("noop").mode("overwrite").save()
        runs = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        out[key] = round(statistics.median(runs), 4)
        print(f"  {key} {name}: {out[key]}s", file=sys.stderr)
    spark.stop()
    return out


def main() -> None:
    import subprocess

    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SF1_r07.json"))
    ap.add_argument("--one", default=None, help="internal: worker mode")
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated subset of probe names to run (others skipped)",
    )
    args = ap.parse_args()

    if args.one:
        print(json.dumps(_time_one(args.one)))
        return

    if not os.path.exists(os.path.join(SCALED, "orders.parquet")):
        print("building 10x scale-up ...", file=sys.stderr)
        build_scaled(SF01, SCALED)
    if not os.path.exists(os.path.join(SCALED, "events.parquet")):
        print("adding events to the 10x scale-up ...", file=sys.stderr)
        build_scaled_events(SF01, SCALED)

    small: dict[str, float] = {}
    big: dict[str, float] = {}
    names = HEAVY + [n for n, _ in SCALED_K]
    if args.only:
        wanted = set(args.only.split(","))
        unknown = wanted - set(names)
        assert not unknown, f"unknown probe names: {sorted(unknown)}"
        names = [n for n in names if n in wanted]
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name],
            capture_output=True, text=True, check=True,
        )
        row = json.loads(proc.stdout.strip().splitlines()[-1])
        small[name] = row["sf0.1"]
        big[name] = row["sf1.0"]
        print(f"{name}: {row['sf0.1']}s -> {row['sf1.0']}s", file=sys.stderr)

    # Merge into an existing record (a --only run extends the round's
    # record instead of clobbering the ops probed earlier).
    if os.path.exists(args.out):
        with open(args.out) as f:
            prior = json.load(f)
        small = {**prior.get("sf0.1", {}), **small}
        big = {**prior.get("sf1.0", {}), **big}
    record = {
        "metric": "scale_probe_10x",
        "unit": "sec",
        "copies": COPIES,
        "n_runs": N_RUNS,
        "isolation": "one JVM per query (see _time_one)",
        "sf0.1": small,
        "sf1.0": big,
        # observed time ratio for 10x data; linear=10, quadratic=100.
        "ratio_10x": {
            n: round(big[n] / small[n], 2) if small[n] > 0 else None
            for n in small
        },
    }
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(record))


if __name__ == "__main__":
    main()
