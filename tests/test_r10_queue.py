"""Hand-computed semantics and invariants of the r10-cohort operators."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F


def _duck(con, sql):
    r = con.execute(sql)
    cols = [d[0] for d in r.description]
    return cols, r.fetchall()


def test_pii_cooccurrence_hand_computed(spark):
    from poet_cloud_cost_etl_spark.operators.scrub import (
        pii_cooccurrence_audit,
    )

    docs = [
        (1, "mail me at a@b.com or call 555-123-4567", "s1"),  # e+p
        (2, "see https://x.org and a@b.com", "s1"),  # e+u
        (3, "nothing here", "s1"),
        (4, "just 555-123-4567", "s2"),  # p only
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    out = {
        r.source: r
        for r in pii_cooccurrence_audit(df, "doc_id", "text", "source").collect()
    }
    s1 = out["s1"]
    assert (s1.n_docs, s1.n_email, s1.n_url, s1.n_phone) == (3, 2, 1, 1)
    assert (s1.n_email_phone, s1.n_email_url, s1.n_url_phone) == (1, 1, 0)
    assert (s1.n_any_pii, s1.n_multi_pii) == (2, 2)
    assert s1.multi_pii_ppm == (1_000_000 * 2) // 3
    s2 = out["s2"]
    assert (s2.n_any_pii, s2.n_multi_pii, s2.multi_pii_ppm) == (1, 0, 0)


def test_pii_cooccurrence_duckdb_parity(spark):
    """The sf0.001 documents exercise the audit (non-empty result);
    parity with its oracle runs in test_oracle_parity."""
    from tests.conftest import SF_SMALL
    from poet_cloud_cost_etl_spark.catalog import table

    d = table(spark, SF_SMALL, "documents")
    from poet_cloud_cost_etl_spark.operators.scrub import (
        pii_cooccurrence_audit,
    )

    assert pii_cooccurrence_audit(d, "doc_id", "text", "source").collect()


def test_uniform_group_sample_exact_counts_and_order(spark):
    from poet_cloud_cost_etl_spark.operators.sampling import (
        uniform_group_sample,
    )

    df = spark.createDataFrame(
        [(i % 3, i) for i in range(300)], ["g", "doc_id"]
    ).repartition(8)
    out = uniform_group_sample(df, "g", "doc_id", 7).collect()
    # exact count per group, ranks 1..7
    per = {}
    for r in out:
        per.setdefault(r.g, []).append((r.draw_rank, r.doc_id))
    assert set(per) == {0, 1, 2}
    for g, rows in per.items():
        rows.sort()
        assert [rk for rk, _ in rows] == list(range(1, 8))
    # matches the naive single-window reference draw exactly
    from pyspark.sql.window import Window

    w = Window.partitionBy("g").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ref = (
        df.withColumn("draw_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("draw_rank") <= 7)
        .collect()
    )
    assert sorted((r.g, r.draw_rank, r.doc_id) for r in ref) == sorted(
        (r.g, r.draw_rank, r.doc_id) for r in out
    )


def test_uniform_group_sample_duckdb_parity(spark):
    """The sf0.001 documents yield a non-empty draw; parity with the
    oracle runs in test_oracle_parity."""
    from tests.conftest import SF_SMALL
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.sampling import (
        uniform_group_sample,
    )

    d = table(spark, SF_SMALL, "documents")
    assert uniform_group_sample(d, "source", "doc_id", 5).collect()


def test_dedup_survival_by_source_duckdb_parity(spark):
    """Composition query: per-source survivorship under the global
    lowest-id rule at three stages (exact / fingerprint / X7
    clusters) — the structural invariants on sf0.001 (1_total row
    per source, monotone non-increasing survival down the stages);
    parity with the oracle runs in test_oracle_parity."""
    from tests.conftest import SF_SMALL
    from poet_cloud_cost_etl_spark.queries import QUERIES

    out = QUERIES["dedup_survival_by_source"](spark, SF_SMALL).collect()
    assert out
    per = {}
    for r in out:
        per.setdefault(r.source, {})[r.stage] = r.n_surviving
    for source, stages in per.items():
        assert "1_total" in stages
        seq = [stages[s] for s in sorted(stages)]
        assert all(a >= b for a, b in zip(seq, seq[1:])), (source, stages)


def test_lm_heldout_eval_duckdb_parity_and_split(spark):
    """Held-out LM eval: the sf0.001 documents yield a non-empty
    result; parity with the oracle runs in test_oracle_parity, and the
    split guarantee (the model never scores a held doc with its own
    counts) is test_trigram_backoff_model_df_blocks_self_scoring."""
    from tests.conftest import SF_SMALL
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.textstats import (
        trigram_backoff_heldout_eval,
    )

    d = table(spark, SF_SMALL, "documents")
    out = trigram_backoff_heldout_eval(d, "doc_id", "text", "source").collect()
    assert out


def test_trigram_backoff_model_df_blocks_self_scoring(spark):
    """A doc whose trigram appears 3+ times ONLY in itself scores
    c3-hit when self-scored (the X59 form) but must back off when the
    model excludes it — the exact flattery the held-out form kills."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        trigram_backoff_scores,
    )

    rep = "alpha beta gamma " * 4  # 'alpha beta gamma' trigram x4
    docs = [(1, rep), (2, "alpha beta delta beta gamma eps")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    selfscored = {
        r.doc_id: r.n_backoff
        for r in trigram_backoff_scores(df, "doc_id", "text").collect()
    }
    assert selfscored[1] < 10  # mostly c3 hits on its own repeats
    held = {
        r.doc_id: r
        for r in trigram_backoff_scores(
            df.filter(F.col("doc_id") == 1),
            "doc_id",
            "text",
            model_df=df.filter(F.col("doc_id") == 2),
        ).collect()
    }
    # every surviving position backs off (no c3 in the model)
    assert 1 not in held or held[1].n_backoff == held[1].n_trigrams


def test_exact_substring_cut_spans_hand_computed(spark):
    """Two docs sharing one 3-gram ('b c d' at doc1 pos 2, doc2
    pos 1) plus a doc-internal repeat: spans merge per the
    gaps-and-islands rule, 1-based half-open token intervals."""
    from poet_cloud_cost_etl_spark.operators.dedup import (
        exact_substring_cut_spans,
    )

    docs = [
        (1, "a b c d e"),      # 'b c d' at pos 2 -> span [2, 5)
        (2, "b c d z z"),      # 'b c d' at pos 1 -> span [1, 4)
        (3, "x y x y x y x"),  # 'x y x'/'y x y' repeat internally
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {}
    for r in exact_substring_cut_spans(df, "doc_id", "text").collect():
        out.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end, r.n_merged)
        )
    assert out[1] == [(2, 5, 1)]
    assert out[2] == [(1, 4, 1)]
    # doc 3: every position 1..5 duplicated -> one merged span [1, 8)
    assert out[3] == [(1, 8, 5)]


def test_exact_substring_cut_spans_duckdb_parity(spark):
    """The sf0.001 documents hold cut spans; parity with the oracle
    runs in test_oracle_parity."""
    from tests.conftest import SF_SMALL
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import (
        exact_substring_cut_spans,
    )

    d = table(spark, SF_SMALL, "documents")
    assert exact_substring_cut_spans(d, "doc_id", "text").collect()


def test_exact_substring_rewrite_hand_computed(spark):
    """The doc-1/doc-2 shared gram is cut from both; untouched
    tokens survive in order; a fully-duplicated doc rewrites to ''."""
    from poet_cloud_cost_etl_spark.operators.dedup import (
        exact_substring_rewrite,
    )

    docs = [
        (1, "a b c d e"),   # span [2,5) cut -> 'a e'
        (2, "b c d z z"),   # span [1,4) cut -> 'z z'
        (3, "p q r"),       # unique -> untouched
        (4, "p q r"),       # exact dup of 3 -> both fully cut
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in exact_substring_rewrite(df, "doc_id", "text").collect()}
    assert out[1].text_rewritten == "a e"
    assert (out[1].n_tokens, out[1].n_tokens_kept) == (5, 2)
    assert out[2].text_rewritten == "z z"
    assert out[3].text_rewritten == "" and out[4].text_rewritten == ""
    assert out[3].kept_ppm == 0 and out[1].kept_ppm == 400_000


def test_exact_substring_rewrite_duckdb_parity(spark):
    """The sf0.001 documents yield a non-empty rewrite; parity with
    the oracle runs in test_oracle_parity."""
    from tests.conftest import SF_SMALL
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import (
        exact_substring_rewrite,
    )

    d = table(spark, SF_SMALL, "documents")
    assert exact_substring_rewrite(d, "doc_id", "text").collect()


def test_langid_source_agreement_duckdb_parity_and_kappa(spark):
    """Per-source kappa panel: non-empty on sf0.001 (parity with the
    oracle runs in test_oracle_parity), plus a hand-computed kappa on
    a fixture where one 'source' has perfect labels (kappa 1.0) and
    another has labels shuffled against a constant prediction (kappa
    NULL via the degenerate denominator guard)."""
    from tests.conftest import SF_SMALL
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.textstats import (
        langid_agreement_by_source,
    )

    d = table(spark, SF_SMALL, "documents")
    assert langid_agreement_by_source(
        d, "doc_id", "text", "lang", "source"
    ).collect()

    docs = [
        # source A: en text labeled en, es text labeled es -> kappa 1
        (1, "the cat and the dog is a pet", "en", "A"),
        (2, "el perro y la casa de los que", "es", "A"),
        # source B: all predictions 'en', labels constant 'en' ->
        # pe_num = n^2 -> degenerate -> NULL kappa, accuracy 1e6
        (3, "the and of to is a", "en", "B"),
        (4, "the and of to is a", "en", "B"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang", "source"])
    out = {
        r.source: r
        for r in langid_agreement_by_source(
            df, "doc_id", "text", "lang", "source"
        ).collect()
    }
    assert out["A"].kappa == 1.0 and out["A"].accuracy_ppm == 1_000_000
    assert out["B"].kappa is None and out["B"].accuracy_ppm == 1_000_000


def test_participation_ratio_duckdb_parity_and_bounds(spark):
    """The analytic bounds on sf0.001 embeddings: 1 <= PR <= dim
    (parity with the oracle runs in test_oracle_parity); and on a
    hand-built isotropic fixture (identity directions, equal mass) PR
    must equal the vector dimension exactly."""
    from tests.conftest import SF_SMALL
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.embeddings import (
        participation_ratio,
    )

    e = table(spark, SF_SMALL, "embeddings")
    out = participation_ratio(e, "embedding").collect()
    assert len(out) == 1
    r = out[0]
    assert 1.0 <= r.participation_ratio <= 64.0

    # isotropic fixture: 4 one-hot directions, equal mass -> G = I,
    # trace = 4, frob = 4, PR = 4 = dim exactly
    iso = spark.createDataFrame(
        [(i, [1.0 if d == i else 0.0 for d in range(4)]) for i in range(4)],
        ["vec_id", "embedding"],
    )
    ri = participation_ratio(iso, "embedding").collect()[0]
    assert ri.participation_ratio == 4.0 and ri.trace_total == 4.0
    assert ri.dim == 4  # derived from the data, not declared
    # rank-1 fixture: all mass on one direction -> PR = 1
    r1 = spark.createDataFrame(
        [(i, [2.0, 0.0, 0.0]) for i in range(5)], ["vec_id", "embedding"]
    )
    rr = participation_ratio(r1, "embedding").collect()[0]
    assert rr.participation_ratio == 1.0


def test_langid_agreement_keeps_disjoint_label_source(spark):
    """r9 review finding: a source whose labels are entirely outside
    the predictable class set (e.g. 'pt') must STAY in the panel —
    accuracy 0, chance 0, kappa 0.0 — not vanish through an inner
    marginal join. Pinned on both engines via the oracle."""
    import pandas as pd
    from poet_cloud_cost_etl_spark.oracles import ORACLES
    from poet_cloud_cost_etl_spark.operators.textstats import (
        langid_agreement_by_source,
    )

    docs = [
        (1, "the and of to is a", "pt", "BAD"),  # pred en, label pt
        (2, "the and of to is a", "en", "GOOD"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang", "source"])
    out = {
        r.source: r
        for r in langid_agreement_by_source(
            df, "doc_id", "text", "lang", "source"
        ).collect()
    }
    assert set(out) == {"BAD", "GOOD"}
    assert out["BAD"].accuracy_ppm == 0 and out["BAD"].kappa == 0.0
    assert out["BAD"].chance_ppm == 0
    assert out["GOOD"].accuracy_ppm == 1_000_000
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source"]),
    )
    cols, orows = _duck(con, ORACLES["langid_source_agreement"])
    srows = sorted(
        tuple(r)
        for r in langid_agreement_by_source(
            df, "doc_id", "text", "lang", "source"
        ).collect()
    )
    assert sorted(tuple(r) for r in orows) == srows


def test_exact_substring_rewrite_has_no_presentation_sort(spark):
    """r10 verdict What's-wrong #2: the rewrite used to end in an
    unprotected .orderBy(id) — orderBy's range-sampling pass
    re-executed the span-detection join/aggregate subtree (only the
    token base is checkpointed) and range-partitioned the full
    rewritten corpus for nothing: the driver's value hash and the
    parity harness are both order-insensitive.  Pin the fix: no
    rangepartitioning exchange anywhere in the plan."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import (
        exact_substring_rewrite,
    )
    from poet_cloud_cost_etl_spark.plans.explain import physical_plan

    from tests.conftest import SF_SMALL

    d = table(spark, SF_SMALL, "documents")
    plan = physical_plan(exact_substring_rewrite(d, "doc_id", "text"))
    assert "Exchange rangepartitioning" not in plan
