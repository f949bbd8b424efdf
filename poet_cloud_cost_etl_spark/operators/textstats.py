"""X5/X6: text analysis — token counting, quality scoring, language
ID, document fingerprinting (SURVEY §2.11). All native expressions;
ratios derive from exact integer counts (cross-engine deterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import spread_small_scan
from .dedup import TOKENS_SQL, tokens

# BPE-ish token pattern: letter runs, digit runs, single punctuation.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

STOPWORDS = ["the", "a", "and", "or", "of", "to", "in", "is"]

# Tiny marker-word profiles for the language-ID heuristic. Real
# language ID uses char n-gram profiles; the mechanics (score per
# language, argmax with deterministic tie-break) are identical.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "es": ["el", "la", "de", "los", "y", "que"],
    "de": ["der", "die", "das", "und", "nicht"],
    "fr": ["le", "les", "et", "des", "une"],
}


def _in_list(arr: str, words: list[str]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"size(filter({arr}, x -> x IN ({quoted})))"


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per document."""
    return df.select(
        F.col(id_col),
        F.size(tokens(text_col)).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0)
        ).alias("n_bpe_tokens"),
    )


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Quality-score components: length band, stopword ratio, mean
    word length, duplicate-token ratio — each contributing 0.25."""
    t = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    n_words = F.size("__t")
    n_stop = F.expr(_in_list("__t", STOPWORDS))
    n_distinct = F.size(F.array_distinct("__t"))
    n_chars_in_words = F.expr("aggregate(__t, 0, (acc, x) -> acc + length(x))")
    feat = t.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(n_stop.cast("double") / n_words, 6).alias("stopword_ratio"),
        F.round(n_chars_in_words.cast("double") / n_words, 6).alias("mean_word_len"),
        F.round(
            F.lit(1.0) - n_distinct.cast("double") / n_words, 6
        ).alias("dup_ratio"),
    )
    score = (
        F.when((F.col("n_words") >= 50) & (F.col("n_words") <= 200), 0.25).otherwise(0.0)
        + F.when(F.col("stopword_ratio") >= 0.05, 0.25).otherwise(0.0)
        + F.when(
            (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 8.0), 0.25
        ).otherwise(0.0)
        + F.when(F.col("dup_ratio") <= 0.6, 0.25).otherwise(0.0)
    )
    return feat.select("*", F.round(score, 2).alias("quality_score"))


def lang_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    true_lang: str,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Language-ID heuristic: marker-word hit counts per language,
    argmax with fixed precedence (en > es > de > fr > unknown).
    ``carry_cols`` ride through the scan-stage select so consumers
    that need extra axes (e.g. the per-source agreement audit) don't
    pay a corpus-sized join to re-attach them."""
    carries = [F.col(c) for c in carry_cols]
    t = df.select(
        F.col(id_col), F.col(true_lang), *carries,
        tokens(text_col).alias("__t"),
    )
    scored = t.select(
        F.col(id_col),
        F.col(true_lang),
        *carries,
        *[
            F.expr(_in_list("__t", words)).alias(f"s_{lang}")
            for lang, words in LANG_MARKERS.items()
        ],
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") > 0),
            "en",
        )
        .when((F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")) & (F.col("s_es") > 0), "es")
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") > 0), "de")
        .when(F.col("s_fr") > 0, "fr")
        .otherwise("unknown")
    )
    return scored.select(
        F.col(id_col), F.col(true_lang), *carries, pred.alias("pred_lang")
    )


def winnow_fingerprint(sh: DataFrame, id_col: str) -> DataFrame:
    """Document fingerprinting by hash selection (winnowing-style):
    md5 each distinct shingle, keep digests in the lowest 1/16 of hash
    space (hex prefix '0'), fingerprint = (count, min digest)."""
    hashed = sh.select(F.col(id_col), F.md5(F.col("shingle")).alias("h"))
    sel = hashed.filter(F.substring("h", 1, 1) == "0")
    return sel.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("h").alias("min_fingerprint"),
    )


# 2-word grams with the same let-binding discipline as dedup.SHINGLES_SQL
# (bind the token array once; see that constant's comment).
_BIGRAMS_SQL = (
    "flatten(transform(array({t}), __a -> "
    "CASE WHEN size(__a) >= 2 THEN transform(sequence(1, size(__a) - 1), "
    "i -> concat(element_at(__a, i), ' ', element_at(__a, i + 1))) "
    "ELSE array() END))"
)


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, flag_threshold: float = 0.1
) -> DataFrame:
    """Gopher-style repetition filters: fraction of the document
    covered by its most frequent word and by its most frequent bigram
    (high values = boilerplate/spam → filtered before LLM training).

    Single linear plan: words and bigrams are tagged with a ``kind``
    map-side and exploded together, so the whole operator is one scan,
    one (doc, kind, gram) count, one per-doc conditional aggregate —
    two shuffles, no join, one evaluation of the tokenizer. Ratios
    come from exact integer counts, rounded (cross-engine
    deterministic)."""
    tagged = F.expr(
        "concat(transform({t}, x -> struct('w' AS kind, x AS gram)), "
        "transform({b}, x -> struct('b' AS kind, x AS gram)))".format(
            t="__t", b=_BIGRAMS_SQL.format(t="__t")
        )
    )
    grams = (
        df.select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(F.col(id_col), F.explode(tagged).alias("g"))
        .select(F.col(id_col), F.col("g.kind").alias("kind"), F.col("g.gram").alias("gram"))
    )
    counts = grams.groupBy(id_col, "kind", "gram").agg(F.count(F.lit(1)).alias("c"))
    n_w = F.sum(F.when(F.col("kind") == "w", F.col("c"))).cast("long")
    m_w = F.max(F.when(F.col("kind") == "w", F.col("c")))
    n_b = F.sum(F.when(F.col("kind") == "b", F.col("c"))).cast("long")
    m_b = F.max(F.when(F.col("kind") == "b", F.col("c")))
    stats = counts.groupBy(id_col).agg(
        n_w.alias("n_words"),
        F.round(m_w.cast("double") / n_w, 6).alias("top_words_frac"),
        n_b.alias("n_bigrams"),
        F.round(m_b.cast("double") / n_b, 6).alias("top_bigrams_frac"),
    )
    # docs with <2 tokens have no bigrams — excluded, matching the
    # two-branch inner-join semantics this replaced
    return stats.filter(F.col("n_bigrams").isNotNull()).select(
        F.col(id_col),
        "n_words",
        "top_words_frac",
        "n_bigrams",
        "top_bigrams_frac",
        (
            (F.col("top_words_frac") >= flag_threshold)
            | (F.col("top_bigrams_frac") >= flag_threshold)
        ).alias("flagged"),
    )


def bigrams(token_col: str) -> Column:
    """2-word grams from a token array expression (same let-binding
    trick as dedup.SHINGLES_SQL: evaluate the array once)."""
    return F.expr(_BIGRAMS_SQL.format(t=token_col))


def corpus_ngram_counts(
    df: DataFrame, text_col: str, k: int = 20
) -> DataFrame:
    """Corpus-level top-k bigram frequency table — the raw material of
    n-gram LMs, contamination probes, and boilerplate detection.

    Scale: explode → count is one shuffle with map-side partial
    aggregation (the gram space is Zipfian, so partials collapse most
    of the volume before the exchange); the top-k is a
    TakeOrderedAndProject, never a global sort."""
    grams = df.select(tokens(text_col).alias("__t")).select(
        F.explode(bigrams("__t")).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram").asc())
        .limit(k)
    )


def bigram_cond_prob_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """X5 extension: corpus-bigram LM fluency score — the mean MLE
    conditional probability P(w2 | w1) of a document's bigrams under
    the bigram model trained on the corpus itself. Templated/
    boilerplate text scores high, token salad scores low: the
    model-based quality axis the ratio heuristics (quality_features)
    don't see. (The log-prob variant is ln of the same ratios; the
    arithmetic mean of probabilities is used so the score stays pure
    rational arithmetic.)

    Exactness: each bigram's probability is scaled-integer rounded
    (``round(count(gram)·10⁶ / count(context))``) BEFORE the per-doc
    sum, so no float-summation-order dependence exists anywhere —
    the same convention as embeddings.py. The final mean is the
    INTEGER division ``sum_ppm div n`` (truncating, exact in every
    engine) rather than a rounded float: a round-to-6 there can land
    on a .5 tie that HALF_UP and banker's rounding resolve
    differently.

    Scale: two corpus-wide counts (gram, context) with map-side
    partial aggregation, two keyed shuffle joins back to the exploded
    doc bigrams, one doc-keyed aggregate. Every shuffle is keyed; the
    Zipfian gram space collapses in the partials."""
    t = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    grams = t.select(
        F.col(id_col), F.explode(bigrams("__t")).alias("gram")
    ).select(
        F.col(id_col),
        F.substring_index("gram", " ", 1).alias("w1"),  # tokens have no spaces
        "gram",
    )
    gc = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__cg"))
    uc = grams.groupBy("w1").agg(F.count(F.lit(1)).alias("__cu"))
    p_scaled = F.round(
        F.col("__cg").cast("double") * 1_000_000.0 / F.col("__cu")
    ).cast("long")
    per_doc = (
        grams.join(gc, "gram")
        .join(uc, "w1")
        .select(F.col(id_col), p_scaled.alias("__p"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum("__p").alias("__s"))
    )
    return per_doc.select(
        F.col(id_col),
        "n_bigrams",
        (
            F.expr("__s div n_bigrams").cast("double") / 1_000_000.0
        ).alias("avg_cond_prob"),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-k terms per document by tf·idf (idf = ln(N/df), the
    classic unsmoothed form). Ranking uses the ROUNDED score (6
    decimals) with the term as tie-break, so the order — not just the
    values — is engine-independent.

    Scale: two aggregates over the exploded token stream (per-doc tf,
    per-term df) + one broadcast of the tiny df table onto tf; N is a
    1-row broadcast cross join. The per-doc top-k window ranks within
    the doc partition only."""
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col), tokens(text_col).alias("__t")).select(
        F.col(id_col), F.explode("__t").alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = (
        toks.select(id_col, "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "tfidf")
    )


def zipf_fit(df: DataFrame, text_col: str) -> DataFrame:
    """Least-squares fit of ln(freq) vs ln(rank) over the corpus token
    frequency table (Zipf's law ⇒ slope ≈ -1). One row:
    (n_terms, slope, intercept) via the regr_* aggregates — a corpus
    health probe (a collapsed vocabulary or boilerplate flood shows up
    as a slope far from -1).

    Scale: token counting is the only big shuffle; the regression is
    one aggregate over the vocabulary table. Ranking the vocabulary
    goes through the W-family two-phase global rank (ranking.py:
    range-bucket, rank locally, add bucket offsets) — a web-scale
    vocabulary is millions of rows, which the first cut dragged
    through ONE task with an unpartitioned row_number() window."""
    from .ranking import with_global_rank

    freqs = (
        df.select(tokens(text_col).alias("__t"))
        .select(F.explode("__t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = with_global_rank(
        freqs.withColumn("__negf", -F.col("freq")),
        ["__negf", "term"],
        rank_col="rank",
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(
            F.regr_slope(F.log(F.col("freq")), F.log(F.col("rank"))), 6
        ).alias("slope"),
        F.round(
            F.regr_intercept(F.log(F.col("freq")), F.log(F.col("rank"))), 6
        ).alias("intercept"),
    )


def vocab_coverage(
    df: DataFrame, id_col: str, text_col: str, top_ks: list[int]
) -> DataFrame:
    """X22: vocabulary coverage curve — for each K in ``top_ks``, the
    share of all token OCCURRENCES covered by the K most frequent
    token types (rank by count desc, token asc for determinism). The
    complement is the UNK rate a K-entry vocabulary would pay; the
    curve is how tokenizer vocab sizes get chosen.

    Output: (top_k, vocab_size, total_tokens, covered_tokens,
    unk_ppm) — unk_ppm via exact integer division (engine-portable).

    Scale: the token frequency table is one hash aggregate over the
    exploded token stream (map-side partial combine bounds the
    shuffle at vocabulary size, not corpus size). Only the top
    max(top_ks) rows ever need a rank: they come via orderBy+limit
    (TakeOrderedAndProject — every partition forwards its own top
    max-K, nothing vocab-sized moves through one task; the first cut
    paid an unpartitioned row_number() window here AND crossed the
    K-grid against the FULL vocabulary, a |Ks|× blowup of a
    vocab-sized table). Corpus-wide totals are a 1-row aggregate;
    the K-grid runs on the max-K-row table only."""
    toks = df.select(F.explode(tokens(text_col)).alias("tok")).filter(
        F.col("tok") != ""
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window

    totals = freq.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("n").alias("total_tokens"),
    )
    max_k = max(int(k) for k in top_ks)
    top = freq.orderBy(F.desc("n"), F.asc("tok")).limit(max_k)
    ranked = top.select(
        F.col("n"),
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("tok")))
        .alias("rank"),
    )
    ks = ranked.sparkSession.createDataFrame(
        [(int(k),) for k in top_ks], ["top_k"]
    )
    grid = ks.join(ranked, F.col("rank") <= F.col("top_k"), "left")
    per_k = (
        grid.groupBy("top_k")
        .agg(
            F.sum(F.coalesce(F.col("n"), F.lit(0))).alias("covered_tokens"),
        )
        .crossJoin(F.broadcast(totals))
        # empty corpus -> empty result (the pre-rewrite contract: the
        # old vocab-sized cross join vanished with the vocabulary)
        .filter(F.col("total_tokens").isNotNull())
    )
    return per_k.select(
        "top_k",
        "vocab_size",
        "total_tokens",
        "covered_tokens",
        (
            F.expr(
                "(1000000 * (total_tokens - covered_tokens)) div total_tokens"
            ).cast("double")
            / 1_000_000.0
        ).alias("unk_ppm"),
    ).orderBy("top_k")


def quality_ablation(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """X30: per-rule ablation of the quality gate. For each of the
    four quality_features rules (length band, stopword ratio, mean
    word length, duplicate-token ratio) report how many documents
    fail it at all, how many fail ONLY it (the rule's marginal
    removal — what relaxing just that rule would win back), and the
    share of all documents it solely removes. A final ANY row gives
    the combined gate. This is the standard filter-tuning readout
    for corpus curation: rules with high n_fail but zero n_sole_fail
    are redundant with the rest of the gate.

    Scale: quality_features is a narrow map over one documents scan;
    the ablation collapses it to ONE 4-boolean aggregate row, then
    unpivots driver-side via stack() — no second scan, no join."""
    feat = quality_features(df, id_col, text_col)
    f_len = ~((F.col("n_words") >= 50) & (F.col("n_words") <= 200))
    f_stop = ~(F.col("stopword_ratio") >= 0.05)
    f_mwl = ~((F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 8.0))
    f_dup = ~(F.col("dup_ratio") <= 0.6)
    flags = feat.select(
        f_len.alias("__f_len"),
        f_stop.alias("__f_stop"),
        f_mwl.alias("__f_mwl"),
        f_dup.alias("__f_dup"),
    )
    n_others = {
        "len": "__f_stop, __f_mwl, __f_dup",
        "stop": "__f_len, __f_mwl, __f_dup",
        "mwl": "__f_len, __f_stop, __f_dup",
        "dup": "__f_len, __f_stop, __f_mwl",
    }
    aggs = [F.count(F.lit(1)).alias("__n")]
    for rule in ("len", "stop", "mwl", "dup"):
        aggs.append(F.count_if(F.col(f"__f_{rule}")).alias(f"__fail_{rule}"))
        aggs.append(
            F.count_if(
                F.expr(f"__f_{rule} AND NOT ({n_others[rule].replace(', ', ' OR ')})")
            ).alias(f"__sole_{rule}")
        )
    aggs.append(
        F.count_if(F.expr("__f_len OR __f_stop OR __f_mwl OR __f_dup")).alias(
            "__fail_any"
        )
    )
    one = flags.agg(*aggs)
    stacked = one.selectExpr(
        "__n",
        "stack(5, "
        "'length_band', __fail_len, __sole_len, "
        "'stopword_ratio', __fail_stop, __sole_stop, "
        "'mean_word_len', __fail_mwl, __sole_mwl, "
        "'dup_ratio', __fail_dup, __sole_dup, "
        "'ANY', __fail_any, CAST(NULL AS BIGINT)"
        ") AS (rule, n_fail, n_sole_fail)",
    )
    return stacked.select(
        "rule",
        "n_fail",
        "n_sole_fail",
        (
            F.expr("(1000000 * coalesce(n_sole_fail, n_fail)) div __n").cast("double")
            / 1_000_000.0
        ).alias("removal_ppm"),
    ).orderBy("rule")


def importance_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    target_value: str,
    n_buckets: int = 64,
) -> DataFrame:
    """X33: DSIR-style hashed importance weights — score every
    document by how much its hashed-unigram profile looks like a
    TARGET slice of the corpus (``group_col == target_value``)
    relative to the raw corpus, the data-selection step of
    "Data Selection for Language Models via Importance Resampling"
    (Xie et al., 2023) re-expressed with exact integer arithmetic.

    Tokens hash into ``n_buckets`` buckets (md5-derived unit hash —
    the engine's cross-engine hash); add-one-smoothed bucket
    probabilities for the target and raw streams are scaled-integer
    ppm, and each token's importance ratio ``p_target/p_raw`` is the
    exact integer division ``(10⁶·t_ppm) div r_ppm``. A document's
    weight is the truncating mean of its token ratios — pure
    rational arithmetic end to end (the classic formulation sums
    log-ratios; the arithmetic mean of ratios ranks identically for
    the smoothed two-distribution case and avoids libm).

    Scale: one explode, two bucket aggregates (≤ n_buckets rows each,
    map-side partials collapse the Zipfian token stream), a broadcast
    join of the n_buckets-row ratio table back onto the token stream,
    and one per-doc aggregate. No shuffle keyed on anything wider
    than the doc id."""
    from .sampling import unit_hash

    toks = df.select(
        F.col(id_col),
        (F.col(group_col) == target_value).alias("__is_t"),
        F.explode(tokens(text_col)).alias("__tok"),
    ).withColumn("__b", unit_hash("__tok") % n_buckets)
    # The <= n_buckets-row bucket table feeds both the totals and the
    # ratio — localCheckpoint pins it so the second reader does not
    # replay the corpus explode (the source_overlap pattern).
    buckets = (
        toks.groupBy("__b")
        .agg(
            F.count(F.lit(1)).alias("__rc"),
            F.count_if(F.col("__is_t")).alias("__tc"),
        )
        .localCheckpoint(eager=True)
    )
    totals = buckets.agg(
        F.sum("__rc").alias("__rtot"), F.sum("__tc").alias("__ttot")
    )
    ratio = (
        buckets.crossJoin(F.broadcast(totals))
        .select(
            "__b",
            F.round(
                (F.col("__tc") + 1).cast("double")
                * 1_000_000.0
                / (F.col("__ttot") + n_buckets)
            )
            .cast("long")
            .alias("__tppm"),
            F.round(
                (F.col("__rc") + 1).cast("double")
                * 1_000_000.0
                / (F.col("__rtot") + n_buckets)
            )
            .cast("long")
            .alias("__rppm"),
        )
        .select("__b", F.expr("(1000000 * __tppm) div __rppm").alias("__ratio"))
    )
    return (
        toks.join(F.broadcast(ratio), "__b")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("__ratio").alias("__s"))
        .select(
            F.col(id_col),
            "n_tokens",
            (
                F.expr("__s div n_tokens").cast("double") / 1_000_000.0
            ).alias("importance"),
        )
    )


def source_token_tvd(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """X34: pairwise total-variation distance between the unigram
    token distributions of every pair of sources/domains — the
    distribution-shift matrix a mixture designer reads before
    reweighting (which domains are near-duplicates of each other,
    which are outliers). TVD = ½·Σ|p_a − p_b| over the token union;
    pure rational arithmetic (per-source ppm by integer division,
    absolute differences, one truncating halving), unlike KL/JS which
    need logs.

    The |p−0| mass of tokens absent from one side is reconstructed
    from per-source ppm totals: Σ_union |pa−pb| decomposes exactly as
    Σ_shared (|pa−pb| − pa − pb) + ta + tb, so only SHARED tokens
    generate pair rows and zero-overlap pairs cost nothing.

    Scale: ONE corpus scan. The distinct (source, token) count table
    is localCheckpoint-ed (vocabulary × sources rows — far smaller
    than the corpus) because four readers fan out of it; pair stats
    come from GROUPED pair generation (the source_overlap trick): one
    row per token carrying its (source, ppm) list, pairs exploded
    within the row — no self-join, per-token fanout bounded by
    sources², never corpus size. The final grid is a broadcast cross
    of the tiny per-source totals."""
    toks = df.select(
        F.col(group_col).alias("__g"), F.explode(tokens(text_col)).alias("__tok")
    )
    cnt = (
        toks.groupBy("__g", "__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
    )
    tot = cnt.groupBy("__g").agg(F.sum("__c").alias("__tot"))
    dist = cnt.join(F.broadcast(tot), "__g").select(
        "__g", "__tok", F.expr("(1000000 * __c) div __tot").alias("__ppm")
    )
    ppm_tot = dist.groupBy("__g").agg(F.sum("__ppm").alias("__ptot"))
    adj = (
        dist.groupBy("__tok")
        .agg(F.collect_list(F.struct("__g", "__ppm")).alias("__gs"))
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(__gs, a -> transform(__gs, b -> "
                    "struct(a.__g AS ga, b.__g AS gb, "
                    "abs(a.__ppm - b.__ppm) - a.__ppm - b.__ppm AS d)))), "
                    "p -> p.ga < p.gb)"
                )
            ).alias("__p")
        )
        .groupBy(F.col("__p.ga").alias("source_a"), F.col("__p.gb").alias("source_b"))
        .agg(F.sum("__p.d").alias("__adj"))
    )
    pa = ppm_tot.select(
        F.col("__g").alias("source_a"), F.col("__ptot").alias("__ta")
    )
    pb = ppm_tot.select(
        F.col("__g").alias("source_b"), F.col("__ptot").alias("__tb")
    )
    return (
        pa.crossJoin(pb)
        .filter(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(adj), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            (
                F.expr("(__ta + __tb + coalesce(__adj, 0)) div 2").cast("double")
                / 1_000_000.0
            ).alias("tvd"),
        )
    )


def token_fertility(df: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """X36: tokenizer-fertility profile per group (language) — how
    many BPE-ish tokens the tokenizer spends per whitespace word and
    per character, the per-language cost metric that drives
    vocabulary sizing and mixture pricing (a language with 2× the
    fertility costs 2× the compute per word). Ratios are exact ppm
    integer divisions of corpus-total counts.

    Scale: a single aggregate over one scan; all token counting is
    expression-level (size of split / regexp_extract_all), no
    explode, no shuffle beyond the k-group rollup."""
    t = df.select(
        F.col(group_col),
        F.size(tokens(text_col)).alias("__ws"),
        F.size(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0)
        ).alias("__bpe"),
        F.length(F.col(text_col)).alias("__chars"),
    )
    return (
        t.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__ws").alias("n_ws_tokens"),
            F.sum("__bpe").alias("n_bpe_tokens"),
            F.sum("__chars").alias("n_chars"),
        )
        .select(
            F.col(group_col),
            "n_docs",
            "n_ws_tokens",
            "n_bpe_tokens",
            "n_chars",
            (
                F.expr("(1000000 * n_bpe_tokens) div n_ws_tokens").cast("double")
                / 1_000_000.0
            ).alias("bpe_per_word"),
            (
                F.expr("(1000000 * n_chars) div n_bpe_tokens").cast("double")
                / 1_000_000.0
            ).alias("chars_per_bpe"),
        )
    )


def seqlen_plan(
    df: DataFrame, group_col: str, text_col: str, context_len: int = 64
) -> DataFrame:
    """X38: sequence-length planning — per group (source), exact
    token-count percentiles (p50/p90/p99) plus the truncation cost of
    packing at ``context_len``: how many documents exceed the context
    and what fraction of the group's tokens a hard truncation throws
    away. This is the readout that picks max_seq_len for a training
    run: p99 tells you the tail, trunc_loss tells you what clipping
    at L actually costs.

    Percentile definition (engine-portable, no interpolation): the
    smallest token count whose cumulative document count reaches
    ``ceil(q * n_docs)`` — i.e. the value at position ceil(q*n) of
    the sorted list. Exact integers throughout; trunc_loss_ppm is an
    integer division (the cross-engine float convention).

    Scale: token counting is a narrow map; the percentile runs over
    the (group, n_tokens) HISTOGRAM — cardinality bounded by distinct
    length values (~context sizes, thousands at most), not documents —
    so the running-sum window is over a tiny table. One shuffle for
    the histogram aggregate, one broadcast-sized window. Compare
    ``collect_list``-percentiles, which pull whole groups into single
    rows, or per-doc ``row_number``, which windows the full corpus:
    both break at 100 TB; the histogram form does not."""
    from pyspark.sql.window import Window

    tc = df.select(
        F.col(group_col).alias("grp"), F.size(tokens(text_col)).alias("n_tokens")
    )
    hist = tc.groupBy("grp", "n_tokens").agg(F.count(F.lit(1)).alias("__c"))
    w = (
        Window.partitionBy("grp")
        .orderBy("n_tokens")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__tot", F.sum("__c").over(Window.partitionBy("grp"))
    )
    L = int(context_len)

    def _pct(q: float, name: str) -> Column:
        return F.min(
            F.when(
                F.col("__cum") >= F.ceil(F.col("__tot") * F.lit(q)),
                F.col("n_tokens"),
            )
        ).alias(name)

    return (
        cum.groupBy("grp")
        .agg(
            F.sum("__c").alias("n_docs"),
            F.sum(F.col("__c") * F.col("n_tokens")).alias("total_tokens"),
            _pct(0.5, "p50"),
            _pct(0.9, "p90"),
            _pct(0.99, "p99"),
            F.sum(F.when(F.col("n_tokens") > L, F.col("__c")).otherwise(0)).alias(
                "docs_over"
            ),
            F.sum(F.col("__c") * F.least(F.col("n_tokens"), F.lit(L))).alias(
                "tokens_kept"
            ),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "total_tokens",
            "p50",
            "p90",
            "p99",
            "docs_over",
            "tokens_kept",
            (
                F.expr(
                    "(1000000 * (total_tokens - tokens_kept)) div total_tokens"
                ).cast("double")
                / 1_000_000.0
            ).alias("trunc_loss_ppm"),
        )
    )


def length_drift_chi2(
    df: DataFrame, group_col: str, len_col: str, bucket_width: int = 50
) -> DataFrame:
    """X40: distribution-drift scoring — per group (source / crawl /
    snapshot), a chi-square-style divergence between the group's
    document-length histogram and the whole corpus's. The standard
    "did this source change shape?" monitor in corpus ingestion:
    a source whose length profile suddenly diverges from the corpus
    (boilerplate floods, truncated fetches) spikes here before any
    content-level check fires.

    chi2_ppm = sum over buckets of (p_b - q_b)^2 / max(q_b, 1ppm),
    where p is the group's bucket share and q the corpus's, both
    exact ppm integers (so every term — and the sum — is an exact
    integer: engine-portable with no float accumulation). The raw
    corpus count cc is always >= 1 in every joined bucket, but the
    ppm-truncated share q_ppm = (1e6*cc) div cn IS 0 once the corpus
    exceeds 1e6 docs with a sub-ppm bucket — and a 0 denominator
    yields NULL in Spark (silently dropped by SUM) vs an error in
    DuckDB. The greatest(q_ppm, 1) clamp caps any term at its
    1-ppm-share value, which is also the statistically honest
    reading: shares below ppm resolution saturate at the resolution
    floor. (The exact-fraction alternative (gc*cn - cc*gn)^2 /
    (gn^2*cc*cn) overflows BIGINT at ~1e9-doc corpora, so the clamp
    is the scale-safe form.)

    Scale: two aggregates over one scan's histogram — the
    (group, bucket) table is |G|·|buckets| rows, driver-tiny; the
    corpus histogram broadcasts onto it. No per-doc joins."""
    b = df.select(
        F.col(group_col).alias("grp"),
        F.expr(
            f"CAST({len_col} AS BIGINT) div {int(bucket_width)}"
        ).alias("bucket"),
    )
    gh = b.groupBy("grp", "bucket").agg(F.count(F.lit(1)).alias("gc"))
    gt = gh.groupBy("grp").agg(F.sum("gc").alias("gn"))
    ch = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cc"))
    ct = ch.agg(F.sum("cc").alias("cn"))
    per_bucket = (
        gh.join(gt, "grp")
        .join(F.broadcast(ch), "bucket")
        .crossJoin(F.broadcast(ct))
        .select(
            "grp",
            "bucket",
            F.expr("(1000000 * gc) div gn").alias("p_ppm"),
            F.expr("(1000000 * cc) div cn").alias("q_ppm"),
        )
        .select(
            "grp",
            F.expr(
                "((p_ppm - q_ppm) * (p_ppm - q_ppm)) div greatest(q_ppm, 1L)"
            ).alias("__term"),
        )
    )
    return (
        per_bucket.groupBy("grp")
        .agg(F.sum("__term").alias("__chi2"))
        .join(gt, "grp")
        .select(
            F.col("grp").alias(group_col),
            F.col("gn").alias("n_docs"),
            (F.col("__chi2").cast("double") / 1_000_000.0).alias("chi2_ppm"),
        )
    )


# Deterministic hashed-feature weights for the X41 classifier: bucket
# b's weight is an integer in [-512, 512) derived from b by a
# Knuth-style multiplicative mix. In production these 64 integers are
# a TRAINED weight vector loaded from a file and broadcast; the
# arithmetic shape (hash token -> bucket -> weight -> sum) is
# identical, and that shape is what this operator implements.
HASH_BUCKETS = 64
_WEIGHT_SQL = "((({b} * 2654435761) % 1024) - 512)"
_BUCKET_SQL = (
    "CAST(conv(substring(md5(__t), 1, 8), 16, 10) AS BIGINT) % {d}"
)


def hashed_logit_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """X41: hashed-feature linear classifier (fastText-style quality
    gate) — every token hashes into one of ``HASH_BUCKETS`` weight
    buckets; the document logit is the sum of its tokens' bucket
    weights; pred_keep is the sign. This is the scoring half of the
    "train a small quality classifier, score the whole corpus" recipe
    (the standard web-corpus filter): deterministic integer weights
    stand in for trained ones so the result is engine-verifiable,
    but the plumbing — hash, bucket, sum, threshold, no vocabulary
    lookup table — is the production shape.

    ``carry`` names input columns to pass through unchanged (e.g. a
    label for downstream eval): at scale that replaces the doc-keyed
    self-join the eval would otherwise pay to get its label back —
    the whole scored+labeled table stays ONE scan-stage narrow map.

    logit and n_tokens are exact integers; mean_weight (the per-
    token average weight, 1e-6 resolution) is an integer division
    (cross-engine float convention).

    Scale: ZERO shuffle — the whole computation is one fold
    expression per row (hash + arithmetic inside ``aggregate``),
    evaluated in the scan stage. A 10^5-bucket trained model swaps
    the arithmetic weight for a broadcast map lookup and stays a
    narrow map."""
    logit = F.expr(
        "aggregate(transform(__toks, __t -> "
        + _WEIGHT_SQL.format(b=_BUCKET_SQL.format(d=HASH_BUCKETS))
        + "), 0L, (acc, v) -> acc + v)"
    )
    t = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        tokens(text_col).alias("__toks"),
    ).select(
        F.col(id_col),
        *carry,
        F.size("__toks").alias("n_tokens"),
        logit.alias("logit"),
    )
    # Sign-symmetric integer division: Spark's ``div`` truncates
    # toward zero while DuckDB's ``//`` floors, so negative logits
    # would round differently — dividing the absolute value and
    # re-applying the sign is identical in both engines.
    return t.select(
        F.col(id_col),
        *carry,
        "n_tokens",
        "logit",
        (
            F.expr(
                "CASE WHEN logit < 0 THEN -((1000000 * -logit) div n_tokens) "
                "ELSE (1000000 * logit) div n_tokens END"
            ).cast("double")
            / 1_000_000.0
        ).alias("mean_weight"),
        (F.col("logit") > 0).alias("pred_keep"),
    )


def calibration_brier(
    scored: DataFrame,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """X126: reliability curve + Brier score of the X41 classifier —
    the CALIBRATION half of classifier evaluation.  X81/X83 (PR
    curve / PR-AUC) grade the RANKING; deployment as a quality gate
    also needs the score to mean what it says ("0.9 keeps 90% good
    docs"), and that is what a reliability table shows: per
    forecast-probability bin, the mean predicted probability vs the
    empirical positive rate, their gap, and the corpus-wide Brier
    score and expected calibration error (ECE).

    The forecast probability is a FIXED affine clamp of the X41
    integer mean token weight: p_ppm = clamp(500000 + m_ppm div
    1000, 0, 1e6) — weights live in [-512, 512), so a mean of ±500
    spans the whole unit interval.  In production this map is a
    trained Platt/isotonic calibrator loaded alongside the weights;
    the fixed map keeps the operator engine-exact (no exp()) while
    exercising the identical plumbing: score -> probability -> bin
    -> empirical-rate comparison.

    Exactness: p_ppm, bin id, per-bin sums, the squared-error terms
    ((p_ppm - y·1e6)², each ≤ 1e12, summed as DECIMAL(38,0) so even
    a 1e9-doc corpus cannot overflow), Brier and ECE are all integer
    arithmetic with one final div; doubles appear only in the
    display columns.

    Scale: one narrow map (hash weights are computed upstream in the
    scan stage) + one ``n_bins``-row aggregate + one window over
    those bins. No join, no corpus-wide shuffle beyond the groupBy."""
    # Sign-symmetric division (abs then re-sign), the X41 convention:
    # Spark div truncates toward zero while DuckDB // floors, so a
    # negative mean weight divided directly would round differently.
    # 1000·logit div n IS mean_weight_ppm div 1000 for either sign
    # (nested floor-div identity on the absolute value).
    p_ppm = F.expr(
        "LEAST(1000000L, GREATEST(0L, 500000L + "
        "(CASE WHEN logit < 0 THEN -((1000 * -logit) div n_tokens) "
        "ELSE (1000 * logit) div n_tokens END)))"
    )
    rows = scored.select(
        p_ppm.alias("__p_ppm"),
        F.col(label_col).cast("long").alias("__y"),
    ).select(
        "__p_ppm",
        "__y",
        # Clamp to n_bins-1: when n_bins does not divide 1e6 (e.g.
        # 7), 999999 div (1e6 // n_bins) can reach n_bins — the last
        # bin absorbs the remainder instead of spawning a phantom
        # bin (r8 advisor finding).
        F.expr(
            f"LEAST({n_bins - 1}L, "
            f"LEAST(__p_ppm, 999999L) div {1_000_000 // n_bins})"
        ).alias("bin"),
        F.expr(
            "CAST((__p_ppm - 1000000 * __y) * (__p_ppm - 1000000 * __y) "
            "AS DECIMAL(38,0))"
        ).alias("__sq"),
    )
    per_bin = rows.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__p_ppm").alias("__sum_p"),
        F.sum("__y").alias("__n_pos"),
        F.sum("__sq").alias("__sum_sq"),
    )
    per_bin = per_bin.select(
        "bin",
        "n_docs",
        F.expr("__sum_p div n_docs").alias("__mean_p_ppm"),
        F.expr("(1000000 * __n_pos) div n_docs").alias("__pos_ppm"),
        "__sum_sq",
    ).withColumn(
        "__gap_ppm", F.expr("abs(__mean_p_ppm - __pos_ppm)")
    )
    return per_bin.select(
        "bin",
        "n_docs",
        (F.col("__mean_p_ppm").cast("double") / 1_000_000.0).alias(
            "mean_pred"
        ),
        (F.col("__pos_ppm").cast("double") / 1_000_000.0).alias("frac_pos"),
        (F.col("__gap_ppm").cast("double") / 1_000_000.0).alias("gap"),
        (
            F.expr(
                "CAST(sum(__sum_sq) OVER () div "
                "(CAST(sum(n_docs) OVER () AS DECIMAL(38,0)) * 1000000) "
                "AS DOUBLE)"
            )
            / 1_000_000.0
        ).alias("brier"),
        (
            F.expr(
                "CAST(sum(n_docs * __gap_ppm) OVER () div "
                "sum(n_docs) OVER () AS DOUBLE)"
            )
            / 1_000_000.0
        ).alias("ece"),
    ).orderBy("bin")


def collocation_lift(
    df: DataFrame, text_col: str, min_count: int = 5, k: int = 20
) -> DataFrame:
    """X48: collocation mining — the corpus's top-``k`` bigrams by
    LIFT, lift(x, y) = p(xy) / (p(x)·p(y)): how much more often the
    pair co-occurs than independence predicts. This is PMI without
    the log — same ranking, engine-portable arithmetic — and the
    standard first pass for tokenizer-vocabulary candidates and
    multi-word-expression detection over a training corpus.

    Determinism: all counts are exact integers; lift is ONE fixed
    double expression tree — ((c_xy·Nw)/c_x)·(Nw/c_y)/Nb with pinned
    parenthesization, each step an IEEE correctly-rounded op on exact
    inputs, so both engines produce bit-identical doubles (no
    accumulation-order dependence, unlike a float SUM). Rounded to 6;
    ties break on the bigram text.

    Scale: words and bigrams are tagged map-side and exploded
    together (the repetition_stats single-scan trick) → one
    (kind, gram) count shuffle with map-side partial aggregation;
    ``min_count`` prunes the bigram side BEFORE the two unigram
    joins (vocab-bounded, never corpus-bounded); the totals row
    broadcasts; top-k is orderBy+limit (TakeOrderedAndProject — no
    whole-table single-partition window)."""
    tagged = F.expr(
        "concat(transform({t}, x -> struct('w' AS kind, x AS gram)), "
        "transform({b}, x -> struct('b' AS kind, x AS gram)))".format(
            t="__t", b=_BIGRAMS_SQL.format(t="__t")
        )
    )
    grams = (
        df.select(tokens(text_col).alias("__t"))
        .select(F.explode(tagged).alias("g"))
        .select(F.col("g.kind").alias("kind"), F.col("g.gram").alias("gram"))
    )
    counts = grams.groupBy("kind", "gram").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum(F.when(F.col("kind") == "w", F.col("c"))).cast("long").alias("__nw"),
        F.sum(F.when(F.col("kind") == "b", F.col("c"))).cast("long").alias("__nb"),
    )
    uni = counts.filter(F.col("kind") == "w").select(
        F.col("gram").alias("__w"), F.col("c").alias("__cw")
    )
    bi = (
        counts.filter((F.col("kind") == "b") & (F.col("c") >= min_count))
        .select(
            F.element_at(F.split("gram", " "), 1).alias("w1"),
            F.element_at(F.split("gram", " "), 2).alias("w2"),
            F.col("c").alias("pair_count"),
        )
    )
    lift = F.round(
        (F.col("pair_count").cast("double") * F.col("__nw") / F.col("__c1"))
        * (F.col("__nw").cast("double") / F.col("__c2"))
        / F.col("__nb"),
        6,
    )
    top = (
        bi.join(uni.withColumnRenamed("__w", "w1").withColumnRenamed("__cw", "__c1"), "w1")
        .join(uni.withColumnRenamed("__w", "w2").withColumnRenamed("__cw", "__c2"), "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "pair_count", lift.alias("lift"))
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(k)
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("lift"), "w1", "w2")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "w1", "w2", "pair_count", "lift"
    )


def charclass_profile(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """X49: character-class corpus profile — per group (source /
    crawl / shard), the exact ppm shares of letter, digit, space, and
    other bytes. The cheap encoding-sanity monitor over a training
    corpus: a shard whose 'other' share spikes is mojibake, markup
    bleed-through, or binary contamination, and this catches it in
    one narrow scan with no tokenization at all.

    All counts are exact integers (length arithmetic on the scan
    stage); shares are ppm integer divisions — order-free,
    engine-portable. Scale: ZERO shuffle except the |G|-row group
    aggregate; the per-row work is four regexp_replace+length
    expressions inside codegen."""
    n = F.length(F.col(text_col))
    letters = F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", ""))
    digits = F.length(F.regexp_replace(F.col(text_col), "[^0-9]", ""))
    spaces = F.length(F.regexp_replace(F.col(text_col), "[^ ]", ""))
    per = df.select(
        F.col(group_col).alias("grp"),
        n.alias("__n"),
        letters.alias("__l"),
        digits.alias("__d"),
        spaces.alias("__s"),
    )
    agg = per.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n").alias("__cn"),
        F.sum("__l").alias("__cl"),
        F.sum("__d").alias("__cd"),
        F.sum("__s").alias("__cs"),
    )
    def ppm(col: str):
        return (
            F.expr(f"(1000000 * {col}) div __cn").cast("double") / 1_000_000.0
        )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        F.col("__cn").alias("chars_total"),
        ppm("__cl").alias("letter_share"),
        ppm("__cd").alias("digit_share"),
        ppm("__cs").alias("space_share"),
        ppm("(__cn - __cl - __cd - __cs)").alias("other_share"),
    )


def lexical_diversity(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """X51: lexical-diversity profile — per group: total tokens,
    distinct tokens (vocabulary), hapax legomena (tokens seen exactly
    once), type-token ratio, and hapax share. The standard
    lexical-richness panel for corpus curation: template/boilerplate
    floods crater TTR; OCR noise and mojibake inflate hapax share
    (every corrupted word is unique); both move before content-level
    filters fire.

    Exact integer counts; ratios are ppm integer divisions. Scale:
    one (group, token) count shuffle with map-side combine (the
    bounded vocab keyspace), then a |G|-row aggregate — same shape as
    token_fertility."""
    tok = df.select(
        F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("__t")
    )
    counts = tok.groupBy("grp", "__t").agg(F.count(F.lit(1)).alias("c"))
    agg = counts.groupBy("grp").agg(
        F.sum("c").alias("total_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax_tokens"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "total_tokens",
        "distinct_tokens",
        "hapax_tokens",
        (
            F.expr("(1000000 * distinct_tokens) div total_tokens").cast("double")
            / 1_000_000.0
        ).alias("type_token_ratio"),
        (
            F.expr("(1000000 * hapax_tokens) div distinct_tokens").cast("double")
            / 1_000_000.0
        ).alias("hapax_share"),
    )


# 3-word grams with components, same let-binding discipline as
# _BIGRAMS_SQL (bind the token array once; see dedup.SHINGLES_SQL).
_TRIGRAMS_SQL = (
    "flatten(transform(array({t}), __a -> "
    "CASE WHEN size(__a) >= 3 THEN transform(sequence(1, size(__a) - 2), "
    "i -> struct(element_at(__a, i) AS w1, element_at(__a, i + 1) AS w2, "
    "element_at(__a, i + 2) AS w3)) "
    "ELSE array() END))"
)


def trigram_backoff_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 3,
    model_df: DataFrame | None = None,
) -> DataFrame:
    """X59: stupid-backoff trigram LM scoring (Brants et al. 2007,
    "Large Language Models in Machine Translation" — the web-scale
    distributed-LM recipe). Each document position scores
    S(w3|w1w2) = c(w1w2w3)/c(w1w2) when the trigram survives the
    count cutoff, else the backoff 0.4·c(w2w3)/c(w2). The count
    cutoff (``min_count``) is what every production-scale LM applies
    to its top order — and it is what makes the backoff branch REAL
    here: without pruning, every trigram of a corpus document exists
    in the corpus model and the else-branch is dead code. n_backoff
    per doc is reported — the model-coverage diagnostic.

    Exactness: every score is a ppm INTEGER division on exact corpus
    counts ((10⁶·c3) div c12, (4·10⁵·c23) div c2), so the per-doc sum
    is order-free and the mean is one truncating integer division —
    the X15 convention extended one order up.

    Scale: one tagged explode (X12's single-scan trick would fuse the
    three gram orders; here the trigram stream carries its own bigram
    components, so only trigram + bigram + unigram counts shuffle —
    all keyed, Zipf-collapsed by map-side partials). Four keyed
    joins back to the position stream (fanout 1 each), one doc-keyed
    aggregate. The pruned trigram table is the model actually
    shipped at 100 TB: the cutoff bounds it by the corpus's
    above-threshold trigram vocabulary, not its token count.

    ``model_df``: score ``df``'s positions against counts built from
    a DIFFERENT corpus (the held-out-eval form — r10 queue); the
    default (None) keeps the original self-scored semantics, where
    model counts come from ``df`` itself. A position whose bigram
    context or pivot unigram is absent from the model is dropped by
    the inner count joins — the documented OOV policy (scores cover
    model-known contexts only; coverage shows up in n_trigrams)."""
    df = spread_small_scan(df)  # r14: no-op at scale (catalog docstring)
    t = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    tri = (
        t.select(F.col(id_col), F.explode(F.expr(_TRIGRAMS_SQL.format(t="__t"))).alias("g"))
        .select(
            F.col(id_col),
            F.concat_ws(" ", "g.w1", "g.w2", "g.w3").alias("g3"),
            F.concat_ws(" ", "g.w1", "g.w2").alias("g12"),
            F.concat_ws(" ", "g.w2", "g.w3").alias("g23"),
            F.col("g.w2").alias("w2"),
        )
    )
    mt = (
        t
        if model_df is None
        else model_df.select(tokens(text_col).alias("__t"))
    )
    tri_m = mt.select(
        F.explode(F.expr(_TRIGRAMS_SQL.format(t="__t"))).alias("g")
    ).select(F.concat_ws(" ", "g.w1", "g.w2", "g.w3").alias("g3"))
    bi = mt.select(F.explode(bigrams("__t")).alias("g12"))
    uni = mt.select(F.explode(F.col("__t")).alias("w"))
    c3 = (
        tri_m.groupBy("g3").agg(F.count(F.lit(1)).alias("__c3"))
        .filter(F.col("__c3") >= min_count)
    )
    cb = bi.groupBy("g12").agg(F.count(F.lit(1)).alias("__cb"))
    cu = uni.groupBy("w").agg(F.count(F.lit(1)).alias("__cu"))
    scored = (
        tri.join(c3, "g3", "left")
        .join(cb, "g12")
        .join(
            cb.select(F.col("g12").alias("g23"), F.col("__cb").alias("__cb23")),
            "g23",
        )
        .join(cu.select(F.col("w").alias("w2"), "__cu"), "w2")
        .select(
            F.col(id_col),
            F.expr(
                "CASE WHEN __c3 IS NOT NULL THEN (1000000 * __c3) div __cb "
                "ELSE (400000 * __cb23) div __cu END"
            ).alias("__s"),
            F.when(F.col("__c3").isNull(), 1).otherwise(0).alias("__bo"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum("__bo").alias("n_backoff"),
        F.sum("__s").alias("__sum"),
    )
    return agg.select(
        F.col(id_col),
        "n_trigrams",
        "n_backoff",
        (
            F.expr("__sum div n_trigrams").cast("double") / 1_000_000.0
        ).alias("avg_score"),
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: list[tuple[str, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """X56: BM25 keyword retrieval — for each (query_id, query_text)
    pair, the top-``k`` documents by Okapi BM25 (Robertson et al.,
    TREC-3). The retrieval half of a dedup/curation stack: finding
    the training documents that match a benchmark prompt, a takedown
    string, or a topical probe is a ranked keyword search over the
    corpus, and BM25 is its standard scoring function.

    score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with the rational idf variant idf(t) = (N − df + 0.5)/(df + 0.5)
    — strictly monotone in the classical log-idf, so the RANKING is
    identical while the arithmetic stays engine-portable (no
    cross-engine libm log in the scoring path; the log variant's
    last-ulp differences between Java's Math.log and C libm could
    flip a 6-decimal rounding boundary).

    Determinism: tf, dl, N, df, Σdl are exact integers; each term's
    contribution is ONE fixed double expression tree on those ints
    (pinned parenthesization; dl/avgdl computed as (dl·N)/Σdl), then
    floored to a ppm INTEGER so the per-(query, doc) sum is
    order-free; ranks tie-break on doc id.

    Scale: the exploded token stream is filtered by the BROADCAST
    query-term IN-list BEFORE the (doc, term) tf count, so the only
    corpus-keyed shuffle carries query-term positions only (a few
    terms' worth of the corpus, not the corpus vocabulary). The
    filtered tf table — bounded by matching (doc, term) pairs of
    three ints, far smaller than the corpus text — is persisted
    (MEMORY_AND_DISK, lazy) so the df aggregate and the score join
    share ONE corpus scan instead of re-tokenizing. N and Σdl come
    from a second, column-pruned scan of the text column only (they
    need ALL docs, which the term filter has dropped) and collapse
    to one broadcast totals row; df is |terms| rows, broadcast. df
    is a groupBy, not a per-term window — map-side partials collapse
    it, where a window would shuffle every tf row to |terms| hot
    partitions. Top-k is a window over per-query partitions (|Q|
    partitions, each bounded by the matching-doc count; Spark plans
    it with WindowGroupLimit, so each partition keeps k rows
    pre-shuffle)."""
    qterms = sorted(
        {(qid, t) for qid, qtext in queries for t in qtext.lower().split()}
    )
    term_list = sorted({t for _, t in qterms})
    spark = df.sparkSession
    qdf = spark.createDataFrame(qterms, "query_id string, term string")
    toks = df.select(
        F.col(id_col), tokens(text_col).alias("__t")
    ).select(F.col(id_col), F.col("__t"), F.size("__t").alias("__dl"))
    totals = toks.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__dl").cast("long").alias("__sumdl"),
    )
    in_list = ", ".join(f"'{t}'" for t in term_list)
    from pyspark import StorageLevel

    tf = (
        toks.select(F.col(id_col), F.col("__dl"), F.explode("__t").alias("term"))
        .filter(F.expr(f"term IN ({in_list})"))
        .groupBy(id_col, "term", "__dl")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("__df"))
    # Every non-double subexpression is cast EXPLICITLY: without the
    # casts, `__tf * (k1 + 1.0)` parses as decimal arithmetic in both
    # engines (SQL decimal literals), which happens to agree today
    # but is the exact fragility class of the r7 double->decimal
    # divergence. With the casts, every op is a correctly-rounded
    # IEEE double op in one pinned tree.
    contrib = F.expr(
        "CAST(floor(1000000 * ("
        "  ((CAST(__n AS DOUBLE) - __df + 0.5) / (CAST(__df AS DOUBLE) + 0.5))"
        "  * (CAST(__tf AS DOUBLE) * ({k1} + 1.0))"
        "  / (__tf + {k1} * (1.0 - {b} + {b} * (CAST(__dl AS DOUBLE) * __n) / __sumdl))"
        ")) AS BIGINT)".format(k1=k1, b=b)
    )
    scored = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .select(F.col("query_id"), F.col(id_col), contrib.alias("__c"))
        .groupBy("query_id", id_col)
        .agg(F.sum("__c").alias("__ppm"), F.count(F.lit(1)).alias("n_terms_hit"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("__ppm"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            F.col(id_col),
            "n_terms_hit",
            (F.col("__ppm").cast("double") / 1_000_000.0).alias("score"),
        )
    )


def bpe_merge_candidates(
    df: DataFrame, text_col: str, k: int = 20, min_count: int = 5
) -> DataFrame:
    """X57: one BPE merge-induction round (Sennrich et al. 2016) —
    the top-``k`` adjacent-symbol pairs by corpus frequency, i.e.
    the candidates the next tokenizer merge would pick. Distributed
    BPE training is exactly this primitive iterated: count adjacent
    pairs weighted by word frequency, merge the winner, repeat.
    With the initial character vocabulary the pairs are adjacent
    character 2-grams within words (every in-word position counts,
    overlapping occurrences included — the standard counting step).

    Exactness: pure integer counting end to end — no doubles
    anywhere; ties rank on the pair text.

    Scale: ONE corpus-keyed shuffle (the word-frequency count, Zipf-
    collapsed by map-side partial aggregation); everything after is
    VOCAB-bounded — the pair explode runs over distinct words × word
    length, not corpus tokens; top-k is orderBy+limit
    (TakeOrderedAndProject)."""
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__wc"))
    )
    pairs = words.select(
        F.col("__wc"),
        F.explode(
            F.expr(
                "CASE WHEN length(w) >= 2 THEN "
                "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)) "
                "ELSE array() END"
            )
        ).alias("pair"),
    )
    counts = (
        pairs.groupBy("pair")
        .agg(F.sum("__wc").cast("long").alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    top = counts.orderBy(F.desc("pair_count"), "pair").limit(k)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("pair_count"), "pair")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "pair", "pair_count"
    )


def compressibility_profile(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """X58: per-document character-bigram distinctness — a zero-
    shuffle compressibility proxy. A document whose adjacent-char
    2-grams are mostly repeats gzips away to nothing (template spam,
    keyboard mash, repeated boilerplate); distinct-bigram share is
    the scan-stage stand-in for the compression-ratio quality filter
    (as used in CCNet/Gopher-style pipelines) when running the real
    codec per row is off the table.

    bigram_ttr = distinct bigrams / total bigrams as a ppm integer
    division (0 for texts shorter than 2 chars — no bigrams, nothing
    to judge); repeat_share = 1 − ttr on the same grid, so the two
    always sum to exactly 1.0 for non-degenerate rows.

    Scale: ZERO shuffle — every column is per-row array arithmetic
    inside the scan stage (the transient bigram array is ~3× the
    text bytes; with maxPartitionBytes at the default 128 MB that is
    bounded well under executor memory).  The text is split into a
    char array ONCE (let-bound, the SHINGLES_SQL pattern) and pairs
    are O(1) element_at lookups — the first cut called
    substring(text, i, 2) per position, which re-scans the UTF8
    string from the start for code-point safety (O(n²) per doc;
    measured 2.6× slower at sf0.1).  split('') pairs UTF-16 units,
    so astral-plane bigrams differ from the substring form — BMP
    text (and the byte-oriented DuckDB oracle) is unaffected."""
    bi = (
        "flatten(transform(array(split({c}, '')), __a -> "
        "CASE WHEN size(__a) >= 2 THEN "
        "transform(sequence(1, size(__a) - 1), "
        "i -> concat(element_at(__a, i), element_at(__a, i + 1))) "
        "ELSE array() END))"
    ).format(c=text_col)
    # r14: spread a small single-split scan before the per-row bigram
    # explode (catalog.spread_small_scan — no-op at scale).
    per = spread_small_scan(df).select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        F.expr(bi).alias("__b"),
    ).select(
        F.col(id_col),
        F.col("n_chars"),
        F.size("__b").alias("n_bigrams"),
        F.size(F.array_distinct("__b")).alias("distinct_bigrams"),
    )
    ttl = F.expr(
        "(1000000 * distinct_bigrams) div greatest(n_bigrams, 1)"
    )
    return per.select(
        F.col(id_col),
        "n_chars",
        "n_bigrams",
        "distinct_bigrams",
        (ttl.cast("double") / 1_000_000.0).alias("bigram_ttr"),
        (
            F.expr(
                "CASE WHEN n_bigrams = 0 THEN 0 "
                "ELSE 1000000 - ((1000000 * distinct_bigrams) div greatest(n_bigrams, 1)) END"
            ).cast("double")
            / 1_000_000.0
        ).alias("repeat_share"),
    )


def characteristic_terms(
    df: DataFrame, group_col: str, text_col: str,
    min_count: int = 10, k: int = 5,
) -> DataFrame:
    """X61: per-group characteristic terms — for each source / crawl
    / cluster, the top-``k`` tokens by conditional lift
    p(t|g) / p(t) = (c_gt·T) / (T_g·f_t): how over-represented the
    term is in the group versus the corpus. This is the class-based
    TF-IDF ("c-TF-IDF", BERTopic's topic-keyword step) with the
    rational idf-style weight instead of a log — identical per-term
    ordering, engine-portable arithmetic — and is the data-card /
    topic-label primitive: the five words that tell you what a
    source actually contains.

    Exactness: all counts exact integers; lift is ONE pinned double
    tree (c·T)/(Tg·f) on exact inputs, rounded to 6; ranks tie-break
    on the term text.

    Scale: ONE corpus-keyed (group, term) count shuffle with
    map-side partials (Zipf-collapsed); every later stage is vocab-
    or |G|-bounded. The term-total join is KEYED on the term (both
    sides vocab-bounded — a vocabulary of 1e8 terms is NOT
    broadcastable, so no broadcast hint there); only the |G|-row
    group totals and the 1-row corpus total broadcast. ``min_count``
    prunes the vocabulary BEFORE the joins; per-group top-k is a
    WindowGroupLimit window (each partition keeps k rows
    pre-shuffle)."""
    counts = (
        df.select(F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("t"))
        .groupBy("grp", "t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    term_tot = (
        counts.groupBy("t")
        .agg(F.sum("__c").cast("long").alias("__ft"))
        .filter(F.col("__ft") >= min_count)
    )
    grp_tot = counts.groupBy("grp").agg(F.sum("__c").cast("long").alias("__tg"))
    corpus_tot = counts.agg(F.sum("__c").cast("long").alias("__tt"))
    lift = F.round(
        (F.col("__c").cast("double") * F.col("__tt"))
        / (F.col("__tg").cast("double") * F.col("__ft")),
        6,
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("grp").orderBy(F.desc("lift"), F.col("t"))
    scored = (
        counts.join(term_tot, "t")
        .join(F.broadcast(grp_tot), "grp")
        .crossJoin(F.broadcast(corpus_tot))
        .select("grp", "t", F.col("__c").alias("term_count"), lift.alias("lift"))
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("grp").alias(group_col), "rank",
            F.col("t").alias("term"), "term_count", "lift",
        )
    )


def kmv_distinct_estimate(
    df: DataFrame, group_col: str, text_col: str, k: int = 256
) -> DataFrame:
    """X62: per-group distinct-token estimate from a K-Minimum-Values
    sketch (Bar-Yossef et al. 2002) — the fixed-size, mergeable
    alternative to exact vocabulary counting when the vocabulary
    itself is too large to shuffle. est = (k−1)·2³² / h_k where h_k
    is the k-th smallest 32-bit unit hash of the group's distinct
    tokens; if the group has fewer than ``k`` distinct hashes the
    estimate IS the exact count.

    Exactness: deterministic md5 unit hashes (the X9 sampling
    convention) and a pure INTEGER estimator — (k−1)·2³² div h_k —
    so both engines agree bit-for-bit with no float anywhere.
    Collisions at 32 bits shave the estimate slightly below the
    true distinct count; the sketch contract is ±O(1/√k) anyway.

    Scale: the (group, hash) distinct is vocab-bounded with map-side
    partial dedup; the k-smallest-per-group window compiles to
    WindowGroupLimit, so the per-group shuffle carries at most
    k rows PER MAP PARTITION — fixed-size regardless of vocabulary,
    which is the entire point of a sketch."""
    from .sampling import unit_hash

    hs = (
        df.select(F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("t"))
        .select("grp", unit_hash("t").alias("__h"))
        .distinct()
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("grp").orderBy("__h")
    kept = hs.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") <= k)
    agg = kept.groupBy("grp").agg(
        F.count(F.lit(1)).alias("sketch_size"),
        F.max("__h").alias("kth_hash"),
    )
    est = F.expr(
        f"CASE WHEN sketch_size < {k} THEN sketch_size "
        f"ELSE (CAST({k} - 1 AS BIGINT) * 4294967296) div kth_hash END"
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "sketch_size",
        "kth_hash",
        est.cast("long").alias("est_distinct"),
    )


def source_datacard(
    df: DataFrame, group_col: str, id_col: str, text_col: str,
    lang_col: str = "lang",
) -> DataFrame:
    """X63: per-source datasheet panel — the "datasheets for
    datasets" (Gebru et al. 2021) summary a training-data pipeline
    publishes per source before mixing: volume (docs, tokens, mean
    length), redundancy (exact-duplicate share via the X2a
    fingerprint), quality (mean X5 gate score), and language makeup
    (distinct languages, dominant language and its share).

    Exactness: every ratio is a ppm integer division on exact
    counts; the quality mean converts the 0.25-step score to integer
    quarters first (sum of quarters is order-free), so nothing
    depends on float accumulation order. Dominant-language ties
    break on the language code.

    Scale: one doc-keyed scan aggregate per source (the fingerprint
    COUNT DISTINCT compiles to Spark's Expand strategy — 2× that
    aggregate's shuffle rows, still corpus-bounded); one
    (source, lang) count shuffle whose output is |G|×|langs|; the
    final joins are |G|-row broadcasts."""
    from .dedup import fingerprint

    # quality quarters from the X5 gate score (0, 0.25, ..., 1.0)
    q = quality_features(df, id_col, text_col).select(
        F.col(id_col), F.round(F.col("quality_score") * 4).cast("long").alias("__q4")
    )
    base = df.join(q, id_col).select(
        F.col(group_col).alias("grp"),
        fingerprint(F.col(text_col)).alias("__fp"),
        F.size(tokens(text_col)).cast("long").alias("__nt"),
        F.col("__q4"),
    )
    a = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("total_tokens"),
        F.countDistinct("__fp").alias("__dfp"),
        F.sum("__q4").alias("__sq4"),
    )
    langs = df.select(
        F.col(group_col).alias("grp"), F.col(lang_col).alias("__lang")
    ).groupBy("grp", "__lang").agg(F.count(F.lit(1)).alias("__lc"))
    lang_stats = langs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_langs"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("grp").orderBy(F.desc("__lc"), F.col("__lang"))
    top_lang = (
        langs.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("grp", F.col("__lang").alias("top_lang"), F.col("__lc").alias("__tlc"))
    )
    def ppm(expr: str):
        return F.expr(expr).cast("double") / 1_000_000.0

    return (
        a.join(F.broadcast(lang_stats), "grp")
        .join(F.broadcast(top_lang), "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "total_tokens",
            ppm("(1000000 * total_tokens) div n_docs").alias("mean_doc_tokens"),
            ppm("(1000000 * (n_docs - __dfp)) div n_docs").alias("exact_dup_share"),
            ppm("(1000000 * __sq4) div (4 * n_docs)").alias("mean_quality"),
            "n_langs",
            "top_lang",
            ppm("(1000000 * __tlc) div n_docs").alias("top_lang_share"),
        )
    )


def vocab_growth_curve(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int = 10,
    unit: str = "token",
) -> DataFrame:
    """X65: vocabulary growth curve (Heaps' law: V(n) ~ K·n^β) — how
    many NEW distinct tokens each successive slice of the corpus
    contributes, in ingestion (id) order. A corpus whose curve goes
    flat early is saturated (more data buys no new vocabulary — the
    diminishing-returns signal for data acquisition); one that keeps
    climbing still has unharvested diversity. Also the sanity check
    before committing a tokenizer vocabulary size.

    Semantics: a unit belongs to the bucket of the FIRST document
    (lowest id) that contains it; buckets split the id range into
    ``n_buckets`` equal-width slices via pure integer arithmetic
    ((id − min)·B div (max − min + 1)). new_tokens per bucket and the
    running cumulative are exact integers; share columns are ppm
    integer divisions. ``unit`` picks the vocabulary unit: "token"
    (unigrams — saturates almost immediately on any small closed
    vocabulary) or "shingle" (3-gram phrases — the combinatorial
    space whose growth curve actually discriminates; Heaps' β is
    n-gram-order dependent).

    Scale: one (unit, min-id) aggregate over the exploded corpus —
    the same single-shuffle shape as X24, vocab-bounded output with
    map-side MIN combine; the id-range row broadcasts; the
    cumulative window runs over ``n_buckets`` rows (trivially
    bounded)."""
    from .dedup import shingles

    if unit not in ("token", "shingle"):
        raise ValueError(f"unit must be 'token' or 'shingle', got {unit!r}")
    base = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    exploded = (
        base.select(F.col(id_col), F.explode(shingles("__t")).alias("t"))
        if unit == "shingle"
        else base.select(F.col(id_col), F.explode("__t").alias("t"))
    )
    first = exploded.groupBy("t").agg(F.min(id_col).alias("__fid"))
    rng = df.agg(
        F.min(id_col).cast("long").alias("__lo"),
        F.max(id_col).cast("long").alias("__hi"),
    )
    bucketed = first.crossJoin(F.broadcast(rng)).select(
        F.expr(
            f"CAST(((__fid - __lo) * {n_buckets}) div (__hi - __lo + 1) AS INT)"
        ).alias("bucket")
    )
    per = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("new_tokens")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    out = per.select(
        "bucket",
        "new_tokens",
        F.sum("new_tokens").over(w).cast("long").alias("cum_tokens"),
        F.sum("new_tokens").over(tot).cast("long").alias("__all"),
    )
    return out.select(
        "bucket",
        "new_tokens",
        "cum_tokens",
        (
            F.expr("(1000000 * cum_tokens) div __all").cast("double")
            / 1_000_000.0
        ).alias("cum_share"),
    ).orderBy("bucket")


def pr_curve(
    df: DataFrame, score_col: str, label_col: str, grid: int = 1000
) -> DataFrame:
    """X81: exact-integer precision–recall curve — the operating-
    point selection step for a quality/toxicity/language filter
    (classifier scored the corpus, now pick the threshold: the
    FineWeb-Edu-style "keep everything above t" decision is read
    straight off this table).  Standard PR tooling computes the
    curve driver-side on collected scores; at corpus scale the curve
    itself must be a distributed aggregate.

    Semantics: scores bucket onto a 1/``grid`` lattice
    (round(score·grid) — the threshold resolution); for each
    occupied bucket t the row reports keeping every doc with bucket
    ≥ t: n_kept, n_true_pos, precision = 1e6·tp div kept ppm, and
    recall vs the corpus positive total.  All counts exact integers;
    both ratios are ppm integer divisions (order-free — no float
    accumulation anywhere).

    Scale: one (bucket) hash-aggregate with map-side combine
    collapses the corpus to ≤ (score-range · grid) rows; the
    cumulative window runs over THAT bounded table, never the
    corpus.  (A per-distinct-raw-score curve would make the window
    corpus-sized — the lattice is what keeps this distributed.)"""
    from pyspark.sql.window import Window

    b = df.select(
        F.expr(f"CAST(round({score_col} * {grid}) AS BIGINT)").alias(
            "bucket"
        ),
        F.col(label_col).cast("int").alias("__y"),
    )
    agg = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_pos"),
    )
    w = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    cur = agg.select(
        "bucket",
        F.sum("n").over(w).cast("long").alias("n_kept"),
        F.sum("n_pos").over(w).cast("long").alias("n_true_pos"),
        F.sum("n_pos").over(tot).cast("long").alias("__all_pos"),
    )
    return cur.select(
        (F.col("bucket").cast("double") / grid).alias("threshold"),
        "n_kept",
        "n_true_pos",
        (
            F.expr("(1000000 * n_true_pos) div n_kept").cast("double")
            / 1_000_000.0
        ).alias("precision"),
        (
            F.expr(
                "CASE WHEN __all_pos = 0 THEN 0L "
                "ELSE (1000000 * n_true_pos) div __all_pos END"
            ).cast("double")
            / 1_000_000.0
        ).alias("recall"),
    )


def cms_heavy_hitters_eval(
    df: DataFrame,
    text_col: str,
    depth: int = 3,
    width: int = 256,
    k_probe: int = 50,
) -> DataFrame:
    """X83: Count-Min sketch heavy-hitters eval (Cormode &
    Muthukrishnan 2005) — token frequencies under FIXED memory:
    ``depth`` hash rows × ``width`` counters (d·w integers total, vs
    a vocabulary-sized exact table), point estimate = min over rows,
    one-sided error (never under-counts; over-counts by collision
    mass ~ N/width).  The streaming-side primitive behind every
    "top talkers / hot tokens under bounded state" monitor; this is
    its EVAL form (X45's pattern): estimates vs exact counts for the
    top-``k_probe`` tokens, so the (depth, width) dial is tuned
    against the corpus's real skew before the sketch replaces the
    exact table in a memory-capped context.

    All integer arithmetic on the repo's md5 hash family —
    engine-portable; the one-sided guarantee (estimate ≥ exact) is
    asserted by the unit test, not just documented.

    Scale: the sketch build is ONE (row, bucket)-keyed aggregate
    with map-side combine collapsing every partition to ≤ d·w rows;
    probes join the d·w-row sketch (broadcast-sized by
    construction).  The exact counts exist only for the probe set —
    the eval's ground truth, not the production path."""
    from pyspark.sql.window import Window

    toks = df.select(F.explode(tokens(text_col)).alias("tok"))
    buckets = [
        F.expr(
            f"CAST(conv(substring(md5(concat('{j}|', tok)), 1, 8), "
            f"16, 10) AS BIGINT) % {width}"
        ).alias(f"b{j}")
        for j in range(1, depth + 1)
    ]
    hashed = toks.select(F.col("tok"), *buckets)
    sketch = (
        hashed.select(
            F.posexplode(
                F.array(*[F.col(f"b{j}") for j in range(1, depth + 1)])
            ).alias("row_idx", "bucket")
        )
        .groupBy("row_idx", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    # top-k_probe via orderBy+limit → TakeOrderedAndProject (each
    # partition forwards its own top k_probe), not a row_number()
    # window that would drag the whole vocabulary through one task.
    probes = exact.orderBy(
        F.desc("exact_count"), F.asc("tok")
    ).limit(k_probe)
    probe_b = probes.select(
        "tok",
        "exact_count",
        F.posexplode(
            F.array(*[
                F.expr(
                    f"CAST(conv(substring(md5(concat('{j}|', tok)), 1, 8), "
                    f"16, 10) AS BIGINT) % {width}"
                )
                for j in range(1, depth + 1)
            ])
        ).alias("row_idx", "bucket"),
    )
    return (
        probe_b.join(F.broadcast(sketch), ["row_idx", "bucket"])
        .groupBy("tok", "exact_count")
        .agg(F.min("c").cast("long").alias("cms_estimate"))
        .select(
            "tok",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias(
                "overcount"
            ),
        )
    )


def pr_auc(curve: DataFrame) -> DataFrame:
    """X85: area under the X81 precision–recall curve — the single
    scalar that compares two quality classifiers corpus-wide (the
    headline metric next to the X81 operating-point table).
    Trapezoidal rule over the curve's points in increasing recall,
    anchored at (recall 0, precision of the strictest threshold).

    Exact integer arithmetic end to end: recall/precision re-enter
    as their ppm integers (they were ppm divisions — the ×1e6
    round-trip is lossless), 2·AUC·1e12 accumulates as an exact
    integer sum of Δr·(p_i + p_{i+1}) terms (order-free), and ONE
    double division at the end produces the scalar.

    Scale: the curve is lattice-bounded (X81's contract), so the
    lag window and the final 1-row sum run over ≤ grid rows."""
    from pyspark.sql.window import Window

    pts = curve.select(
        F.expr("CAST(round(recall * 1000000) AS BIGINT)").alias("r"),
        F.expr("CAST(round(precision * 1000000) AS BIGINT)").alias("p"),
    )
    # (r asc, p desc) IS threshold-descending order: recall is
    # non-decreasing as the threshold drops, and within an equal-
    # recall run precision strictly decreases (tp fixed, kept grows)
    # — so this window walks the operating-point polyline in the
    # order a deployment would sweep it.
    w = Window.orderBy(F.asc("r"), F.desc("p"))
    seg = pts.select(
        "r",
        "p",
        F.lag("r", 1, 0).over(w).alias("r0"),
        # anchor: the first (lowest-recall) point extends flat to r=0
        F.lag("p", 1).over(w).alias("p0"),
    ).select(
        F.expr(
            "(r - r0) * (coalesce(p0, p) + p)"
        ).alias("term")
    )
    return seg.agg(
        (
            F.sum("term").cast("double") / 2_000_000_000_000.0
        ).alias("pr_auc")
    )


def canary_scan(
    df: DataFrame,
    id_col: str,
    text_col: str,
    canaries: list[str],
) -> DataFrame:
    """X87: canary-string leak scan — the memorization / secret-leak
    guardrail run before every training-set freeze: a registry of
    literal strings (planted canaries per Carlini et al. 2019 "The
    Secret Sharer", benchmark answer keys, revoked API-key prefixes)
    is swept across the corpus and every hit is attributed.  Unlike
    X13's shingle-overlap decontamination this is EXACT SUBSTRING
    match — a canary is a verbatim secret, not a paraphrasable
    passage, so shingle recall tricks don't apply and zero false
    positives are required (a hit triggers doc quarantine).

    Semantics: for each canary, n_docs = docs containing it at least
    once, n_occurrences = total non-overlapping occurrence count
    summed over docs (exact integers via the length-difference
    identity: (len(t) − len(replace(t, c, ''))) / len(c)), and
    first_doc_id = lowest hit doc (the quarantine starting point).
    Canaries with zero hits still report a row — "scanned and clean"
    is the audit artifact.

    Scale: the registry is a BROADCAST literal array (canary
    registries are small — thousands, not millions); the scan is one
    narrow pass over the corpus (explode over the broadcast array +
    per-row contains/replace arithmetic — no join, no shuffle until
    the ≤|registry| -row aggregate).  A million-pattern registry
    would swap the per-canary replace for an Aho-Corasick automaton
    inside mapInPandas — the documented dial; the output contract is
    unchanged."""
    cans = F.array(*[F.lit(c) for c in canaries])
    hits = (
        df.select(F.col(id_col), F.col(text_col).alias("__txt"))
        .select(
            F.col(id_col),
            F.col("__txt"),
            F.explode(cans).alias("canary"),
        )
        .select(
            F.col(id_col),
            F.col("canary"),
            (
                (F.length("__txt") - F.length(F.expr("replace(__txt, canary, '')")))
                / F.length("canary")
            ).cast("long").alias("__occ"),
        )
    )
    return hits.groupBy("canary").agg(
        F.sum(F.when(F.col("__occ") > 0, 1).otherwise(0)).cast("long").alias("n_docs"),
        F.sum("__occ").cast("long").alias("n_occurrences"),
        F.min(F.when(F.col("__occ") > 0, F.col(id_col))).alias("first_doc_id"),
    )


def agreement_kappa(
    df: DataFrame, pred_col: str, label_col: str
) -> DataFrame:
    """X91: inter-rater agreement audit — Cohen's kappa (Cohen 1960)
    between two categorical columns, the chance-corrected headline
    number for "does the cheap classifier agree with the trusted
    labels beyond what marginal imbalance alone would produce".
    Accuracy rewards a rater that always answers the majority class;
    kappa subtracts the agreement that identical marginals would
    generate by chance — the standard acceptance metric when a
    distilled quality filter (X41) is audited against human/LLM
    labels before it gates a corpus.

    EXACT integer arithmetic end-to-end: with N rows, trace = Σ
    diagonal cells, and pe_num = Σ_i row_i·col_i,
        kappa = (N·trace − pe_num) / (N² − pe_num)
    — both sides exact BIGINTs, ONE double division rounded to 1e-6
    (the repo's cross-engine float convention).  accuracy_ppm and
    expected (chance) agreement are integer-ppm divisions.  A
    degenerate marginal (both raters constant — denominator 0)
    yields NULL kappa rather than a fabricated 0 or 1.

    Scale: one hash aggregate to the confusion cells (bounded by
    |classes|²); every downstream step runs on that bounded table."""
    # The |classes|²-bounded confusion table feeds FIVE consumers
    # (totals, both marginals, the class union twice) — materialize it
    # once (r14); un-pinned, each consumer re-executed the corpus
    # aggregate AND its upstream scoring chain.
    cells = (
        df.select(
            F.col(pred_col).cast("string").alias("__p"),
            F.col(label_col).cast("string").alias("__l"),
        )
        .groupBy("__p", "__l")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=True)
    )
    totals = cells.agg(
        F.sum("__c").cast("long").alias("n"),
        F.sum(F.when(F.col("__p") == F.col("__l"), F.col("__c")).otherwise(0))
        .cast("long")
        .alias("trace"),
    )
    marg_r = cells.groupBy("__p").agg(F.sum("__c").cast("long").alias("__r"))
    marg_c = cells.groupBy("__l").agg(F.sum("__c").cast("long").alias("__cc"))
    pe = (
        marg_r.join(marg_c, marg_r.__p == marg_c.__l)
        .agg(
            F.coalesce(F.sum(F.col("__r") * F.col("__cc")), F.lit(0))
            .cast("long")
            .alias("pe_num")
        )
    )
    n_classes = (
        cells.select(F.col("__p").alias("cls"))
        .union(cells.select(F.col("__l").alias("cls")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_classes"))
    )
    return (
        totals.crossJoin(F.broadcast(pe))
        .crossJoin(F.broadcast(n_classes))
        .select(
            "n",
            "n_classes",
            F.expr("1000000 * trace div n").cast("long").alias("accuracy_ppm"),
            F.expr("1000000 * pe_num div (n * n)")
            .cast("long")
            .alias("chance_ppm"),
            F.when(
                F.expr("n * n - pe_num") != 0,
                F.round(
                    F.expr(
                        "CAST(n * trace - pe_num AS DOUBLE) "
                        "/ CAST(n * n - pe_num AS DOUBLE)"
                    ),
                    6,
                ),
            ).alias("kappa"),
        )
    )


def robust_outlier_panel(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    scaled_cut: int = 44478,
) -> DataFrame:
    """X95: robust outlier gate — per-group median/MAD flagging of a
    numeric column (doc length, token count), the heavy-tail-safe
    twin of X17's mean/stddev norm QA: one 10⁶-char concatenated
    page shifts a mean-based z-score for the whole source, while the
    median and the MAD (median absolute deviation) ignore it — which
    is why robust stats are the curation default for length screens
    (a corpus's length distribution is Zipf-tailed, not Gaussian).

    EXACT integer semantics: median = the value at rank
    (n+1) div 2 in (value, id) order (the lower median — pinned, no
    averaging of middle pairs, no float percentile); MAD = the same
    lower median of |x − med|; a row is an outlier iff
    10000·|x − med| > ``scaled_cut``·MAD — the default 44478 =
    round(3·1.4826·10⁴) is the classic "3 robust sigmas" cut with
    the Gaussian-consistency constant folded in as an integer.  A
    degenerate group (MAD = 0: over half the values identical)
    flags every value differing from the median — the documented
    convention (the alternative, flagging nothing, hides exactly
    the template-flood sources the gate exists to catch).

    Scale: two rank windows per group (value order, then deviation
    order) — group-keyed shuffles, no global sort; the output is one
    row per group."""
    from pyspark.sql.window import Window

    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("long").alias("v"),
        F.col(id_col).alias("rid"),
    )
    wv = Window.partitionBy("grp").orderBy(F.col("v").asc(), F.col("rid").asc())
    wn = Window.partitionBy("grp")
    med = (
        base.select(
            "grp", "v",
            F.row_number().over(wv).alias("__rk"),
            F.count(F.lit(1)).over(wn).alias("__n"),
        )
        .filter(F.expr("__rk = (__n + 1) div 2"))
        .select("grp", F.col("v").alias("median"))
    )
    dev = base.join(med, "grp").select(
        "grp", "v", "rid", "median",
        F.abs(F.col("v") - F.col("median")).alias("__ad"),
    )
    wd = Window.partitionBy("grp").orderBy(F.col("__ad").asc(), F.col("rid").asc())
    mad = (
        dev.select(
            "grp", "__ad",
            F.row_number().over(wd).alias("__rk"),
            F.count(F.lit(1)).over(wn).alias("__n"),
        )
        .filter(F.expr("__rk = (__n + 1) div 2"))
        .select("grp", F.col("__ad").alias("mad"))
    )
    flagged = dev.join(mad, "grp").select(
        "grp", "median", "mad",
        (F.lit(10000) * F.col("__ad") > F.lit(int(scaled_cut)) * F.col("mad"))
        .alias("__out"),
    )
    return flagged.groupBy("grp", "median", "mad").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("__out"), 1).otherwise(0)).cast("long").alias("n_outliers"),
        F.expr(
            "1000000 * sum(CASE WHEN __out THEN 1 ELSE 0 END) div count(1)"
        ).cast("long").alias("outlier_ppm"),
    ).select(
        F.col("grp").alias(group_col), "median", "mad",
        "n_rows", "n_outliers", "outlier_ppm",
    )


# Encoding-artifact regexes (literal backslash escapes: both Java
# regex and RE2 interpret \xNN themselves, so the same pattern string
# is handed to both engines verbatim).  NUL is excluded from the
# control class — embedding it in a SQL literal is engine-hostile —
# and \t\n\r are legitimate whitespace, not artifacts.
_CTRL_RE = r"[\x01-\x08\x0b\x0c\x0e-\x1f]"
_NON_ASCII_RE = r"[^\x00-\x7f]"
_MOJIBAKE_RE = "[ÃÂ]"  # Ã / Â — the UTF-8-read-as-Latin-1 lead bytes
_REPLACEMENT = "�"


def encoding_artifact_panel(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """X98: per-group encoding-corruption audit — the pre-ingest
    screen for the three classic text-corpus failure modes: U+FFFD
    replacement characters (decode failures already baked into the
    upstream extraction), C0 control characters (binary bleed-through
    / OCR noise), and Ã/Â lead characters (UTF-8 bytes re-decoded as
    Latin-1, the canonical mojibake signature — Wenzek et al. 2020
    route such pages to re-decoding rather than filtering).  A corpus
    with a nonzero artifact ppm needs a decoder fix, not a quality
    filter.

    Counting is the X87 length-difference identity: occurrences =
    len(s) − len(regexp_replace(s, class, '')) — pure codegen, no
    explode, no UDF.  All counts are exact BIGINTs; ratios are ppm
    integer divisions.

    Cross-engine caveat (documented, not hidden): Spark ``length()``
    counts UTF-16 code units, DuckDB counts codepoints, so totals
    diverge on non-BMP text (emoji).  Every artifact CLASS counted
    here is BMP, and the corpus contract for the parity gate is BMP
    text; the operator itself is correct under either unit — the ppm
    denominators just shift by the astral-char count.

    Scale: one narrow map + one |G|-row hash aggregate with map-side
    combine.  Nothing else."""
    ln = F.length(F.col(text_col))

    def _n(pat: str) -> Column:
        return (ln - F.length(F.regexp_replace(F.col(text_col), pat, ""))).cast(
            "long"
        )

    per = df.select(
        F.col(group_col).alias("grp"),
        ln.cast("long").alias("__n"),
        _n(_REPLACEMENT).alias("__repl"),
        _n(_CTRL_RE).alias("__ctrl"),
        _n(_MOJIBAKE_RE).alias("__moji"),
        _n(_NON_ASCII_RE).alias("__na"),
    )
    agg = per.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n").alias("n_chars"),
        F.sum("__repl").alias("replacement_chars"),
        F.sum("__ctrl").alias("control_chars"),
        F.sum("__moji").alias("mojibake_chars"),
        F.sum("__na").alias("non_ascii_chars"),
        F.sum(
            F.when(
                (F.col("__repl") + F.col("__ctrl") + F.col("__moji")) > 0, 1
            ).otherwise(0)
        ).alias("artifact_docs"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_chars",
        "replacement_chars",
        "control_chars",
        "mojibake_chars",
        "non_ascii_chars",
        "artifact_docs",
        F.expr(
            "CASE WHEN n_chars = 0 THEN 0 ELSE (1000000 * "
            "(replacement_chars + control_chars + mojibake_chars))"
            " div n_chars END"
        ).alias("artifact_ppm"),
        F.expr(
            "CASE WHEN n_chars = 0 THEN 0 ELSE "
            "(1000000 * non_ascii_chars) div n_chars END"
        ).alias("non_ascii_ppm"),
    )


def distinct_ngram_diversity(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """X99: corpus-level distinct-n diversity + unigram entropy per
    group — distinct-1/2/3 ratios (Li et al. 2016's distinct-n,
    the standard collapse detector for generated or template-heavy
    corpora: a source whose distinct-2 ppm craters is repeating
    itself) and Shannon unigram entropy in nats (the other classic
    diversity axis — low entropy = a few tokens dominate).

    One position explode yields (w1, bigram, trigram) per token
    position with NULL padding at the tail, so all three distinct
    counts come from a SINGLE corpus pass (Spark compiles the
    multi-countDistinct into one Expand — 3× rows, still one scan,
    no self-union).  The entropy branch is the usual
    (group, token)-count aggregate.

    Exactness: counts are exact BIGINTs; ratios are ppm integer
    divisions; entropy is the scaled-integer convention —
    H_e6 = round(10⁶·ln N) − (Σ c·round(10⁶·ln c)) div N — exact
    integer arithmetic after the per-value rounds, so partial-agg
    order cannot move the result (HALF_UP vs half-away agree on
    positives; ln values never land on ties).

    Scale: one Expand aggregate over the corpus (map-side partial
    distinct) + one vocab-bounded count aggregate; both |G|-row
    outputs join broadcast."""
    toks = TOKENS_SQL.format(col=text_col)
    pos_sql = (
        f"flatten(transform(array(filter({toks}, __x -> __x != '')), __a -> "
        "CASE WHEN size(__a) = 0 THEN array() "
        "ELSE transform(sequence(1, size(__a)), i -> struct("
        "element_at(__a, i) AS w1, "
        "CASE WHEN i + 1 <= size(__a) THEN "
        "concat(element_at(__a, i), ' ', element_at(__a, i + 1)) END AS bg, "
        "CASE WHEN i + 2 <= size(__a) THEN "
        "concat(element_at(__a, i), ' ', element_at(__a, i + 1), ' ', "
        "element_at(__a, i + 2)) END AS tg)) END))"
    )
    pos = df.select(
        F.col(group_col).alias("grp"), F.explode(F.expr(pos_sql)).alias("p")
    ).select("grp", "p.w1", "p.bg", "p.tg")
    panel = pos.groupBy("grp").agg(
        F.count("w1").alias("n_tokens"),
        F.count("bg").alias("n_bigrams"),
        F.count("tg").alias("n_trigrams"),
        F.countDistinct("w1").alias("distinct_unigrams"),
        F.countDistinct("bg").alias("distinct_bigrams"),
        F.countDistinct("tg").alias("distinct_trigrams"),
    )
    ent = (
        pos.groupBy("grp", "w1")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("grp")
        .agg(
            F.sum("__c").alias("__n"),
            F.sum(
                F.col("__c")
                * F.round(F.log("__c") * 1_000_000.0).cast("long")
            ).alias("__s"),
        )
        .select(
            "grp",
            (
                F.round(F.log("__n") * 1_000_000.0).cast("long")
                - F.expr("__s div __n")
            ).alias("unigram_entropy_nats_e6"),
        )
    )
    return panel.join(ent, "grp").select(
        F.col("grp").alias(group_col),
        "n_tokens",
        "n_bigrams",
        "n_trigrams",
        "distinct_unigrams",
        "distinct_bigrams",
        "distinct_trigrams",
        F.expr(
            "CASE WHEN n_tokens = 0 THEN 0 "
            "ELSE (1000000 * distinct_unigrams) div n_tokens END"
        ).alias("distinct1_ppm"),
        F.expr(
            "CASE WHEN n_bigrams = 0 THEN 0 "
            "ELSE (1000000 * distinct_bigrams) div n_bigrams END"
        ).alias("distinct2_ppm"),
        F.expr(
            "CASE WHEN n_trigrams = 0 THEN 0 "
            "ELSE (1000000 * distinct_trigrams) div n_trigrams END"
        ).alias("distinct3_ppm"),
        "unigram_entropy_nats_e6",
    )


def good_turing_panel(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """X101: Good-Turing missing-mass panel per group (Good 1953) —
    the frequency-of-frequencies estimator answering the curation
    question X51's richness panel cannot: how much probability mass
    does this source assign to tokens we have NOT seen yet?  The
    missing mass P₀ ≈ N₁/N (hapax share of TOKENS, not of vocab) is
    the standard stop-crawling / keep-crawling dial: high missing
    mass = the source is far from exhausted; near-zero = more of it
    is rehash.  The r=1 Turing-adjusted count r* = 2·N₂/N₁ is the
    companion smoothing diagnostic (how much a singleton's count is
    discounted under GT smoothing; NULL when the group has no
    singletons — degenerate marginals yield NULL, not a fabricated
    value, the X91 convention).

    Exactness: N, V, N₁, N₂ are exact BIGINTs from one
    (group, token) count; ratios are ppm/e6 integer divisions.

    Scale: one vocab-bounded count aggregate with map-side combine,
    then a |G|-row aggregate.  Same shape as lexical_diversity; the
    two share a scan when composed."""
    counts = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(text_col)).alias("__t"),
        )
        .filter(F.col("__t") != "")
        .groupBy("grp", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = counts.groupBy("grp").agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).alias("hapax"),
        F.sum(F.when(F.col("__c") == 2, 1).otherwise(0)).alias("dis_legomena"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_tokens",
        "vocab",
        "hapax",
        "dis_legomena",
        F.expr("(1000000 * hapax) div n_tokens").alias("missing_mass_ppm"),
        F.expr("1000000 - (1000000 * hapax) div n_tokens").alias("coverage_ppm"),
        F.expr(
            "CASE WHEN hapax = 0 THEN NULL "
            "ELSE (2000000 * dis_legomena) div hapax END"
        ).alias("r1_star_e6"),
    )


def rank_fusion_topk(
    df: DataFrame,
    group_col: str,
    id_col: str,
    signal_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """X102: Borda rank fusion over multiple quality signals — rank
    each signal independently per group (higher value = better =
    rank 1), sum the ranks, keep the top-``k`` rows by fused rank.
    Rank fusion is the standard way to combine incommensurable
    curation signals (a length score, a diversity ratio, an LM
    score) WITHOUT normalizing scales: ranks are dimensionless, so
    no signal dominates by unit choice, and a document must do well
    across the board to surface.

    Determinism: every per-signal rank breaks ties on ``id_col``
    ascending, and the fused rank breaks (borda_sum, id) the same
    way — exact integers throughout, no scale normalization to
    diverge on.

    Scale: all |signals|+1 windows share the same partitionBy key,
    so Catalyst plans ONE shuffle on the group column and stacks the
    Window operators over it; the final top-k window compiles to
    WindowGroupLimit (only k rows per group per map partition reach
    the last stage)."""
    from pyspark.sql.window import Window

    out = df
    rank_cols = []
    for c in signal_cols:
        w = Window.partitionBy(group_col).orderBy(
            F.col(c).desc(), F.col(id_col).asc()
        )
        rc = f"rank_{c}"
        out = out.withColumn(rc, F.row_number().over(w).cast("long"))
        rank_cols.append(rc)
    borda = None
    for rc in rank_cols:
        borda = F.col(rc) if borda is None else borda + F.col(rc)
    out = out.withColumn("borda_sum", borda.cast("long"))
    wf = Window.partitionBy(group_col).orderBy(
        F.col("borda_sum").asc(), F.col(id_col).asc()
    )
    return (
        out.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("fused_rank") <= k)
        .select(
            group_col, id_col, *rank_cols, "borda_sum", "fused_rank"
        )
        .orderBy(group_col, "fused_rank")
    )


def lm_gate_ablation(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    min_score_ppm: int = 20000,
) -> DataFrame:
    """X103: LM-score gate ablation — what a corpus-LM fluency
    threshold would DO to each source before you commit to it: per
    group, document and token counts, how many survive
    ``score >= min_score_ppm`` under the X5-extension bigram LM
    (bigram_cond_prob_score), the surviving shares, and the mean
    score of the survivors.  This is the model-based twin of X30's
    heuristic quality-gate ablation: CCNet/RedPajama gate on an LM
    score exactly like this, and the ablation table is what you read
    before picking the cut.

    Documents too short to have a bigram (< 2 tokens) have no score
    and count as DROPPED — a gate that silently passes unscorable
    docs would let empty fragments through.

    Exactness: the doc score is recovered as the exact integer
    ``round(avg_cond_prob·10⁶)`` (the double IS ppm-scaled integer /
    10⁶, so the round-trip is lossless); survivor means are integer
    divisions, NULL when a group keeps nothing.

    Scale: the LM scorer's two corpus counts + joins (see
    bigram_cond_prob_score), then one doc-keyed left join and a
    |G|-row aggregate."""
    scores = bigram_cond_prob_score(df, id_col, text_col).select(
        F.col(id_col),
        F.round(F.col("avg_cond_prob") * 1_000_000.0).cast("long").alias("__sp"),
    )
    toks = TOKENS_SQL.format(col=text_col)
    base = df.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        F.expr(
            f"CAST(size(filter({toks}, __x -> __x != '')) AS BIGINT)"
        ).alias("__nt"),
    )
    j = base.join(scores, id_col, "left").select(
        "grp",
        "__nt",
        "__sp",
        (
            F.col("__sp").isNotNull() & (F.col("__sp") >= F.lit(min_score_ppm))
        ).alias("__keep"),
    )
    agg = j.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("__keep").cast("long")).alias("kept_docs"),
        F.sum("__nt").alias("n_tokens"),
        F.sum(F.when(F.col("__keep"), F.col("__nt")).otherwise(0)).alias(
            "kept_tokens"
        ),
        F.sum(F.when(F.col("__keep"), F.col("__sp"))).alias("__kept_sp"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "kept_docs",
        "n_tokens",
        "kept_tokens",
        F.expr("(1000000 * kept_docs) div n_docs").alias("kept_doc_ppm"),
        F.expr(
            "CASE WHEN n_tokens = 0 THEN 0 "
            "ELSE (1000000 * kept_tokens) div n_tokens END"
        ).alias("kept_token_ppm"),
        F.expr(
            "CASE WHEN kept_docs = 0 THEN NULL "
            "ELSE __kept_sp div kept_docs END"
        ).alias("mean_kept_score_ppm"),
    )


def hill_tail_index(
    df: DataFrame, group_col: str, value_col: str, id_col: str, k: int = 50
) -> DataFrame:
    """X105: Hill estimator of the power-law tail exponent (Hill
    1975) per group — THE tail-heaviness dial for doc-length /
    cluster-size / degree distributions: 1/α̂ = mean_{i≤k}
    ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k largest order statistics.  X95 flags
    WHICH rows are outliers; this measures HOW heavy the tail
    generating them is (α ≤ 2 ⇒ infinite variance — mean/stddev QA
    like X17 is then meaningless and the robust panel is mandatory;
    α large ⇒ tails are benign).  The partition-pruning and skew
    story at 100 TB hinges on this exponent.

    Determinism: order statistics ranked by the pinned
    (value desc, id asc) window; each log is rounded to an integer
    once — lᵢ = round(10⁶·ln xᵢ) — and everything after is exact
    integer arithmetic: inv_alpha_e6 = (Σᵢ≤ₖ lᵢ − k·lₖ₊₁) div k with
    lₖ₊₁ the smallest kept log, alpha_e6 = 10¹² div inv_alpha_e6
    (NULL when the top k+1 values are all equal — a flat tail has no
    exponent; the X91 degenerate convention).  Groups with fewer
    than k+1 positive rows shrink k to n−1; groups with < 2 positive
    rows drop out.

    Scale: one group-keyed window that compiles to WindowGroupLimit
    (k+1 rows per group per map partition reach the shuffle), then a
    |G|-row aggregate — the corpus never shuffles beyond the k+1
    rows per group."""
    from pyspark.sql.window import Window

    pos = df.filter(F.col(value_col) > 0).select(
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("__x"),
        F.col(id_col).alias("__id"),
    )
    w = Window.partitionBy("grp").orderBy(F.col("__x").desc(), F.col("__id").asc())
    top = (
        pos.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k + 1)
        .select(
            "grp",
            "__r",
            F.round(F.log(F.col("__x").cast("double")) * 1_000_000.0)
            .cast("long")
            .alias("__l"),
        )
    )
    sums = (
        top.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("__m"),  # min(n, k+1) kept rows
            F.sum("__l").alias("__lsum"),
            # the k+1-th order statistic's log: the row with max rank
            F.max(F.struct(F.col("__r"), F.col("__l"))).alias("__last"),
        )
        .filter(F.col("__m") >= 2)
        .select(
            "grp",
            "__m",
            "__lsum",
            F.col("__last.__l").alias("__lk1"),
        )
    )
    inv_sql = "(__lsum - __m * __lk1) div (__m - 1)"
    return sums.select(
        F.col("grp").alias(group_col),
        (F.col("__m") - 1).cast("long").alias("k_used"),
        F.expr(inv_sql).alias("inv_alpha_e6"),
        F.expr(
            f"CASE WHEN {inv_sql} <= 0 THEN NULL "
            f"ELSE 1000000000000 div ({inv_sql}) END"
        ).alias("alpha_e6"),
    ).orderBy(group_col)


def heaps_law_fit(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int = 16
) -> DataFrame:
    """X117: Heaps-law exponent fit V(n) = K·n^β — the scalar X65's
    curve only shows: log-log least squares over per-bucket
    (cumulative units, cumulative vocabulary) checkpoints.  β is the
    data-acquisition dial itself (β → 0: the source is exhausted,
    more data buys no new phrases; β near 1: still harvesting) and
    the pair (β, ln K) extrapolates vocabulary to corpus sizes never
    scanned — the same closed-form-fit-then-extrapolate move as
    scaling-law analysis, done here entirely inside the engine.

    Unit convention: per-doc DISTINCT 3-gram shingles (the X65
    vocabulary space; unigrams saturate immediately), so n counts
    (doc, shingle) instances and V counts distinct shingles.
    Checkpoints are the X65 equal-width integer id buckets.

    Exactness: fit points are x = round(10⁶·ln n_i), y =
    round(10⁶·ln V_i) (the X105 scaled-ln convention); every fit
    accumulator (m, Σx, Σy, Σxy, Σx², Σy²) is DECIMAL(38,0)-exact
    (X111), so num = m·Σxy − Σx·Σy and den = m·Σx² − (Σx)² are
    EXACT integers; the only floating steps are the three final
    divisions (identical IEEE ops in any engine) rounded to
    beta_e6 / lnk_e6 / r2_e6.  Degenerate fits (m < 2 or zero
    x-variance) yield NULL, never a fabricated slope (X91).

    Scale: two vocab-bounded aggregates (per-bucket occurrence
    counts; per-shingle MIN id → per-bucket new-vocab counts, the
    X65 shape) with map-side combine, a broadcast id-range row, and
    every window/join/fit step runs on ≤ n_buckets rows."""
    from .dedup import SHINGLES_SQL, tokens

    base = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    ex = base.select(
        F.col(id_col),
        F.explode(
            F.expr(f"array_distinct({SHINGLES_SQL.format(t='__t')})")
        ).alias("t"),
    )
    rng = df.agg(
        F.min(id_col).cast("long").alias("__lo"),
        F.max(id_col).cast("long").alias("__hi"),
    )
    bexpr = (
        f"CAST(((%s - __lo) * {n_buckets}) div (__hi - __lo + 1) AS INT)"
    )
    occ = (
        ex.crossJoin(F.broadcast(rng))
        .select(F.expr(bexpr % id_col).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("occ"))
    )
    newv = (
        ex.groupBy("t")
        .agg(F.min(id_col).alias("__fid"))
        .crossJoin(F.broadcast(rng))
        .select(F.expr(bexpr % "__fid").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("newv"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    pts = (
        occ.join(newv, "bucket", "left")
        .select(
            "bucket",
            F.sum("occ").over(w).cast("long").alias("cum_n"),
            F.sum(F.coalesce("newv", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_v"),
        )
        .filter("cum_n > 0 AND cum_v > 0")
        .select(
            "cum_n",
            "cum_v",
            F.round(F.log("cum_n") * 1_000_000.0).cast("long").alias("x"),
            F.round(F.log("cum_v") * 1_000_000.0).cast("long").alias("y"),
        )
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
        F.max("cum_n").alias("n_units"),
        F.max("cum_v").alias("vocab"),
    )
    return s.select(
        F.col("m").cast("long").alias("m_points"),
        "n_units",
        "vocab",
        F.expr(
            "CASE WHEN m >= 2 AND m * sxx - sx * sx > 0 THEN "
            "CAST(round(1000000 * CAST(m * sxy - sx * sy AS DOUBLE) / "
            "CAST(m * sxx - sx * sx AS DOUBLE)) AS BIGINT) END"
        ).alias("beta_e6"),
        F.expr(
            "CASE WHEN m >= 2 AND m * sxx - sx * sx > 0 THEN "
            "CAST(round((CAST(sy AS DOUBLE) - "
            "CAST(m * sxy - sx * sy AS DOUBLE) / "
            "CAST(m * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) / "
            "CAST(m AS DOUBLE)) AS BIGINT) END"
        ).alias("lnk_e6"),
        F.expr(
            "CASE WHEN m >= 2 AND m * sxx - sx * sx > 0 "
            "AND m * syy - sy * sy > 0 THEN "
            "CAST(round(1000000 * "
            "CAST((m * sxy - sx * sy) * (m * sxy - sx * sy) AS DOUBLE) / "
            "(CAST(m * sxx - sx * sx AS DOUBLE) * "
            "CAST(m * syy - sy * sy AS DOUBLE))) AS BIGINT) END"
        ).alias("r2_e6"),
    )


def term_burstiness(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 20,
) -> DataFrame:
    """X128: term burstiness panel (Church & Gale 1995, "Poisson
    mixtures"): for the ``top_k`` highest-document-frequency terms,
    how much more often a term occurs in the documents that contain
    it than a Poisson model predicts.  Burstiness = tf/df (mean
    occurrences per CONTAINING doc, the Church-Gale statistic) —
    function words sit near 1.0, topical/template terms spike — and
    the top-doc concentration (share of a term's total mass inside
    its single heaviest document) separates "bursty because topical"
    from "bursty because one doc repeats it 10⁴ times" (the X12
    repetition-filter signal, here at corpus level).

    Exactness: counts are exact BIGINTs; burstiness_e3 =
    1000·tf div df and conc_ppm = 10⁶·max_doc_tf div tf are integer
    divisions.  Top-k selection is deterministic: df desc, term asc.

    Scale: tokenize → per-(term, doc) count (one shuffle, map-side
    combinable) → per-term aggregate (second shuffle, bounded by
    vocab) → TakeOrderedAndProject for the top_k — no global sort,
    no single-task window, no join."""
    per_doc = (
        df.select(
            F.col(id_col).alias("__d"),
            F.explode(
                F.expr(
                    f"filter({TOKENS_SQL.format(col=text_col)}, x -> x != '')"
                )
            ).alias("term"),
        )
        .groupBy("term", "__d")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    per_term = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("__c").cast("long").alias("tf"),
        F.max("__c").cast("long").alias("max_doc_tf"),
    )
    return (
        per_term.select(
            "term",
            "df",
            "tf",
            "max_doc_tf",
            F.expr("(1000 * tf) div df").alias("burstiness_e3"),
            F.expr("(1000000 * max_doc_tf) div tf").alias("conc_ppm"),
        )
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(top_k)
    )


def winsorized_panel(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    lo_pct: int = 1,
    hi_pct: int = 99,
) -> DataFrame:
    """X134: winsorized robust statistics per group — clamp a
    Zipf-tailed numeric column (doc length, token count) at its
    exact per-group P``lo_pct``/P``hi_pct`` order statistics and
    report the winsorized mean next to the clipped mass.  The
    mean-preserving counterpart to X95's outlier GATE: X95 flags
    rows, this op repairs the STATISTIC (a corpus mean any
    dashboard can trust without a 10⁶-char concatenated page
    dragging it), which is why winsorized means are the reporting
    default for heavy-tailed quality signals.

    EXACT integer semantics: the Pk bound is the value at rank
    ⌈k·n/100⌉ = (k·n + 99) div 100 in (value, id) order — a real
    data value, no interpolation; the winsorized mean is
    sum(clamp(v)) div n (floor division); clipped counts are exact.

    Scale: two group-keyed rank windows (the X95 shape) + one
    group aggregate — no global sort; output is one row per
    group."""
    from pyspark.sql.window import Window

    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("long").alias("v"),
        F.col(id_col).alias("rid"),
    )
    wv = Window.partitionBy("grp").orderBy(F.col("v").asc(), F.col("rid").asc())
    wn = Window.partitionBy("grp")
    ranked = base.select(
        "grp",
        "v",
        F.row_number().over(wv).alias("__rk"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    bounds = (
        ranked.filter(
            F.expr(f"__rk = ({lo_pct} * __n + 99) div 100")
            | F.expr(f"__rk = ({hi_pct} * __n + 99) div 100")
        )
        .groupBy("grp")
        .agg(
            F.min(
                F.when(
                    F.expr(f"__rk = ({lo_pct} * __n + 99) div 100"), F.col("v")
                )
            ).alias("p_lo"),
            F.min(
                F.when(
                    F.expr(f"__rk = ({hi_pct} * __n + 99) div 100"), F.col("v")
                )
            ).alias("p_hi"),
        )
    )
    clamped = base.join(bounds, "grp").select(
        "grp",
        "p_lo",
        "p_hi",
        F.greatest(F.col("p_lo"), F.least(F.col("p_hi"), F.col("v"))).alias(
            "__w"
        ),
        (F.col("v") < F.col("p_lo")).alias("__clo"),
        (F.col("v") > F.col("p_hi")).alias("__chi"),
    )
    return (
        clamped.groupBy("grp", "p_lo", "p_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.expr("sum(__w) div count(1)").cast("long").alias("win_mean"),
            F.sum(F.when(F.col("__clo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_low"),
            F.sum(F.when(F.col("__chi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_high"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_rows",
            "p_lo",
            "p_hi",
            "win_mean",
            "n_clipped_low",
            "n_clipped_high",
            F.expr(
                "(1000000 * (n_clipped_low + n_clipped_high)) div n_rows"
            ).alias("clipped_ppm"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
) -> DataFrame:
    """X132: CCNet-style per-language quality terciles (Wenzek et al.
    2020: bucket each language's documents into head/middle/tail by
    LM score and keep/weight buckets differently downstream).  The
    score is X15's corpus-bigram mean conditional probability (high
    = fluent/templated, low = token salad); ranking is per-language
    so a low-resource language's tail is judged against ITS OWN
    distribution, not English's — the core CCNet design point.

    Exactness: the score is X15's exact integer (sum_ppm div
    n_bigrams); tercile = (3·(rank−1)) div n over the per-language
    (score DESC, id) rank — pure integer arithmetic, deterministic
    ties.  Docs with no bigrams (< 2 tokens) have no score and are
    excluded, the X15 convention.

    Scale: X15's two corpus-count joins + one doc aggregate, then
    ONE language-keyed rank window (group-keyed shuffle, no global
    sort) + a 3k-row aggregate."""
    from pyspark.sql.window import Window

    scores = bigram_cond_prob_score(df, id_col, text_col).select(
        F.col(id_col),
        "n_bigrams",
        F.round(F.col("avg_cond_prob") * 1_000_000).cast("long").alias(
            "__score_ppm"
        ),
    )
    langs = df.select(F.col(id_col), F.col(lang_col).alias("__lang"))
    joined = scores.join(langs, id_col)
    w = Window.partitionBy("__lang").orderBy(
        F.col("__score_ppm").desc(), F.col(id_col).asc()
    )
    wn = Window.partitionBy("__lang")
    bucketed = (
        joined.withColumn("__rk", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .select(
            "__lang",
            "n_bigrams",
            "__score_ppm",
            F.expr("(3 * (__rk - 1)) div __n").alias("__b"),
        )
    )
    return (
        bucketed.groupBy("__lang", "__b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("total_bigrams"),
            F.expr("sum(__score_ppm) div count(1)").cast("long").alias(
                "mean_score_ppm"
            ),
            F.min("__score_ppm").cast("long").alias("min_score_ppm"),
            F.max("__score_ppm").cast("long").alias("max_score_ppm"),
        )
        .select(
            F.col("__lang").alias(lang_col),
            F.expr(
                "CASE __b WHEN 0 THEN 'head' WHEN 1 THEN 'middle' "
                "ELSE 'tail' END"
            ).alias("bucket"),
            "n_docs",
            "total_bigrams",
            "mean_score_ppm",
            "min_score_ppm",
            "max_score_ppm",
        )
        .orderBy(lang_col, "bucket")
    )


def lang_mixture_panel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    chunk_tokens: int = 64,
) -> DataFrame:
    """X133: within-document language-mixture detection — chunk each
    document into non-overlapping ``chunk_tokens`` windows (the X21
    machinery, overlap 0), run the X5b marker-word language vote per
    CHUNK, and flag documents whose chunks disagree.  Doc-level
    language ID averages a 50/50 code-switched page into whichever
    language wins overall; chunk-level disagreement is the signal
    monolingual-corpus curation actually filters on (and mixed docs
    poison langid-conditioned mixtures like X19's).

    Exactness: marker counts, votes and ratios are exact integers;
    the per-doc verdict is COUNT(DISTINCT chunk_pred) > 1 over
    non-'unknown' predictions (an unknown chunk is no evidence of
    mixing).

    Scale: the chunk explode is the X21 zero-shuffle narrow map;
    votes are per-row expressions; then one doc-keyed aggregate and
    one group aggregate — no joins."""
    stride = chunk_tokens
    t = df.select(
        F.col(id_col),
        F.col(group_col).alias("__grp"),
        F.expr(
            f"filter({TOKENS_SQL.format(col=text_col)}, x -> x != '')"
        ).alias("__t"),
    ).filter(F.size("__t") > 0)
    chunks = t.select(
        F.col(id_col),
        "__grp",
        F.explode(
            F.expr(f"sequence(0, size(__t) - 1, {stride})")
        ).alias("__s"),
        F.col("__t"),
    ).select(
        F.col(id_col),
        "__grp",
        F.slice(F.col("__t"), F.col("__s") + 1, F.lit(chunk_tokens)).alias(
            "__ck"
        ),
    )
    scored = chunks.select(
        F.col(id_col),
        "__grp",
        *[
            F.expr(_in_list("__ck", words)).alias(f"s_{lang}")
            for lang, words in LANG_MARKERS.items()
        ],
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") > 0),
            "en",
        )
        .when(
            (F.col("s_es") >= F.col("s_de"))
            & (F.col("s_es") >= F.col("s_fr"))
            & (F.col("s_es") > 0),
            "es",
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") > 0), "de")
        .when(F.col("s_fr") > 0, "fr")
        .otherwise("unknown")
    )
    per_doc = (
        scored.select(F.col(id_col), "__grp", pred.alias("__p"))
        .groupBy(F.col(id_col), "__grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n_chunks"),
            F.countDistinct(
                F.when(F.col("__p") != "unknown", F.col("__p"))
            ).alias("__n_langs"),
        )
    )
    return (
        per_doc.groupBy("__grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__n_chunks").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("__n_langs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_mixed_docs"),
            F.sum(F.when(F.col("__n_langs") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_unknown_docs"),
        )
        .select(
            F.col("__grp").alias(group_col),
            "n_docs",
            "n_chunks",
            "n_mixed_docs",
            "n_unknown_docs",
            F.expr("(1000000 * n_mixed_docs) div n_docs").alias(
                "mixed_ppm"
            ),
        )
        .orderBy(group_col)
    )


# Domain-rule marker vocabularies (X138): tiny keyword rules in the
# LANG_MARKERS style — token-set membership, fixed precedence, no
# classifier weights to drift between engines.
DOMAIN_MARKERS = {
    "code": ["def", "class", "function", "return", "import", "var"],
    "news": ["said", "report", "today", "announced", "according"],
    "legal": ["shall", "pursuant", "herein", "thereof", "whereas"],
}


def domain_tag_mixture(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """X138: rule-based domain tagging + mixture panel — the
    zero-training domain axis every mixture table (X19/X37/X43)
    wants as its row key when no domain column exists: tag each doc
    by keyword-rule vote (code > news > legal > general precedence on
    ties, a doc needs ≥ 1 marker hit to leave 'general'), then
    report the per-domain mixture: doc share, token mass, mean doc
    length.  The deterministic stand-in for a fastText domain
    classifier (X41 is the learned twin); rules are auditable, which
    is why curation pipelines run both.

    Exactness: marker hits are token-set membership counts (exact);
    shares are ppm integer divisions; mean length is sum div n.

    Scale: per-row expression work in the scan stage + ONE 4-row
    aggregate — no joins, no windows."""
    t = df.select(
        F.col(id_col),
        F.expr(
            f"filter({TOKENS_SQL.format(col=text_col)}, x -> x != '')"
        ).alias("__t"),
    )
    scored = t.select(
        F.col(id_col),
        F.size("__t").alias("__n_tok"),
        *[
            F.expr(_in_list("__t", words)).alias(f"d_{name}")
            for name, words in DOMAIN_MARKERS.items()
        ],
    )
    tag = (
        F.when(
            (F.col("d_code") >= F.col("d_news"))
            & (F.col("d_code") >= F.col("d_legal"))
            & (F.col("d_code") > 0),
            "code",
        )
        .when(
            (F.col("d_news") >= F.col("d_legal")) & (F.col("d_news") > 0),
            "news",
        )
        .when(F.col("d_legal") > 0, "legal")
        .otherwise("general")
    )
    tagged = scored.select(tag.alias("domain"), "__n_tok")
    tot = tagged.agg(F.count(F.lit(1)).alias("__total"))
    return (
        tagged.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__n_tok").cast("long").alias("token_mass"),
            F.expr("sum(__n_tok) div count(1)").cast("long").alias(
                "mean_tokens"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "n_docs",
            F.expr("(1000000 * n_docs) div __total").alias("doc_share_ppm"),
            "token_mass",
            "mean_tokens",
        )
        .orderBy("domain")
    )


def markup_density(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """X143: markup/boilerplate-signal census — the WET-extraction
    QA panel: per source, how much HTML-ish residue (tag-like
    runs), link residue (URLs) and sentence punctuation the raw text
    carries.  A source whose tag density spikes was extracted from
    HTML without cleaning (run X11's scrubber); one with ZERO
    sentence punctuation is probably not prose (tables, logs, token
    dumps).  Works on the RAW text — the canonical tokenizer strips
    exactly the characters this op audits.

    Exactness: counts are exact regexp-match counts (identical
    regex semantics: the patterns use no engine-specific classes);
    densities are integer per-million-chars divisions.

    Scale: per-row regex work in the scan stage + one group
    aggregate — no joins."""
    tagc = F.expr(f"regexp_count({text_col}, '<[a-zA-Z]')")
    linkc = F.expr(f"regexp_count({text_col}, 'https?://')")
    sentc = F.expr(f"regexp_count({text_col}, '[.!?]')")
    chars = F.expr(f"length({text_col})")
    return (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(chars).cast("long").alias("n_chars"),
            F.sum(tagc).cast("long").alias("tag_count"),
            F.sum(linkc).cast("long").alias("link_count"),
            F.sum(sentc).cast("long").alias("sentence_punct"),
            F.sum(F.when(tagc > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_with_markup"),
            F.sum(F.when(sentc == 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_no_punct"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "n_chars",
            "tag_count",
            "link_count",
            "sentence_punct",
            "docs_with_markup",
            "docs_no_punct",
            F.expr("(1000000 * sentence_punct) div n_chars").alias(
                "punct_per_mchar"
            ),
        )
        .orderBy(group_col)
    )


def trigram_backoff_heldout_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    min_count: int = 3,
    holdout_mod: int = 5,
) -> DataFrame:
    """r10-queue: held-out LM eval per source — the honest form of
    X59's quality signal: the model's trigram/bigram/unigram counts
    come ONLY from the train split (unit_hash(id) % holdout_mod != 0)
    and the scored positions ONLY from the held-out split, so a
    document can never inflate its own score by contributing its own
    counts (the self-scored X59 form systematically flatters
    templated/duplicated text — exactly the text a curation gate
    must not flatter). Per source: scored-doc count, position count,
    backoff rate, and the mean per-doc score — the data-ablation
    readout ("which source's text does a model of everyone ELSE's
    text predict?").

    Exactness: per-position score and every mean are exact integer
    ppm divisions on exact counts (X59's convention); the per-doc
    score is floored to ppm BEFORE the source mean (mean-of-doc-means,
    so a 10^6-position doc can't swamp its source's number).

    Scale: the X59 plan with the split filters pushed into the
    count/score scans — no new shuffle; the split is a hash
    expression, not a join."""
    from .sampling import unit_hash

    held = unit_hash(id_col) % holdout_mod == 0
    per_doc = trigram_backoff_scores(
        df.filter(held),
        id_col,
        text_col,
        min_count,
        model_df=df.filter(~held),
    )
    src = df.select(F.col(id_col), F.col(source_col))
    joined = per_doc.join(src, id_col).select(
        F.col(source_col),
        F.col("n_trigrams").cast("long").alias("__nt"),
        F.col("n_backoff").cast("long").alias("__nb"),
        F.round(F.col("avg_score") * 1_000_000)
        .cast("long")
        .alias("__sp"),
    )
    return (
        joined.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__nt").cast("long").alias("n_positions"),
            F.expr("(1000000 * sum(__nb)) div sum(__nt)")
            .cast("long")
            .alias("backoff_ppm"),
            F.expr("sum(__sp) div count(1)")
            .cast("long")
            .alias("mean_score_ppm"),
        )
        .orderBy(source_col)
    )


def langid_agreement_by_source(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    source_col: str,
) -> DataFrame:
    """r10-queue: label-quality audit — X91's Cohen-kappa machinery
    keyed on the SOURCE axis, grading each source's ``lang`` labels
    against the X5b marker-word prediction: a source whose labels
    disagree with even a crude content signal beyond chance is a
    mislabeled-ingest suspect, and per-language curation (X132
    CCNet buckets, X19/X37 mixtures) silently inherits its errors.
    The global confusion matrix (``text_lang_id``) says WHAT gets
    confused; this says WHICH SOURCE to distrust.

    Exactness: X91's convention — confusion cells / marginals /
    pe_num as exact keyed BIGINT aggregates, kappa =
    (N·trace − pe_num)/(N² − pe_num) as ONE double division rounded
    to 1e-6, NULL on the degenerate denominator; accuracy and
    chance agreement as integer ppm.

    Scale: one scan scores the markers (scan-stage expressions);
    everything downstream aggregates on (source, class) keys
    bounded by |sources|·|langs|² — corpus size never appears past
    the first aggregate."""
    scored = lang_scores(
        df, id_col, text_col, lang_col, carry_cols=(source_col,)
    )
    cells = scored.groupBy(
        source_col,
        F.col("pred_lang").alias("__p"),
        F.col(lang_col).cast("string").alias("__l"),
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    totals = cells.groupBy(source_col).agg(
        F.sum("__c").cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("__p") == F.col("__l"), F.col("__c")).otherwise(0)
        )
        .cast("long")
        .alias("__trace"),
    )
    marg_r = cells.groupBy(source_col, "__p").agg(
        F.sum("__c").cast("long").alias("__r")
    )
    marg_c = cells.groupBy(source_col, "__l").agg(
        F.sum("__c").cast("long").alias("__cc")
    )
    # pe_num is bounded by n², so its accumulation and the 1e6·pe_num
    # chance term wrap BIGINT once a source passes ~3e6 docs (r9
    # ADVICE item 5) — route through DECIMAL(38,0) like the Gram
    # accumulation; output types are unchanged.
    pe = (
        marg_r.join(
            marg_c,
            (marg_r[source_col] == marg_c[source_col])
            & (marg_r.__p == marg_c.__l),
        )
        .groupBy(marg_r[source_col].alias(source_col))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("__r").cast("decimal(38,0)") * F.col("__cc")
                ),
                F.lit(0).cast("decimal(38,0)"),
            )
            .cast("decimal(38,0)")
            .alias("__pe_num")
        )
    )
    # LEFT join + coalesce (r9 review finding): a source whose label
    # set and predicted set are DISJOINT — exactly the fully-
    # mislabeled source this audit exists to flag — has an empty
    # p=l marginal join and therefore no pe row; an inner join would
    # silently drop it from the panel. pe_num=0 degrades kappa to
    # trace/n, the correct chance-free limit.
    return (
        totals.join(pe, source_col, "left")
        .withColumn(
            "__pe_num",
            F.coalesce(
                F.col("__pe_num"), F.lit(0).cast("decimal(38,0)")
            ),
        )
        .withColumn(
            "__n2", F.expr("CAST(n_docs AS DECIMAL(38,0)) * n_docs")
        )
        .select(
            F.col(source_col),
            "n_docs",
            F.expr("(1000000 * __trace) div n_docs")
            .cast("long")
            .alias("accuracy_ppm"),
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * __pe_num) div __n2"
            )
            .cast("long")
            .alias("chance_ppm"),
            F.when(
                F.col("__n2") != F.col("__pe_num"),
                F.round(
                    (
                        F.expr("CAST(n_docs AS DECIMAL(38,0)) * __trace")
                        - F.col("__pe_num")
                    ).cast("double")
                    / (F.col("__n2") - F.col("__pe_num")).cast("double"),
                    6,
                ),
            ).alias("kappa"),
        )
        .orderBy(source_col)
    )


def source_crossentropy_matrix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
) -> DataFrame:
    """X169: source-pair cross-entropy matrix — for every ordered
    source pair (A, B), the cross-entropy of A's unigram stream
    under B's add-one-smoothed unigram model:
    H(A|B) = −Σ_w p_A(w)·ln q_B(w),  q_B(w) = (c_B(w)+1)/(N_B+V).
    X34's TVD says how far two sources' token distributions sit;
    cross-entropy says how EXPENSIVE one source is to model with
    another's statistics — the quantity mixture design actually
    trades (low off-diagonal H = redundant sources; a row far above
    its diagonal = a source nothing else covers).  The diagonal is
    the source's own smoothed entropy, so KL(A‖B) falls out as
    H(A|B) − H(A|A) without a second pass.

    Exactness (the X99 scaled-integer-ln convention): with
    L(x) = round(10⁶·ln x) per value,
    H_e6 = L(N_B + V) − (Σ_w c_A(w)·L(c_B(w)+1)) div N_A
    — every product and sum is exact integer arithmetic AFTER the
    per-value rounds (terms absent from B contribute L(1) = 0, so
    the matched-vocabulary join is the complete sum), DECIMAL(38,0)
    accumulation (c·L products reach ~2e13 per term; an int64 sum
    wraps at web scale).

    Scale: ONE (source, term) count aggregate over the corpus, then
    a term-keyed self-join bounded by |V|·|S|² rows and two
    broadcast-sized per-source total tables; the corpus is touched
    once."""
    cnt = (
        df.select(
            F.col(source_col).alias("__s"),
            F.explode(tokens(text_col)).alias("__w"),
        )
        .filter(F.col("__w") != "")
        .groupBy("__s", "__w")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=True)  # feeds totals + both join sides
    )
    totals = cnt.groupBy("__s").agg(
        F.sum("__c").cast("long").alias("__n")
    )
    vocab = cnt.select("__w").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("__v")
    )
    a = cnt.select(
        F.col("__s").alias("source_a"),
        "__w",
        F.col("__c").alias("__ca"),
    )
    b = cnt.select(
        F.col("__s").alias("source_b"),
        "__w",
        # L(c_B + 1) = round(1e6·ln(c_B + 1)), the per-value round
        F.round(F.log(F.col("__c") + 1) * 1_000_000.0)
        .cast("long")
        .alias("__lb"),
    )
    matched = (
        a.join(b, "__w")
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
            F.sum(
                F.col("__ca").cast("decimal(38,0)") * F.col("__lb")
            ).alias("__sm"),
        )
    )
    na = totals.select(
        F.col("__s").alias("source_a"), F.col("__n").alias("__na")
    )
    nb = totals.select(
        F.col("__s").alias("source_b"), F.col("__n").alias("__nb")
    )
    # complete |S|² grid (broadcast-sized): a pair sharing zero vocab
    # still has H = L(N_B + V) — an inner join alone would drop it
    grid = na.crossJoin(nb)
    return (
        grid.join(matched, ["source_a", "source_b"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "source_a",
            "source_b",
            F.coalesce("n_terms_matched", F.lit(0))
            .cast("long")
            .alias("n_terms_matched"),
            (
                F.round(F.log(F.col("__nb") + F.col("__v")) * 1_000_000.0)
                .cast("long")
                - F.expr(
                    "CAST(coalesce(__sm, CAST(0 AS DECIMAL(38,0))) "
                    "div __na AS LONG)"
                )
            )
            .cast("long")
            .alias("crossentropy_nats_e6"),
        )
        .orderBy("source_a", "source_b")
    )


def _hll_token_registers(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Shared X175/X184 register build: (grp, __b, __m) — md5 bucket
    (first 8 bits mod 64) and rho = 61 - bitlength of the 60-bit
    value stream, MAX-aggregated per register.  One keyed MAX over
    the token stream; 64 rows per group out of the shuffle."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(text_col)).alias("t"),
    ).filter(F.col("t") != "")
    return _hll_registers_from_toks(toks)


def _hll_registers_from_toks(toks: DataFrame) -> DataFrame:
    """Register build from an ALREADY-exploded (grp, t) token stream —
    split out (r11 ADVICE) so a caller that also needs exact token
    aggregates (X175) can tokenize ONCE and feed both legs instead of
    re-deriving the identical explode per branch."""
    return (
        toks.select(
            "grp",
            F.expr(
                "CAST(conv(substring(md5(t), 1, 2), 16, 10) AS BIGINT) % 64"
            ).alias("__b"),
            F.expr(
                "CAST(conv(substring(md5(t), 3, 15), 16, 10) AS BIGINT)"
            ).alias("__w"),
        )
        .withColumn(
            "__rho",
            F.expr(
                "CASE WHEN __w = 0 THEN 61 ELSE 61 - length(bin(__w)) END"
            ),
        )
        .groupBy("grp", "__b")
        .agg(F.max("__rho").alias("__m"))
    )


# The pure-integer HLL estimator pieces shared by X175/X184:
# S = sum of 2^(61-M_j) with empty registers at 2^61, alpha_64 =
# 709/1000 exactly, linear-counting branch under the X99 scaled-ln
# convention.  ``used`` / ``s_used`` are column NAMES in the caller.
_HLL_RAW_SQL = (
    "CAST((CAST(709 AS DECIMAL(38,0)) * 4096 * 2305843009213693952) "
    "div (1000 * ({s})) AS BIGINT)"
)
_HLL_EST_SQL = (
    "CASE WHEN {raw} <= 160 AND {used} < 64 THEN "
    "(64 * CAST(ROUND(LN(64.0 / (64 - {used})) * 1000000) AS BIGINT)) "
    "div 1000000 ELSE {raw} END"
)


def hll_register_estimate(
    df: DataFrame, group_col: str, text_col: str, m: int = 64
) -> DataFrame:
    """X175: register-level HyperLogLog distinct-token estimate per
    group (Flajolet et al. 2007), next to the KMV sketch (X62) — HLL
    is what production engines actually ship (Spark's own
    ``hll_sketch_agg``, used by the timeseries rolling twin, is a
    black box whose estimate no oracle can re-derive).  This operator
    IS oracle-checkable: deterministic md5 register assignment, so
    the sketch itself — every register value, the estimate, and the
    signed error vs the exact count — is reproduced bit-for-bit by
    the DuckDB twin.

    Register math (m=64): bucket = first-8-md5-bits mod 64; the next
    60 bits are the value stream w; rho(w) = 61 - bitlength(w)
    (w = 0 -> 61), via the engine-portable ``length(bin(w))``.  The
    harmonic sum stays INTEGER: S = sum over registers of
    2^(61 - M_j), empty registers contributing 2^61, accumulated in
    DECIMAL(38,0) (DuckDB SUM promotes to HUGEINT — the r9/r10
    overflow-asymmetry route).  With alpha_64 = 0.709 = 709/1000
    exactly, raw = (709 * 4096 * 2^61) div (1000 * S) is a pure
    integer estimator; the small-range branch (raw <= 2.5m with
    empty registers) uses linear counting m*ln(m/V) through the X99
    scaled-integer-ln convention.  No float survives into the
    output.

    Scale: one (group, bucket)-keyed MAX aggregate over the token
    stream — map-side partial like any MAX, 64 rows per group out of
    the shuffle regardless of vocabulary; the exact-distinct column
    exists for the fixture-scale audit and would be dropped at
    100 TB (the estimate is the product)."""
    # One tokenize+explode scan feeds ONE (grp, t) count aggregate —
    # vocab-bounded, map-side-partial — and BOTH branches (register
    # MAX and exact n_tokens/exact_distinct) read that small frame.
    # r12 ADVICE: the r11 fix checkpointed the raw exploded stream,
    # a corpus-scale intermediate on non-replicated executor storage
    # whose write likely cost more than the duplicated narrow scan it
    # saved; the checkpoint now pins the PRE-AGGREGATE (|G|·vocab
    # rows), so the corpus is scanned once and the shared frame is
    # small.  Register MAX over distinct (grp, t) equals MAX over the
    # raw stream — rho depends on the token value only.
    toks = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(text_col)).alias("t"),
        )
        .filter(F.col("t") != "")
        .groupBy("grp", "t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
    )
    regs = _hll_registers_from_toks(toks)
    panel = regs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("registers_used"),
        F.sum(F.expr("shiftleft(1L, 61 - __m)").cast("decimal(38,0)")).alias(
            "__s_used"
        ),
    )
    exact = toks.groupBy("grp").agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("exact_distinct"),
    )
    est = F.expr(_HLL_EST_SQL.format(raw="__raw", used="registers_used"))
    return (
        exact.join(panel, "grp")
        .withColumn(
            "__s",
            F.col("__s_used")
            + (64 - F.col("registers_used")).cast("decimal(38,0)")
            * F.lit(2305843009213693952).cast("decimal(38,0)"),
        )
        .withColumn("__raw", F.expr(_HLL_RAW_SQL.format(s="__s")))
        .withColumn("__est0", est.cast("long"))
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "exact_distinct",
            "registers_used",
            F.col("__est0").alias("hll_estimate"),
            F.expr(
                "CASE WHEN __est0 >= exact_distinct THEN "
                "((__est0 - exact_distinct) * 1000000) div exact_distinct "
                "ELSE -(((exact_distinct - __est0) * 1000000) "
                "div exact_distinct) END"
            ).alias("err_ppm"),
        )
        .orderBy(group_col)
    )


def vocab_richness_estimators(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """X176: nonparametric vocabulary-richness estimators per group —
    Chao1 (Chao 1984, bias-corrected form) and the first-order
    jackknife (Burnham & Overton 1978) — the how-much-vocabulary-is
    -LEFT question next to X101's Good-Turing missing MASS and X117's
    Heaps-law growth FIT.  Curation reading: observed/chao1 is the
    sample-coverage dial — a source whose Chao1 far exceeds its
    observed vocabulary rewards more crawling; one whose estimators
    have converged is exhausted.

    chao1_e6 = 1e6*D + (1e6*f1*(f1-1)) div (2*(f2+1)) — the
    bias-corrected form is defined at f2 = 0, exact integer
    throughout; jackknife1 = D + f1 exactly.

    Scale: one (group, token) count aggregate (vocab-bounded,
    map-side partial), then a |G|-row panel off the
    frequency-of-frequencies — the X101 shape."""
    counts = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(text_col)).alias("t"),
        )
        .filter(F.col("t") != "")
        .groupBy("grp", "t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        counts.groupBy("grp")
        .agg(
            F.sum("__c").alias("n_tokens"),
            F.count(F.lit(1)).alias("observed_distinct"),
            F.sum((F.col("__c") == 1).cast("long")).alias("f1_singletons"),
            F.sum((F.col("__c") == 2).cast("long")).alias("f2_doubletons"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "observed_distinct",
            "f1_singletons",
            "f2_doubletons",
            F.expr(
                "1000000 * observed_distinct + "
                "(1000000 * f1_singletons * (f1_singletons - 1)) "
                "div (2 * (f2_doubletons + 1))"
            ).alias("chao1_e6"),
            (F.col("observed_distinct") + F.col("f1_singletons")).alias(
                "jackknife1"
            ),
        )
        .orderBy(group_col)
    )


def encoding_artifact_rewrite(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """X182: the ACTION half of X98's encoding audit (the
    census->rewrite house pattern: X161->X171, X148->X149) — strip
    the two artifact classes that are safe to remove mechanically
    (U+FFFD replacement characters: the upstream decode already
    destroyed the original bytes, the marker itself is noise; C0
    control characters: binary bleed-through), then collapse the
    whitespace runs the removals leave behind.  Mojibake (the Ã/Â
    class) is COUNTED but deliberately NOT rewritten: repairing it
    needs a byte-level re-decode of the source (Wenzek et al. 2020
    route such pages back to the decoder) — a text-level strip would
    corrupt legitimate Latin-1-range text, so the honest rewrite
    flags it for re-ingestion instead.

    Exactness: counts via the X87/X98 length-difference identity;
    the rewrite is a deterministic regexp_replace chain (all-
    occurrence semantics in both engines — DuckDB with the 'g'
    flag).

    Scale: pure narrow map — zero shuffles, zero joins; the rewrite
    rides the scan."""
    ln = F.length(F.col(text_col))

    def _n(pat: str) -> Column:
        return (
            ln - F.length(F.regexp_replace(F.col(text_col), pat, ""))
        ).cast("long")

    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col(text_col), _REPLACEMENT, ""),
                _CTRL_RE,
                "",
            ),
            " +",
            " ",
        )
    )
    return df.select(
        F.col(id_col),
        _n(_REPLACEMENT).alias("n_replacement_removed"),
        _n(_CTRL_RE).alias("n_ctrl_removed"),
        _n(_MOJIBAKE_RE).alias("n_mojibake_flagged"),
        cleaned.alias("text_clean"),
        (F.length(cleaned) != ln).cast("boolean").alias("changed"),
    ).orderBy(id_col)


def source_overlap_hll(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """X184: cross-source vocabulary overlap from MERGED HLL
    registers — the sketch-mergeability demonstration next to X100's
    KMV overlap: a union estimate costs one elementwise register MAX
    (|S|^2 x 64 cells), never a second corpus pass, which is exactly
    why register sketches are the 100 TB standard for cross-shard
    distinct rollups (per-shard registers merge associatively; the
    exact columns exist for the fixture-scale audit and are the
    quantity the sketch REPLACES at scale).

    est(A union B) from max-merged registers (the X175 pure-integer
    estimator + linear-counting branch); est(A intersect B) by
    inclusion-exclusion (signed — HLL intersection can go negative
    on near-disjoint pairs, reported honestly).  Exact twins come
    from the distinct (group, token) table (the X100 shape).
    union_err_ppm is the sign-symmetric integer division.

    Scale: registers are 64 rows/source; the pair-merge is
    |S|^2 x 64 broadcast-joined cells; the exact side is one
    vocab-bounded distinct + a token-keyed self-join.  Both shared
    frames are eagerly checkpointed (r13, the X175 discipline): the
    register table (64·|S| rows) feeds four consumers and the
    distinct (group, token) table (vocab-bounded) three — without
    the pins each consumer re-ran the corpus tokenize+explode, ~7
    corpus scans for a query whose data after the first pass is
    KB-sized (measured 17.8 s → 2.1 s at sf0.1; 10× ratio 4.1)."""
    regs = _hll_token_registers(df, group_col, text_col).localCheckpoint(
        eager=True
    )
    grps = regs.select("grp").distinct()
    pairs = (
        grps.select(F.col("grp").alias("__ga"))
        .crossJoin(F.broadcast(grps.select(F.col("grp").alias("__gb"))))
        .filter(F.col("__ga") < F.col("__gb"))
    )
    side_a = pairs.join(
        regs.select(F.col("grp").alias("__ga"), "__b", F.col("__m").alias("__ma")),
        "__ga",
    ).select("__ga", "__gb", "__b", "__ma", F.lit(None).cast("int").alias("__mb"))
    side_b = pairs.join(
        regs.select(F.col("grp").alias("__gb"), "__b", F.col("__m").alias("__mb")),
        "__gb",
    ).select("__ga", "__gb", "__b", F.lit(None).cast("int").alias("__ma"), "__mb")
    merged = (
        side_a.unionByName(side_b)
        .groupBy("__ga", "__gb", "__b")
        .agg(
            F.greatest(
                F.coalesce(F.max("__ma"), F.lit(0)),
                F.coalesce(F.max("__mb"), F.lit(0)),
            ).alias("__mu")
        )
    )
    upanel = merged.groupBy("__ga", "__gb").agg(
        F.count(F.lit(1)).alias("__used"),
        F.sum(F.expr("shiftleft(1L, 61 - __mu)").cast("decimal(38,0)")).alias(
            "__s_used"
        ),
    )
    upanel = upanel.withColumn(
        "__s",
        F.col("__s_used")
        + (64 - F.col("__used")).cast("decimal(38,0)")
        * F.lit(2305843009213693952).cast("decimal(38,0)"),
    ).withColumn("__raw", F.expr(_HLL_RAW_SQL.format(s="__s")))
    upanel = upanel.withColumn(
        "__est_u",
        F.expr(_HLL_EST_SQL.format(raw="__raw", used="__used")).cast("long"),
    )
    # per-source estimates (X175 machinery) for inclusion-exclusion
    spanel = regs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("__used1"),
        F.sum(F.expr("shiftleft(1L, 61 - __m)").cast("decimal(38,0)")).alias(
            "__s_used1"
        ),
    )
    spanel = (
        spanel.withColumn(
            "__s1",
            F.col("__s_used1")
            + (64 - F.col("__used1")).cast("decimal(38,0)")
            * F.lit(2305843009213693952).cast("decimal(38,0)"),
        )
        .withColumn("__raw1", F.expr(_HLL_RAW_SQL.format(s="__s1")))
        .withColumn(
            "__est1",
            F.expr(_HLL_EST_SQL.format(raw="__raw1", used="__used1")).cast(
                "long"
            ),
        )
        .select("grp", "__est1")
    )
    # exact twins: distinct (group, token) table, X100 shape —
    # vocab-bounded, checkpointed once for its three consumers
    d = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(text_col)).alias("t"),
        )
        .filter(F.col("t") != "")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = d.groupBy("grp").agg(F.count(F.lit(1)).alias("__nd"))
    inter = (
        d.select(F.col("grp").alias("__ga"), "t")
        .join(d.select(F.col("grp").alias("__gb"), "t"), "t")
        .filter(F.col("__ga") < F.col("__gb"))
        .groupBy("__ga", "__gb")
        .agg(F.count(F.lit(1)).alias("__ni"))
    )
    return (
        upanel.join(inter, ["__ga", "__gb"], "left")
        .join(
            sizes.select(F.col("grp").alias("__ga"), F.col("__nd").alias("__na")),
            "__ga",
        )
        .join(
            sizes.select(F.col("grp").alias("__gb"), F.col("__nd").alias("__nb")),
            "__gb",
        )
        .join(
            spanel.select(F.col("grp").alias("__ga"), F.col("__est1").alias("__ea")),
            "__ga",
        )
        .join(
            spanel.select(F.col("grp").alias("__gb"), F.col("__est1").alias("__eb")),
            "__gb",
        )
        .select(
            F.col("__ga").alias("source_a"),
            F.col("__gb").alias("source_b"),
            F.expr(
                "__na + __nb - coalesce(__ni, 0)"
            ).cast("long").alias("exact_union"),
            F.coalesce("__ni", F.lit(0)).cast("long").alias("exact_inter"),
            F.col("__est_u").alias("hll_union_estimate"),
            (F.col("__ea") + F.col("__eb") - F.col("__est_u"))
            .cast("long")
            .alias("hll_inter_estimate"),
            F.expr(
                "CASE WHEN __est_u >= (__na + __nb - coalesce(__ni, 0)) THEN "
                "((__est_u - (__na + __nb - coalesce(__ni, 0))) * 1000000) "
                "div (__na + __nb - coalesce(__ni, 0)) "
                "ELSE -((((__na + __nb - coalesce(__ni, 0)) - __est_u) "
                "* 1000000) div (__na + __nb - coalesce(__ni, 0))) END"
            ).alias("union_err_ppm"),
        )
        .orderBy("source_a", "source_b")
    )
