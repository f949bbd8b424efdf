"""X1/X2: deduplication operator family (SURVEY §2.11) — exact,
fingerprint, MinHash+LSH, SimHash, n-gram Jaccard.

Everything here is expressed in native Spark SQL expressions (no
Python UDFs): tokenization with regexp functions, shingling with
higher-order array functions, hashing with md5. Hash values are
therefore engine-portable — DuckDB's md5 produces the same hex — so
even MinHash/LSH is verifiable against a SQL oracle.

Scale notes (100 TB): every step is a narrow map except the final
candidate-pair self-join, which shuffles on (band_idx, band_value) —
the standard LSH partitioning; band buckets are small by construction
so the join never explodes. Stop-shingle removal (drop shingles with
document frequency above a cap) bounds worst-case bucket sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import spread_small_scan
from .graph import connected_components

# Canonicalized token array from raw text: lowercase, strip
# non-alphanumerics, split on whitespace runs.
TOKENS_SQL = "split(trim(regexp_replace(lower({col}), '[^a-z0-9 ]', '')), ' +')"

# 3-word shingles from a token array expression {t}. The outer
# transform(array({t}), __a -> ...) is a LET BINDING: Catalyst's
# CollapseProject inlines {t} into every reference, and inside a
# lambda each element_at({t}, i) would re-evaluate the whole
# regexp+split per position (quadratic in tokens). Binding the
# evaluated array to the lambda variable __a forces one evaluation.
SHINGLES_SQL = (
    "flatten(transform(array({t}), __a -> "
    "CASE WHEN size(__a) >= 3 THEN transform(sequence(1, size(__a) - 2), "
    "i -> concat(element_at(__a, i), ' ', element_at(__a, i + 1), ' ', "
    "element_at(__a, i + 2))) ELSE array() END))"
)


def tokens(col: str) -> Column:
    return F.expr(TOKENS_SQL.format(col=col))


def shingles(token_col: str) -> Column:
    return F.expr(SHINGLES_SQL.format(t=token_col))


def exact_dedup(df: DataFrame, keys: list[str]) -> DataFrame:
    """X1: exact dedup — hash-aggregate on the key columns."""
    return df.dropDuplicates(keys)


def fingerprint(col: Column) -> Column:
    """X2a: canonical-text fingerprint (lower→strip→collapse→md5)."""
    canon = F.trim(F.regexp_replace(F.regexp_replace(F.lower(col), "[^a-z0-9 ]", ""), " +", " "))
    return F.md5(canon)


def doc_shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle) pairs, distinct per doc.

    The input is spread to cluster parallelism when it is a small
    single-split scan (r14, catalog.spread_small_scan — a no-op at
    scale): the tokenize/shingle/explode chain and the md5 signature
    banks downstream are scan-stage per-row compute, which a
    single-row-group file otherwise serializes onto one core."""
    return (
        spread_small_scan(df)
        .select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(F.col(id_col), F.explode(shingles("__t")).alias("shingle"))
        .distinct()
    )


def minhash_signatures(sh: DataFrame, id_col: str, k: int = 8) -> DataFrame:
    """X2b: k-permutation MinHash. Permutation j is simulated by
    hashing the shingle with a seed prefix; the signature component is
    the lexicographic MIN of the hex digest — a total order identical
    in any engine with md5."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("shingle")))).alias(f"mh{j}")
        for j in range(1, k + 1)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_band_membership(
    sig: DataFrame, id_col: str, k: int = 8, bands: int = 4
) -> DataFrame:
    """The banded-signature bucket membership table
    (id, band_idx, band_val): each band hashes k/bands consecutive
    signature components.  Shared by X2c's pair generation and X89's
    pairless star clustering — a (band_idx, band_val) bucket IS the
    LSH hyperedge."""
    rows = k // bands
    band_cols = [
        F.md5(F.concat_ws("", *[F.col(f"mh{b * rows + r + 1}") for r in range(rows)])).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias(
            "band_idx", "band_val"
        ),
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    k: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
    split_threshold: int = 1024,
) -> DataFrame:
    """X2c: band the signature (rows = k/bands) and emit distinct
    candidate pairs sharing any band bucket.

    Pair generation groups ids per (band_idx, band_value) bucket and
    explodes the sorted in-bucket pairs — ONE shuffle of the banded
    table where a self-join would shuffle it twice, and the signature
    pipeline is evaluated once; the trailing distinct dedups pairs
    that collide in more than one band.

    Skew: buckets above ``split_threshold`` (hordes of identical
    signatures — usually exact-duplicate text) take the AQE-splittable
    self-join branch instead of one-task collect_list explosion (same
    hybrid as ``_jaccard_core``). ``max_bucket`` additionally DROPS
    over-full buckets entirely (recall trade; a bucket that hot is
    near-useless for near-dup). Running exact dedup (X1/X2a) first
    remains standard pipeline order."""
    exploded = lsh_band_membership(sig, id_col, k, bands)
    grouped = (
        exploded.groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket:
        grouped = grouped.filter(F.size("ids") <= max_bucket)
    # materialize the grouped buckets ONCE: the small and hot branches
    # below would otherwise each re-execute the whole signature
    # pipeline (Spark reuses exchanges, not operator outputs — and not
    # reliably under AQE); the checkpoint is the same data volume as
    # the shuffle that produced it
    grouped = grouped.localCheckpoint(eager=True)
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS doc_a, y AS doc_b))))"
    )
    small_pairs = (
        grouped.filter(F.size("ids") <= split_threshold)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    hot = grouped.filter(F.size("ids") > split_threshold).select(
        "band_idx", "band_val", F.explode("ids").alias("d")
    )
    hot_pairs = (
        hot.select("band_idx", "band_val", F.col("d").alias("doc_a"))
        .join(
            hot.select("band_idx", "band_val", F.col("d").alias("doc_b")),
            ["band_idx", "band_val"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    return small_pairs.union(hot_pairs).distinct()


def ngram_jaccard_pairs(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    min_df: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """X2d: exact n-gram Jaccard over pairs sharing ≥1 shingle.
    ``sh`` must be distinct (id, shingle). Jaccard = |∩|/|∪| from
    exact integer counts — cross-engine deterministic.

    ``min_df=2`` drops unique shingles before pair generation (cannot
    form pairs — result-identical; with the grouped pair generation
    below it is nearly free). ``max_df`` is the stop-shingle cap for
    100 TB: shingles present in more than ``max_df`` docs are both
    useless for dedup and the skew hazard (quadratic pair explosion in
    one task); capping them bounds the worst bucket. It changes
    results (documented recall trade) — off by default and off in the
    oracle-checked query.

    Prefer ``ngram_jaccard_from_docs`` when starting from raw text —
    it computes doc sizes map-side from the pre-explode arrays,
    skipping this function's window pass."""
    from pyspark.sql import Window

    sh_n = sh.select(
        F.col(id_col),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).cast("long").alias("n_sh"),
        F.col("shingle"),
    )
    return _jaccard_core(sh_n, id_col, threshold, min_df, max_df)


def ngram_jaccard_from_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    min_df: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """X2d fused pipeline from raw text: per-doc distinct shingle
    ARRAYS are built in the scan stage (``array_distinct`` — a narrow
    map, no explode+distinct shuffle), so doc sizes cost nothing extra
    and the plan is strictly linear: scan → shingle arrays → explode →
    groupBy(shingle) → pair explode → pair aggregation. TWO shuffles,
    zero joins, one evaluation of the (expensive) shingle expression.
    Results are identical to
    ``ngram_jaccard_pairs(doc_shingles(df, ...), ...)``."""
    # Spread a small single-split scan before the heavy per-row chain
    # (r14, catalog.spread_small_scan — no-op at scale); the chain is
    # consumed by _pair_common's single materializing checkpoint job.
    arrs = (
        spread_small_scan(df)
        .select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(F.col(id_col), F.array_distinct(shingles("__t")).alias("__sh"))
        .filter(F.size("__sh") > 0)
    )
    sh_n = arrs.select(
        F.col(id_col),
        F.size("__sh").cast("long").alias("n_sh"),
        F.explode("__sh").alias("shingle"),
    )
    return _jaccard_core(sh_n, id_col, threshold, min_df, max_df)


def neardup_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The near-duplicate edge recipe every X7 cluster query shares:
    ``(doc_a, doc_b, jaccard)`` for 3-gram Jaccard ≥ 0.5, with
    ``min_df=2`` (result-identical, see ``ngram_jaccard_pairs``)."""
    return ngram_jaccard_from_docs(docs, id_col, text_col, threshold=0.5, min_df=2)


def neardup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """X7: near-duplicate clusters ``(id_col, cluster_id)`` — connected
    components of ``pairs`` (default ``neardup_pairs(docs)``) over every
    document; ``cluster_id`` is the component's minimum id, so
    ``id == cluster_id`` marks the canonical survivor.  Callers that
    read the pairs again pass them in, checkpointed once."""
    if pairs is None:
        pairs = neardup_pairs(docs, id_col, text_col)
    return connected_components(
        docs.select(id_col), pairs, id_col=id_col, src_col="doc_a", dst_col="doc_b"
    )


def _pair_common(
    sh_n: DataFrame,
    id_col: str,
    min_df: int | None,
    max_df: int | None,
    split_threshold: int = 1024,
) -> DataFrame:
    """Pair generation from a size-annotated shingle table
    ``(id, n_sh, shingle)`` → ``(doc_a, doc_b, n_a, n_b, n_common)``
    — the shared core under X2d Jaccard and X69 containment.

    Group (id, size) structs per shingle — ONE shuffle of the shingle
    table where a self-join would shuffle it twice — and explode the
    sorted in-group pairs. Doc sizes TRAVEL WITH THE PAIRS, so no
    post-join against a sizes table is needed and the whole plan stays
    linear (upstream shingle computation is evaluated exactly once).
    Shingles with df=1 yield zero pairs by construction, so min_df≤2
    pruning is inherent and free; the sort makes doc_a < doc_b
    structural.

    Skew: the grouped form generates a shingle's B·(B-1)/2 pairs in
    one task, so buckets larger than ``split_threshold`` take a
    DIFFERENT path — their ids are re-exploded and self-joined on the
    shingle key, which AQE's skew-join can split across tasks. Net:
    the common case pays one shuffle and zero joins; only the rare hot
    shingles pay the join. ``max_df`` (stop-shingle removal, a recall
    trade) remains the cheaper guard when hot shingles are known to be
    boilerplate; running exact dedup (X1) first remains standard
    pipeline order."""
    grouped = sh_n.groupBy("shingle").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("n_sh").alias("n")))
        ).alias("ids")
    )
    if min_df:
        grouped = grouped.filter(F.size("ids") >= min_df)
    if max_df:
        # stop-shingle cap: hot shingles are useless for dedup and the
        # skew hazard (quadratic pair explosion in one task) — capping
        # trades recall for a bounded worst bucket (documented; off in
        # the oracle-checked query)
        grouped = grouped.filter(F.size("ids") <= max_df)
    # materialize ONCE for the two branches below (see
    # lsh_candidate_pairs for the rationale)
    grouped = grouped.localCheckpoint(eager=True)
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x.id AS doc_a, y.id AS doc_b, x.n AS n_a, y.n AS n_b))))"
    )
    small_pairs = (
        grouped.filter(F.size("ids") <= split_threshold)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.n_a", "p.n_b")
    )
    # hot buckets: re-explode and self-join on the shingle key so the
    # quadratic pair generation is spread across tasks (AQE skew-join
    # splits the oversized partitions)
    hot = grouped.filter(F.size("ids") > split_threshold).select(
        "shingle", F.explode("ids").alias("s")
    )
    ha = hot.select("shingle", F.col("s.id").alias("doc_a"), F.col("s.n").alias("n_a"))
    hb = hot.select("shingle", F.col("s.id").alias("doc_b"), F.col("s.n").alias("n_b"))
    hot_pairs = (
        ha.join(hb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "n_a", "n_b")
    )
    # (doc_a, doc_b) functionally determines (n_a, n_b); grouping by
    # all four keeps the sizes available without a join.
    return (
        small_pairs.union(hot_pairs)
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def _jaccard_core(
    sh_n: DataFrame,
    id_col: str,
    threshold: float,
    min_df: int | None,
    max_df: int | None,
    split_threshold: int = 1024,
) -> DataFrame:
    """X2d scoring on the ``_pair_common`` pair table (see there for
    the pair-generation plan/skew discussion)."""
    common = _pair_common(sh_n, id_col, min_df, max_df, split_threshold)
    jac = common.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
            6,
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= threshold)


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """X2e: 16-bit SimHash. Each token votes ±1 on each bit of its
    16-bit hash (first 4 hex chars of md5, parsed base-16); bit j of
    the fingerprint is 1 iff the vote sum is ≥ 0. All integer
    arithmetic — engine-portable."""
    # No spread here (r14): measured +0.5s — the 16-way vote aggregate
    # dominates this op, not the scan-stage token hash.
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("int")
    toks = toks.select(F.col(id_col), h.alias("h"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(16)
        ]
    )
    sim = None
    for j in range(16):
        bit = F.when(F.col(f"v{j}") >= 0, 2**j).otherwise(0)
        sim = bit if sim is None else sim + bit
    return votes.select(F.col(id_col), sim.cast("int").alias("simhash"))


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.3,
) -> DataFrame:
    """Train/test decontamination: flag training docs whose distinct
    3-gram shingles overlap a benchmark (eval-set) corpus above
    ``threshold`` — the standard pre-training leak check.

    The benchmark's distinct shingle set is usually tiny next to the
    corpus, so the overlap join broadcasts it; doc shingle sizes ride
    along the explode (same trick as ``ngram_jaccard_from_docs``) so
    the plan is scan → explode → broadcast-semi-overlap → one
    groupBy(doc) — a single shuffle on the doc key."""
    bench_sh = (
        benchmark.select(tokens(text_col).alias("__t"))
        .select(F.explode(shingles("__t")).alias("shingle"))
        .distinct()
    )
    arrs = (
        docs.select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(F.col(id_col), F.array_distinct(shingles("__t")).alias("__sh"))
        .filter(F.size("__sh") > 0)
    )
    sh = arrs.select(
        F.col(id_col),
        F.size("__sh").cast("long").alias("n_sh"),
        F.explode("__sh").alias("shingle"),
    )
    overlap = (
        sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col, "n_sh")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return overlap.select(
        F.col(id_col),
        "n_sh",
        "n_overlap",
        F.round(F.col("n_overlap").cast("double") / F.col("n_sh"), 6).alias(
            "contamination"
        ),
    ).filter(F.col("contamination") >= threshold)


def dup_shingle_fraction(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document fraction of its distinct 3-shingles that also
    appear in at least one OTHER document — a memorization/overlap
    probe (high fraction = the doc is mostly made of corpus-repeated
    n-grams). Documents with fewer than 3 tokens have no shingles and
    are excluded.

    Scale: the shingle doc-frequency table is one hash aggregate over
    the exploded shingle stream; re-joining it to the per-doc shingles
    is shuffle-on-shingle (both sides already partitioned by the
    aggregate), then one per-doc aggregate. Exact integer ratio,
    rounded."""
    sh = doc_shingles(df, id_col, text_col)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    return (
        sh.join(freq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("sdf") > 1, 1).otherwise(0)).alias("n_shared"),
            F.round(
                F.sum(F.when(F.col("sdf") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_fraction"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """X23: corpus-delta dedup — classify each NEW document against an
    already-ingested corpus by canonical fingerprint: ``dup_corpus``
    (fingerprint already in the corpus), ``dup_batch`` (first seen in
    this batch under a smaller id), or ``kept``. This is the
    append-only ingestion path: the corpus is never re-deduped, only
    probed — a batch-vs-corpus semi-join instead of the quadratic
    re-cluster a naive re-run would pay.

    Scale: the corpus side reduces to DISTINCT fingerprints before
    the join (shuffle bounded by unique-content count); the batch
    self-ranking is a window over the batch only. Both joins key on
    the fingerprint, so skew equals content-duplication skew, which
    is exactly what AQE skew-split handles."""
    from pyspark.sql.window import Window

    fp_new = new_docs.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("__fp")
    )
    fp_corpus = corpus.select(
        fingerprint(F.col(text_col)).alias("__fp")
    ).distinct()
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    ranked = fp_new.join(
        fp_corpus.withColumn("__in_corpus", F.lit(1)), "__fp", "left"
    ).withColumn("__rn", F.row_number().over(w))
    return ranked.select(
        F.col(id_col),
        F.when(F.col("__in_corpus").isNotNull(), F.lit("dup_corpus"))
        .when(F.col("__rn") > 1, F.lit("dup_batch"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )


def template_prefix_clusters(
    df: DataFrame, id_col: str, text_col: str, prefix_tokens: int = 3
) -> DataFrame:
    """X25: boilerplate / template detection — cluster documents
    sharing their first ``prefix_tokens`` canonical tokens (md5 of the
    joined prefix). Templated corpora (scraped headers, form letters,
    license preambles) show up as large prefix clusters long before
    full near-dup detection fires; the cluster exemplar (min id) is
    the doc to inspect.

    Output: one row per template with >= 2 docs —
    (template_fp, n_docs, exemplar_id), largest clusters first.

    Scale: one hash aggregate on the prefix fingerprint; no pairs, no
    explode — linear in documents with a vocabulary-sized shuffle."""
    t = df.select(
        F.col(id_col),
        F.md5(
            F.array_join(
                F.slice(
                    F.expr(f"filter({TOKENS_SQL.format(col=text_col)}, x -> x != '')"),
                    1,
                    prefix_tokens,
                ),
                " ",
            )
        ).alias("template_fp"),
    )
    return (
        t.groupBy("template_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.col(id_col)).alias("exemplar_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("template_fp"))
    )


def shingle_novelty(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """X24: per-document n-gram novelty — the fraction of a doc's
    distinct 3-shingles whose FIRST corpus occurrence (minimum doc
    id) is this document. Low-novelty docs restate what the corpus
    already contains (template tails, quote farms); curation pours
    them out before near-dup detection even fires. Docs with no
    shingles (< 3 tokens) are excluded.

    novelty_ppm derives from exact integer counts by integer
    division (the engine's cross-engine float convention).

    Scale: one hash aggregate builds the shingle→min(doc) table
    (shuffle bounded by distinct-shingle count, skew = shingle
    doc-frequency skew, AQE-splittable); the join back is keyed on
    the shingle and re-uses that partitioning; then one per-doc
    aggregate. Same shape as dup_shingle_fraction — no pairs."""
    df = spread_small_scan(df)  # r14: no-op at scale (catalog docstring)
    sh = doc_shingles(df, id_col, text_col)
    first = sh.groupBy("shingle").agg(F.min(F.col(id_col)).alias("__first"))
    return (
        sh.join(first, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("__first") == F.col(id_col), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_novel",
            (
                F.expr("(1000000 * n_novel) div n_shingles").cast("double")
                / 1_000_000.0
            ).alias("novelty_ppm"),
        )
    )


def source_overlap(
    df: DataFrame, id_col: str, text_col: str, group_col: str
) -> DataFrame:
    """X29: cross-group shingle-overlap matrix — for every pair of
    groups (sources, snapshots, crawls ...), the Jaccard similarity
    of their distinct 3-shingle sets. The corpus-level analog of the
    per-doc near-dup family: it answers "how much of source B is
    already in source A" before any per-document work is spent, the
    standard first look when merging crawls or picking a dedup order.

    Returns one row per unordered group pair (grp_a < grp_b) with
    both set sizes, the intersection size, and jaccard_ppm (integer
    division — the cross-engine float convention). Pairs with zero
    overlap are included (the all-pairs grid is |G|^2, driver-small).

    Scale: ONE corpus scan, grouped pair generation (the
    lsh_candidate_pairs trick): the distinct (group, shingle) set
    collapses to one row per shingle carrying its sorted group SET,
    so the intersection counts come from exploding within-row pairs —
    no self-join, and per-shingle fanout is bounded by the number of
    groups carrying it (<= |G|, typically single digits), never by
    document count. The per-shingle table (<= distinct-shingle rows,
    far smaller than the corpus) is localCheckpoint-ed because both
    the sizes and the pair aggregates read it — without the pin each
    would replay the corpus scan. The final join is a broadcast of a
    |G|-row table onto a |G|^2-row grid."""
    per_sh = (
        df.select(F.col(group_col).alias("grp"), tokens(text_col).alias("__t"))
        .select("grp", F.explode(shingles("__t")).alias("shingle"))
        .distinct()
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("grp")).alias("__gs"))
        .localCheckpoint(eager=True)
    )
    sizes = (
        per_sh.select(F.explode("__gs").alias("grp"))
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    inter = (
        per_sh.select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(__gs, a -> "
                    "transform(__gs, b -> struct(a AS grp_a, b AS grp_b)))), "
                    "p -> p.grp_a < p.grp_b)"
                )
            ).alias("__p")
        )
        .select(F.col("__p.grp_a").alias("grp_a"), F.col("__p.grp_b").alias("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    grid = (
        sizes.select(F.col("grp").alias("grp_a"), F.col("n_sh").alias("n_a"))
        .crossJoin(
            sizes.select(F.col("grp").alias("grp_b"), F.col("n_sh").alias("n_b"))
        )
        .filter(F.col("grp_a") < F.col("grp_b"))
    )
    return (
        grid.join(inter, ["grp_a", "grp_b"], "left")
        .select(
            "grp_a",
            "grp_b",
            "n_a",
            "n_b",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            (
                F.expr(
                    "(1000000 * coalesce(n_common, 0)) div (n_a + n_b - coalesce(n_common, 0))"
                ).cast("double")
                / 1_000_000.0
            ).alias("jaccard_ppm"),
        )
        .orderBy("grp_a", "grp_b")
    )


def best_of_cluster(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str,
    cluster_col: str,
    score_col: str,
) -> DataFrame:
    """X32: quality-aware survivorship — per near-dup cluster, keep
    the HIGHEST-scoring member instead of the lowest id. Min-id
    survivorship (X7's ``keep``) is arbitrary: when a page exists in
    three scraped variants, the one worth keeping is the cleanest,
    not the first-crawled. Input: the (id, cluster) table X7 produces
    and any per-doc score table (the X5 quality gate here).

    Ties break on ascending id, so the result is engine-independent
    for equal scores. Returns one row per cluster: size, the winning
    id, and its score.

    Scale: one equi-join on the doc id (cluster table x score table,
    both doc-cardinality) and ONE shuffle on cluster_id serving both
    window expressions (the per-cluster count and the rank share the
    partition key); skewed mega-clusters are single partitions only
    for their own rows, AQE-splittable like every windowed operator
    here."""
    from pyspark.sql.window import Window

    joined = clusters.select(F.col(id_col), F.col(cluster_col)).join(
        scores.select(F.col(id_col), F.col(score_col)), id_col
    )
    w_rank = Window.partitionBy(cluster_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    w_all = Window.partitionBy(cluster_col)
    return (
        joined.withColumn("__rn", F.row_number().over(w_rank))
        .withColumn("n_docs", F.count(F.lit(1)).over(w_all))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(cluster_col),
            "n_docs",
            F.col(id_col).alias("best_doc_id"),
            F.col(score_col).alias("best_score"),
        )
        .orderBy(cluster_col)
    )


def lsh_pair_recall(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """X45: candidate-generation quality eval — MinHash-LSH's banded
    buckets are a recall/cost dial (more bands = more candidates =
    higher recall), and this operator MEASURES the dial instead of
    trusting the s-curve math: exact n-gram-Jaccard pairs at
    ``threshold`` are the ground truth; recall is the fraction LSH
    candidates cover, precision the fraction of candidates that are
    true pairs. The dedup twin of ``ann_recall_eval`` — run it on a
    sample before committing band/row settings for a 100 TB pass.

    One summary row: n_true_pairs, n_candidates, n_hit, recall_ppm,
    precision_ppm (integer-division ppm; NULL when the denominator
    is zero).

    Scale: composes three bounded pipelines (exact pairs are
    shingle-bucketed, candidates band-bucketed — no all-pairs
    anywhere); the eval joins are pair-keyed. Sized for a
    deterministic SAMPLE (this is an offline quality probe, not a
    per-corpus pass)."""
    df = spread_small_scan(df)  # r14: no-op at scale (catalog docstring)
    truth = ngram_jaccard_from_docs(df, id_col, text_col, threshold).select(
        "doc_a", "doc_b"
    )
    sig = minhash_signatures(doc_shingles(df, id_col, text_col), id_col, k)
    cand = lsh_candidate_pairs(sig, id_col, k, bands)
    hit = truth.join(cand, ["doc_a", "doc_b"], "leftsemi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_hit",
            F.expr(
                "CASE WHEN n_true_pairs = 0 THEN NULL ELSE "
                "CAST((1000000 * n_hit) div n_true_pairs AS DOUBLE) / 1000000.0 END"
            ).alias("recall_ppm"),
            F.expr(
                "CASE WHEN n_candidates = 0 THEN NULL ELSE "
                "CAST((1000000 * n_hit) div n_candidates AS DOUBLE) / 1000000.0 END"
            ).alias("precision_ppm"),
        )
    )


def neardup_degree_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    min_df: int | None = 2,
) -> DataFrame:
    """X53: near-duplicate graph degree histogram — how many docs
    have 0, 1, 2, … near-dup neighbors at the given Jaccard
    threshold. The shape diagnostic a curation run reads BEFORE
    committing to cluster-survivorship: a fat tail of high-degree
    hubs means template floods (cluster-collapse risk: one survivor
    replaces thousands); an all-zero profile means the threshold is
    too tight to matter. Degree-0 docs are reported, not dropped —
    the whole point is the mass at zero.

    Exact integer counts end-to-end. Scale: pairs come from the
    bounded X2d pipeline (shingle-bucketed, skew-split — never N²);
    the degree count is one union + one id-keyed aggregate; the
    histogram is a ≤max-degree-row aggregate. The left join marking
    degree-0 docs is id-keyed equi (AQE-handled)."""
    pairs = ngram_jaccard_from_docs(
        df, id_col, text_col, threshold=threshold, min_df=min_df
    )
    # Both endpoints explode out of ONE pass over the pair table (r14)
    # — the former two-select union referenced (and re-executed) the
    # post-checkpoint pair segment once per branch.
    ends = pairs.select(
        F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("__id")
    )
    deg = ends.groupBy("__id").agg(F.count(F.lit(1)).alias("__deg"))
    per_doc = (
        df.select(F.col(id_col).alias("__id"))
        .join(deg, "__id", "left")
        .select(F.coalesce("__deg", F.lit(0)).alias("degree"))
    )
    return (
        per_doc.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


def neardup_probe_retrieval(
    probes: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    k_top: int = 5,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """X64: query-time near-duplicate retrieval — for each PROBE
    document (a takedown text, a benchmark prompt, a contamination
    suspect), the top-``k_top`` corpus documents by exact 3-gram
    Jaccard, found through the X2b/X2c banded-MinHash index instead
    of a corpus scan per probe. This is X13's question
    ("is this text in my corpus?") answered as a RANKED RETRIEVAL
    with candidate generation, where X13 thresholds a broadcast
    overlap and X45 evaluates the index offline.

    Semantics: candidates are corpus docs sharing ≥1 of the
    ``bands`` signature bands with the probe (band collision =
    signature prefix equality — deterministic md5 MinHash, X2b);
    each candidate is then verified with EXACT Jaccard on distinct
    shingle sets, so a band collision never inflates the reported
    similarity. Probe ids are excluded from their own result list.
    jaccard = inter/(n_probe + n_doc − inter), one double division
    on exact integers, rounded to 6; ranks tie-break on the corpus
    doc id.

    Scale: the probe side is tiny by contract and BROADCASTS through
    every stage (bands, shingle set); corpus-side work is the
    existing X2b signature pipeline (one groupBy(doc) shuffle) plus
    one keyed band join — per probe the candidate set is
    band-bucket-bounded, never the corpus. The verify join fans out
    candidate × doc-shingles, again candidate-bounded. Top-k is a
    WindowGroupLimit window per probe."""
    rows = k // bands

    def _bands(sig: DataFrame, alias: str) -> DataFrame:
        cols = [
            F.md5(
                F.concat_ws("", *[F.col(f"mh{b * rows + r + 1}") for r in range(rows)])
            ).alias(f"band{b}")
            for b in range(bands)
        ]
        return sig.select(F.col(id_col).alias(alias), *cols).select(
            F.col(alias),
            F.posexplode(
                F.array(*[F.col(f"band{b}") for b in range(bands)])
            ).alias("band_idx", "band_val"),
        )

    p_sh = doc_shingles(probes, id_col, text_col)
    c_sh = doc_shingles(corpus, id_col, text_col)
    p_bands = _bands(minhash_signatures(p_sh, id_col, k=k), "probe_id")
    c_bands = _bands(minhash_signatures(c_sh, id_col, k=k), "cand_id")
    cands = (
        c_bands.join(F.broadcast(p_bands), ["band_idx", "band_val"])
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select("probe_id", "cand_id")
        .distinct()
    )
    p_sizes = p_sh.groupBy(F.col(id_col).alias("probe_id")).agg(
        F.count(F.lit(1)).cast("long").alias("__np")
    )
    # candidate-doc shingles: the corpus shingle stream filtered by
    # the BROADCAST candidate list — a narrow map, never a
    # corpus-keyed shuffle; candidate sizes aggregate THIS small
    # table, not the whole corpus
    cand_sh = c_sh.select(F.col(id_col).alias("cand_id"), "shingle").join(
        F.broadcast(cands.select("cand_id").distinct()), "cand_id"
    )
    c_sizes = cand_sh.select("cand_id", "shingle").distinct().groupBy("cand_id").agg(
        F.count(F.lit(1)).cast("long").alias("__nc")
    )
    p_shingle = p_sh.select(
        F.col(id_col).alias("probe_id"), F.col("shingle")
    )
    inter = (
        cand_sh.join(F.broadcast(cands), "cand_id")
        .join(F.broadcast(p_shingle), ["probe_id", "shingle"])
        .groupBy("probe_id", "cand_id")
        .agg(F.count(F.lit(1)).cast("long").alias("__inter"))
    )
    scored = (
        cands.join(inter, ["probe_id", "cand_id"], "left")
        .join(F.broadcast(p_sizes), "probe_id")
        .join(F.broadcast(c_sizes), "cand_id")
        .select(
            "probe_id",
            "cand_id",
            F.coalesce(F.col("__inter"), F.lit(0)).alias("n_common_shingles"),
            F.round(
                F.coalesce(F.col("__inter"), F.lit(0)).cast("double")
                / (F.col("__np") + F.col("__nc") - F.coalesce(F.col("__inter"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("probe_id").orderBy(F.desc("jaccard"), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_top)
        .select("probe_id", "rank", F.col("cand_id").alias("doc_id"),
                "n_common_shingles", "jaccard")
    )


def substring_dup_coverage(
    df: DataFrame, id_col: str, text_col: str, min_count: int = 2
) -> DataFrame:
    """X66: exact-substring duplication coverage (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr) — for each document, the fraction of shingle start
    positions whose 3-token gram occurs at least ``min_count`` times
    in the whole corpus (occurrences counted per POSITION, so a gram
    repeated twice inside one document flags both positions, exactly
    like ExactSubstr's "any span occurring >=2 times anywhere"
    criterion).  The per-doc share is the signal ExactSubstr cuts
    on; a corpus-level histogram of it is the memorization-risk
    audit.  Reference analog: none — the reference engine
    (main.py/normalize.py) has no text pipeline; this extends §2.11.

    Columns: (id, n_positions, dup_positions, dup_share) where
    n_positions = max(len(tokens)-2, 0), dup_share is a ppm integer
    division cast to double (bit-portable across engines).

    Scale: three key-partitioned shuffles, no broadcast of anything
    corpus-sized — (1) hash-agg per (doc, gram) with map-side
    combine, (2) a gram-partitioned window adds the corpus count
    (hot grams are single-key partitions; sort within them is by
    nothing, and AQE splits oversized partitions), (3) doc-keyed
    re-agg + one doc-bounded left join for the zero-fill.  The gram
    stream is never collected and never joined against un-aggregated
    occurrences, so the plan is insensitive to vocabulary size."""
    from pyspark.sql.window import Window

    base = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    per_doc_gram = (
        base.select(F.col(id_col), F.explode(shingles("__t")).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    with_corpus = per_doc_gram.withColumn(
        "c", F.sum("m").over(Window.partitionBy("g"))
    )
    dup = (
        with_corpus.filter(F.col("c") >= min_count)
        .groupBy(id_col)
        .agg(F.sum("m").cast("long").alias("dup_positions"))
    )
    totals = base.select(
        F.col(id_col),
        F.expr(
            "CAST(CASE WHEN size(__t) >= 3 THEN size(__t) - 2 "
            "ELSE 0 END AS BIGINT)"
        ).alias("n_positions"),
    )
    return totals.join(dup, id_col, "left").select(
        F.col(id_col),
        "n_positions",
        F.coalesce("dup_positions", F.lit(0)).cast("long").alias(
            "dup_positions"
        ),
        (
            F.expr(
                "CAST((1000000 * coalesce(dup_positions, 0L)) "
                "div greatest(n_positions, 1L) AS DOUBLE)"
            )
            / 1_000_000.0
        ).alias("dup_share"),
    )


def bloom_gate_eval(
    history: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    m_bits: int = 2048,
    n_hashes: int = 4,
) -> DataFrame:
    """X67: Bloom-filter dedup gate + false-positive eval — the
    sketch-based alternative to X23's anti-join for incremental
    corpus ingestion.  The history corpus is folded into a Bloom
    filter over canonical fingerprints (X2a); each incoming doc is
    gated by probing its ``n_hashes`` bit positions.  The filter's
    serialized size is <= ``m_bits`` SET-BIT rows no matter how many
    petabytes of history built it — so the production gate is a
    tiny broadcast against the incoming stream, with ZERO join
    against history-sized data.  A Bloom "no" is exact (definitely
    new); a Bloom "maybe" is wrong with p ~ fill_ratio^n_hashes.

    This operator is the EVAL form (X45's pattern for LSH recall):
    it additionally computes ground-truth membership with an exact
    fingerprint join and flags false positives, so the (m_bits,
    n_hashes) dial can be tuned offline.  The production path uses
    only the bloom columns.

    Bit positions are engine-portable integer arithmetic:
    pos_j = md5("j|" || fp)[:8 hex] mod m_bits (the repo's _UNIT_SQL
    hash family, keyed by probe index).

    Columns: (id, bloom_hits, bloom_maybe_dup, exact_dup,
    false_positive).

    Scale: history -> fingerprint projection -> explode n_hashes
    positions -> DISTINCT (map-side partial; output bounded by
    m_bits).  Incoming positions join the broadcast bit-set and
    re-agg by id.  The exact-membership leg (eval only) is a keyed
    left join against the distinct history fingerprints."""
    history = spread_small_scan(history)  # r14: no-op at scale (catalog docstring)
    probes = F.array(*[
        (
            F.expr(
                "CAST(conv(substring(md5(concat('{j}|', __fp)), 1, 8), "
                "16, 10) AS BIGINT)".format(j=j)
            )
            % F.lit(m_bits)
        )
        for j in range(n_hashes)
    ])
    hist_fp = history.select(fingerprint(F.col(text_col)).alias("__fp"))
    bloom = (
        hist_fp.select(F.explode(probes).alias("pos")).distinct()
    )
    inc = incoming.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("__fp")
    )
    inc_pos = inc.select(F.col(id_col), F.explode(probes).alias("pos"))
    hits = (
        inc_pos.join(
            F.broadcast(bloom.withColumn("__set", F.lit(1))), "pos", "left"
        )
        .groupBy(id_col)
        .agg(F.sum(F.coalesce("__set", F.lit(0))).cast("int").alias(
            "bloom_hits"
        ))
    )
    exact = (
        inc.join(
            hist_fp.distinct().withColumn("__seen", F.lit(1)),
            "__fp",
            "left",
        )
        .select(F.col(id_col), F.coalesce("__seen", F.lit(0)).alias("__seen"))
    )
    return (
        hits.join(exact, id_col)
        .select(
            F.col(id_col),
            "bloom_hits",
            (F.col("bloom_hits") == n_hashes).alias("bloom_maybe_dup"),
            (F.col("__seen") == 1).alias("exact_dup"),
            (
                (F.col("bloom_hits") == n_hashes) & (F.col("__seen") == 0)
            ).alias("false_positive"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    jaccard_max: float | None = None,
    min_df: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """X69: asymmetric containment detection (Broder 1997, "On the
    resemblance and containment of documents") — pairs where the
    SMALLER document's shingle set is mostly inside the larger's:
    containment = |A∩B| / min(|A|, |B|).  Jaccard (X2d) misses
    subsumption: a 10k-token page quoting a 300-token doc verbatim
    scores Jaccard ≈ 0.03 but containment ≈ 1.0.  These quote-farm /
    wrapper / expanded-revision pairs still leak eval data and still
    overweight the contained text during training, so curation cuts
    on containment alongside Jaccard.  ``jaccard_max`` (exclusive)
    isolates the pure-subsumption regime — pairs Jaccard-style dedup
    would NOT already remove.

    Both scores derive from exact integer set sizes (round-6
    doubles); pairs are doc_a < doc_b.

    Scale: identical to X2d — the fused ``ngram_jaccard_from_docs``
    scan (distinct-shingle arrays map-side, sizes travel with the
    pairs), the shared ``_pair_common`` grouped pair generation (one
    shuffle, hot-shingle AQE-join split), then a narrow scoring
    map.  No additional shuffle over X2d."""
    df = spread_small_scan(df)  # r14: no-op at scale (catalog docstring)
    arrs = (
        df.select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(F.col(id_col), F.array_distinct(shingles("__t")).alias("__sh"))
        .filter(F.size("__sh") > 0)
    )
    sh_n = arrs.select(
        F.col(id_col),
        F.size("__sh").cast("long").alias("n_sh"),
        F.explode("__sh").alias("shingle"),
    )
    common = _pair_common(sh_n, id_col, min_df, max_df)
    scored = common.select(
        "doc_a",
        "doc_b",
        "n_common",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
            6,
        ).alias("jaccard"),
        F.round(
            F.col("n_common").cast("double") / F.least("n_a", "n_b"),
            6,
        ).alias("containment"),
    ).filter(F.col("containment") >= threshold)
    if jaccard_max is not None:
        scored = scored.filter(F.col("jaccard") < jaccard_max)
    return scored


def snapshot_diff(
    old: DataFrame, new: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """X70: corpus snapshot diff — the dataset-versioning changelog
    between two crawls/exports of the same collection.  Every doc id
    present in either snapshot gets a status:

    - ``unchanged``: id in both, same X2a content fingerprint
    - ``changed``:   id in both, fingerprint differs (re-crawl edit)
    - ``added``:     id only in the new snapshot
    - ``removed``:   id only in the old snapshot

    plus ``content_elsewhere``: the doc's fingerprint (new side for
    added/changed, old side for removed) also occurs somewhere in
    the OTHER snapshot under a different id — the moved/renamed
    signal that separates genuinely new text from re-keyed text
    (re-keyed docs must not re-enter training as "new" data, or
    dedup-rate and mixture accounting drift between versions).

    Scale: one id-keyed full outer join of two fingerprint
    projections (fingerprints computed map-side, no text shuffled),
    then one fp-keyed left join per direction against the other
    side's distinct-fingerprint set.  All joins are keyed aggregates
    — nothing corpus-sized is broadcast or collected."""
    o = old.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("__fo")
    )
    n = new.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("__fn")
    )
    both = o.join(n, id_col, "full_outer").select(
        F.col(id_col),
        "__fo",
        "__fn",
        F.when(F.col("__fo").isNull(), F.lit("added"))
        .when(F.col("__fn").isNull(), F.lit("removed"))
        .when(F.col("__fo") == F.col("__fn"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )
    old_fps = o.select(F.col("__fo").alias("__f")).distinct().withColumn(
        "__in_old", F.lit(1)
    )
    new_fps = n.select(F.col("__fn").alias("__f")).distinct().withColumn(
        "__in_new", F.lit(1)
    )
    # probe fingerprint: what this id's content is NOW (old side for
    # removed rows); looked up in the OTHER snapshot's fp set
    probed = both.withColumn(
        "__probe", F.coalesce("__fn", "__fo")
    )
    return (
        probed.join(
            old_fps.select(F.col("__f").alias("__probe"), "__in_old"),
            "__probe",
            "left",
        )
        .join(
            new_fps.select(F.col("__f").alias("__probe"), "__in_new"),
            "__probe",
            "left",
        )
        .select(
            F.col(id_col),
            "status",
            F.when(
                F.col("status") == "removed", F.col("__in_new").isNotNull()
            )
            .otherwise(
                # added/changed/unchanged probe the NEW content
                # against the OLD snapshot
                F.col("__in_old").isNotNull()
                & (F.col("status") != "unchanged")
            )
            .alias("content_elsewhere"),
        )
    )


def bbit_minhash_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 24,
    b: int = 2,
    min_df: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """X74: b-bit minwise hashing (Li & König 2010) — store only the
    lowest ``b`` bits of each of the ``k`` MinHash components and
    estimate Jaccard from the collision rate with the small-b
    correction  J ≈ (E − C)/(1 − C),  C = 2^-b.  The storage win is
    the point: k·b bits per doc instead of k·128-bit digests — at
    b=2, k=24 that is 6 bytes per document for the whole near-dup
    index, the difference between a sketch that fits executor memory
    at 100 TB and one that doesn't.  This is the EVAL form (X45's
    pattern): estimate and exact Jaccard side by side over the
    pairs-sharing-a-shingle population, so the (k, b) dial can be
    tuned against ground truth before the full index commits to it.

    Integer-portable throughout: the b-bit component is the low
    ``b`` bits of the last hex char of the lexicographic-min md5
    (the X2b signature family); the estimator is
    greatest(0, (c·2^b − k)·1e6 div (k·(2^b − 1))) ppm — the
    negative tail (collision rate below the C baseline on disjoint
    sets) clamps to 0 exactly as the published estimator does.

    Scale: the X2d shared pair core bounds the pair population
    (grouped single-shuffle generation, hot-shingle AQE split); the
    sketches join on each side's doc id — two keyed joins of a
    k·b-bit-wide table; the collision count is one zip_with fold."""
    # eager checkpoint (r11, the X163/prefix-join precedent —
    # _pair_common's internal checkpoint only covers its grouped
    # table, not this upstream scan): arrs feeds BOTH the pair core
    # and the signature branch; without materialization the
    # TOKENS_SQL regex + shingle scan — the dominant scan cost on a
    # text corpus — executes once per branch (the subtrees prune
    # different columns, so ReuseExchange cannot collapse them).
    # Measured at sf0.1 (same-session A/B, best of 3):
    # dedup_bbit_minhash 7.10 -> 6.01s, dedup_lsh_plan 8.59 -> 7.68s
    # (r10 verdict task 6).
    arrs = (
        spread_small_scan(df)
        .select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(F.col(id_col), F.array_distinct(shingles("__t")).alias("__sh"))
        .filter(F.size("__sh") > 0)
        .localCheckpoint(eager=True)
    )
    sh_n = arrs.select(
        F.col(id_col),
        F.size("__sh").cast("long").alias("n_sh"),
        F.explode("__sh").alias("shingle"),
    )
    common = _pair_common(sh_n, id_col, min_df, max_df)

    sig = minhash_signatures(
        arrs.select(F.col(id_col), F.explode("__sh").alias("shingle")),
        id_col,
        k=k,
    )
    # NOTE: arrs (checkpointed above) feeds BOTH the pair core and
    # this signature branch — see the checkpoint rationale there.
    mod = 2 ** b
    bits = sig.select(
        F.col(id_col),
        F.array(*[
            (
                F.conv(F.substring(F.col(f"mh{j}"), 32, 1), 16, 10).cast(
                    "int"
                )
                % mod
            )
            for j in range(1, k + 1)
        ]).alias("__bits"),
    )
    paired = (
        common.join(
            bits.select(F.col(id_col).alias("doc_a"),
                        F.col("__bits").alias("__ba")),
            "doc_a",
        )
        .join(
            bits.select(F.col(id_col).alias("doc_b"),
                        F.col("__bits").alias("__bb")),
            "doc_b",
        )
        .withColumn(
            "__c",
            F.expr(
                "aggregate(zip_with(__ba, __bb, (x, y) -> "
                "CASE WHEN x = y THEN 1L ELSE 0L END), 0L, (a, e) -> a + e)"
            ),
        )
    )
    est_ppm = F.expr(
        f"greatest(0L, ((__c * {mod} - {k}) * 1000000) "
        f"div ({k} * {mod - 1}))"
    )
    return paired.select(
        "doc_a",
        "doc_b",
        F.col("__c").cast("int").alias("n_collisions"),
        F.round(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
            6,
        ).alias("jaccard"),
        (est_ppm.cast("double") / 1_000_000.0).alias("est_jaccard"),
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    split_threshold: int = 1024,
) -> DataFrame:
    """X75: SimHash near-dup PAIRS via block banding (Manku, Jain &
    Sarma 2007 — Google's web-crawl dedup) — completes X2e, which
    computes fingerprints but not neighbors.  The 16-bit fingerprint
    splits into 4 disjoint 4-bit blocks; by pigeonhole, two
    fingerprints within hamming distance 3 agree on at least one
    whole block, so candidate generation is exact-match bucketing on
    (block_idx, block_value) — the same grouped single-shuffle pair
    generation as X2c — followed by an exact popcount filter
    bit_count(xor) <= max_hamming.  100% recall for
    max_hamming <= blocks − 1, zero pairwise scan.

    Scale honesty: 16 bits / 4-bit blocks is the fixture-sized
    pedagogical dial — 2^4 block values bound bucket count at 64, so
    buckets grow O(N) and in-bucket pair generation quadratically; a
    production crawl dedup widens to 64-bit fingerprints with 16-bit
    blocks (2^16 buckets per table) exactly as Manku does.  The
    skew machinery is scale-real either way: buckets above
    ``split_threshold`` take the AQE-splittable self-join branch
    (X2c's hybrid), so one hot bucket never pins a task.

    Output: (doc_a, doc_b, hamming), doc_a < doc_b, distinct."""
    fps = simhash16(df, id_col, text_col)
    exploded = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), 4 * b).bitwiseAND(15)
                for b in range(4)
            ])
        ).alias("block_idx", "block_val"),
    )
    grouped = (
        exploded.groupBy("block_idx", "block_val")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("fp"))
                )
            ).alias("ids")
        )
        .filter(F.size("ids") >= 2)
    )
    grouped = grouped.localCheckpoint(eager=True)
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x.id AS doc_a, y.id AS doc_b, x.fp AS fa, y.fp AS fb))))"
    )
    small = (
        grouped.filter(F.size("ids") <= split_threshold)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.fa", "p.fb")
    )
    hot = grouped.filter(F.size("ids") > split_threshold).select(
        "block_idx", "block_val", F.explode("ids").alias("s")
    )
    ha = hot.select(
        "block_idx", "block_val",
        F.col("s.id").alias("doc_a"), F.col("s.fp").alias("fa"),
    )
    hb = hot.select(
        "block_idx", "block_val",
        F.col("s.id").alias("doc_b"), F.col("s.fp").alias("fb"),
    )
    hot_pairs = (
        ha.join(hb, ["block_idx", "block_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fa", "fb")
    )
    return (
        small.union(hot_pairs)
        .distinct()
        .withColumn(
            "hamming",
            F.expr("bit_count(fa ^ fb)").cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def lsh_parameter_plan(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 24,
    b_bits: int = 2,
) -> DataFrame:
    """X77: LSH banding dial planner — for every (bands, rows) split
    of a k-component MinHash signature, the S-curve survival
    probability 1 − (1 − j^rows)^bands (Leskovec/Rajaraman/Ullman,
    MMDS §3.4) averaged over the CORPUS'S OWN estimated pair-Jaccard
    distribution (the X74 b-bit estimates), split into the
    duplicate-side (est j ≥ 0.5) and noise-side (est j < 0.5)
    populations.  This turns "which (bands, rows) should X2c use?"
    from a textbook curve into a measured trade: expected recall on
    the pairs you want vs expected candidate load from the pairs you
    don't.

    Determinism: j enters as the ppm-exact X74 estimate; j^rows and
    (1−j^rows)^bands are EXPLICIT multiplication chains (integer
    exponents ≤ k, no libm pow — engine-portable); each pair's
    survival rounds to ppm BEFORE the integer mean, so the aggregate
    is order-free.

    Output: one row per (bands, rows) divisor split —
    (bands, rows_per_band, n_dup_pairs, n_noise_pairs, dup_recall,
    noise_passrate).

    Scale: the pair population is the X2d core (bounded, skew-split);
    per (b, r) the added work is one narrow expression + one global
    integer aggregate — |divisors(k)| extra passes over the PAIR
    table (pairs ≪ corpus), not the corpus."""
    est = bbit_minhash_eval(df, id_col, text_col, k=k, b=b_bits).select(
        F.col("est_jaccard").alias("j")
    )
    splits = [(bb, k // bb) for bb in range(1, k + 1) if k % bb == 0]

    def _pow_chain(expr: str, n: int) -> str:
        out = expr
        for _ in range(n - 1):
            out = f"({out} * {expr})"
        return out

    # ONE pass over the pair table: every split's survival is a
    # struct in a literal array exploded per pair (re-running the
    # pair pipeline per split would multiply the expensive part by
    # |divisors(k)|), then one keyed integer aggregate.
    structs = []
    for bands, rows in splits:
        jr = _pow_chain("j", rows)
        surv = f"(1.0 - {_pow_chain(f'(1.0 - {jr})', bands)})"
        structs.append(
            f"struct(CAST({bands} AS INT) AS bands, "
            f"CAST({rows} AS INT) AS rows_per_band, "
            f"CAST(round(1000000 * {surv}) AS BIGINT) AS s_ppm)"
        )
    exploded = est.select(
        "j",
        F.explode(F.expr("array(" + ", ".join(structs) + ")")).alias("e"),
    ).select("j", "e.bands", "e.rows_per_band", "e.s_ppm")
    return (
        exploded.groupBy("bands", "rows_per_band")
        .agg(
            F.sum(F.when(F.col("j") >= 0.5, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_pairs"),
            F.sum(F.when(F.col("j") < 0.5, 1).otherwise(0))
            .cast("long")
            .alias("n_noise_pairs"),
            F.sum(F.when(F.col("j") >= 0.5, F.col("s_ppm")).otherwise(0))
            .cast("long")
            .alias("__dup_s"),
            F.sum(F.when(F.col("j") < 0.5, F.col("s_ppm")).otherwise(0))
            .cast("long")
            .alias("__noise_s"),
        )
        .select(
            "bands",
            "rows_per_band",
            "n_dup_pairs",
            "n_noise_pairs",
            F.expr(
                "CAST(CASE WHEN n_dup_pairs = 0 THEN 0 "
                "ELSE __dup_s div n_dup_pairs END AS DOUBLE) / 1000000.0"
            ).alias("dup_recall"),
            F.expr(
                "CAST(CASE WHEN n_noise_pairs = 0 THEN 0 "
                "ELSE __noise_s div n_noise_pairs END AS DOUBLE) / 1000000.0"
            ).alias("noise_passrate"),
        )
    )


def license_propagation(
    clusters: DataFrame,
    licenses: DataFrame,
    id_col: str,
    license_col: str,
    strictness: list[str],
) -> DataFrame:
    """X79: compliance propagation through dedup — when a duplicate
    cluster keeps one survivor, that survivor must carry the
    STRICTEST license any cluster member arrived under (the member
    you deleted is still the text you train on).  Datasets that
    track licenses per document (the Dolma / RedPajama audit model)
    get this wrong silently if dedup just drops rows: a permissive
    copy survives, its restricted twin vanishes, and the audit trail
    under-reports obligations.

    ``strictness`` orders licenses MOST restrictive first; an
    unlisted license is treated as stricter than everything listed
    (rank −1 — unknown provenance is the conservative bucket).

    Output (per doc): (id, cluster_id, license, effective_license,
    escalated) where effective_license = strictest in the doc's
    cluster and escalated flags docs whose own tag was weaker.

    Scale: one id-keyed join of the CC labels onto the license
    column, one cluster-keyed MIN aggregate over an integer rank
    (map-side combinable), one broadcast-sized rank map applied as a
    CASE expression — no license-table shuffle beyond the cluster
    agg."""
    rank_case = "CASE " + " ".join(
        f"WHEN {license_col} = '{lic}' THEN {i}"
        for i, lic in enumerate(strictness)
    ) + " ELSE -1 END"
    tagged = clusters.join(
        licenses.select(F.col(id_col), F.col(license_col)), id_col
    ).withColumn("__rank", F.expr(rank_case))
    strict = tagged.groupBy("cluster_id").agg(
        F.min("__rank").cast("int").alias("__minrank")
    )
    inv_case = "CASE " + " ".join(
        f"WHEN __minrank = {i} THEN '{lic}'"
        for i, lic in enumerate(strictness)
    ) + " ELSE 'unknown' END"
    return (
        tagged.join(strict, "cluster_id")
        .select(
            F.col(id_col),
            "cluster_id",
            F.col(license_col).alias("license"),
            F.expr(inv_case).alias("effective_license"),
            (F.col("__rank") > F.col("__minrank")).alias("escalated"),
        )
    )


def cluster_density_audit(
    clusters: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """X82: transitive-merge audit — a CC dedup cluster is the
    transitive CLOSURE of pairwise near-dup evidence, and closure
    merges chains: A~B and B~C put A and C in one cluster even when
    A and C share nothing (the classic over-merge failure of
    threshold+CC dedup — one borderline pair welds two genuinely
    different groups and the survivor policy then deletes text that
    was never a duplicate).  Edge density separates the cases: a
    true duplicate group is (near-)complete — density ≈ 1 — while a
    chain merge is sparse (density → 2/n).  Curation reviews
    low-density clusters before trusting the cut.

    Output (clusters of ≥2 only — density is undefined for
    singletons): (cluster_id, n_members, n_edges, density,
    is_clique) with density = 1e6·2e div n(n−1) ppm.

    Scale: one id-keyed join of edge endpoints onto cluster labels
    (edges are within-cluster by construction, so joining ONE
    endpoint suffices), then two cluster-keyed count aggregates —
    nothing beyond the volumes CC itself already processed."""
    sizes = (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )
    labeled = edges.select(F.col(src_col).alias(id_col)).join(
        clusters.select(F.col(id_col), "cluster_id"), id_col
    )
    ecount = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )
    return (
        sizes.join(ecount, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            (
                F.expr(
                    "CAST((1000000 * 2 * coalesce(n_edges, 0L)) div "
                    "(n_members * (n_members - 1)) AS DOUBLE)"
                )
                / 1_000_000.0
            ).alias("density"),
            (
                F.coalesce("n_edges", F.lit(0))
                == F.expr("(n_members * (n_members - 1)) div 2")
            ).alias("is_clique"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
) -> DataFrame:
    """X84: sorted-neighborhood candidate generation (Hernández &
    Stolfo 1995, the record-linkage SNM) — the third candidate
    paradigm next to LSH banding (X2c) and shingle blocking (X2d):
    sort the corpus by a canonical key and pair each doc with its
    next ``window`` neighbors in sort order.  Linear candidate count
    (N·w pairs, NO dependence on bucket skew — the property LSH
    loses on hot buckets), at the price that recall lives entirely
    in the SORT KEY: here the canonicalized text, so docs that
    diverge only late in the text sort adjacent; prefix-insensitive
    edits need a different key (e.g. sorted-token canon) — the
    documented dial.  Each candidate pair is scored with exact
    3-gram Jaccard.

    Scale: the sort position comes from the W-family two-phase
    global rank (ranking.py — range-bucket on an order-preserving
    base-128 packed key prefix, rank locally, add bucket offsets);
    an unpartitioned lead() window would drag the WHOLE corpus
    through one task (Spark plans a no-partition window as Exchange
    SinglePartition, not a range sort — the first cut's mistake).
    Neighbor pairing is then one rank-keyed equi-join of the N·w
    offset table; scoring joins each side against the (id,
    shingle-array) projection, two id-keyed joins of an N·w pair
    table.

    Output: (doc_a, doc_b, sort_gap, jaccard) — doc_a/doc_b ordered
    by id, sort_gap = neighbor offset that generated the pair."""
    from .ranking import with_global_rank

    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    keyed = df.select(F.col(id_col), canon.alias("__key"))
    # Order-preserving numeric proxies for range bucketing: canon
    # chars 1-8 / 9-16 / 17-24, each window packed base-128 (canon is
    # ASCII by construction — [a-z0-9 ] — and every symbol is > 0, so
    # zero-padding short keys keeps exactly the string prefix order;
    # 128^8 fits in a BIGINT).  Ordering by (__kp, __kp2, __kp3,
    # __key, id) == ordering by (__key, id).  Three levels because of
    # the degenerate-prefix hazard (r8 advisor finding): a templated
    # corpus where most docs share the first 8 canon chars collapses
    # level-1 quantiles to one bucket; with_global_rank peels
    # constant levels and buckets on the first discriminating one, so
    # degradation to a single-task sort needs 24 shared leading chars
    # — the documented dial (use a sorted-token canon key there).
    def _packed(lo: int) -> F.Column:
        return F.expr(
            f"aggregate(sequence({lo}, {lo + 7}), 0L, (acc, i) -> "
            "acc * 128 + "
            "coalesce(ascii(nullif(substring(__key, i, 1), '')), 0))"
        )

    ranked = with_global_rank(
        keyed.withColumn("__kp", _packed(1))
        .withColumn("__kp2", _packed(9))
        .withColumn("__kp3", _packed(17)),
        ["__kp", "__kp2", "__kp3", "__key", id_col],
        rank_col="__r",
    ).select(F.col(id_col), "__r")
    offs = ranked.select(
        F.col(id_col),
        F.explode(F.expr(f"sequence(1, {window})")).alias("__gap"),
        F.col("__r"),
    ).withColumn("__tr", F.col("__r") + F.col("__gap"))
    nbrs = ranked.select(
        F.col(id_col).alias("__nbr"), F.col("__r").alias("__tr")
    )
    pairs = offs.join(nbrs, "__tr").select(
        F.least(F.col(id_col), F.col("__nbr")).alias("doc_a"),
        F.greatest(F.col(id_col), F.col("__nbr")).alias("doc_b"),
        F.col("__gap").cast("int").alias("sort_gap"),
    )
    arrs = df.select(
        F.col(id_col), tokens(text_col).alias("__t")
    ).select(
        F.col(id_col), F.array_distinct(shingles("__t")).alias("__sh")
    )
    a = arrs.select(
        F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sa")
    )
    b = arrs.select(
        F.col(id_col).alias("doc_b"), F.col("__sh").alias("__sb")
    )
    # __i as an explicit multi-use column (r14): inlined, the two
    # references evaluated array_intersect — the expensive per-pair
    # op — twice.
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "sort_gap",
            F.expr("size(array_intersect(__sa, __sb))").alias("__i"),
            F.expr("size(__sa)").alias("__na"),
            F.expr("size(__sb)").alias("__nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            "sort_gap",
            F.when(
                F.col("__na") + F.col("__nb") > 0,
                F.round(
                    F.expr("CAST(__i AS DOUBLE)")
                    / F.expr("CAST(__na + __nb - __i AS DOUBLE)"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
    )


def prefix_filter_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 1,
    threshold_den: int = 2,
    split_threshold: int = 1024,
) -> DataFrame:
    """X86: prefix-filtered similarity join (Chaudhuri/Ganti/Kaushik
    SSJoin 2006; Xiao et al. PPJoin 2008) — the candidate-collapse
    theorem every serious set-similarity system builds on: order
    every doc's shingles by a GLOBAL canonical order (document
    frequency ascending, rarest first), keep only the first
    n − ⌈t·n⌉ + 1 of each doc's n shingles, and any pair with
    Jaccard ≥ t MUST share a shingle inside both prefixes (J ≥ t ⟹
    overlap ≥ ⌈t·|A|⌉; if no common element sat in the prefix, the
    overlap could not exceed ⌈t·|A|⌉ − 1).  Versus X2d's
    any-shared-shingle blocking this prunes the candidate stream by
    the prefix ratio (~(1−t) of each doc) AND biases surviving
    blocks toward RARE shingles — exactly the hot-bucket mass X2d
    needs skew handling for.  Results are IDENTICAL to X2d at the
    same threshold (asserted by test), only the candidate set
    shrinks.

    ``threshold_num/threshold_den`` keep t rational so the prefix
    length ⌈t·n⌉ = (num·n + den − 1) div den is exact integer
    arithmetic in both engines.

    Scale: the canonical order is the raw (dfreq, shingle) tuple —
    no global rank, no single-partition vocab sort anywhere; per-doc
    prefix selection is an id-partitioned window; candidate
    generation reuses the grouped single-shuffle pattern; exact
    verification joins the (id, shingle-array) projection twice.
    The pairs carry both docs' shingle COUNTS through candidate
    generation (a long riding the existing shuffle, r9 verdict task
    4), so the SSJoin LENGTH FILTER — J ≥ t ⟹ den·|A| ≥ num·|B| and
    den·|B| ≥ num·|A| — prunes candidates BEFORE the distinct and
    the two verification joins; it provably never changes results,
    only the candidate stream the verification stage must pay for."""
    from pyspark.sql.window import Window

    # Tokenize+shingle ONCE: arrs feeds candidate generation AND both
    # verification sides — un-checkpointed, the regex/shingle scan
    # (the single most expensive stage: ~3.4s of a ~9s sf0.1 run)
    # re-executes three times. Materializing the shingled corpus is
    # the standard set-similarity-join deployment shape (the
    # tokenized form is written once, reused by every pass); storage
    # is MEMORY_AND_DISK on executors, ~3x the text bytes.
    arrs = (
        spread_small_scan(df)
        .select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(
            F.col(id_col), F.array_distinct(shingles("__t")).alias("__sh")
        )
        .filter(F.size("__sh") > 0)
        .localCheckpoint(eager=True)
    )
    ex = arrs.select(
        F.col(id_col),
        F.size("__sh").cast("long").alias("n"),
        F.explode("__sh").alias("shingle"),
    )
    dfreq = ex.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    # Global canonical order: the theorem needs any TOTAL order shared
    # by all docs, rarest-first — and (document frequency, shingle) IS
    # one.  Using the tuple directly in the per-doc window (instead of
    # densifying it to a rank first) removes what the first cut paid
    # here: a row_number() over an UNPARTITIONED window, i.e. a
    # single-partition sort of the entire vocabulary — fine at sf0.1,
    # a straggler at a 100 TB vocab — plus one whole shuffle join.
    pos_w = Window.partitionBy(id_col).orderBy("__df", "shingle")
    prefix = (
        ex.join(dfreq, "shingle")
        .withColumn("__pos", F.row_number().over(pos_w))
        .filter(
            F.expr(
                f"__pos <= n - (({threshold_num} * n + {threshold_den} - 1) "
                f"div {threshold_den}) + 1"
            )
        )
        .select(F.col(id_col), "n", "shingle")
    )
    # Same small/hot hybrid as lsh_candidate_pairs / _jaccard_core:
    # prefix blocks are biased rare by construction, but a template
    # corpus can still produce a hot prefix shingle, and its B²/2
    # pairs must not explode in one task — buckets above the split
    # threshold re-explode into an AQE-skew-splittable self-join.
    grouped = (
        prefix.groupBy("shingle")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(id_col).alias("i"), F.col("n").alias("n"))
                )
            ).alias("ids")
        )
        .filter(F.size("ids") >= 2)
        .localCheckpoint(eager=True)
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x.i AS doc_a, y.i AS doc_b, "
        "x.n AS na, y.n AS nb))))"
    )
    small_pairs = (
        grouped.filter(F.size("ids") <= split_threshold)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.na", "p.nb")
    )
    hot = grouped.filter(F.size("ids") > split_threshold).select(
        "shingle", F.explode("ids").alias("d")
    )
    hot_pairs = (
        hot.select(
            "shingle",
            F.col("d.i").alias("doc_a"),
            F.col("d.n").alias("na"),
        )
        .join(
            hot.select(
                "shingle",
                F.col("d.i").alias("doc_b"),
                F.col("d.n").alias("nb"),
            ),
            "shingle",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "na", "nb")
    )
    # SSJoin length filter: J >= t forces min(|A|,|B|)/max >= t, so
    # mismatched-size pairs can never reach the emission test —
    # pruned here, before the distinct and the verification joins.
    # The emission test is on ROUND(J, 6) >= t, and round can lift J
    # by up to 5e-7, so the necessary condition is min/max >= t -
    # 6e-7 (6e-7 = 6/1e7 absorbs the rounding slack with margin):
    # integer form  na·den·1e7 >= nb·(num·1e7 - 6·den).  The compare
    # runs in DECIMAL(38,0): with a ppm-style threshold_den (1e6) the
    # multiplier reaches 1e13 and a ~1e6-shingle doc would wrap the
    # raw BIGINT product negative, silently pruning a true duplicate
    # pair (review finding).
    lf_num = threshold_num * 10_000_000 - 6 * threshold_den
    lf_den = threshold_den * 10_000_000
    cand = (
        small_pairs.union(hot_pairs)
        .filter(
            (F.col("na").cast("decimal(38,0)") * lf_den
             >= F.col("nb").cast("decimal(38,0)") * lf_num)
            & (F.col("nb").cast("decimal(38,0)") * lf_den
               >= F.col("na").cast("decimal(38,0)") * lf_num)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = arrs.select(F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sa"))
    b = arrs.select(F.col(id_col).alias("doc_b"), F.col("__sh").alias("__sb"))
    # The intersection size is an explicit COLUMN (r14): inlined, the
    # expression held two array_intersect calls and the jaccard filter
    # below pushed a third+fourth copy into the Filter — the most
    # expensive per-pair operation of the verification stage evaluated
    # up to 4×.  As a multi-use non-cheap alias it stays a Project
    # boundary, so every candidate pair intersects exactly once.
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(__sa, __sb))").alias("__i"),
            F.expr("size(__sa)").alias("__na"),
            F.expr("size(__sb)").alias("__nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.expr("CAST(__i AS DOUBLE)")
                / F.expr("CAST(__na + __nb - __i AS DOUBLE)"),
                6,
            ).alias("jaccard"),
        )
    )
    t = threshold_num / threshold_den
    return scored.filter(F.col("jaccard") >= t)


# Non-overlapping SEG-token blocks from raw text: canonical tokens
# (empty tokens filtered), then ceil(n/SEG) blocks of SEG tokens each
# joined by ' ' (the last block keeps the short tail).  Both outer
# transform(array(...)) wrappers are LET BINDINGS (see SHINGLES_SQL):
# without them every sequence index would re-evaluate the whole
# regexp+split chain.  sequence(1, 0) in Spark DESCENDS ([1, 0]), so
# the empty-token case is guarded with an explicit CASE.
_BLOCKS_SQL = (
    "flatten(transform(array(filter({t}, __x -> __x != '')), __a -> "
    "CASE WHEN size(__a) = 0 THEN array() "
    "ELSE transform(sequence(1, (size(__a) + {seg} - 1) div {seg}), "
    "j -> array_join(slice(__a, (j - 1) * {seg} + 1, {seg}), ' ')) END))"
)


def text_blocks(text_col: str, seg_tokens: int = 8):
    """Column of non-overlapping ``seg_tokens``-token block strings."""
    return F.expr(
        _BLOCKS_SQL.format(t=TOKENS_SQL.format(col=text_col), seg=seg_tokens)
    )


def within_doc_block_dedup(
    df: DataFrame, id_col: str, text_col: str, seg_tokens: int = 8
) -> DataFrame:
    """X96: within-document duplicate-block removal — rewrite each
    document keeping only the FIRST occurrence of every
    ``seg_tokens``-token block (the FineWeb/RefinedWeb "drop repeated
    lines inside a page" transform, re-keyed to fixed token blocks
    because the corpus has no line structure).  Repetition INSIDE a
    page (nav bars, pagination footers, scraper stutter) is the
    cheapest duplication signal there is, and removing it needs no
    corpus state at all.

    Output per document (empty-token documents drop out, the
    chunk_documents convention): ``n_blocks``, ``n_kept``,
    ``dedup_text`` (kept blocks joined in original order), and
    ``removed_ppm`` (ppm integer division).

    Scale: ZERO SHUFFLE — the whole transform is one narrow
    projection inside codegen.  The keep-first filter is the indexed
    lambda ``filter(__b, (x, i) -> array_position(__b, x) = i + 1)``
    over the let-bound block array: array_position returns the FIRST
    1-based index of the value, so exactly the first occurrence of
    every distinct block survives, in place.  Quadratic only in
    blocks-per-document (bounded, ~tokens/seg), never in corpus
    size."""
    blocks = text_blocks(text_col, seg_tokens)
    kept = F.expr(
        "flatten(transform(array(__blocks), __b -> "
        "filter(__b, (x, i) -> array_position(__b, x) = i + 1)))"
    )
    return (
        df.select(F.col(id_col), blocks.alias("__blocks"))
        .filter(F.size("__blocks") > 0)
        .select(F.col(id_col), "__blocks", kept.alias("__kept"))
        .select(
            F.col(id_col),
            F.size("__blocks").cast("long").alias("n_blocks"),
            F.size("__kept").cast("long").alias("n_kept"),
            F.array_join("__kept", " ").alias("dedup_text"),
            F.expr(
                "(1000000 * CAST(size(__blocks) - size(__kept) AS BIGINT))"
                " div size(__blocks)"
            ).alias("removed_ppm"),
        )
    )


def corpus_block_dedup(
    df: DataFrame, id_col: str, text_col: str, seg_tokens: int = 8, max_freq: int = 1
) -> DataFrame:
    """X97: corpus-level duplicate-block rewrite (the CCNet move —
    Wenzek et al. 2020 deduplicate CommonCrawl by PARAGRAPH hash
    across the whole dump, not by whole-document identity; re-keyed
    to fixed ``seg_tokens``-token blocks here for the same reason as
    X96).  A block occurrence survives iff its block value is rare
    (corpus frequency <= ``max_freq``) OR it is the CANONICAL
    occurrence — the minimal (doc_id, position) pair for that value —
    so exactly ONE copy of every duplicated block remains corpus-wide
    and the result is deterministic and ingestion-order-free (CCNet's
    own keep-first-seen depends on shard order; min-pair does not).

    Output per document: ``n_blocks``, ``n_kept``, ``kept_ppm``, and
    ``dedup_text`` (survivors joined in original order; documents
    whose every block canonicalizes elsewhere keep an empty string).

    Scale: one map-side-combinable count aggregate over the block
    keyspace (~corpus_tokens/seg keys), one min-pair aggregate on the
    same key, and one equi-join of occurrences against that bounded
    per-value table — boilerplate-heavy hot values skew the join and
    are exactly what AQE skew splitting handles.  The rebuild is one
    doc-keyed aggregate with an array_sort on (position, block), the
    deterministic collect_list discipline used throughout."""
    occ = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(text_blocks(text_col, seg_tokens)).alias("__j", "__b"),
    )
    stats = occ.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__freq"),
        F.min(F.struct("__doc", "__j")).alias("__canon"),
    )
    tagged = occ.join(stats, "__b").select(
        "__doc",
        "__j",
        "__b",
        (
            (F.col("__freq") <= F.lit(max_freq))
            | (
                (F.col("__canon.__doc") == F.col("__doc"))
                & (F.col("__canon.__j") == F.col("__j"))
            )
        ).alias("__keep"),
    )
    return (
        tagged.groupBy("__doc")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.col("__keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"), F.struct("__j", "__b")
                            )
                        )
                    ),
                    lambda s: s["__b"],
                ),
                " ",
            ).alias("dedup_text"),
        )
        .select(
            F.col("__doc").alias(id_col),
            "n_blocks",
            "n_kept",
            F.expr("(1000000 * n_kept) div n_blocks").alias("kept_ppm"),
            "dedup_text",
        )
    )


def kmv_source_overlap(
    df: DataFrame, text_col: str, group_col: str, k: int = 256
) -> DataFrame:
    """X100: sketch-based cross-group overlap — the K-Minimum-Values
    twin of X29's exact shingle-overlap matrix (Beyer et al. 2007's
    KMV set operations: the k smallest hashes of a set are a uniform
    sample of its distinct values, and Jaccard is estimated by
    |A∩B within the k smallest of A∪B| / k).  X29 shuffles the full
    distinct-shingle keyspace; at 100 TB that keyspace IS the corpus,
    while this sketch caps every group at ``k`` 8-byte hashes — the
    overlap matrix then costs |G|²·k rows total, independent of
    corpus size.  Run the sketch to ORDER the dedup/merge plan, run
    X29 only on the pairs the sketch flags.

    Per unordered pair (grp_a < grp_b): both sketch sizes, the
    merged-sketch size (min(k, |union of sketches|)), the number of
    merged-k hashes present in BOTH sketches, and jaccard_est_ppm
    (ppm integer division — exact given the hashes).

    Determinism: md5 unit hashes (the X9/X62 convention), distinct
    (group, hash) collapses 32-bit collisions identically in both
    engines, k-smallest via ROW_NUMBER on the unique hash value.

    Scale: one corpus scan into a per-group k-row sketch (the
    per-group window compiles to WindowGroupLimit — at most k rows
    per map partition reach the shuffle); everything after is
    sketch-sized.  The pair grid joins broadcast."""
    df = spread_small_scan(df)  # r14: no-op at scale (catalog docstring)
    from pyspark.sql.window import Window

    from ..operators.sampling import unit_hash

    sk = (
        df.select(F.col(group_col).alias("grp"), tokens(text_col).alias("__t"))
        .select("grp", F.explode(shingles("__t")).alias("__sh"))
        .select("grp", unit_hash("__sh").alias("__h"))
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("__h")
    sk = (
        sk.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("grp", "__h")
        .localCheckpoint(eager=True)
    )
    sizes = sk.groupBy("grp").agg(F.count(F.lit(1)).alias("n_sk"))
    grid = (
        sizes.select(F.col("grp").alias("grp_a"), F.col("n_sk").alias("sketch_a"))
        .crossJoin(
            sizes.select(
                F.col("grp").alias("grp_b"), F.col("n_sk").alias("sketch_b")
            )
        )
        .filter(F.col("grp_a") < F.col("grp_b"))
    )
    both_sides = grid.select("grp_a", "grp_b").join(
        sk.select(F.col("grp").alias("grp_a"), "__h"), "grp_a"
    ).select("grp_a", "grp_b", "__h", F.lit("a").alias("__side")).unionByName(
        grid.select("grp_a", "grp_b")
        .join(sk.select(F.col("grp").alias("grp_b"), "__h"), "grp_b")
        .select("grp_a", "grp_b", "__h", F.lit("b").alias("__side"))
    )
    merged = both_sides.groupBy("grp_a", "grp_b", "__h").agg(
        (F.count(F.lit(1)) == 2).cast("long").alias("__both")
    )
    wp = Window.partitionBy("grp_a", "grp_b").orderBy("__h")
    topk = merged.withColumn("__r", F.row_number().over(wp)).filter(
        F.col("__r") <= k
    )
    est = topk.groupBy("grp_a", "grp_b").agg(
        F.count(F.lit(1)).alias("merged_k"),
        F.sum("__both").alias("n_both"),
    )
    return (
        grid.join(est, ["grp_a", "grp_b"], "left")
        .select(
            "grp_a",
            "grp_b",
            "sketch_a",
            "sketch_b",
            F.coalesce("merged_k", F.lit(0)).alias("merged_k"),
            F.coalesce("n_both", F.lit(0)).alias("n_both"),
            F.expr(
                "CASE WHEN coalesce(merged_k, 0) = 0 THEN 0 "
                "ELSE (1000000 * coalesce(n_both, 0)) div merged_k END"
            ).alias("jaccard_est_ppm"),
        )
        .orderBy("grp_a", "grp_b")
    )


def levenshtein_block_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 8,
    prefix_chars: int = 40,
    length_bucket: int = 16,
) -> DataFrame:
    """X110: bounded edit-distance near-dup pairs via blocking — the
    record-linkage classic (Levenshtein metric under a blocking key)
    that catches CHARACTER-level near-dups the token-set family
    (Jaccard X2, containment X69, prefix-filter X86) cannot see:
    OCR single-char errors, typo farms, template fills that perturb
    spelling rather than word choice.  Candidates are restricted to
    blocks sharing (first canonical token, token-count bucket) — a
    length-difference bound is implied by the bucket, and edit
    distance >= length difference makes cross-bucket pairs mostly
    hopeless anyway — then scored with ``levenshtein`` on the first
    ``prefix_chars`` canonical characters (the banded-DP bound: cost
    per pair is O(prefix²), corpus-independent).

    Returns (id_a < id_b, edit_distance <= max_dist, both lengths).
    Exactness: Levenshtein is integer-valued and both engines
    implement the same textbook DP; the canonical prefix is the same
    deterministic string.

    Scale: one narrow map to (block, prefix), one block-keyed
    self-join (map-side combine on the block count; hot template
    blocks are exactly what AQE skew-split handles), pair scoring
    inside codegen.  Never all-pairs: the block key caps candidate
    generation the same way X84's sorted window and X86's prefix
    filter do — three INDEPENDENT candidate generators for the same
    metric family is deliberate (recall audits X45/X64 need
    disagreeing generators)."""
    canon = (
        f"substring(array_join(filter({TOKENS_SQL.format(col=text_col)}, "
        f"__x -> __x != ''), ' '), 1, {prefix_chars})"
    )
    ntok = f"size(filter({TOKENS_SQL.format(col=text_col)}, __x -> __x != ''))"
    # r14: spread a small single-split scan before the per-row regex
    # chain (catalog.spread_small_scan — no-op at scale).
    b = spread_small_scan(df).select(
        F.col(id_col).alias("__id"),
        F.expr(canon).alias("__pfx"),
        F.expr(ntok).alias("__nt"),
    ).filter(F.col("__nt") > 0).select(
        "__id",
        "__pfx",
        "__nt",
        F.concat_ws(
            "|",
            F.expr("substring_index(__pfx, ' ', 1)"),
            F.expr(f"CAST(__nt div {length_bucket} AS STRING)"),
        ).alias("__blk"),
    )
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(c, F.col("a.__blk") == F.col("b.__blk"))
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.levenshtein(F.col("a.__pfx"), F.col("b.__pfx")).alias(
                "edit_distance"
            ),
            F.col("a.__nt").alias("n_tokens_a"),
            F.col("b.__nt").alias("n_tokens_b"),
        )
        .filter(F.col("edit_distance") <= max_dist)
        .orderBy("id_a", "id_b")
    )


def unique_token_mass(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """X140: duplication-adjusted source contribution — X24's
    first-occurrence attribution aggregated to the SOURCE axis:
    per source, how much of its shingle mass is the corpus seeing
    for the FIRST time (min doc-id occurrence lives in this source)
    versus restating earlier documents.  The honest denominator for
    mixture weighting: X19/X37 weight sources by raw mass, and a
    mirror site with huge raw mass but near-zero novel mass should
    be weighted by THIS table instead.

    Exactness: instance counts are exact (distinct (doc, shingle)
    grains, the X24 grain); shares are ppm integer divisions.

    Scale: the X24 shape — one shingle→min(doc) aggregate (vocab-
    bounded shuffle), one shingle-keyed join back, one group
    aggregate.  No pairs anywhere."""
    sh = doc_shingles(df, id_col, text_col)
    first = sh.groupBy("shingle").agg(F.min(F.col(id_col)).alias("__first"))
    grp = df.select(F.col(id_col), F.col(group_col).alias("__grp"))
    return (
        sh.join(first, "shingle")
        .join(grp, id_col)
        .groupBy("__grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_instances"),
            F.countDistinct("shingle").cast("long").alias(
                "n_distinct_shingles"
            ),
            F.sum(
                F.when(F.col("__first") == F.col(id_col), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel_instances"),
        )
        .select(
            F.col("__grp").alias(group_col),
            "n_instances",
            "n_distinct_shingles",
            "n_novel_instances",
            F.expr("(1000000 * n_novel_instances) div n_instances").alias(
                "novel_ppm"
            ),
        )
        .orderBy(group_col)
    )


def boundary_overlap_chains(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    max_boundary_df: int = 256,
) -> DataFrame:
    """X142: document continuation detection via boundary-shingle
    overlap — doc A's LAST 3-shingle equal to doc B's FIRST
    3-shingle is the fingerprint of one logical document split
    across crawl records (pagination, chunked dumps, mail threads);
    near-dup detection misses these because the bodies share almost
    nothing.  Emits the per-source-pair edge census the re-stitching
    (or at least co-assignment to one training shard) decision
    reads.

    Guardrail: a boundary shingle occurring as a head in more than
    ``max_boundary_df`` docs is a TEMPLATE boundary ("click here to
    continue"), not a continuation signal — it is dropped before the
    join, which also caps the join's per-key fanout (the same
    df-cap discipline as the X2d blocking family).

    Exactness: exact counts; docs need ≥ 3 tokens to have
    boundaries.

    Scale: two narrow maps (head/tail shingle per doc), a df-capped
    equi-join on the boundary shingle, one group aggregate."""
    t = df.select(
        F.col(id_col),
        F.col(group_col).alias("__grp"),
        F.expr(
            f"filter({TOKENS_SQL.format(col=text_col)}, x -> x != '')"
        ).alias("__t"),
    ).filter(F.size("__t") >= 3)
    heads = t.select(
        F.col(id_col).alias("__hb"),
        F.col("__grp").alias("__hg"),
        F.expr(
            "concat_ws(' ', element_at(__t, 1), element_at(__t, 2), "
            "element_at(__t, 3))"
        ).alias("__b"),
    )
    tails = t.select(
        F.col(id_col).alias("__ta"),
        F.col("__grp").alias("__tg"),
        F.expr(
            "concat_ws(' ', element_at(__t, -3), element_at(__t, -2), "
            "element_at(__t, -1))"
        ).alias("__b"),
    )
    head_df = heads.groupBy("__b").agg(F.count(F.lit(1)).alias("__hdf"))
    ok_heads = heads.join(
        head_df.filter(F.col("__hdf") <= max_boundary_df), "__b"
    )
    edges = ok_heads.join(tails, "__b").filter(F.col("__ta") != F.col("__hb"))
    return (
        edges.groupBy(
            F.col("__tg").alias("source_from"),
            F.col("__hg").alias("source_to"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.countDistinct("__b").cast("long").alias("n_boundaries"),
            F.countDistinct("__ta").cast("long").alias("n_from_docs"),
            F.countDistinct("__hb").cast("long").alias("n_to_docs"),
        )
        .orderBy("source_from", "source_to")
    )


def survivor_bias_panel(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str,
    cluster_col: str,
    score_e2_col: str,
) -> DataFrame:
    """X146: dedup survivorship-policy bias audit — the same
    clustered corpus summarized under three retention policies:
    'corpus' (nothing removed), 'min_id' (X1/X7 canonical-survivor
    rule), 'best_score' (X32 quality-aware rule).  The mean-quality
    delta between the two survivor rows is exactly what X32 buys;
    if it is ~0 the cheaper min-id rule is fine, and if the
    survivor means sit far above the corpus mean the dedup step is
    ALSO doing quality filtering — a bias worth knowing before
    attributing downstream wins to deduplication alone (the
    Lee et al. 2022 "Deduplicating Training Data..." ablation
    question).

    Exactness: scores enter as e2 integers (the X5 quality score
    ×100); means are sum div n; policy membership is exact rank
    arithmetic (ties to ascending id, both policies).

    Scale: one id-keyed join + ONE cluster-keyed shuffle serving
    both policy ranks (the X32 window shape) + a 3-row aggregate."""
    from pyspark.sql.window import Window

    joined = clusters.select(F.col(id_col), F.col(cluster_col)).join(
        scores.select(F.col(id_col), F.col(score_e2_col)), id_col
    )
    w_best = Window.partitionBy(cluster_col).orderBy(
        F.desc(score_e2_col), F.asc(id_col)
    )
    w_min = Window.partitionBy(cluster_col).orderBy(F.asc(id_col))
    flagged = joined.select(
        F.col(score_e2_col).alias("__s"),
        (F.row_number().over(w_best) == 1).alias("__is_best"),
        (F.row_number().over(w_min) == 1).alias("__is_min"),
    )
    panel = flagged.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("corpus").alias("policy"),
                    F.lit(True).alias("keep"),
                    F.col("__s"),
                ),
                F.struct(
                    F.lit("min_id").alias("policy"),
                    F.col("__is_min").alias("keep"),
                    F.col("__s"),
                ),
                F.struct(
                    F.lit("best_score").alias("policy"),
                    F.col("__is_best").alias("keep"),
                    F.col("__s"),
                ),
            )
        ).alias("e")
    ).filter(F.col("e.keep"))
    return (
        panel.groupBy(F.col("e.policy").alias("policy"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("sum(e.__s) div count(1)").cast("long").alias(
                "mean_score_e2"
            ),
            F.min("e.__s").cast("long").alias("min_score_e2"),
            F.max("e.__s").cast("long").alias("max_score_e2"),
        )
        .orderBy("policy")
    )


def exact_substring_cut_spans(
    df: DataFrame, id_col: str, text_col: str, min_count: int = 2
) -> DataFrame:
    """r10-queue: the REWRITE half of X66 (Lee et al. 2021
    ExactSubstr) — X66 reports how much of each doc is duplicated
    substring mass; this emits the actual cut list: per document,
    the MERGED maximal token-position spans covered by 3-gram start
    positions whose gram occurs >= ``min_count`` times corpus-wide
    (position-counted, X66's convention). A rewrite pass drops or
    loss-masks exactly these spans — the deployment step between
    the X66 signal and a deduplicated corpus.

    Output: (doc_id, span_start, span_end, n_merged) with 1-based
    half-open token intervals [span_start, span_end) and n_merged =
    number of duplicated gram positions the span absorbed.

    Scale: one keyed gram count + one keyed join back to the
    position stream (both map-side combinable / AQE-splittable like
    X66's plan), then the X122 gaps-and-islands merge — ONE shuffle
    on the doc key for both of its windows. Per-doc span counts are
    bounded by doc length; nothing corpus-sized broadcasts."""
    base = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    return _cut_spans_from_tokens(base, id_col, min_count)


def _cut_spans_from_tokens(
    base: DataFrame, id_col: str, min_count: int
) -> DataFrame:
    """Tokens-in core of ``exact_substring_cut_spans`` — takes the
    pre-tokenized ``(id, __t)`` frame so ``exact_substring_rewrite``
    can share ONE tokenization pass with its rebuild stage (the
    TOKENS_SQL regex is the dominant scan cost on a text corpus;
    r9 review finding)."""
    from .scrub import merge_spans

    pos = base.select(
        F.col(id_col),
        F.posexplode(shingles("__t")).alias("__p", "g"),
    )
    cnt = (
        pos.groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .filter(F.col("__c") >= min_count)
    )
    dup = pos.join(cnt, "g").select(
        F.col(id_col),
        (F.col("__p") + 1).alias("s"),  # 1-based token index
        (F.col("__p") + 4).alias("e"),  # half-open, covers 3 tokens
    )
    # ordered=False: the cut list is either regrouped per doc by the
    # rewrite or hash-compared by the driver — a display sort here
    # would range-partition the span table and re-execute the whole
    # gram-count join under the range sampler (r10 verdict,
    # What's-wrong #2).
    return merge_spans(dup, id_col, "s", "e", ordered=False).select(
        F.col("id").alias(id_col), "span_start", "span_end", "n_merged"
    )


def exact_substring_rewrite(
    df: DataFrame, id_col: str, text_col: str, min_count: int = 2
) -> DataFrame:
    """r10-queue: APPLY the ExactSubstr cut list — the final step of
    the Lee et al. 2021 pipeline: drop every token inside a merged
    duplicated span (``exact_substring_cut_spans``) and rebuild the
    document from the survivors. Operates on the canonical token
    stream (the form the dedup pipeline scores and a tokenizer
    consumes); X96's within-doc block rewrite is the
    paragraph-granularity sibling, this is the corpus-duplicate
    token-granularity one.

    Output: (doc_id, n_tokens, n_tokens_kept, kept_ppm,
    text_rewritten) — text_rewritten is '' when every token is cut.

    Scale: the span table is doc-keyed and per-doc-bounded; it
    regroups to ONE array row per doc and joins back doc-keyed, and
    the token drop + rebuild is a single narrow higher-order
    expression (filter/transform/concat_ws) in the scan stage — the
    rewrite itself never shuffles."""
    # eager checkpoint (r9 review finding): base feeds TWO plan
    # branches (span detection + rebuild probe side); without
    # materialization Spark recomputes the TOKENS_SQL regex scan in
    # each branch — the subtrees share no identical exchange, so
    # ReuseExchange cannot fire (the _pair_common / assigned0
    # precedent).
    base = df.select(
        F.col(id_col), tokens(text_col).alias("__t")
    ).localCheckpoint(eager=True)
    spans = _cut_spans_from_tokens(base, id_col, min_count)
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    joined = base.join(sp, id_col, "left")
    kept = F.expr(
        "filter(transform(__t, (w, i) -> struct(w AS w, i + 1 AS p)), "
        "x -> __spans IS NULL OR NOT exists(__spans, "
        "s -> x.p >= s.span_start AND x.p < s.span_end))"
    )
    return (
        joined.select(
            F.col(id_col),
            F.size("__t").cast("long").alias("n_tokens"),
            kept.alias("__kept"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            F.size("__kept").cast("long").alias("n_tokens_kept"),
            F.expr(
                "(1000000 * size(__kept)) div greatest(n_tokens, 1L)"
            )
            .cast("long")
            .alias("kept_ppm"),
            F.concat_ws(
                " ", F.expr("transform(__kept, x -> x.w)")
            ).alias("text_rewritten"),
        )
        # no presentation sort (r10 verdict, What's-wrong #2): an
        # orderBy here range-partitions the full rewritten corpus AND
        # its range-sampling pass re-executes the span-detection
        # join/aggregate subtree above (only the token base is
        # checkpointed) — the exact tax dedup_prefix_filter_join
        # removed in r10. Row order is immaterial to every consumer:
        # the driver's value hash is order-insensitive and the local
        # parity harness sorts both sides.
    )


def _weighted_term_pairs(
    wrows: DataFrame,
    id_col: str,
    min_df: int = 2,
    max_df: int | None = None,
    split_threshold: int = 1024,
) -> DataFrame:
    """Weighted sibling of ``_pair_common``: pair generation from a
    weighted term table ``(id, term, w, s)`` — ``w`` the per-(doc,
    term) weight, ``s`` a per-doc scalar (norm², weight mass) that
    must travel with the pairs — emitting one row per SHARED term per
    candidate pair: ``(doc_a, doc_b, s_a, s_b, w_a, w_b)``. The
    caller aggregates (dot products, min-sums) per pair.

    Same single-shuffle grouped shape, the same eager checkpoint
    before the two branches, and the same hot-term split: terms
    hotter than ``split_threshold`` re-explode into an AQE-skew-
    splittable self-join; ``max_df`` drops stop-terms entirely (the
    documented recall/blocking trade — the capped vocabulary IS the
    vector space, so weights, norms, and scores are all computed on
    the same capped support and the result is self-consistent)."""
    grouped = wrows.groupBy("term").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    F.col("w").alias("w"),
                    F.col("s").alias("s"),
                )
            )
        ).alias("ids")
    )
    if min_df:
        grouped = grouped.filter(F.size("ids") >= min_df)
    if max_df:
        grouped = grouped.filter(F.size("ids") <= max_df)
    grouped = grouped.localCheckpoint(eager=True)
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x.id AS doc_a, y.id AS doc_b, x.s AS s_a, "
        "y.s AS s_b, x.w AS w_a, y.w AS w_b))))"
    )
    small = (
        grouped.filter(F.size("ids") <= split_threshold)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.s_a", "p.s_b", "p.w_a", "p.w_b")
    )
    hot = grouped.filter(F.size("ids") > split_threshold).select(
        "term", F.explode("ids").alias("x")
    )
    ha = hot.select(
        "term",
        F.col("x.id").alias("doc_a"),
        F.col("x.s").alias("s_a"),
        F.col("x.w").alias("w_a"),
    )
    hb = hot.select(
        "term",
        F.col("x.id").alias("doc_b"),
        F.col("x.s").alias("s_b"),
        F.col("x.w").alias("w_b"),
    )
    hot_pairs = (
        ha.join(hb, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "s_a", "s_b", "w_a", "w_b")
    )
    return small.union(hot_pairs)


def _capped_tf(
    df: DataFrame, id_col: str, text_col: str, max_df: int
) -> DataFrame:
    """Term-frequency table over the ``max_df``-capped vocabulary:
    ``(id, term, tf, df)`` — canonical tokens (not shingles), term
    document frequency computed BEFORE the cap so the cap is a pure
    vocabulary restriction. One tokenize scan, two term-keyed
    aggregates; corpus size never appears past the first."""
    tf = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # eager checkpoint: the tokenize+explode scan above is the most
    # expensive stage and the result feeds dfreq, the cap join, the
    # per-doc norm/mass aggregate, AND the pair core — without
    # materialization it re-executes per consumer (the prefix-join
    # precedent; review finding).
    tf = tf.localCheckpoint(eager=True)
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    return tf.join(dfreq.filter(F.col("df") <= max_df), "term")


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.3,
    max_df: int = 100,
    split_threshold: int = 1024,
) -> DataFrame:
    """X156: all-pairs TF-IDF cosine similarity join (Bayardo, Ma &
    Srikant 2007, "Scaling Up All Pairs Similarity Search") — the
    LEXICAL-VECTOR near-dup detector: where X2d's set Jaccard treats
    a document as a shingle set, this scores the tf·idf-weighted
    token multiset, so two docs sharing rare vocabulary at different
    lengths still surface. The standard second axis every serious
    dedup stack runs next to MinHash.

    Exactness: weights are exact integers — w = tf · (10⁶ div df) —
    norms² and dot products accumulate in DECIMAL(38,0) (HUGEINT in
    the oracle), and the cosine is ONE double expression over exact
    integers: dot / (sqrt(s_a)·sqrt(s_b)), round-6. sqrt and / are
    IEEE-exact-rounded, so both engines agree bit-for-bit.

    Scale: candidate generation is term-keyed (``_weighted_term_
    pairs`` — one grouped shuffle, hot-term AQE split); ``max_df``
    caps the vocabulary (idf already sends df→cap weights toward 0,
    so the cap formalizes what the weighting does — and bounds the
    worst bucket at cap²/2 pairs). Pair aggregation is map-side
    combinable."""
    if max_df >= 1_000_000:
        # 10^6 div df hits 0 at df >= 10^6: zero weights make an
        # all-common-term doc's norm 0 and its cosine 0/0 — NaN,
        # which the engines compare differently (Spark drops
        # NaN >= t, DuckDB sorts NaN greatest). The cap keeps every
        # admitted weight strictly positive.
        raise ValueError(
            "max_df must be < 1000000 (zero-weight/NaN hazard)"
        )
    w = _capped_tf(df, id_col, text_col, max_df).select(
        F.col(id_col),
        "term",
        (F.col("tf") * F.expr("1000000 div df")).cast("long").alias("w"),
    )
    norms = w.groupBy(id_col).agg(
        F.sum(F.col("w").cast("decimal(38,0)") * F.col("w")).alias("s")
    )
    wrows = w.join(norms, id_col)
    pairs = _weighted_term_pairs(
        wrows, id_col, min_df=2, max_df=None,
        split_threshold=split_threshold,
    )
    scored = (
        pairs.groupBy("doc_a", "doc_b", "s_a", "s_b")
        .agg(
            F.sum(
                F.col("w_a").cast("decimal(38,0)") * F.col("w_b")
            ).alias("__dot")
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("__dot").cast("double")
                / (
                    F.sqrt(F.col("s_a").cast("double"))
                    * F.sqrt(F.col("s_b").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )
    return scored.filter(F.col("cosine") >= threshold)


def bag_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_ppm: int = 300_000,
    max_df: int = 100,
    split_threshold: int = 1024,
) -> DataFrame:
    """X157: weighted (bag/multiset) Jaccard similarity join — the
    multiplicity-aware form of X2d: J_w = Σ min(tf_a, tf_b) /
    Σ max(tf_a, tf_b) over the capped vocabulary. Catches the
    repeat-structure near-dups set Jaccard flattens (a doc that says
    X once vs fifty times) and is the exact form the Ioffe 2010 CWS
    sketch approximates — here computed exactly, no sketch.

    Exactness: pure integer — Σ max = S_a + S_b − Σ min (non-shared
    terms contribute min 0, max tf), so j_ppm = (10⁶·M) div
    (S_a + S_b − M) with M, S exact BIGINT sums.

    Scale: identical candidate shape to X156 (same
    ``_weighted_term_pairs`` core, w = tf, s = Σ tf)."""
    tf = _capped_tf(df, id_col, text_col, max_df).select(
        F.col(id_col), "term", F.col("tf").alias("w")
    )
    mass = tf.groupBy(id_col).agg(F.sum("w").cast("long").alias("s"))
    wrows = tf.join(mass, id_col)
    pairs = _weighted_term_pairs(
        wrows, id_col, min_df=2, max_df=None,
        split_threshold=split_threshold,
    )
    scored = (
        pairs.groupBy("doc_a", "doc_b", "s_a", "s_b")
        .agg(F.sum(F.least("w_a", "w_b")).cast("long").alias("__m"))
        .select(
            "doc_a",
            "doc_b",
            F.col("__m").alias("w_common"),
            F.expr("(1000000 * __m) div (s_a + s_b - __m)")
            .cast("long")
            .alias("jaccard_w_ppm"),
        )
    )
    return scored.filter(F.col("jaccard_w_ppm") >= threshold_ppm)


# Sentence-ish line splitter shared by X161 and its oracle twin:
# terminal punctuation runs followed by whitespace. RE2 (DuckDB) has
# no lookbehind, so the delimiter is consumed — fine for dedup, the
# canonical line is the sentence body.
LINES_SQL = "split(lower({col}), '[.!?]+\\\\s+')"


def line_dedup_by_source(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    min_chars: int = 20,
) -> DataFrame:
    """X161: line/sentence-level duplication census per source — the
    CCNet line-dedup signal (Wenzek et al. 2020): boilerplate lives
    at the LINE level (headers, footers, nav text), invisible to
    doc-level dedup. A source whose line-duplication rate is high is
    a template site; its doc-level survivors still carry the
    boilerplate X96/X97 would cut.

    Output per source: n_lines (instances ≥ min_chars after trim),
    n_distinct, n_dup_instances (instances whose canonical line
    occurs ≥ 2 times CORPUS-wide), dup_ppm.

    Scale: one scan-stage split/explode; one (source, hash) keyed
    aggregate; one hash-keyed total + hash-keyed join back; one
    |sources| aggregate. Corpus size never survives past the second
    aggregate."""
    lines = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(F.expr(LINES_SQL.format(col=text_col))).alias("__l"),
        )
        .select("source", F.trim("__l").alias("__l"))
        .filter(F.length("__l") >= min_chars)
        .select("source", F.md5("__l").alias("__h"))
    )
    per_sh = lines.groupBy("source", "__h").agg(
        F.count(F.lit(1)).cast("long").alias("__k")
    )
    totals = per_sh.groupBy("__h").agg(F.sum("__k").alias("__c"))
    return (
        per_sh.join(totals, "__h")
        .groupBy("source")
        .agg(
            F.sum("__k").cast("long").alias("n_lines"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.when(F.col("__c") >= 2, F.col("__k")).otherwise(0))
            .cast("long")
            .alias("n_dup_instances"),
        )
        .select(
            "source",
            "n_lines",
            "n_distinct",
            "n_dup_instances",
            F.expr("(1000000 * n_dup_instances) div n_lines")
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("source")
    )


def duplication_gini(
    df: DataFrame, id_col: str, text_col: str, source_col: str
) -> DataFrame:
    """X160: duplication-concentration Gini per source — the
    inequality of exact-duplicate multiplicities: 0 when every text
    is equally replicated, →1 when a few templates carry all the
    duplication. The one-number complement to X82's per-cluster
    density audit: it says whether a source's duplication is a
    broad haze (crawl overlap — dedup normally) or a spike (a
    template factory — consider source-level action).

    Exactness: Gini over the multiplicity LATTICE — sizes are small
    distinct integers, so for size v with count c at cumulative
    offset o, the sorted-rank sum Σ i·x_i contributes
    v·(c·o + c(c+1)/2) exactly; G_ppm = 10⁶·(2T − (n+1)·S) div (n·S)
    in DECIMAL(38,0) (HUGEINT oracle twin).

    Scale: groupBy(source, text) → groupBy(source, size) collapses
    the corpus to the lattice; the only window is per-source over
    DISTINCT SIZES (bounded — multiplicities, not documents)."""
    from pyspark.sql.window import Window

    sizes = df.groupBy(F.col(source_col).alias("source"), text_col).agg(
        F.count(F.lit(1)).cast("long").alias("__v")
    )
    lat = sizes.groupBy("source", "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = lat.withColumn(
        "__o", F.coalesce(F.sum("__c").over(w), F.lit(0)).cast("long")
    )
    # c·o is (groups-with-size-v)·(groups-below): both bounded by the
    # source's group count, so the raw BIGINT product wraps past ~3e9
    # groups — the ADVICE-item-5 overflow class. Accumulate the
    # DOUBLED rank sum 2T = Σ v·(2co + c(c+1)) entirely in
    # DECIMAL(38,0) (HUGEINT in the oracle) — doubling removes the
    # halving a LONG-returning decimal `div` would re-truncate.
    per = ranked.groupBy("source").agg(
        F.sum("__c").cast("long").alias("n_groups"),
        F.sum(F.col("__v") * F.col("__c")).cast("long").alias("n_docs"),
        F.sum(
            F.col("__v").cast("decimal(38,0)")
            * (
                F.lit(2).cast("decimal(38,0)")
                * F.col("__c")
                * F.col("__o")
                + F.col("__c").cast("decimal(38,0)")
                * (F.col("__c") + 1)
            )
        ).alias("__t2"),
    )
    return per.select(
        "source",
        "n_groups",
        "n_docs",
        F.expr(
            "CASE WHEN n_groups > 1 THEN "
            "CAST((1000000 * (__t2 - CAST(n_groups + 1 AS "
            "DECIMAL(38,0)) * n_docs)) div (CAST(n_groups AS "
            "DECIMAL(38,0)) * n_docs) AS BIGINT) END"
        ).alias("gini_ppm"),
    ).orderBy("source")


def cluster_dilution_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """X162: near-dup cluster TRANSITIVITY audit — connected
    components are a transitive closure over pairwise-similar edges,
    so a member can land in a cluster while being DISSIMILAR to the
    survivor it loses to (friends-of-friends dilution; the known
    failure mode of CC-based dedup the SemDeDup/NearDup papers
    flag). For every (member → survivor) star edge of the X7
    clustering, score the DIRECT member↔survivor Jaccard and report,
    per cluster-size bucket, how many edges fall below the edge
    threshold the clustering was built from.

    Output per size bucket: n_edges, n_diluted (direct < threshold),
    diluted_ppm, mean_jaccard_ppm.

    Scale: the X2d pair core + X7 CC build the clusters (this IS the
    audit of that output, recomputed by design like X20/X146); the
    star edges are linear in members; direct scoring is two id-keyed
    joins against the once-checkpointed shingle-array table — never
    pairwise within clusters."""
    arrs = (
        spread_small_scan(df)
        .select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(
            F.col(id_col), F.array_distinct(shingles("__t")).alias("__sh")
        )
        .filter(F.size("__sh") > 0)
        .localCheckpoint(eager=True)
    )
    sh_n = arrs.select(
        F.col(id_col),
        F.size("__sh").cast("long").alias("n_sh"),
        F.explode("__sh").alias("shingle"),
    )
    pairs = _jaccard_core(sh_n, id_col, threshold, 2, None)
    cc = neardup_clusters(df, id_col, text_col, pairs=pairs)
    csize = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    edges = (
        cc.filter(F.col(id_col) != F.col("cluster_id"))
        .join(csize, "cluster_id")
        .select(
            F.col(id_col).alias("__m"),
            F.col("cluster_id").alias("__s"),
            "__n",
        )
    )
    a = arrs.select(F.col(id_col).alias("__m"), F.col("__sh").alias("__sa"))
    b = arrs.select(F.col(id_col).alias("__s"), F.col("__sh").alias("__sb"))
    # __j is the ppm of the ROUND-6 Jaccard — the SAME arithmetic
    # _jaccard_core admitted the cluster edges with, so an edge the
    # clustering accepted can never be flagged diluted by a floor-vs-
    # round disagreement at the threshold boundary (review finding).
    # __i as an explicit multi-use column (r14; see
    # prefix_filter_jaccard_join): one array_intersect per edge.
    scored = (
        edges.join(a, "__m")
        .join(b, "__s")
        .select(
            "__n",
            F.expr("size(array_intersect(__sa, __sb))").alias("__i"),
            F.expr("size(__sa)").alias("__na"),
            F.expr("size(__sb)").alias("__nb"),
        )
        .select(
            "__n",
            F.round(
                F.round(
                    F.expr("CAST(__i AS DOUBLE)")
                    / F.expr("CAST(__na + __nb - __i AS DOUBLE)"),
                    6,
                )
                * 1_000_000
            )
            .cast("long")
            .alias("__j"),
        )
    )
    thr_ppm = int(round(threshold * 1_000_000))
    bucket = F.expr(
        "CASE WHEN __n <= 2 THEN '2' WHEN __n <= 4 THEN '3-4' "
        "WHEN __n <= 8 THEN '5-8' ELSE '9+' END"
    )
    return (
        scored.groupBy(bucket.alias("cluster_size_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum(F.when(F.col("__j") < thr_ppm, 1).otherwise(0))
            .cast("long")
            .alias("n_diluted"),
            # DECIMAL(38,0) accumulator (HUGEINT in the oracle): a
            # LONG sum of per-edge ppm wraps past ~9.2e12 edges
            F.sum(F.col("__j").cast("decimal(38,0)")).alias("__jsum"),
        )
        .select(
            "cluster_size_bucket",
            "n_edges",
            "n_diluted",
            F.expr("(1000000 * n_diluted) div n_edges")
            .cast("long")
            .alias("diluted_ppm"),
            F.expr("__jsum div n_edges").cast("long").alias(
                "mean_jaccard_ppm"
            ),
        )
        .orderBy("cluster_size_bucket")
    )


def minhash_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_df: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """X163: MinHash estimator calibration curve — E[matched
    signature components] = k·J (the collision probability of one
    minwise permutation IS the Jaccard), so bucketing candidate
    pairs by exact Jaccard decile and comparing the EMPIRICAL mean
    matched fraction against the decile's mean exact J answers "are
    k=8 signatures faithful on THIS corpus's similarity range" —
    the estimator-accuracy discipline of X45/X141 aimed at the
    signature itself.

    Output per decile: n_pairs, mean_j_ppm (exact), mean_match_ppm
    (empirical), the gap being the calibration error.

    Scale: exact pairs from the ``_pair_common`` grouped core;
    signatures once per doc (k bounded aggregates); two id-keyed
    joins; ≤10-row output."""
    # shingle arrays once (eager checkpoint: feeds BOTH the pair core
    # and the signature aggregate — the prefix-join precedent)
    arrs = (
        spread_small_scan(df)
        .select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(
            F.col(id_col), F.array_distinct(shingles("__t")).alias("__sh")
        )
        .filter(F.size("__sh") > 0)
        .localCheckpoint(eager=True)
    )
    sh_n = arrs.select(
        F.col(id_col),
        F.size("__sh").cast("long").alias("n_sh"),
        F.explode("__sh").alias("shingle"),
    )
    sh = sh_n.select(F.col(id_col), "shingle")
    common = _pair_common(sh_n, id_col, min_df, max_df)
    jpairs = common.select(
        "doc_a",
        "doc_b",
        F.expr("(1000000 * n_common) div (n_a + n_b - n_common)")
        .cast("long")
        .alias("__j"),
    )
    sig = minhash_signatures(sh, id_col, k).localCheckpoint(eager=True)
    siga = sig.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"__a{j}") for j in range(1, k + 1)],
    )
    sigb = sig.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"__b{j}") for j in range(1, k + 1)],
    )
    match = F.expr(
        " + ".join(
            f"CASE WHEN __a{j} = __b{j} THEN 1 ELSE 0 END"
            for j in range(1, k + 1)
        )
    )
    scored = (
        jpairs.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select(
            F.expr("least(9, __j div 100000)").cast("long").alias(
                "j_decile"
            ),
            F.col("__j"),
            (match * (1_000_000 // k)).cast("long").alias("__mp"),
        )
    )
    return (
        scored.groupBy("j_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            # accumulate in DECIMAL(38,0): the oracle's DuckDB SUM(j)
            # promotes BIGINT to HUGEINT, so a LONG sum here would be
            # the one side that wraps past ~9.2e18 summed ppm
            # (ADVICE r10 item 4 — same overflow route as X160/X162)
            F.expr("sum(cast(__j as decimal(38,0))) div count(1)")
            .cast("long")
            .alias("mean_j_ppm"),
            F.expr("sum(cast(__mp as decimal(38,0))) div count(1)")
            .cast("long")
            .alias("mean_match_ppm"),
        )
        .orderBy("j_decile")
    )


def winnow_fingerprint_census(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    w: int = 4,
) -> DataFrame:
    """X164: winnowing fingerprint census (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS scheme): from each document's 3-gram hash
    stream, every window of ``w`` consecutive grams selects its
    RIGHTMOST minimal hash; the distinct selected positions are the
    document's fingerprints.  Winnowing guarantees any shared run of
    ≥ w+2 tokens yields at least one shared fingerprint (the
    detection-density guarantee MinHash lacks: MinHash bounds
    per-DOCUMENT similarity error, winnowing bounds per-REGION
    detection), while storing ~2/(w+1) of the gram stream — the
    sparse copy-detection index a 100 TB corpus can afford.

    Census per source: n_fingerprints (selected instances),
    n_distinct (distinct selected hashes within the source), and
    n_shared (instances whose hash is selected in ≥ 2 DOCS
    corpus-wide) with shared_ppm — the X161 census shape one level
    below the line.

    Exactness: the gram hash is the engine-portable 60-bit
    ``conv(substring(md5(gram), 1, 15), 16, 10)``; rightmost-min is
    the exact struct comparator min over (h, -pos) — no float
    anywhere.

    Scale: one doc-keyed shuffle for the lead() window (the only
    corpus-sized exchange), then hash-keyed aggregates whose rows
    are the ~2/(w+1)-sparse fingerprint set, not the corpus."""
    df = spread_small_scan(df)  # r14: no-op at scale (catalog docstring)
    from pyspark.sql.window import Window

    pos = df.select(
        F.col(id_col).alias("__id"),
        F.col(source_col).alias("source"),
        F.posexplode(
            F.expr(SHINGLES_SQL.format(t=TOKENS_SQL.format(col=text_col)))
        ).alias("__p", "__g"),
    ).select(
        "__id",
        "source",
        "__p",
        F.conv(F.substring(F.md5("__g"), 1, 15), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    win = Window.partitionBy("__id").orderBy("__p")
    # the window starting at this position, as (h, -pos) structs —
    # struct min == minimal hash, rightmost position on ties
    sel = (
        pos.select(
            "__id",
            "source",
            F.array(
                *[
                    F.struct(
                        F.lead("__h", j).over(win).alias("h"),
                        (-(F.col("__p") + F.lit(j))).alias("negp"),
                    )
                    for j in range(w)
                ]
            ).alias("__w"),
        )
        # full windows only (the trailing <w grams belong to earlier
        # windows); filter(x -> x.h IS NOT NULL) would keep ragged
        # tails and over-select near doc ends
        .filter(F.expr("__w[" + str(w - 1) + "].h IS NOT NULL"))
        .select(
            "__id",
            "source",
            F.expr("array_min(__w).h").alias("__h"),
            (-F.expr("array_min(__w).negp")).alias("__selp"),
        )
        .distinct()  # one fingerprint per selected position
    )
    docs_per_hash = sel.groupBy("__h").agg(
        F.countDistinct("__id").alias("__docs")
    )
    return (
        sel.join(docs_per_hash, "__h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
            F.countDistinct("__h").cast("long").alias("n_distinct"),
            F.sum(F.when(F.col("__docs") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
        .select(
            "source",
            "n_fingerprints",
            "n_distinct",
            "n_shared",
            F.expr("(1000000 * n_shared) div n_fingerprints")
            .cast("long")
            .alias("shared_ppm"),
        )
        .orderBy("source")
    )


def source_containment_direction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    threshold: float = 0.5,
    min_df: int | None = 2,
    max_df: int | None = None,
) -> DataFrame:
    """X165: directed containment census by source pair — X69 finds
    WHICH pairs subsume; this says WHO subsumes WHOM at the source
    level: for every containment pair above ``threshold``, the
    SMALLER document (by distinct-shingle count) is the contained
    side, and the (contained_source → container_source) cell
    accumulates.  The syndication/mirror direction matrix: a source
    whose row mass is high is being wrapped/quoted wholesale by the
    column sources — cut it once at the source level instead of
    pair-by-pair.  Equal-size pairs have no direction (containment
    == Jaccard there) and are excluded by construction.

    Output per directed cell: (source_contained, source_container,
    n_pairs, mean_containment_ppm) — DECIMAL-summed exact integer
    mean.

    Scale: the X2d ``_pair_common`` grouped core (one shuffle,
    hot-shingle AQE split) + two id-keyed joins against the slim
    (id, source) projection; the output is ≤ |sources|² rows."""
    df = spread_small_scan(df)  # r14: no-op at scale (catalog docstring)
    arrs = (
        df.select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(
            F.col(id_col), F.array_distinct(shingles("__t")).alias("__sh")
        )
        .filter(F.size("__sh") > 0)
    )
    sh_n = arrs.select(
        F.col(id_col),
        F.size("__sh").cast("long").alias("n_sh"),
        F.explode("__sh").alias("shingle"),
    )
    common = _pair_common(sh_n, id_col, min_df, max_df)
    scored = common.filter(F.col("n_a") != F.col("n_b")).select(
        F.when(F.col("n_a") < F.col("n_b"), F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("__small"),
        F.when(F.col("n_a") < F.col("n_b"), F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("__large"),
        F.expr("(1000000 * n_common) div least(n_a, n_b)")
        .cast("long")
        .alias("__c_ppm"),
    ).filter(F.col("__c_ppm") >= F.lit(int(round(threshold * 1_000_000))))
    src_small = df.select(
        F.col(id_col).alias("__small"),
        F.col(source_col).alias("source_contained"),
    )
    src_large = df.select(
        F.col(id_col).alias("__large"),
        F.col(source_col).alias("source_container"),
    )
    return (
        scored.join(src_small, "__small")
        .join(src_large, "__large")
        .groupBy("source_contained", "source_container")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("sum(cast(__c_ppm as decimal(38,0))) div count(1)")
            .cast("long")
            .alias("mean_containment_ppm"),
        )
        .orderBy("source_contained", "source_container")
    )


def dup_span_position_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    min_count: int = 2,
) -> DataFrame:
    """X166: WHERE in documents does duplication live — the X148 cut
    spans projected onto relative document position: duplicated
    token mass per position decile per source.  Boilerplate
    concentrates at the edges (headers, footers, nav); a source
    whose dup mass is flat across deciles is re-crawled CONTENT, one
    whose mass spikes in deciles 0 and 9 is a template site whose
    bodies are fine — two different curation actions the corpus-wide
    X66 number cannot distinguish.

    Decile d of an n-token doc covers 1-based half-open positions
    [1 + (d·n) div 10, 1 + ((d+1)·n) div 10); span overlap per
    decile is exact integer interval arithmetic; totals come from
    the docs themselves so the denominator is the decile's true
    token mass.

    Scale: the X148 span table (doc-bounded) exploded ×10, one
    (source, decile) aggregate; the doc-side totals are a second
    ×10 explode of a 3-column projection — nothing corpus-sized
    beyond the shared span-detection pass."""
    base = df.select(
        F.col(id_col), F.col(source_col).alias("source"),
        tokens(text_col).alias("__t"),
    ).localCheckpoint(eager=True)
    spans = _cut_spans_from_tokens(
        base.select(F.col(id_col), "__t"), id_col, min_count
    )
    sized = base.select(
        F.col(id_col), "source", F.size("__t").cast("long").alias("__n")
    )
    dec = F.explode(F.expr("sequence(0, 9)")).alias("decile")
    lo = F.expr("1 + (decile * __n) div 10")
    hi = F.expr("1 + ((decile + 1) * __n) div 10")
    totals = (
        sized.select(F.col(id_col), "source", "__n", dec)
        .select(
            "source", "decile", (hi - lo).cast("long").alias("__tok")
        )
        .groupBy("source", "decile")
        .agg(F.sum("__tok").cast("long").alias("n_tokens"))
    )
    dups = (
        spans.join(sized, id_col)
        .select("source", "__n", "span_start", "span_end", dec)
        .select(
            "source",
            "decile",
            F.greatest(
                F.lit(0),
                F.least(F.col("span_end"), hi)
                - F.greatest(F.col("span_start"), lo),
            ).cast("long").alias("__dup"),
        )
        .groupBy("source", "decile")
        .agg(F.sum("__dup").cast("long").alias("n_dup_tokens"))
    )
    return (
        totals.join(dups, ["source", "decile"], "left")
        .select(
            "source",
            F.col("decile").cast("long").alias("decile"),
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias(
                "n_dup_tokens"
            ),
            F.expr(
                "CASE WHEN n_tokens = 0 THEN 0 ELSE "
                "(1000000 * coalesce(n_dup_tokens, 0)) div n_tokens END"
            )
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("source", "decile")
    )


def line_dedup_rewrite(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_chars: int = 20,
) -> DataFrame:
    """X171: CCNet line-level dedup REWRITE — the action half of
    X161's census, exactly as X149 is the action half of X66/X148:
    every duplicated line (canonical form occurring ≥ 2 times
    corpus-wide) is dropped EXCEPT its global first occurrence
    (minimal (doc_id, line_pos) — the deterministic survivor
    convention X1/X7 use at doc level), and each document is rebuilt
    from its surviving lines.  Lines shorter than ``min_chars``
    after trim are always kept: cutting tiny fragments costs more
    signal than the boilerplate it removes (Wenzek et al. 2020 cut
    at the paragraph/line granularity with the same floor).

    Output: (doc_id, n_lines, n_lines_kept, kept_ppm,
    text_rewritten) — text_rewritten joins surviving lines with
    '. ' (the same canonical-form convention as X149's
    single-space token rebuild); '' when every line is cut.

    Scale: one scan-stage split/posexplode; ONE line-hash shuffle
    for (count, global-min instance); one doc-keyed regroup with an
    in-group sort_array — no corpus-wide sort anywhere (the X149
    lesson), and nothing broadcasts."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.expr(f"split({text_col}, '[.!?]+\\\\s+')")).alias(
            "__p", "__l"
        ),
    ).select(
        F.col(id_col),
        "__p",
        F.trim("__l").alias("__l"),
    ).filter(F.length("__l") > 0)
    hashed = lines.select(
        F.col(id_col),
        "__p",
        "__l",
        F.when(
            F.length("__l") >= min_chars, F.md5(F.lower("__l"))
        ).alias("__h"),  # NULL hash = always-keep short line
    )
    stats = (
        hashed.filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct(F.col(id_col).alias("i"), F.col("__p").alias("p")))
            .alias("__first"),
        )
    )
    kept = (
        hashed.join(stats, "__h", "left")
        .withColumn(
            "__keep",
            F.col("__h").isNull()
            | (F.col("__c") == 1)
            | (
                (F.col("__first.i") == F.col(id_col))
                & (F.col("__first.p") == F.col("__p"))
            ),
        )
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(F.col("__keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_lines_kept"),
            F.concat_ws(
                ". ",
                F.expr(
                    "transform(array_sort(collect_list(CASE WHEN __keep "
                    "THEN struct(__p AS p, __l AS l) END)), x -> x.l)"
                ),
            ).alias("text_rewritten"),
        )
        .select(
            F.col(id_col),
            "n_lines",
            "n_lines_kept",
            F.expr("(1000000 * n_lines_kept) div n_lines")
            .cast("long")
            .alias("kept_ppm"),
            "text_rewritten",
        )
    )


def paradigm_agreement(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    cos_threshold: float = 0.3,
    max_df: int = 100,
) -> DataFrame:
    """X178: cross-paradigm near-dup agreement census — the X2b/X2c
    MinHash-LSH candidate set against the X156 tf·idf-cosine
    candidate set, with every pair in the UNION re-scored by exact
    set Jaccard (the shared ground-truth axis).  The two paradigms
    see different structure: LSH banding fires on shared shingle
    runs; tf·idf cosine fires on shared rare vocabulary at any
    length ratio.  Where they disagree is exactly the recall a
    single-paradigm dedup stack silently loses — 'both' pairs are
    safe, 'lsh_only' pairs are LOW-Jaccard-tolerant boilerplate the
    cosine threshold rejects, 'cosine_only' pairs are reweighted
    templates banding cannot catch.  The mean exact Jaccard per
    bucket quantifies each claim on this corpus.

    Exactness: candidate membership is deterministic (md5 MinHash,
    integer tf·idf weights, round-6 cosine); Jaccard is exact
    integer |∩| div |∪|; means are scaled integer divisions.

    Scale: both candidate generators are the production-bounded
    implementations (banded buckets with AQE hot split; term-keyed
    weighted pairs with df cap); the verification join is keyed by
    the bounded pair union, never all-pairs.  Pairs where one side
    has no shingles (sub-3-token docs reachable by the cosine
    paradigm) verify at Jaccard 0 via the left joins."""
    sh = doc_shingles(df, id_col, text_col)
    sh = sh.localCheckpoint(eager=True)
    sig = minhash_signatures(sh, id_col, k)
    lsh = (
        lsh_candidate_pairs(sig, id_col, k, bands)
        .select("doc_a", "doc_b")
        .withColumn("__lsh", F.lit(1))
    )
    cos = (
        tfidf_cosine_pairs(df, id_col, text_col, cos_threshold, max_df)
        .select("doc_a", "doc_b")
        .withColumn("__cos", F.lit(1))
    )
    pairs = (
        lsh.join(cos, ["doc_a", "doc_b"], "full")
        .select(
            "doc_a",
            "doc_b",
            F.when(
                F.col("__lsh").isNotNull() & F.col("__cos").isNotNull(),
                F.lit("both"),
            )
            .when(F.col("__lsh").isNotNull(), F.lit("lsh_only"))
            .otherwise(F.lit("cosine_only"))
            .alias("paradigm"),
        )
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    common = (
        pairs.join(
            sh.select(F.col(id_col).alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh.select(F.col(id_col).alias("doc_b"), F.col("shingle")),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    scored = (
        pairs.join(common, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col(id_col).alias("doc_a"), F.col("__n").alias("__na")),
            "doc_a",
            "left",
        )
        .join(
            sizes.select(F.col(id_col).alias("doc_b"), F.col("__n").alias("__nb")),
            "doc_b",
            "left",
        )
        .select(
            "paradigm",
            F.expr(
                "CASE WHEN coalesce(__na, 0) + coalesce(__nb, 0) "
                "- coalesce(__common, 0) = 0 THEN 0 "
                "ELSE (1000000 * coalesce(__common, 0)) div "
                "(coalesce(__na, 0) + coalesce(__nb, 0) "
                "- coalesce(__common, 0)) END"
            ).alias("__j_ppm"),
        )
    )
    return (
        scored.groupBy("paradigm")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("sum(__j_ppm) div count(1)").alias("mean_jaccard_ppm"),
            F.min("__j_ppm").alias("min_jaccard_ppm"),
            F.max("__j_ppm").alias("max_jaccard_ppm"),
        )
        .orderBy("paradigm")
    )
