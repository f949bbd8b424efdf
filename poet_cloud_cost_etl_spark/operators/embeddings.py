"""Embedding-column analytics (SURVEY §2.11 extension family):
dimension-level statistics, label centroids, scalar quantization.

The distributed pattern is ``posexplode`` to (row, dim, value) long
form, aggregate on (key, dim), and — when a full vector is needed
back — regroup with ``array_agg`` sorted by dim. Long form is also
what the oracle hash-compares (arrays don't survive the harness's
pandas canonicalizer; scalars do).

Float determinism: averages go through SCALED-INTEGER sums
(``round(value * 10^6)`` per element, exact integer addition, one
final division) because double summation order differs between Spark's
parallel partial aggregates and a sequential engine. Min/max need no
such treatment — they're order-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000


def explode_dims(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, dim, val) long form; dim is 0-based."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    )


def label_centroids(df: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-label mean vector in long form ``(label, dim, centroid)`` —
    the class-prototype table used for nearest-centroid classification
    and drift monitoring. One shuffle on (label, dim)."""
    dims = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("dim", "val")
    )
    scaled = F.round(F.col("val").cast("double") * SCALE).cast("long")
    return (
        dims.groupBy(label_col, "dim")
        .agg(F.sum(scaled).alias("__s"), F.count(F.lit(1)).alias("__n"))
        .select(
            F.col(label_col),
            "dim",
            F.round(F.col("__s").cast("double") / (F.col("__n") * SCALE), 6).alias(
                "centroid"
            ),
        )
    )


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Scalar int8 quantization per dimension (vector-index memory
    layout): map each dimension's [min, max] corpus range onto
    [-127, 127]. Returns long form ``(id, dim, q)``.

    Two passes: per-dim min/max (order-free, exactly deterministic),
    broadcast the 1-row-per-dim stats table, then a narrow map
    quantizes every element. Degenerate dims (max == min) quantize
    to 0."""
    dims = explode_dims(df, id_col, vec_col)
    stats = dims.groupBy("dim").agg(
        F.min(F.col("val").cast("double")).alias("__lo"),
        F.max(F.col("val").cast("double")).alias("__hi"),
    )
    q = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.round(
            (F.col("val").cast("double") - F.col("__lo"))
            / (F.col("__hi") - F.col("__lo"))
            * 254
            - 127
        )
    )
    return (
        dims.join(F.broadcast(stats), "dim")
        .select(F.col(id_col), "dim", q.cast("int").alias("q"))
    )


def norm_outliers_by_label(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    band: float = 0.2,
) -> DataFrame:
    """Embedding QA: per-label L2-norm profile plus counts of vectors
    whose norm deviates more than ``band`` (fractionally) from the
    label mean — collapsed (near-zero) or exploded vectors poison
    cosine thresholds and ANN recall long before they show up in
    downstream evals.

    Exactness: the norm itself is an index-ordered fold + sqrt
    (deterministic, same as similarity.norm); the label mean goes
    through scaled-integer sums reduced by integer division (ppm),
    never ROUND on a float quotient — a .5-tie there rounds HALF_UP
    in Spark but banker's in other engines. Scale: one keyed aggregate for the
    stats, a broadcast of the k-row stats table back onto the norms,
    one more keyed aggregate for the flags — no unkeyed shuffle."""
    from .similarity import norm

    norms = df.select(
        F.col(label_col), F.col(id_col), F.round(norm(vec_col), 6).alias("__nrm")
    )
    scaled = F.round(F.col("__nrm") * SCALE).cast("long")
    stats = (
        norms.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(scaled).alias("__s"),
            F.min("__nrm").alias("min_norm"),
            F.max("__nrm").alias("max_norm"),
        )
        .select(
            F.col(label_col),
            "n_vecs",
            (F.expr("__s div n_vecs").cast("double") / SCALE).alias("mean_norm"),
            "min_norm",
            "max_norm",
        )
    )
    flagged = norms.join(
        F.broadcast(stats.select(label_col, "mean_norm")), label_col
    )
    flags = flagged.groupBy(label_col).agg(
        F.sum(
            F.when(
                F.col("__nrm") < (1.0 - band) * F.col("mean_norm"), 1
            ).otherwise(0)
        ).alias("n_low"),
        F.sum(
            F.when(
                F.col("__nrm") > (1.0 + band) * F.col("mean_norm"), 1
            ).otherwise(0)
        ).alias("n_high"),
    )
    return stats.join(flags, label_col).orderBy(label_col)


def signbit_bucket_dedup(df, id_col: str, vec_col: str, n_bits: int = 16):
    """SimHash-for-embeddings: bucket vectors by the sign pattern of
    their first ``n_bits`` dimensions (MSB-first integer), keep the
    minimum id per bucket as canonical. Two vectors in the same bucket
    agree on every leading sign — a coarse, exact-arithmetic
    near-duplicate grouping (the embedding twin of dedup.simhash; a
    random-projection variant would broadcast a projection matrix and
    is a drop-in).

    Scale: the bucket id is a pure narrow map (integer fold over a
    slice); the canonical choice is one hash aggregate + a broadcast
    join back. No floats leave the row: engine-exact."""
    bucket = F.expr(
        f"aggregate(slice({vec_col}, 1, {n_bits}), 0L, "
        "(acc, x) -> acc * 2 + CASE WHEN x >= 0 THEN 1L ELSE 0L END)"
    )
    tagged = df.select(F.col(id_col), bucket.alias("bucket"))
    canon = tagged.groupBy("bucket").agg(F.min(id_col).alias("canonical_id"))
    return (
        tagged.join(canon, "bucket")
        .select(
            id_col,
            "bucket",
            "canonical_id",
            (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
        )
    )


def label_separation(df: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """X27: inter-label centroid separation — cosine similarity
    between every pair of label centroids (label_a < label_b). High
    inter-class similarity predicts nearest-centroid confusion and
    weak cluster structure before any classifier is trained.

    Exactness: centroids use the proven per-dim scaled-integer mean
    (same formula as label_centroids, hash-green on negative
    components); each centroid component is then re-scaled to an
    EXACT ppm integer so the dot product and norms are order-free
    integer sums — float enters only at the final sqrt/division,
    rounded to 6 (the similarity convention). |c|<=1e6 ppm and <=4096
    dims keeps every sum far inside int64.

    Scale: one (label, dim) aggregate over the corpus; the pair join
    runs on the k·dims centroid table (k = label count) — corpus
    size never appears in the join."""
    dims = df.select(
        F.col(label_col).alias("__lab"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    )
    scaled = F.round(F.col("val").cast("double") * SCALE).cast("long")
    cents = (
        dims.groupBy("__lab", "dim")
        .agg(F.sum(scaled).alias("__s"), F.count(F.lit(1)).alias("__n"))
        .select(
            F.col("__lab"),
            "dim",
            F.round(
                F.round(
                    F.col("__s").cast("double") / (F.col("__n") * SCALE), 6
                )
                * SCALE
            )
            .cast("long")
            .alias("__cppm"),
        )
        .localCheckpoint(eager=True)
    )
    a = cents.select(
        F.col("__lab").alias("label_a"), "dim", F.col("__cppm").alias("__ca")
    )
    b = cents.select(
        F.col("__lab").alias("label_b"), "dim", F.col("__cppm").alias("__cb")
    )
    pairs = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("__ca") * F.col("__cb")).alias("__dot"),
            F.sum(F.col("__ca") * F.col("__ca")).alias("__na"),
            F.sum(F.col("__cb") * F.col("__cb")).alias("__nb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(
            F.col("__dot").cast("double")
            / (F.sqrt(F.col("__na").cast("double")) * F.sqrt(F.col("__nb").cast("double"))),
            6,
        ).alias("cos_sim"),
    ).orderBy("label_a", "label_b")


def _divisible_guard(vec_expr: str, m: int):
    """A filter predicate that RAISES if ``size(vec) % m != 0``
    instead of letting ``size(vec) div m`` silently drop trailing
    dimensions. ``assert_true`` returns NULL on success, so the
    ``IS NULL`` wrapper makes it a always-true filter that Catalyst
    cannot prune away (an unreferenced projected column would be)."""
    return F.expr(
        f"assert_true(size({vec_expr}) % {int(m)} = 0, "
        f"'pq: vector length must be divisible by m={int(m)} "
        f"(trailing dimensions would be silently dropped)') IS NULL"
    )


# Squared L2 between two array expressions, computed in double (the
# fold is index-ordered, so the result is deterministic).
_L2SQ_SQL = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
    "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, (acc, v) -> acc + v)"
)


def pq_codebook(
    corpus: DataFrame, id_col: str, vec_col: str, m: int, ksub: int
) -> DataFrame:
    """Product-quantization codebook: the vector space is split into
    ``m`` contiguous subspaces; each subspace gets ``ksub`` codewords
    — the sub-vectors of the ``ksub`` deterministically drawn corpus
    rows (smallest md5(id), the same seed-free draw as
    ``similarity.ivf_centroids``; k-means refinement would slot in
    exactly as it does there). Returns (subspace, code_id,
    codeword).

    Vector length must be divisible by ``m`` — a runtime
    ``assert_true`` guard (in a filter, so Catalyst cannot prune it)
    raises on the first offending row rather than silently
    quantizing a truncated vector."""
    sel = (
        corpus.select(F.col(id_col).alias("code_id"), F.col(vec_col).alias("__v"))
        .where(_divisible_guard("__v", m))
        .orderBy(F.md5(F.col("code_id").cast("string")), F.col("code_id"))
        .limit(ksub)
    )
    dim_expr = f"size(__v) div {int(m)}"
    return sel.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {int(m)} - 1), s -> struct("
                f"s AS subspace, "
                f"slice(__v, s * ({dim_expr}) + 1, {dim_expr}) AS codeword))"
            )
        ).alias("__e"),
        "code_id",
    ).select(
        F.col("__e.subspace").alias("subspace"),
        "code_id",
        F.col("__e.codeword").alias("codeword"),
    )


def pq_encode(
    corpus: DataFrame, id_col: str, vec_col: str, m: int = 4, ksub: int = 8
) -> DataFrame:
    """X42: product-quantization encoding — every vector is
    compressed to ``m`` small integers (one nearest-codeword id per
    subspace, squared-L2 metric, rounded to 6 with code id as
    tie-break). PQ is the memory half of a billion-scale ANN index
    (IVF picks the list, PQ shrinks the residents ~100×: a 64-dim
    float32 vector becomes m=4 bytes); this operator produces the
    codes and the per-subspace quantization error, long-form one row
    per (vector, subspace).

    Scale: ZERO shuffle for the encoding itself — the m·ksub-row
    codebook collapses to a one-row array, broadcasts, and each
    vector scores all codewords inside one transform/array_sort
    expression in the scan stage (the ``similarity.ivf_assign``
    pattern, m·ksub comparisons per row). The deterministic codebook
    draw is a k-row orderBy-limit on the hash — the only non-map
    step, and it is ksub rows."""
    cb = pq_codebook(corpus, id_col, vec_col, m, ksub)
    cb_arr = cb.agg(
        F.collect_list(F.struct("subspace", "code_id", "codeword")).alias("__cb")
    )
    corpus = corpus.where(_divisible_guard(vec_col, m))
    dim = f"(size({vec_col}) div {int(m)})"
    best = F.expr(
        f"transform(sequence(0, {int(m)} - 1), s -> "
        "element_at(array_sort(transform("
        "filter(__cb, c -> c.subspace = s), c -> struct("
        + "round("
        + _L2SQ_SQL.format(
            a=f"slice({vec_col}, s * {dim} + 1, {dim})", b="c.codeword"
        )
        + ", 6) AS dist_sq, c.code_id AS cid)), "
        "(l, r) -> CASE WHEN l.dist_sq < r.dist_sq THEN -1 "
        "WHEN l.dist_sq > r.dist_sq THEN 1 "
        "WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1 ELSE 0 END"
        "), 1))"
    )
    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(cb_arr))
        .select(F.col(id_col), F.posexplode(best).alias("__s", "__best"))
        .select(
            F.col(id_col),
            F.col("__s").alias("subspace"),
            F.col("__best.cid").alias("code_id"),
            F.col("__best.dist_sq").alias("dist_sq"),
        )
    )


# Deterministic Rademacher sign for projection cell (i -> j): bit 7
# of a multiplicative integer mix. Bit 0 of any linear mix in (i, j)
# degenerates to parity-of-(i+j); a middle bit does not. In
# production the sign matrix is a seeded broadcast array; this
# arithmetic form keeps the operator engine-verifiable.
_RP_SIGN_SQL = (
    "(CASE WHEN ((({i} * 2654435761 + {j} * 40503) div 128) % 2) = 0 "
    "THEN 1.0D ELSE -1.0D END)"
)


def random_projection(
    df: DataFrame, id_col: str, vec_col: str, out_dim: int = 16
) -> DataFrame:
    """X46: Johnson-Lindenstrauss signed random projection — each
    d-dim embedding maps to ``out_dim`` components y_j =
    (1/sqrt(out_dim)) * sum_i s(i,j)·x_i with Rademacher signs. The
    standard pre-reduction before LSH bucketing / ANN indexing /
    pairwise-distance work at corpus scale: JL keeps pairwise
    distances within (1±eps) while cutting the per-vector cost of
    everything downstream by d/out_dim. Long-form output
    (id, out_dim index, value rounded to 6) — the scalar shape the
    oracle harness hashes.

    Scale: ZERO shuffle — the full projection is ``out_dim``
    index-ordered fold expressions evaluated in the scan stage
    (d·out_dim multiply-adds per row, the dense-GEMM row form). The
    sign is computed arithmetically per (i, j) cell, so there is no
    matrix to distribute at all; a learned/seeded matrix would
    broadcast as one array row without changing the plan shape."""
    j_struct = (
        "transform(sequence(0, {m} - 1), j -> struct(j AS rp_dim, "
        "round(aggregate(zip_with({v}, sequence(0, size({v}) - 1), "
        "(x, i) -> CAST(x AS DOUBLE) * " + _RP_SIGN_SQL.format(i="i", j="j") + "), "
        "0.0D, (acc, t) -> acc + t) / sqrt(CAST({m} AS DOUBLE)), 6) AS val))"
    ).format(m=int(out_dim), v=vec_col)
    # r14: spread a small single-split scan before the d·out_dim
    # per-row folds (catalog.spread_small_scan — no-op at scale).
    from ..catalog import spread_small_scan

    return (
        spread_small_scan(df)
        .select(F.col(id_col), F.col(vec_col))
        .select(F.col(id_col), F.explode(F.expr(j_struct)).alias("__p"))
        .select(
            F.col(id_col),
            F.col("__p.rp_dim").alias("rp_dim"),
            F.col("__p.val").alias("val"),
        )
    )


def dimension_moments(df: DataFrame, vec_col: str) -> DataFrame:
    """X50: per-dimension embedding moments — exact mean and variance
    for every embedding dimension, the anisotropy/collapse monitor
    for an embedding corpus: a dimension whose variance craters has
    collapsed (the encoder ignores it); a few dimensions dominating
    the variance mass means anisotropic embeddings that break cosine
    geometry. Run before committing an ANN index or SemDeDup pass to
    an embedding version.

    Exactness: components are scaled to 1e-6 integers (the proven
    ``label_centroids`` convention), then summed as DECIMAL(38,0) so
    Σv and Σv² are EXACT and order-free at any corpus size (int64
    would overflow Σv² past ~9e6 rows; decimal holds to ~1e38 —
    beyond any real corpus). mean = Σv/(n·1e6) and
    var = (n·Σv² − (Σv)²)/(n²·1e12) convert to double only at the
    final division — one fixed expression tree, engine-portable —
    and round to 6.

    Scale: ONE (dim) aggregate with map-side partial combine over the
    posexploded corpus; output cardinality = vector dimensionality.
    No joins, no windows."""
    v = F.round(F.col("val").cast("double") * SCALE).cast("long")
    dims = df.select(F.posexplode(F.col(vec_col)).alias("dim", "val")).select(
        "dim",
        v.alias("__v"),
    )
    agg = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__v").cast("decimal(38,0)")).alias("__sv"),
        F.sum((F.col("__v") * F.col("__v")).cast("decimal(38,0)")).alias("__svv"),
    )
    mean = F.round(
        F.col("__sv").cast("double") / (F.col("n").cast("double") * float(SCALE)),
        6,
    )
    var_num = (
        F.col("n").cast("decimal(38,0)") * F.col("__svv")
        - F.col("__sv") * F.col("__sv")
    )
    var = F.round(
        var_num.cast("double")
        / (
            F.col("n").cast("double")
            * F.col("n").cast("double")
            * float(SCALE)
            * float(SCALE)
        ),
        6,
    )
    return agg.select(
        "dim",
        "n",
        mean.alias("mean"),
        var.alias("variance"),
    ).orderBy("dim")


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 8,
) -> DataFrame:
    """X54: IVF-PQ approximate top-k with asymmetric distance
    computation (ADC) — THE billion-scale ANN deployment shape
    (Jégou et al. 2011): the coarse quantizer (X8 inverted lists)
    bounds which vectors each query scores, and product-quantization
    codes (X42) stand in for the vectors themselves, so list
    residents cost m small integers instead of d floats. Each query
    precomputes its m×ksub distance table once; a candidate's ADC
    distance is then m table lookups + an integer sum — never a
    d-dim float op per candidate.

    Determinism: every distance-table cell is an index-ordered
    squared-L2 fold scaled to an exact micro-integer
    (round(d²·10⁶)); the per-candidate ADC sum is therefore an
    ORDER-FREE integer sum, converted to double once at the end.
    Ranking ties break on neighbor id. A corpus vector lives in
    exactly one list (nprobe=1 build), so no (query, neighbor)
    dedup is needed — the ivf_topk invariant.

    Scale: the codebook and the Q·(m·ksub) distance table broadcast;
    the candidate join is keyed on centroid_id (N + Q·nprobe rows,
    as X8); the code join is keyed on neighbor id with fanout m; the
    final aggregate is (query, neighbor)-keyed. No unkeyed shuffle,
    no per-candidate d-dim arithmetic, no driver materialization."""
    from .similarity import ivf_assign, ivf_centroids

    cents = ivf_centroids(corpus, id_col, vec_col, n_centroids, 0)
    lists = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1).select(
        F.col(id_col).alias("neighbor_id"), "centroid_id"
    )
    probes = ivf_assign(queries, cents, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), "centroid_id"
    )
    codes = pq_encode(corpus, id_col, vec_col, m=m, ksub=ksub).select(
        F.col(id_col).alias("neighbor_id"), "subspace", "code_id"
    )
    cb = pq_codebook(corpus, id_col, vec_col, m, ksub)
    dim = f"(size(__qv) div {int(m)})"
    dq_u = F.expr(
        "CAST(round("
        + _L2SQ_SQL.format(
            a=f"slice(__qv, subspace * {dim} + 1, {dim})", b="codeword"
        )
        + " * 1000000) AS BIGINT)"
    )
    dtab = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
        .crossJoin(F.broadcast(cb))
        .select("query_id", "subspace", "code_id", dq_u.alias("__dq"))
    )
    adc = (
        lists.join(probes, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(codes, "neighbor_id")
        .join(F.broadcast(dtab), ["query_id", "subspace", "code_id"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__dq").alias("__adc_u"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("__adc_u"), F.asc("neighbor_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("__adc_u").cast("double") / 1_000_000.0).alias("adc_dist"),
            "rank",
        )
    )


def standardize_dims(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """X55: per-dimension z-score standardization — each component is
    re-expressed as (x − mean_dim)/stddev_dim using the X50
    ``dimension_moments`` statistics. The standard preprocessing in
    front of PQ/LSH/ANN indexing: without it, high-variance dimensions
    dominate every distance and the index keys on a handful of axes.
    Degenerate dimensions (variance 0) standardize to 0 rather than
    dividing by zero.

    Determinism: mean and variance arrive as the X50 rounded-6
    doubles; the z-score is ONE fixed expression tree
    ((x − mean)/sqrt(var), IEEE correctly-rounded ops on identical
    inputs in both engines), rounded to 6. Long-form output — the
    scalar shape the oracle harness hashes.

    Scale: the d-row moments table broadcasts onto the posexploded
    corpus; the whole operator is a broadcast join + narrow map (the
    quantize_int8 plan shape)."""
    stats = dimension_moments(df, vec_col).select("dim", "mean", "variance")
    dims = explode_dims(df, id_col, vec_col)
    z = F.when(F.col("variance") == 0.0, F.lit(0.0)).otherwise(
        F.round(
            (F.col("val").cast("double") - F.col("mean"))
            / F.sqrt(F.col("variance")),
            6,
        )
    )
    return (
        dims.join(F.broadcast(stats), "dim")
        .select(F.col(id_col), "dim", z.alias("zscore"))
    )


def _exact_gram(df: DataFrame, vec_col: str) -> DataFrame:
    """THE exact second-moment (uncentered Gram) construction — the
    load-bearing arithmetic convention (1e-6 quantization to BIGINT,
    exact BIGINT products, DECIMAL(38,0) accumulation, upper-triangle
    explode mirrored once) in ONE place, shared by X60
    ``top_principal_component``, X147 ``pc_variance_explained`` and
    the r10-queue ``participation_ratio`` (r9 review finding: three
    verbatim copies would let a scale-constant tweak silently
    desynchronize the ops and their oracles).

    Quantize ONCE per row (d rounds), not once per pair (2·d²
    rounds — the first cut paid ~5× the scan CPU); the per-pair work
    is a single BIGINT multiply (exact while |component| < ~3e3:
    3e9² < 2⁶³), DECIMAL(38,0) widening once per pair inside the
    SUM. Returns the FULL mirrored gram ``(i, j, __g)`` — ÷1e12
    recovers the double value.

    Scale: the pair explode covers only the upper triangle
    (d(d+1)/2 pairs per row); map-side partials collapse every
    partition to ≤ d(d+1)/2 rows — the shuffle is FIXED-SIZE,
    independent of corpus size."""
    # Spread a small single-split scan before the d(d+1)/2-per-row
    # pair explode (r14, catalog.spread_small_scan — no-op at scale):
    # the explode + map-side partial aggregation are scan-stage
    # per-row compute, which a single-row-group file otherwise
    # serializes onto one core.
    from ..catalog import spread_small_scan

    quant = spread_small_scan(df).select(
        F.expr(
            "transform({v}, x -> CAST(round(CAST(x AS DOUBLE) * 1000000)"
            " AS BIGINT))".format(v=vec_col)
        ).alias("__a")
    )
    pairs = quant.select(
        F.explode(
            F.expr(
                "flatten(transform(__a, (x, i) -> "
                "transform(slice(__a, i + 1, size(__a) - i), "
                "(y, j) -> struct(i AS i, i + j AS j, x * y AS p))))"
            )
        ).alias("e")
    ).select("e.i", "e.j", "e.p")
    upper = pairs.groupBy("i", "j").agg(
        F.sum(F.col("p").cast("decimal(38,0)")).alias("__g")
    )
    # Single-pass mirror (r15, the graph.py symmetrization pattern —
    # VERDICT r14 item 7): the former ``upper.unionByName(
    # upper.filter(i != j).mirror)`` referenced the aggregate TWICE,
    # and the pushed-down ``i != j`` filter made the two subtrees
    # non-identical, defeating exchange reuse — the plan scanned the
    # parquet and ran the d(d+1)/2 pair explode + partial aggregation
    # ONCE PER BRANCH (plans/r15/embedding_top_pc_before.txt: two
    # `Scan parquet` leaves under the Union).  Exploding both
    # orientations out of the one aggregate keeps a single scan; the
    # diagonal is emitted once (pos 0 only), off-diagonals twice —
    # the identical row multiset.
    both = F.array(
        F.struct(F.col("i"), F.col("j"), F.col("__g")),
        F.struct(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("__g")
        ),
    )
    return (
        upper.select(F.posexplode(both).alias("__o", "__e"))
        .filter((F.col("__o") == 0) | (F.col("__e.i") != F.col("__e.j")))
        .select("__e.i", "__e.j", "__e.__g")
    )


# The X60 normalization: divide by the max-|w| element (first such
# index on ties) — pivot loading exactly 1.0, sign inherited from the
# pivot. ``__w`` is a LAMBDA-BOUND variable (see _power_u_sql), so
# the 4 references here never re-evaluate the matvec that produced it.
_NORMALIZE_SQL = (
    "transform(__w, x -> x / element_at(__w, "
    "CAST(array_position(transform(__w, y -> abs(y)), "
    "array_max(transform(__w, y -> abs(y)))) AS INT)))"
)


def _power_u_sql(dim: int, iters: int) -> str:
    """The X60 power iteration u ← normalize(G·u), u₀ = 1, as ONE SQL
    expression over a ``mat`` column (the j-ordered Gram rows).

    Let-binding discipline (the SHINGLES_SQL trick, twice per step):
    every step wraps the previous u in ``transform(array(u), __u ->
    ...)`` so u is EVALUATED ONCE and referenced as a lambda variable
    inside the matvec lambda (a bare subexpression inside
    ``transform(mat, row -> ...)`` would re-evaluate per matrix row —
    d× per step, dᵎᵗᵉʳˢ overall), and binds the matvec result to
    ``__w`` the same way for the 4 normalize references.  Optimizer
    rules cannot inline through lambda variables, so the tree stays
    linear in ``iters`` under any Project/Generate rewriting —
    chained per-step Projects measurably do NOT survive that (the
    CollapseProject/ColumnPruning fixpoint inlines single-use aliases
    into lambda bodies and the optimizer pass itself blows up).

    Per-row cost: iters·d² interpreted multiply-adds on the single
    collected row — microseconds for real embedding dims."""
    matvec = (
        "transform(mat, row -> aggregate(zip_with(row, __u, "
        "(g, x) -> g * x), CAST(0.0 AS DOUBLE), (a, b) -> a + b))"
    )
    u = f"transform(sequence(1, {dim}), x -> CAST(1.0 AS DOUBLE))"
    for _ in range(iters):
        u = (
            "element_at(transform(array(" + u + "), __u -> "
            "element_at(transform(array(" + matvec + "), __w -> "
            + _NORMALIZE_SQL + "), 1)), 1)"
        )
    return u


# Ceiling on the single-row Gram form: the d×d matrix rides ONE
# aggregate row (d² doubles — 18 MB at d=1536, 134 MB at d=4096).
# Beyond this the row stops being "KB-sized" and a single executor
# task must hold/serialize it whole; fail loudly with the upgrade
# path instead of OOMing an executor at extreme dims (VERDICT r14
# item 8 / "what's wrong" 5).
_MAX_1ROW_GRAM_DIM = 4096


def _power_iteration_1row(
    df: DataFrame, vec_col: str, dim: int, iters: int
) -> DataFrame:
    """The X60 power iteration as ONE single-row expression — shared
    by ``top_principal_component``, ``remove_top_pc`` and
    ``pc_variance_explained``.

    Returns a 1-row frame ``(mat, u)``: ``mat`` the j-ordered exact
    Gram (rows i-ordered, ÷1e12 doubles), ``u`` the unrounded power
    vector after exactly ``iters`` steps from u₀ = 1.

    r14 optimization (guide §2.4 — remove shuffles outright): the
    former loop ran each step as a d-row crossJoin + collect_list
    aggregate — 2 Exchanges and a broadcast per iteration, ~32
    latency-bound micro-stages per query at ANY corpus size, plus an
    eager localCheckpoint (a blocking driver sync) to keep the Gram
    from re-planning per step.  Collecting the d-row Gram into one
    d×d array row first (d² doubles — KB-sized for real embedding
    dims) turns the whole iteration into one expression on a 1-row
    frame (``_power_u_sql``): zero per-iteration exchanges, one Spark
    job, no checkpoint.  Arithmetic is bit-identical: each matvec is
    the same zip_with fold over the same i-ordered row arrays, the
    j-ordered ``mat`` reproduces the old collect-sorted warr
    ordering, and the normalize expression is unchanged."""
    if dim > _MAX_1ROW_GRAM_DIM:
        raise ValueError(
            f"dim={dim} exceeds the single-row Gram ceiling "
            f"({_MAX_1ROW_GRAM_DIM}): the d×d matrix would put "
            f"{dim * dim * 8 / 2**20:.0f} MB in one aggregate row. "
            "Use a distributed per-step matvec (d-row Gram joined per "
            "iteration) for extreme dims."
        )
    gram = _exact_gram(df, vec_col)
    gj = gram.groupBy("j").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, __g))), "
            "s -> CAST(s.__g AS DOUBLE) / 1000000000000.0)"
        ).alias("row")
    )
    return gj.groupBy().agg(
        F.expr(
            "transform(array_sort(collect_list(struct(j, row))), s -> s.row)"
        ).alias("mat")
    ).select("mat", F.expr(_power_u_sql(dim, iters)).alias("u"))


def top_principal_component(
    df: DataFrame, vec_col: str, dim: int, iters: int = 8
) -> DataFrame:
    """X60: leading principal direction of the embedding corpus by
    distributed power iteration — the first step of every PCA /
    whitening / ABTT ("all-but-the-top") embedding post-process, and
    the quantitative form of the anisotropy question X50 only
    monitors per-dimension: WHICH direction carries the dominant
    variance mass.

    Semantics: the corpus second-moment (uncentered Gram) matrix
    G = Σ a·aᵀ over 1e-6-quantized vectors, then ``iters`` pinned
    power-iteration steps u ← normalize(G·u) from u₀ = 1. The output
    is DEFINED as exactly ``iters`` iterations (determinism over
    convergence — 8 steps separate the top eigenpair whenever the
    spectral gap is real; a near-tie needs more steps, rerun with
    higher ``iters``). Normalization divides by the max-|w| element
    (first such index on ties), so the pivot loading is exactly 1.0
    and the sign convention is inherited from the pivot — no sqrt,
    no norm.

    Exactness: quantized components are BIGINTs; every Gram entry is
    an exact DECIMAL(38,0) sum of BIGINT products (order-free at any
    corpus size), converted to double ONCE (÷1e12, correctly
    rounded). Each iteration's matvec is an INDEX-ORDERED fold
    (zip_with + aggregate — the X46 convention), so the double
    accumulation order is pinned in both engines; argmax uses
    array_position on the abs array (first match = lowest index).

    Scale: the pair explode covers only the UPPER TRIANGLE (G is
    symmetric — d(d+1)/2 pairs per row, mirrored once after the
    aggregate), and map-side partial aggregation collapses every
    partition to ≤d(d+1)/2 rows — the Gram shuffle is FIXED-SIZE,
    independent of corpus size, and the scan-stage multiply-add work
    is half the GEMM lower bound a full-matrix method pays. The
    iteration itself runs as chained Projects on the collected d×d
    array row (``_power_iteration_1row`` — zero per-step exchanges).
    ``dim`` must match the vector length: a mismatch surfaces as NULL
    loadings (zip_with pads with null and the fold propagates it),
    never as a silent truncation."""
    u = _power_iteration_1row(df, vec_col, dim, iters)
    return u.select(F.posexplode("u").alias("dim", "__l")).select(
        "dim", F.round(F.col("__l"), 6).alias("loading")
    )


def remove_top_pc(
    df: DataFrame, id_col: str, vec_col: str, dim: int, iters: int = 8
) -> DataFrame:
    """X68: "all-but-the-top" post-processing (Mu & Viswanath 2018)
    — remove the leading principal direction from every embedding:
    v' = v − (v·u / u·u)·u with u = the X60
    ``top_principal_component`` output.  Isotropy repair: the top
    component of most embedding corpora is a frequency/anisotropy
    axis that dominates cosine similarity; deflating it measurably
    improves retrieval and clustering — the standard step between
    embedding export and ANN indexing (composes X60 → X8/X42/X54).

    Determinism: u enters as the X60 ROUNDED-6 loadings (both
    engines agree on those bits); u·u and v·u are index-ordered
    left folds (the X46 convention); coef = round(v·u / u·u, 6) and
    each component round(v_i − coef·u_i, 6) are single fixed IEEE
    expression trees.  Long-form output (id, dim, deflated) — the
    scalar shape the oracle harness hashes (X55's convention).

    Scale: X60's Gram shuffle is fixed-size (≤ d(d+1)/2 rows); the
    resulting 1-row (u, u·u) frame BROADCASTS onto the corpus, and
    the deflation itself is a narrow per-row map — zero additional
    shuffles beyond X60."""
    # The X60 power vector, rounded to the same 6 digits the X60
    # loadings publish — already one row, so the former posexplode →
    # collect_list round-trip (two extra exchanges) is gone (r14).
    # __u let-binds the rounded vector once (_power_u_sql discipline).
    uarr = _power_iteration_1row(df, vec_col, dim, iters).select(
        F.expr(
            "element_at(transform(array(transform(u, x -> round(x, 6))), "
            "__u -> struct(__u AS u, aggregate(transform(__u, x -> x * x), "
            "CAST(0.0 AS DOUBLE), (a, b) -> a + b) AS uu)), 1)"
        ).alias("__s")
    ).select(F.col("__s.u").alias("u"), F.col("__s.uu").alias("uu"))
    vecs = df.select(
        F.col(id_col),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    proj = vecs.crossJoin(F.broadcast(uarr)).select(
        F.col(id_col),
        "v",
        "u",
        F.round(
            F.expr(
                "aggregate(zip_with(v, u, (x, w) -> x * w), "
                "CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
            )
            / F.col("uu"),
            6,
        ).alias("coef"),
    )
    return proj.select(
        F.col(id_col),
        F.posexplode(F.expr("zip_with(v, u, (x, w) -> x - coef * w)")).alias(
            "dim", "__d"
        ),
    ).select(F.col(id_col), "dim", F.round("__d", 6).alias("deflated"))


def embedding_health_audit(
    df: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """X80: embedding corpus health audit — the gate run before any
    indexing/clustering job: a single NaN poisons every cosine it
    touches (NaN ≥ threshold is false, so the row silently vanishes
    from near-dup candidates), a zero vector makes cosine undefined,
    and a dimension mismatch turns zip_with folds into nulls.  All
    three arrive in real exports (failed encoder batches, truncated
    writes) and none of them error on read — they corrupt results
    downstream, which is why the audit is a standing pipeline stage
    and not a debugging step.

    One corpus scan, ONE row out: n_vectors, n_dim_mismatch,
    n_with_nan, n_with_inf, n_zero_vectors, plus exact integer norm
    statistics over the CLEAN rows (min/max/mean of the 1e-6-
    quantized squared norm — order-free integer aggregation, the
    X50 convention).

    Scale: zero shuffle before the final 1-row aggregate (map-side
    partials reduce each partition to one row)."""
    checks = df.select(
        F.expr(f"size({vec_col}) != {dim}").alias("__mis"),
        F.expr(
            f"exists({vec_col}, x -> isnan(CAST(x AS DOUBLE)))"
        ).alias("__nan"),
        F.expr(
            f"exists({vec_col}, x -> abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE))"
        ).alias("__inf"),
        F.expr(
            f"NOT exists({vec_col}, x -> CAST(x AS DOUBLE) != 0.0)"
        ).alias("__zero"),
        F.expr(
            "aggregate(transform({v}, x -> "
            "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), "
            "0L, (a, q) -> a + q * q)".format(v=vec_col)
        ).alias("__nsq"),
    )
    clean_nsq = F.when(
        ~F.col("__mis") & ~F.col("__nan") & ~F.col("__inf"),
        F.col("__nsq"),
    )
    return checks.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.col("__mis").cast("int")).cast("long").alias(
            "n_dim_mismatch"
        ),
        F.sum(F.col("__nan").cast("int")).cast("long").alias("n_with_nan"),
        F.sum(F.col("__inf").cast("int")).cast("long").alias("n_with_inf"),
        F.sum(F.col("__zero").cast("int")).cast("long").alias(
            "n_zero_vectors"
        ),
        F.min(clean_nsq).alias("min_norm_sq_q"),
        F.max(clean_nsq).alias("max_norm_sq_q"),
        F.expr(
            "CASE WHEN count(CASE WHEN NOT __mis AND NOT __nan AND "
            "NOT __inf THEN 1 END) = 0 THEN NULL ELSE "
            "sum(CASE WHEN NOT __mis AND NOT __nan AND NOT __inf "
            "THEN __nsq END) div "
            "count(CASE WHEN NOT __mis AND NOT __nan AND NOT __inf "
            "THEN 1 END) END"
        ).alias("mean_norm_sq_q"),
    )


def cluster_label_purity(
    assigned: DataFrame, cluster_col: str, label_col: str
) -> DataFrame:
    """X93: cluster label purity — the standard external-validation
    panel for an unsupervised partition (IVF lists, SemDeDup
    clusters, topic buckets) against trusted labels: per cluster,
    the share held by its majority label.  Low-purity clusters are
    where an ANN index mixes classes (recall danger zone) and where
    semantic dedup would merge across labels — the per-cluster view
    is the actionable artifact (re-center, split, or quarantine).

    Semantics: majority label = highest member count, LOWEST label
    string as the deterministic tie-break; purity_ppm = 1e6 ·
    majority_n div n (exact integer division — the repo convention).

    Scale: one hash aggregate to (cluster, label) cells — bounded by
    clusters × labels, NOT corpus size — then a cells-table window.
    The corpus appears only in the first aggregate's scan."""
    from pyspark.sql.window import Window

    cells = (
        assigned.select(
            F.col(cluster_col).alias("cluster"),
            F.col(label_col).cast("string").alias("__lab"),
        )
        .groupBy("cluster", "__lab")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("__c").desc(), F.col("__lab").asc()
    )
    totals = cells.groupBy("cluster").agg(
        F.sum("__c").cast("long").alias("n_members"),
        F.count(F.lit(1)).cast("long").alias("n_labels"),
    )
    majority = (
        cells.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            "cluster",
            F.col("__lab").alias("majority_label"),
            F.col("__c").alias("majority_n"),
        )
    )
    return totals.join(majority, "cluster").select(
        "cluster",
        "n_members",
        "n_labels",
        "majority_label",
        "majority_n",
        F.expr("1000000 * majority_n div n_members")
        .cast("long")
        .alias("purity_ppm"),
    )


def centroid_silhouette(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 8,
) -> DataFrame:
    """X130: centroid-based silhouette panel — the O(N·k) simplified
    silhouette (the classic O(N²) silhouette replaced by
    distance-to-centroid, the standard large-scale variant): per
    vector, a = cosine distance to its OWN (nearest) centroid, b =
    distance to the second-nearest, s = (b−a)/max(a,b) ∈ [0,1] here
    (b ≥ a by construction of the nearest assignment).  Low s means
    the vector sits between two clusters — the internal-validation
    twin of X93's external purity panel, readable BEFORE labels
    exist.

    Exactness: cosines round to 6 then re-round ×1e6 to exact ppm
    integers (X27 convention); s_ppm = ((b−a)·1e6) div max(a,b) is
    integer division; the degenerate max(a,b)=0 row (vector equal to
    two centroids) pins s to 0.

    Scale: ZERO shuffle up to the k-row aggregate — the k-centroid
    table broadcasts as one array row and the top-2 scoring is a
    narrow map inside the scan stage (the ivf_assign shape)."""
    from .similarity import ivf_centroids, topk_centroid_expr

    cents = ivf_centroids(corpus, id_col, vec_col, n_centroids)
    cent_arr = cents.agg(
        F.collect_list(F.struct("centroid_id", "centroid_vec")).alias(
            "__cents"
        )
    )
    # the shared parity-sensitive comparator (similarity.
    # topk_centroid_expr) — top-2 in ONE row keeps the zero-shuffle
    # shape (an ivf_assign nprobe=2 posexplode would need an id-keyed
    # regroup to pair a with b).
    top2 = topk_centroid_expr(vec_col, 2)
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(cent_arr))
        .select(F.col(id_col), top2.alias("__top"))
        .select(
            F.col(id_col),
            F.col("__top")[0]["cid"].alias("centroid_id"),
            (
                F.lit(1_000_000)
                - F.round(F.col("__top")[0]["sim"] * 1_000_000).cast("long")
            ).alias("__a"),
            (
                F.lit(1_000_000)
                - F.round(F.col("__top")[1]["sim"] * 1_000_000).cast("long")
            ).alias("__b"),
        )
        .withColumn(
            "__s",
            F.expr(
                "CASE WHEN greatest(__a, __b) = 0 THEN 0 "
                "ELSE ((__b - __a) * 1000000) div greatest(__a, __b) END"
            ),
        )
    )
    return (
        scored.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.expr("sum(__s) div count(1)").cast("long").alias(
                "mean_sil_ppm"
            ),
            F.min("__s").cast("long").alias("min_sil_ppm"),
            F.sum(F.when(F.col("__s") < 500_000, 1).otherwise(0))
            .cast("long")
            .alias("n_ambiguous"),
        )
        .select(
            "centroid_id",
            "n_vectors",
            "mean_sil_ppm",
            "min_sil_ppm",
            F.expr("(1000000 * n_ambiguous) div n_vectors").alias(
                "ambiguous_ppm"
            ),
        )
        .orderBy("centroid_id")
    )


def lloyd_step_diagnostics(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 8,
) -> DataFrame:
    """X144: one-Lloyd-step convergence diagnostics — the iterative-
    refinement observability panel: run exactly one k-means update
    from the deterministic X8 seeds and report, per centroid, the
    membership before/after, the mean assignment similarity
    before/after (did the objective improve?), and how far the
    centroid itself moved (cosine between old and new vector).  The
    stop-iterating dial for ivf_centroids(refine_iters=...): when
    cos_move_e6 pins to 1e6 and memberships stop shifting, more
    rounds buy nothing.

    Exactness: assignment similarity and movement go through
    round-6-then-×1e6 ppm integers (X27 convention); means are
    sum div n.  The refined centroids reuse ivf_centroids' scaled-
    integer Lloyd round — the oracle replays it bit-identically.

    Scale: two zero-shuffle assignments (broadcast centroid array,
    narrow map) + two k-row aggregates + the k-row centroid join;
    the corpus is scanned twice, shuffled never (beyond the k·dims
    mean regroup inside the Lloyd round itself).  The BEFORE
    assignment is computed ONCE and feeds both the before-panel and
    the Lloyd mean-update (``similarity.lloyd_update``), and the
    seed draw runs once — the r9 review found the original
    ivf_centroids(refine_iters=1) composition paying one redundant
    corpus assignment and a duplicate global seed sort per run of a
    bench-pinned query.  ``emit_sim`` reads the comparator's own
    round-6 cosine instead of re-joining the centroid table and
    re-scoring — same value, one fewer join, one comparator
    expression in the codebase."""
    from .similarity import cosine, ivf_assign, ivf_centroids, lloyd_update

    c0 = ivf_centroids(
        corpus, id_col, vec_col, n_centroids, refine_iters=0
    ).localCheckpoint(eager=True)
    # eager checkpoint: assigned0 has two consumers (before-panel +
    # Lloyd update); without materialization each would replay the
    # corpus assignment from lineage.
    assigned0 = ivf_assign(
        corpus, c0, id_col, vec_col, nprobe=1, emit_sim=True
    ).localCheckpoint(eager=True)
    c1 = lloyd_update(assigned0, c0, vec_col)

    def _panel(assigned: DataFrame, n_col: str, sim_col: str) -> DataFrame:
        withsim = assigned.select(
            "centroid_id",
            F.round(F.col("sim") * 1_000_000).cast("long").alias("__sim"),
        )
        return withsim.groupBy("centroid_id").agg(
            F.count(F.lit(1)).cast("long").alias(n_col),
            F.expr("sum(__sim) div count(1)").cast("long").alias(sim_col),
        )
    before = _panel(assigned0, "n_before", "mean_sim_before_e6")
    after = _panel(
        ivf_assign(corpus, c1, id_col, vec_col, nprobe=1, emit_sim=True),
        "n_after",
        "mean_sim_after_e6",
    )
    move = (
        c0.select("centroid_id", F.col("centroid_vec").alias("__old"))
        .join(
            c1.select("centroid_id", F.col("centroid_vec").alias("__new")),
            "centroid_id",
        )
        .select(
            "centroid_id",
            F.round(F.round(cosine("__old", "__new"), 6) * 1_000_000)
            .cast("long")
            .alias("cos_move_e6"),
        )
    )
    # FULL outer (r9 review finding): a centroid that only GAINS
    # members after the Lloyd step (possible when duplicate seed
    # vectors leave a centroid empty before) has no before-row; a
    # left join would silently drop its n_after mass from the panel.
    return (
        before.join(after, "centroid_id", "full")
        .join(move, "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce("n_before", F.lit(0)).cast("long").alias("n_before"),
            "mean_sim_before_e6",
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            "mean_sim_after_e6",
            "cos_move_e6",
        )
        .orderBy("centroid_id")
    )


def pc_variance_explained(
    df: DataFrame, vec_col: str, dim: int, iters: int = 8
) -> DataFrame:
    """X147: variance-explained ratio of the leading principal
    direction — the one-number justification for the X60/X68 ABTT
    pipeline: explained = uᵀGu / (uᵀu · tr(G)) over the uncentered
    second-moment matrix G, i.e. the share of the corpus's total
    second-moment mass living along the top direction.  High share
    (anisotropy) is exactly the condition under which removing the
    top PC (X68) improves similarity geometry (Mu & Viswanath
    2018); measuring it closes that loop — X114 profiles the
    symptom (pair-cosine bias), this op quantifies the cause.

    Exactness: G is the X60 exact-DECIMAL Gram (order-free at any
    scale), converted to double once; u is X60's 8-iteration
    deterministic power vector (rounded loadings).  Every remaining
    reduction — trace, uᵀu, the G·u matvec and the final uᵀ(Gu) —
    is an INDEX-ORDERED fold over j-sorted arrays (the X46/X60
    convention), so double accumulation order is pinned in both
    engines; the ratio is emitted as a ROUND(×1e6) BIGINT ppm.

    Scale: the corpus is touched once (the fixed-size Gram
    shuffle); the iteration and the final folds run as chained
    Projects on the collected d×d array row
    (``_power_iteration_1row`` — zero per-step exchanges, no
    checkpoint; r14, bit-identical arithmetic)."""
    # Same iteration, same normalization, same final round-to-6 as
    # X60 — the (mat, u) row IS the former (gj, power vector) pair.
    # The final matvec with the ROUNDED u and the three j-ordered
    # folds (identical fold order to the former collect-sorted struct
    # form: mat/u/w are all j-ordered arrays) run as one let-bound
    # expression — __u binds the rounded vector once (_power_u_sql's
    # lambda discipline).
    cur = _power_iteration_1row(df, vec_col, dim, iters)
    final = (
        "element_at(transform(array(transform(u, x -> round(x, 6))), "
        "__u -> struct("
        "aggregate(zip_with(transform(mat, row -> "
        "aggregate(zip_with(row, __u, (g, x) -> g * x), "
        "CAST(0.0 AS DOUBLE), (a, b) -> a + b)), __u, (w, x) -> w * x), "
        "CAST(0.0 AS DOUBLE), (a, b) -> a + b) AS ugu, "
        "aggregate(transform(mat, (row, j) -> "
        "element_at(row, CAST(j + 1 AS INT))), "
        "CAST(0.0 AS DOUBLE), (a, b) -> a + b) AS trace, "
        "aggregate(transform(__u, x -> x * x), "
        "CAST(0.0 AS DOUBLE), (a, b) -> a + b) AS uu)), 1)"
    )
    w = cur.select(F.expr(final).alias("__s")).select(
        F.col("__s.ugu").alias("__ugu"),
        F.col("__s.trace").alias("__trace"),
        F.col("__s.uu").alias("__uu"),
    )
    return w.select(
        F.lit(int(dim)).cast("long").alias("dim"),
        F.round(F.col("__trace"), 6).alias("trace_total"),
        F.round(F.col("__ugu") / F.col("__uu"), 6).alias("pc_variance"),
        F.expr(
            "CAST(ROUND(1000000 * __ugu / (__uu * __trace)) AS BIGINT)"
        ).alias("explained_ppm"),
    )


def participation_ratio(df: DataFrame, vec_col: str) -> DataFrame:
    """r10-queue: embedding participation ratio — the effective
    dimensionality scalar PR = (Σλ)²/Σλ² = trace(G)²/‖G‖²_F of the
    corpus second-moment matrix, computed WITHOUT any
    eigendecomposition (trace and Frobenius norm are entry-level
    sums — the identity that makes effective rank measurable at any
    scale). PR ∈ [1, d]: near 1 means one direction carries
    everything (X60's top PC is the whole story — rank-collapsed
    embeddings), near d means isotropy; the scalar companion to
    X114's pairwise-cosine histogram and the dial that says whether
    X68's deflation is even needed.

    Exactness: Gram entries are X60's exact DECIMAL(38,0) sums of
    1e-6-quantized BIGINT products (order-free), converted to double
    once; trace and ‖G‖²_F are INDEX-ORDERED folds over the (i,j)-
    sorted entry array (the X46/X60 convention), so the double
    accumulation order is pinned in both engines; PR is one round-6
    double division, NULL on the all-zero degenerate corpus.

    Scale: identical to X60's Gram stage — upper-triangle pair
    explode, map-side partials collapse every partition to
    ≤ d(d+1)/2 rows, a FIXED-SIZE shuffle independent of corpus
    size; the folds run on one d²-entry array row. ``dim`` is
    DERIVED from the data (max array size — r9 review finding: a
    parameter the computation never validates is a lie waiting to
    be read), so the PR ≤ dim bound always refers to the actual
    vectors."""
    gram = _exact_gram(df, vec_col)
    ents = gram.agg(
        F.expr(
            "array_sort(collect_list(struct(i, j, "
            "CAST(__g AS DOUBLE) / 1000000000000.0 AS gd)))"
        ).alias("es")
    )
    n = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.max(F.size(F.col(vec_col))).cast("long").alias("dim"),
    )
    return (
        ents.crossJoin(F.broadcast(n))
        .select(
            "dim",
            "n_vectors",
            F.expr(
                "aggregate(filter(es, e -> e.i = e.j), 0.0D, "
                "(acc, e) -> acc + e.gd)"
            ).alias("__tr"),
            F.expr(
                "aggregate(es, 0.0D, (acc, e) -> acc + e.gd * e.gd)"
            ).alias("__fr"),
        )
        .select(
            "dim",
            "n_vectors",
            F.round("__tr", 6).alias("trace_total"),
            F.round("__fr", 6).alias("frob_sq"),
            F.when(
                F.col("__fr") != 0.0,
                F.round(F.col("__tr") * F.col("__tr") / F.col("__fr"), 6),
            ).alias("participation_ratio"),
        )
    )


def embedding_drift_by_label(
    df: DataFrame, id_col: str, vec_col: str, label_col: str
) -> DataFrame:
    """X159 (r11-queue): per-label embedding drift between the two
    id-parity halves of the corpus — the embedding-space twin of
    X70's snapshot diff: if half A and half B of the same label
    populate different regions (mean-direction cosine < 1, mean-norm
    ratio off 1e6), the label's embeddings were produced by drifting
    models/configs and every similarity threshold tuned on one half
    mis-fires on the other.

    Exactness: cosine is scale-invariant, so the mean-direction
    cosine is computed on the exact integer SUM vectors (per-dim
    Σ round(1e6·x), the X50/X60 quantization); dot and norms²
    accumulate in DECIMAL(38,0); ONE double expression (sqrt·sqrt,
    /) at the end, round-6. Norms of the MEAN vectors are
    ‖Σ‖/(n·1e6), reported as e6-scaled integers via the standard
    round-×1e6 re-round.

    Scale: posexplode → (label, half, dim) keyed sums (fixed-size:
    |labels|·2·d rows) → d-element index-ordered arrays → narrow
    fold. Corpus touched once."""
    dims = df.select(
        F.col(label_col).alias("label"),
        (F.col(id_col) % 2).cast("int").alias("__half"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    ).select(
        "label",
        "__half",
        "dim",
        F.round(F.col("val").cast("double") * 1_000_000)
        .cast("long")
        .alias("__q"),
    )
    # Conditional half-sums per (label, dim) — a dim observed in only
    # one half (ragged/malformed embeddings) contributes 0 on the
    # other side, the mathematically right zero-vector convention,
    # and both engines aggregate the SAME dim support (a dim-keyed
    # join diverged on exactly this class; review finding).
    sums = dims.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("__half") == 0, F.col("__q")).otherwise(0))
        .cast("long")
        .alias("__sa"),
        F.sum(F.when(F.col("__half") == 1, F.col("__q")).otherwise(0))
        .cast("long")
        .alias("__sb"),
    )
    agg = sums.groupBy("label").agg(
        F.sum(
            F.col("__sa").cast("decimal(38,0)") * F.col("__sb")
        ).alias("__dot"),
        F.sum(
            F.col("__sa").cast("decimal(38,0)") * F.col("__sa")
        ).alias("__qa"),
        F.sum(
            F.col("__sb").cast("decimal(38,0)") * F.col("__sb")
        ).alias("__qb"),
    )
    counts = df.groupBy(
        F.col(label_col).alias("label"),
        (F.col(id_col) % 2).cast("int").alias("__half"),
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    ca = counts.filter(F.col("__half") == 0).select(
        "label", F.col("__n").alias("n_a")
    )
    cb = counts.filter(F.col("__half") == 1).select(
        "label", F.col("__n").alias("n_b")
    )
    return (
        agg.join(ca, "label")
        .join(cb, "label")
        .select(
            "label",
            "n_a",
            "n_b",
            F.when(
                (F.col("__qa") != 0) & (F.col("__qb") != 0),
                F.round(
                    F.col("__dot").cast("double")
                    / (
                        F.sqrt(F.col("__qa").cast("double"))
                        * F.sqrt(F.col("__qb").cast("double"))
                    ),
                    6,
                ),
            ).alias("mean_cos"),
            F.round(
                F.sqrt(F.col("__qa").cast("double"))
                / (F.col("n_a").cast("double"))
            )
            .cast("long")
            .alias("mean_norm_a_e6"),
            F.round(
                F.sqrt(F.col("__qb").cast("double"))
                / (F.col("n_b").cast("double"))
            )
            .cast("long")
            .alias("mean_norm_b_e6"),
        )
        .orderBy("label")
    )


def pq_distortion_by_label(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    m: int = 4,
    ksub: int = 8,
) -> DataFrame:
    """X186: product-quantization distortion audit per (label,
    subspace) — closes the X42/X54 PQ chain with the question a
    deployment asks before trusting ADC search: WHERE does the
    codebook hurt?  A label whose mean quantization error towers
    over the others is under-represented in the codebook (its ADC
    distances are systematically biased — recall loss X73/X125 would
    measure downstream); a subspace with dead codewords
    (codes_used < ksub) is wasted index bytes.

    Exactness: X42's round-6 per-(vector, subspace) dist_sq is
    scaled to e6 integers per row BEFORE summation (no float
    accumulation); means are integer divisions.

    Scale: rides X42's zero-shuffle encoding (broadcast codebook,
    m*ksub comparisons per row in the scan stage) + one
    (label, subspace)-keyed aggregate."""
    codes = pq_encode(emb, id_col, vec_col, m, ksub)
    labeled = codes.join(
        emb.select(F.col(id_col), F.col(label_col).alias("label")), id_col
    )
    return (
        labeled.groupBy("label", "subspace")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("code_id").alias("codes_used"),
            F.expr(
                "sum(CAST(ROUND(dist_sq * 1000000) AS BIGINT)) div count(1)"
            ).alias("mean_dist_sq_e6"),
            F.max(
                F.expr("CAST(ROUND(dist_sq * 1000000) AS BIGINT)")
            ).alias("max_dist_sq_e6"),
        )
        .orderBy("label", "subspace")
    )
