"""X3/X4: vector similarity + approximate nearest neighbors
(SURVEY §2.11) over ``array<float>`` embedding columns.

Dot products / cosines run through Spark's higher-order array
functions (``zip_with`` + ``aggregate``) — JVM-side, no UDF, and a
left-fold in index order, which makes the floating-point result
deterministic. Elements are cast to double *before* multiplication so
precision matches a double-computing oracle within 1e-15 (outputs are
rounded to 6 decimals).

Scale path: brute-force top-k is O(Q·N) — fine when the query set is
broadcast-small. For N×N all-pairs at 100 TB, LSH bucketing (sign-bit
buckets here; random-hyperplane in general) shrinks the join to
within-bucket pairs, trading recall for a bounded shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# cosine(a, b) over two array columns, computed in double.
_COS_SQL = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0.0D, (acc, v) -> acc + v) / "
    "(sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * "
    "sqrt(aggregate({b}, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


def cosine(a: str, b: str) -> Column:
    return F.expr(_COS_SQL.format(a=a, b=b))


def dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def norm(a: str) -> Column:
    return F.expr(
        f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )


def sign_bucket(a: str, bits: int = 3) -> Column:
    """Axis-aligned LSH bucket: sign bits of the first ``bits``
    components (a degenerate random-hyperplane LSH with unit
    hyperplanes — deterministic and SQL-expressible)."""
    expr = " + ".join(
        f"(CASE WHEN element_at({a}, {i + 1}) > 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(bits)
    )
    return F.expr(expr).cast("int")


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """X4 baseline: exact top-k by cosine. The query side is expected
    to be small and is broadcast; ranking uses the *rounded* cosine
    with the corpus id as tie-break so results are reproducible."""
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("__qv", "__cv"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    impl: str = "block",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, all-pairs exact.

    ``impl="expr"``: pure SQL-expression cross join — oracle-identical
    arithmetic, but the higher-order-function fold is interpreted
    (O(N²·d) scalar ops): fine for small N, ~25× slower than BLAS.

    ``impl="blas"``: one side of the product is collect()ed to the
    driver and broadcast as a normalized numpy matrix; each partition
    of the other side multiplies its block against it (``mapInPandas``
    + float64 GEMM). Fastest when the corpus fits in driver memory —
    opt-in only, because at production corpus sizes the collect() OOMs
    the driver (the reference's documented failure mode).

    ``impl="block"`` (default): the scale path. Rows are hashed into
    ``n_blocks`` blocks; each row is replicated once per unordered
    block pair it belongs to (shuffle volume N·n_blocks rows), then
    each (block_a ≤ block_b) group runs the same float64 GEMM kernel
    via ``applyInPandas``. No driver materialization, no broadcast —
    per-task memory is bounded by ~2·N/n_blocks rows, so sizing
    ``n_blocks`` ≈ N·d·8B / executor-task-memory keeps every block
    pair in RAM regardless of corpus size. All three impls round to 6
    decimals and agree bit-for-bit.

    Zero-norm convention (round 13, unified with the r12 gemm
    kernels): a zero-norm vector's cosine is NaN in the numpy
    kernels (``errstate`` guards silence the divide) and NULL in the
    expr path — both fail every ``>= threshold`` comparison, so a
    zero vector simply emits no pairs in all three impls.  Pinned by
    ``tests/test_similarity.py`` on a zero-vector fixture; the X80
    norm audit remains the upstream catch."""
    if impl == "expr":
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
        return (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a", "id_b", F.round(cosine("__va", "__vb"), 6).alias("cos_sim")
            )
            .filter(F.col("cos_sim") >= threshold)
        )

    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    if impl == "block":
        src = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
        )
        # replicate each row into every unordered block pair it joins:
        # a row in block i lands in group (min(i,j), max(i,j)) for each
        # j — so group (i,j) holds exactly the rows of blocks i and j,
        # and every unordered row pair appears in exactly one group.
        exploded = src.withColumn(
            "other", F.explode(F.array(*[F.lit(j) for j in range(n_blocks)]))
        ).select(
            F.least("blk", "other").alias("pb_a"),
            F.greatest("blk", "other").alias("pb_b"),
            "blk",
            "id",
            "v",
        )

        def _pair_gemm(pdf: pd.DataFrame) -> pd.DataFrame:
            pa, pb = int(pdf["pb_a"].iloc[0]), int(pdf["pb_b"].iloc[0])
            if pa == pb:
                X = np.array(list(pdf["v"]), dtype=np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    X /= np.linalg.norm(X, axis=1, keepdims=True)
                Xi = pdf["id"].to_numpy(dtype=np.int64)
                sims = np.round(X @ X.T, 6)
                ia, ib = np.nonzero((sims >= threshold) & (Xi[:, None] < Xi[None, :]))
                return pd.DataFrame(
                    {"id_a": Xi[ia], "id_b": Xi[ib], "cos_sim": sims[ia, ib]}
                )
            left = pdf[pdf["blk"] == pa]
            right = pdf[pdf["blk"] == pb]
            if left.empty or right.empty:
                return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                    {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
                )
            X = np.array(list(left["v"]), dtype=np.float64)
            Y = np.array(list(right["v"]), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                X /= np.linalg.norm(X, axis=1, keepdims=True)
                Y /= np.linalg.norm(Y, axis=1, keepdims=True)
            Xi = left["id"].to_numpy(dtype=np.int64)
            Yi = right["id"].to_numpy(dtype=np.int64)
            sims = np.round(X @ Y.T, 6)
            ia, ib = np.nonzero(sims >= threshold)
            return pd.DataFrame(
                {
                    "id_a": np.minimum(Xi[ia], Yi[ib]),
                    "id_b": np.maximum(Xi[ia], Yi[ib]),
                    "cos_sim": sims[ia, ib],
                }
            )

        return exploded.groupBy("pb_a", "pb_b").applyInPandas(_pair_gemm, out_schema)

    spark = df.sparkSession
    corpus = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).collect()
    ids = np.array([r.id for r in corpus], dtype=np.int64)
    mat = np.array([r.v for r in corpus], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def _block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B, Bi = b_mat.value, b_ids.value
        for pdf in batches:
            A = np.array(list(pdf["v"]), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                A /= np.linalg.norm(A, axis=1, keepdims=True)
            Ai = pdf["id"].to_numpy(dtype=np.int64)
            sims = np.round(A @ B.T, 6)
            ia, ib = np.nonzero((sims >= threshold) & (Ai[:, None] < Bi[None, :]))
            yield pd.DataFrame(
                {"id_a": Ai[ia], "id_b": Bi[ib], "cos_sim": sims[ia, ib]}
            )

    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).mapInPandas(
        _block, out_schema
    )


# ---------------------------------------------------------------------------
# X4c: IVF (inverted-file) ANN — the scale path for large query sets.
# ---------------------------------------------------------------------------


def ivf_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, k: int, refine_iters: int = 0
) -> DataFrame:
    """Pick ``k`` deterministic pseudo-random centroids: the vectors
    with the smallest md5(id) (a stable "random" draw any engine
    reproduces — no RNG seed, no kmeans nondeterminism), then refine
    with ``refine_iters`` Lloyd (k-means) iterations.

    Each Lloyd round is: assign every corpus vector to its nearest
    centroid (broadcast k-row centroid table, narrow map), then
    recompute each centroid as its members' mean.  The mean goes
    through SCALED-INTEGER per-dimension sums (posexplode long form,
    ``round(val·10⁶)`` exact long addition, one final division — same
    convention as operators/embeddings.py) so the result is
    bit-identical regardless of partial-aggregation order.  Per round:
    one shuffle on (centroid_id, dim) + one k-row regroup.  Empty
    clusters keep their previous centroid.  The refined table is
    ``localCheckpoint``-ed so downstream double-use (build lists +
    probe queries) doesn't replay the iterations."""
    cents = (
        corpus.select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid_vec")
        )
        .orderBy(F.md5(F.col("centroid_id").cast("string")), F.col("centroid_id"))
        .limit(k)
    )
    if refine_iters <= 0:
        return cents
    for _ in range(refine_iters):
        assigned = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1)
        cents = lloyd_update(assigned, cents, vec_col)
    return cents


def lloyd_update(
    assigned: DataFrame, cents: DataFrame, vec_col: str
) -> DataFrame:
    """One Lloyd mean-update from an ALREADY-ASSIGNED corpus
    (``ivf_assign`` output): recompute each centroid as its members'
    mean through SCALED-INTEGER per-dimension sums (posexplode long
    form, ``round(val·10⁶)`` exact long addition, one final
    division) so the result is bit-identical regardless of
    partial-aggregation order.  Empty clusters keep their previous
    centroid.  Factored out of ``ivf_centroids`` so consumers that
    need BOTH the assignment and the update (X144
    ``lloyd_step_diagnostics``) can feed one assignment pass to
    both instead of assigning twice."""
    from .embeddings import SCALE

    dims = assigned.select(
        "centroid_id", F.posexplode(F.col(vec_col)).alias("dim", "val")
    )
    scaled = F.round(F.col("val").cast("double") * SCALE).cast("long")
    means = (
        dims.groupBy("centroid_id", "dim")
        .agg(F.sum(scaled).alias("__s"), F.count(F.lit(1)).alias("__n"))
        .select(
            "centroid_id",
            "dim",
            F.round(
                F.col("__s").cast("double") / (F.col("__n") * SCALE), 6
            ).alias("__m"),
        )
    )
    regrouped = means.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "__m"))),
            lambda s: s["__m"].cast("float"),
        ).alias("__new_vec")
    )
    # Checkpoint every iteration, not just at the end: each round's
    # assignment otherwise replays the full centroid lineage, and
    # the plan grows superlinearly with refine_iters.
    return (
        cents.join(regrouped, "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce("__new_vec", "centroid_vec").alias("centroid_vec"),
        )
        .localCheckpoint(eager=True)
    )


def topk_centroid_expr(
    vec_col: str,
    nprobe: int,
    cands_col: str = "__cents",
    id_field: str = "centroid_id",
    vec_field: str = "centroid_vec",
) -> Column:
    """THE centroid-scoring comparator — the engine's most
    parity-sensitive expression (round-6 cosine, centroid-id
    tie-break), built in exactly one place and shared by
    ``ivf_assign``, ``ivf_tree_assign`` and ``centroid_silhouette``
    (the r9 review found three inline copies plus the oracle twin —
    a tie-break or rounding tweak would have had to land in all of
    them or Spark/DuckDB silently diverge).  Returns the top
    ``nprobe`` ``struct<sim, cid>`` of the broadcast candidate
    array ``cands_col``."""
    return F.expr(
        "slice(array_sort("
        f"transform({cands_col}, c -> struct("
        f"round({_COS_SQL.format(a=vec_col, b=f'c.{vec_field}')}, 6) AS sim, "
        f"c.{id_field} AS cid)), "
        "(l, r) -> CASE WHEN l.sim > r.sim THEN -1 WHEN l.sim < r.sim THEN 1 "
        "WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1 ELSE 0 END"
        f"), 1, {int(nprobe)})"
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
    emit_sim: bool = False,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by
    cosine (rounded to 6 decimals, centroid id as tie-break). Returns
    ``(id_col, vec_col, centroid_id, probe_rank)``.

    Scale: ZERO shuffle. The k-row centroid table is collapsed into a
    one-row array and broadcast; each corpus row scores all k
    centroids inside a single ``transform`` + comparator
    ``array_sort`` + ``slice`` expression, entirely within the scan
    stage. (The earlier crossJoin + row_number() window shuffled N·k
    rows per assignment — at 100 TB that is k extra corpus passes
    through the exchange; this form does the same arithmetic, same
    rounding, same tie-break, as a narrow map.) With ``nprobe=1``
    this builds the inverted lists; with ``nprobe>1`` it is the
    query-side probe.  ``emit_sim=True`` additionally returns the
    round-6 cosine the comparator already computed as ``sim`` —
    consumers that need the assignment similarity (X130 silhouette,
    X144 Lloyd diagnostics) read it here instead of re-joining the
    centroid table and re-scoring, keeping the parity-sensitive
    comparator expression in ONE place."""
    from ..catalog import spread_small_scan

    cent_arr = centroids.agg(
        F.collect_list(F.struct("centroid_id", "centroid_vec")).alias("__cents")
    )
    top_expr = topk_centroid_expr(vec_col, nprobe)
    # r14: spread a small single-split corpus scan before the per-row
    # k-centroid comparator (catalog.spread_small_scan — no-op at
    # scale; derived/unstamped probe frames pass through unchanged).
    return (
        spread_small_scan(corpus).select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(cent_arr))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.posexplode(top_expr).alias("__pos", "__probe"),
        )
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("__probe.cid").alias("centroid_id"),
            (F.col("__pos") + 1).alias("probe_rank"),
            *((F.col("__probe.sim").alias("sim"),) if emit_sim else ()),
        )
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_centroids: int = 8,
    nprobe: int = 2,
    refine_iters: int = 0,
) -> DataFrame:
    """X4c: approximate top-k via inverted lists. Corpus vectors live
    in their nearest centroid's list; each query scores only the lists
    of its ``nprobe`` nearest centroids. The candidate join is keyed
    on ``centroid_id`` — shuffle volume N + Q·nprobe rows instead of
    the brute-force Q·N — and recall is tuned by ``nprobe``/``k``
    like any IVF index (candidates outside probed lists are missed:
    the documented approximation)."""
    from pyspark.sql.window import Window

    cents = ivf_centroids(corpus, id_col, vec_col, n_centroids, refine_iters)
    lists = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        "centroid_id",
    )
    probes = ivf_assign(queries, cents, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"), "centroid_id"
    )
    scored = (
        lists.join(probes, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("__qv", "__cv"), 6).alias("cos_sim"),
        )
        # no dedup needed: each corpus vector lives in exactly one
        # list (nprobe=1 build), so a (query, neighbor) pair can match
        # through at most one centroid
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# Above this centroid count the flat N·k assignment stops being the
# right default: under the constant-cluster-size policy k ∝ N, so
# flat assignment is N²/c while the tree descends b·log_b(k)
# centroids per row. The r8 probe put flat and tree statistically
# equal at k=64 (91.4s vs 93.9s at sf1.0) — but that was measured
# with the INTERPRETED pair stage dominating within-bucket cost.
# With the BLAS pair kernel the default (r10), the pair constant is
# gone and assignment arithmetic is what remains: the r9/r10 gemm-
# backed probes show tree ~2× faster than flat at k=64 (X137 11.4s
# vs 20.0s at sf1.0; flat-assign auto probe 16.6× vs tree 5.4× for
# 10× data), so the crossover moved below 64. 32 keeps the small-k
# oracle-pinned deployments (k=8/16, where the tree's per-level
# draw + broadcast overhead loses: 2.1s vs 1.3s at sf0.1) on the
# flat path. (An earlier count()-based probe claimed 34.2× vs 9.2×
# — that measurement pruned the per-row output work and is
# superseded; see bench.py's noop-action note.)
FLAT_ASSIGN_MAX_K = 32

# The adaptive-granularity default (round 12): when an IVF-bucketed
# operator's ``n_centroids`` is None, derive k = max(8, ceil(N /
# IVF_TARGET_BUCKET)) so the expected bucket size — and with it the
# within-bucket pair volume per row — stays CONSTANT as the corpus
# grows.  One driver-side count() sizes k (the graph.py
# convergence-probe pattern); above FLAT_ASSIGN_MAX_K the consumer
# must switch to tree assignment or the N·k flat scoring
# reintroduces the quadratic the knob just removed.  The r11/r12
# staging probes measured the fixed-k alternative directly: 43×
# (X183, k=8) and 33.9× (X168) at 10× data.
IVF_TARGET_BUCKET = 64

# Below this bucket size the interpreted whole-stage-codegen pair
# expression beats the BLAS kernel: the gemm path pays a fixed
# Arrow-serialize + Python-worker + pandas-group round-trip per
# bucket, while the expr path's m²·d interpreted scalar ops stay
# JVM-side. MEASURED crossover (r10, X137 pair stage on sf0.1,
# local[32], median of 3 per point): bucket≈7 expr wins by 0.48s,
# ≈15 expr by 0.19s, ≈31 statistical tie (gemm by 0.08s), ≈62 gemm
# by 0.63s, ≈125 gemm by 1.33s, ≈250 gemm by 2.77s — the kernel
# pays for itself from ~32 rows up and the win grows with m².
# ``pair_impl="auto"`` splits each run's buckets on this size so a
# corpus with many tiny leaves and a few hot ones gets the right
# engine PER BUCKET.
GEMM_MIN_BUCKET = 32


def _make_round6_half_up():
    """Factory for ``_round6_half_up``: the function is created as a
    CLOSURE (non-importable qualname), so cloudpickle serializes it
    BY VALUE into the applyInPandas kernels that call it — a worker
    process needs only numpy, not this package on its import path.
    (A module-level def is pickled by reference; the kernel then
    dies with ModuleNotFoundError in any deployment whose Python
    workers don't inherit the repo on sys.path — observed when
    driving a session from a different working directory.)"""

    def _round6_half_up(x):
        import numpy as np

        y = x * 1e6
        finite = np.isfinite(y)
        ay = np.abs(np.where(finite, y, 0.0))
        # Domain guard (r10 ADVICE item 3): the 1e-8 near-tie margin
        # below is only sound while the repr error of x*1e6 stays
        # under it, i.e. |x| < ~64 (0.5 ulp at |y|=6.4e7 is ~7e-9;
        # past ~|x|=90 a true tie can hide outside the guard band and
        # silently diverge from Spark's F.round). Every current
        # caller feeds cosines/margins in [-2, 2]; fail loud rather
        # than drift if a future caller widens the domain.
        if ay.size and float(np.max(ay)) >= 64e6:
            raise ValueError(
                "_round6_half_up: |x| >= 64 exceeds the validated "
                "tie-guard domain; widen the near-tie margin "
                "proportionally to |x| before reusing it here"
            )
        fl = np.floor(ay)
        frac = ay - fl
        near_tie = finite & (np.abs(frac - 0.5) < 1e-8)
        fast = np.where(frac >= 0.5, fl + 1.0, fl)
        out = np.where(np.signbit(x), -fast, fast) / 1e6
        out = np.where(finite, out, x)
        if near_tie.any():
            from decimal import ROUND_HALF_UP, Decimal

            q = Decimal("0.000001")
            flat_x = x.ravel()
            flat_out = out.ravel()
            for i in np.flatnonzero(near_tie.ravel()):
                flat_out[i] = float(
                    Decimal(repr(float(flat_x[i]))).quantize(
                        q, rounding=ROUND_HALF_UP
                    )
                )
            out = flat_out.reshape(x.shape)
        return out

    return _round6_half_up


_round6_half_up = _make_round6_half_up()
_round6_half_up_doc = """Vectorized twin of Spark's ``F.round(col, 6)`` on DOUBLE:
    ``BigDecimal.valueOf(x).setScale(6, HALF_UP)`` — decimal HALF_UP
    (ties away from zero) on the SHORTEST-REPR decimal expansion of
    the float, not numpy's binary round-half-even. The two disagree
    exactly when the decimal expansion sits on (or the binary value
    sits across) the .5 tie at the 7th decimal — e.g. the double
    nearest 2.5e-6 rounds to 3e-6 under Spark but wherever its binary
    error points under ``np.round`` (r9 ADVICE item 1; this class is
    what kept the gemm kernels' bit-identity claim soft).

    Fast path: on the |x|·1e6 scale the binary product sits within
    ~4e-10 of the exact decimal expansion for |x| ≤ ~1 (cosines), so
    any element whose fractional part is ≥ 1e-8 away from .5 rounds
    identically under floor/ceil arithmetic; the rare guarded
    elements round exactly via ``decimal`` on ``repr(x)`` — the same
    shortest round-trip string ``Double.toString`` feeds
    ``BigDecimal.valueOf``. NaN (the SQL NULL-cosine carrier) passes
    through unchanged."""
_round6_half_up.__doc__ = _round6_half_up_doc


def _sized_buckets(
    buckets: DataFrame,
    bucket_col: str,
    keep_cols: tuple[str, ...],
) -> DataFrame:
    """Shared front end of the ``pair_impl="auto"`` split: one window
    count over the bucket key, MATERIALIZED (eager localCheckpoint)
    before the small/large arms read it. The checkpoint is not
    optional politeness: the two union arms prune different column
    sets, so their exchange subtrees are no longer identical and
    Spark's ReuseExchange cannot collapse them — without the
    checkpoint the whole upstream (the centroid ASSIGNMENT pipeline,
    the expensive part) executes once per arm (measured: X137
    tree+auto 14.9s vs tree+gemm 11.3s at sf1.0 before this fix).
    Same pattern as margin_knn_pairs' eagerly checkpointed pair
    table; the stored footprint is one (id, vec, bucket, payload…)
    row per corpus vector — the same table SemDeDup deployments
    materialize anyway between assignment and pairing."""
    from pyspark.sql.window import Window as _W

    return (
        buckets.select(*dict.fromkeys(keep_cols))
        .withColumn(
            "__m", F.count(F.lit(1)).over(_W.partitionBy(bucket_col))
        )
        .localCheckpoint(eager=True)
    )


def _bucket_dups(
    buckets: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    threshold: float,
    pair_impl: str,
) -> DataFrame:
    """Shared within-bucket SemDeDup duplicate stage: a vector is a
    duplicate iff some lower-id bucket-mate has round-6 cosine >=
    ``threshold``; returns one (id, bucket, is_dup) row per input
    row.

    ``pair_impl="expr"``: bucket-keyed self-join + the interpreted
    higher-order-function cosine — oracle-identical arithmetic, but
    O(m²·d) interpreted scalar ops per bucket of size m; the
    correctness-pinned path.

    ``pair_impl="gemm"``: one ``applyInPandas`` per bucket — rows
    normalize into a float64 matrix, ONE BLAS matmul scores every
    pair, and the lower-id test vectorizes (the
    cosine_near_dup_pairs(impl="block") kernel re-aimed at SemDeDup
    leaves; round-8 verdict task 6: the within-leaf constant was
    what buried the tree's assignment win in the 10x record).  Same
    round-to-6 discipline; per-task memory is one bucket's matrix —
    bounded by the constant-cluster-size policy that IS SemDeDup's
    scaling knob.  An oversized bucket is one task; split buckets
    by growing the leaf count, exactly as for the expr path.

    ``pair_impl="auto"`` (the default at every call site since r10):
    ONE window count over the bucket key — the same hash partitioning
    every downstream stage needs anyway — splits the buckets at
    ``GEMM_MIN_BUCKET`` rows; small buckets take the codegen expr
    path, large ones the BLAS kernel, and the union is the per-bucket
    best engine. The two branches agree to rounding: the gemm kernel
    rounds via ``_round6_half_up`` (Spark ``F.round`` HALF_UP
    semantics, r9 ADVICE item 1), which closes the rounding-MODE gap
    — but BLAS's blocked/FMA dot accumulation and the JVM's
    sequential fold can still differ by a few ulps BEFORE rounding,
    so a cosine within ~1 ulp of a 6-decimal tie could in principle
    round differently per engine (r10 ADVICE item 1). No such
    boundary cosine has appeared in any oracle sweep (the r11
    semantic-family two-leg sweep re-confirmed bit-parity on this
    corpus); deployments that need the split point provably
    invisible should pin ``pair_impl`` to one engine."""
    if pair_impl == "auto":
        sized = _sized_buckets(
            buckets, bucket_col, (id_col, vec_col, bucket_col)
        )
        small = sized.filter(F.col("__m") < GEMM_MIN_BUCKET).drop("__m")
        large = sized.filter(F.col("__m") >= GEMM_MIN_BUCKET).drop("__m")
        return _bucket_dups(
            small, id_col, vec_col, bucket_col, threshold, "expr"
        ).unionByName(
            _bucket_dups(
                large, id_col, vec_col, bucket_col, threshold, "gemm"
            )
        )
    if pair_impl == "expr":
        a = buckets.select(
            F.col(id_col).alias("__ida"),
            F.col(vec_col).alias("__va"),
            bucket_col,
        )
        b = buckets.select(
            F.col(id_col).alias("__idb"),
            F.col(vec_col).alias("__vb"),
            bucket_col,
        )
        dup_ids = (
            a.join(b, bucket_col)
            .filter(F.col("__idb") > F.col("__ida"))
            .filter(F.round(cosine("__va", "__vb"), 6) >= F.lit(threshold))
            .select(F.col("__idb").alias(id_col))
            .distinct()
            .withColumn("__dup", F.lit(True))
        )
        return (
            buckets.select(id_col, bucket_col)
            .join(dup_ids, id_col, "left")
            .select(
                id_col,
                bucket_col,
                F.coalesce("__dup", F.lit(False)).alias("is_dup"),
            )
        )
    if pair_impl != "gemm":
        raise ValueError(
            f"pair_impl must be auto|expr|gemm, got {pair_impl!r}"
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    bucket_field = buckets.schema[bucket_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, buckets.schema[id_col].dataType),
            T.StructField(bucket_col, bucket_field),
            T.StructField("is_dup", T.BooleanType()),
        ]
    )
    thr = float(threshold)

    def _kern(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = np.array(list(pdf[vec_col].iloc[order]), dtype=np.float64)
        # dot/(na*nb), NOT pre-normalized rows: the division order
        # matches the SQL expression (_COS_SQL), same discipline as
        # _bucket_pair_scores_gemm. A zero-norm side is NaN here =
        # NULL in SQL, and NaN >= thr is False = SQL's NULL
        # comparison dropping the pair — so a zero vector is never a
        # duplicate under EITHER impl (the pre-normalized form mapped
        # it to cos 0, which flipped is_dup vs expr when thr <= 0).
        nrm = np.linalg.norm(X, axis=1)
        denom = np.outer(nrm, nrm)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = _round6_half_up((X @ X.T) / denom)
        # ids ascend along the axis, so "some lower-id mate >= thr"
        # is an any() over the strict lower triangle per row
        with np.errstate(invalid="ignore"):
            low = np.tril(sims >= thr, k=-1)
        is_dup = low.any(axis=1)
        return pd.DataFrame(
            {
                id_col: ids,
                bucket_col: pdf[bucket_col].iloc[0],
                "is_dup": is_dup,
            }
        )

    return (
        buckets.select(id_col, vec_col, bucket_col)
        .groupBy(bucket_col)
        .applyInPandas(_kern, out_schema)
    )


def _bucket_pair_scores_gemm(
    buckets: DataFrame,
    bucket_col: str,
    id_col: str,
    vec_col: str,
    payload_cols: tuple[str, ...] = (),
    cross_col: str | None = None,
) -> DataFrame:
    """Shared BLAS pair-scoring kernel: one ``applyInPandas`` per
    bucket emits every candidate pair with its exact ppm cosine —
    the vectorized twin of the bucket-keyed self-join +
    interpreted-``cosine()`` pair stage used by the X129/X137
    family (same role the ``pair_impl="gemm"`` branch of
    ``_bucket_dups`` plays for X28, but emitting the scored pairs
    instead of a dup verdict, so margin windows / threshold sweeps
    can run on top).

    Output: ``(id_a, id_b, cos_e6, <p>_a, <p>_b ...)`` — one row
    per within-bucket pair with ``id_a < id_b`` (default), or per
    cross pair between ``cross_col == 0`` (a-side) and
    ``cross_col == 1`` (b-side) rows when ``cross_col`` is given.

    Exactness: ``cos_e6`` follows the expr path's arithmetic —
    dot/(‖a‖·‖b‖) in float64 (NOT pre-normalized rows, so the
    division order matches the SQL expression), round-6 then ×1e6;
    a zero-norm side yields NULL exactly as SQL's x/0 does.

    Scale: per-task memory is one bucket's m×d matrix plus its m²
    (or mₐ·m_b) pair block — bounded by the constant-cluster-size
    policy that is this family's scaling knob; an oversized bucket
    is split by growing the centroid count, never by widening a
    task."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    fields = [
        T.StructField("id_a", buckets.schema[id_col].dataType),
        T.StructField("id_b", buckets.schema[id_col].dataType),
        T.StructField("cos_e6", T.LongType()),
    ]
    for p in payload_cols:
        fields.append(T.StructField(f"{p}_a", buckets.schema[p].dataType))
        fields.append(T.StructField(f"{p}_b", buckets.schema[p].dataType))
    out_schema = T.StructType(fields)
    payloads = tuple(payload_cols)
    cross = cross_col

    def _empty() -> "pd.DataFrame":
        cols: dict = {
            "id_a": pd.Series([], dtype="object"),
            "id_b": pd.Series([], dtype="object"),
            "cos_e6": pd.array([], dtype="Int64"),
        }
        for p in payloads:
            cols[f"{p}_a"] = pd.Series([], dtype="object")
            cols[f"{p}_b"] = pd.Series([], dtype="object")
        return pd.DataFrame(cols)

    def _kern(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        pdf = pdf.iloc[order]
        if cross is None:
            a_pdf = b_pdf = pdf
        else:
            g = pdf[cross].to_numpy()
            a_pdf = pdf.iloc[g == 0]
            b_pdf = pdf.iloc[g == 1]
        na_rows, nb_rows = len(a_pdf), len(b_pdf)
        if na_rows == 0 or nb_rows == 0 or (cross is None and na_rows < 2):
            return _empty()
        A = np.array(list(a_pdf[vec_col]), dtype=np.float64)
        B = A if cross is None else np.array(
            list(b_pdf[vec_col]), dtype=np.float64
        )
        na = np.linalg.norm(A, axis=1)
        nb = na if cross is None else np.linalg.norm(B, axis=1)
        denom = np.outer(na, nb)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = (A @ B.T) / denom
        cos_e6 = np.rint(_round6_half_up(sims) * 1_000_000)
        valid = denom > 0.0
        if cross is None:
            ii, jj = np.triu_indices(na_rows, k=1)
        else:
            ii, jj = np.indices((na_rows, nb_rows))
            ii, jj = ii.ravel(), jj.ravel()
        vflat = valid[ii, jj]
        vals = pd.array(
            np.where(vflat, cos_e6[ii, jj], 0).astype(np.int64),
            dtype="Int64",
        )
        vals[~vflat] = pd.NA
        out: dict = {
            "id_a": a_pdf[id_col].to_numpy()[ii],
            "id_b": b_pdf[id_col].to_numpy()[jj],
            "cos_e6": vals,
        }
        for p in payloads:
            out[f"{p}_a"] = a_pdf[p].to_numpy()[ii]
            out[f"{p}_b"] = b_pdf[p].to_numpy()[jj]
        return pd.DataFrame(out)

    keep = [id_col, vec_col, bucket_col, *payloads]
    if cross is not None:
        keep.append(cross)
    return (
        buckets.select(*dict.fromkeys(keep))
        .groupBy(bucket_col)
        .applyInPandas(_kern, out_schema)
    )


def _bucket_pair_scores_expr(
    buckets: DataFrame,
    bucket_col: str,
    id_col: str,
    vec_col: str,
    payload_cols: tuple[str, ...] = (),
    cross_col: str | None = None,
) -> DataFrame:
    """Interpreted twin of ``_bucket_pair_scores_gemm``: bucket-keyed
    self-join + the higher-order-function cosine, round-6 then the
    ×1e6 re-round via ``F.round`` (HALF_UP) — the oracle-pinned
    arithmetic, whole-stage codegen end-to-end. Same output contract:
    ``(id_a, id_b, cos_e6, <p>_a, <p>_b ...)``, within-bucket pairs
    with ``id_a < id_b`` (default) or the full a×b cross block when
    ``cross_col`` is given (0 = a-side, 1 = b-side); a zero-norm side
    yields NULL ``cos_e6``. This is the right engine for SMALL
    buckets, where the gemm path's per-group Arrow round-trip
    dominates its matmul win (see ``GEMM_MIN_BUCKET``)."""
    sel_a = [
        F.col(bucket_col),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
    ]
    sel_b = [
        F.col(bucket_col),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
    ]
    for p in payload_cols:
        sel_a.append(F.col(p).alias(f"{p}_a"))
        sel_b.append(F.col(p).alias(f"{p}_b"))
    a_side = b_side = buckets
    if cross_col is not None:
        a_side = buckets.filter(F.col(cross_col) == 0)
        b_side = buckets.filter(F.col(cross_col) == 1)
    j = a_side.select(*sel_a).join(b_side.select(*sel_b), bucket_col)
    if cross_col is None:
        j = j.filter(F.col("id_a") < F.col("id_b"))
    return j.select(
        "id_a",
        "id_b",
        F.round(F.round(cosine("__va", "__vb"), 6) * 1_000_000)
        .cast("long")
        .alias("cos_e6"),
        *[c for p in payload_cols for c in (f"{p}_a", f"{p}_b")],
    )


def _pair_scores(
    buckets: DataFrame,
    bucket_col: str,
    id_col: str,
    vec_col: str,
    payload_cols: tuple[str, ...] = (),
    cross_col: str | None = None,
    pair_impl: str = "auto",
) -> DataFrame:
    """Engine dispatcher for the within-bucket pair-scoring family
    (X129/X137): ``"expr"`` = codegen self-join, ``"gemm"`` = BLAS
    kernel, ``"auto"`` (default since r10, VERDICT r9 task 2) splits
    the buckets at ``GEMM_MIN_BUCKET`` rows with one window count
    over the bucket key and unions the per-bucket best engine. The
    branches are arithmetic-identical (``_round6_half_up`` gives the
    kernel Spark's ``F.round`` HALF_UP semantics), so the split point
    never shows in the output."""
    if pair_impl == "expr":
        return _bucket_pair_scores_expr(
            buckets, bucket_col, id_col, vec_col, payload_cols, cross_col
        )
    if pair_impl == "gemm":
        return _bucket_pair_scores_gemm(
            buckets, bucket_col, id_col, vec_col, payload_cols, cross_col
        )
    if pair_impl != "auto":
        raise ValueError(
            f"pair_impl must be auto|expr|gemm, got {pair_impl!r}"
        )
    keep = [id_col, vec_col, bucket_col, *payload_cols]
    if cross_col is not None:
        keep.append(cross_col)
    sized = _sized_buckets(buckets, bucket_col, tuple(keep))
    small = sized.filter(F.col("__m") < GEMM_MIN_BUCKET).drop("__m")
    large = sized.filter(F.col("__m") >= GEMM_MIN_BUCKET).drop("__m")
    return _bucket_pair_scores_expr(
        small, bucket_col, id_col, vec_col, payload_cols, cross_col
    ).unionByName(
        _bucket_pair_scores_gemm(
            large, bucket_col, id_col, vec_col, payload_cols, cross_col
        )
    )


def _centroid_buckets(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    assign: str,
) -> DataFrame:
    """Shared bucket-assignment front end for the centroid-bucketed
    pair family (X28/X129/X137): returns ``(id, vec, centroid_id)``
    via flat N·k expr scoring (``ivf_assign``), the BLAS kernel
    (``_gemm_assign`` — FLAT SEMANTICS, bit-identical buckets, the
    engine swap proven by test_gemm_assign_matches_expr_ivf_assign),
    or the log-depth centroid tree (``ivf_tree_assign``, a DIFFERENT
    bucketing of the same family).  ``"auto"`` (round 12) switches
    to the gemm kernel above ``FLAT_ASSIGN_MAX_K``: the r12
    measurements showed the scaled-k cost was never assignment
    structure but the ~25µs interpreted per-eval cosine — the gemm
    engine keeps exact flat semantics (better recall than the tree's
    approximate descent) AND removes the interpreted term
    (BENCH_SF1_r12: X167 tree 28.1s vs gemm 1.7s at sf1.0).  The
    tree remains the explicit opt-in for the >10⁵–10⁶-centroid
    regime where even vectorized N·k FLOPs break the budget."""
    if assign not in ("auto", "flat", "gemm", "tree"):
        raise ValueError(
            f"assign must be auto|flat|gemm|tree, got {assign!r}"
        )
    if assign == "auto":
        assign = "flat" if n_centroids <= FLAT_ASSIGN_MAX_K else "gemm"
    if assign == "tree":
        branching = math.ceil(math.sqrt(n_centroids))
        return ivf_tree_assign(
            corpus, id_col, vec_col, branching=branching, depth=2
        ).select(
            F.col(id_col),
            F.col(vec_col),
            F.col("leaf_id").alias("centroid_id"),
        )
    cents = ivf_centroids(corpus, id_col, vec_col, n_centroids)
    if assign == "gemm":
        cents = cents.localCheckpoint(eager=True)
        return _gemm_assign(corpus, cents, id_col, vec_col, 1).select(
            id_col, vec_col, "centroid_id"
        )
    return ivf_assign(corpus, cents, id_col, vec_col, nprobe=1).select(
        id_col, vec_col, "centroid_id"
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 8,
    threshold: float = 0.95,
    refine_iters: int = 0,
    assign: str = "auto",
    pair_impl: str = "auto",
) -> DataFrame:
    """X28: SemDeDup-style embedding near-duplicate pruning (Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"). Vectors are clustered (deterministic
    IVF centroids, §X8); within each cluster a vector is a duplicate
    iff some lower-id cluster-mate has cosine >= ``threshold``.
    Lowest id wins — the same canonical-survivor rule as the text
    dedup family (operators/dedup.py).

    Returns ``(id, centroid_id, is_dup)``, one row per corpus vector.

    Scale: pair generation never goes corpus-wide — the self-join is
    keyed on ``centroid_id``, so the pair count is sum over clusters
    of |c|^2, not N^2. SemDeDup's scaling knob is cluster
    granularity: grow ``n_centroids`` proportionally to N (k ~ N /
    target_cluster_size) and per-cluster work stays constant while
    the join parallelizes across clusters; an oversized cluster is an
    AQE-skew-splittable partition, same as the hot-shingle path in
    dedup.lsh_candidate_pairs. The duplicate-id set is deduplicated
    before the final membership join, so the output is one row per
    vector regardless of how many near neighbors each dup has.

    ``assign`` picks the assignment engine: ``"flat"`` is the N·k
    scoring above (the explicit small-k / control path), ``"tree"``
    delegates to ``semantic_dedup_tree`` (log-depth descent,
    branching = ceil(sqrt(n_centroids)), depth 2 — same dup rule,
    leaf relabeled ``centroid_id``), and the default ``"auto"``
    switches off interpreted flat scoring once ``n_centroids >
    FLAT_ASSIGN_MAX_K`` — since round 12 to the ``"gemm"`` kernel
    (see the Round 12 paragraph below; r7–r11 it picked the tree:
    flat-k measured 34.2× at 10× data vs tree 9.2×,
    BENCH_SF1_r07.json). Flat and tree
    bucket the space differently — both are approximations of the
    same SemDeDup family; the bucketing is the documented recall
    knob. ``refine_iters`` (Lloyd refinement of the centroid draw)
    applies to the flat/gemm paths and is rejected with the tree
    engine (the tree draw is per-node, un-refined) rather than
    silently ignored.

    Round 12: ``"auto"`` above FLAT_ASSIGN_MAX_K now picks
    ``"gemm"`` — the BLAS twin of flat assignment (bit-identical
    buckets, test_gemm_assign_matches_expr_ivf_assign) — instead of
    the tree: the r12 measurements showed the scaled-k cost was the
    ~25µs interpreted per-eval cosine, not assignment structure, so
    the gemm engine keeps exact flat semantics (better recall than
    the tree's approximate descent) and removes the interpreted
    term. ``"tree"`` stays the explicit dial for the
    >10⁵–10⁶-centroid regime where even vectorized N·k FLOPs break
    the budget.
    """
    if assign not in ("auto", "flat", "gemm", "tree"):
        raise ValueError(
            f"assign must be auto|flat|gemm|tree, got {assign!r}"
        )
    if assign == "auto":
        assign = "flat" if n_centroids <= FLAT_ASSIGN_MAX_K else "gemm"
    if assign == "tree":
        if refine_iters:
            raise ValueError(
                "refine_iters is a flat-assignment knob; the tree draw "
                "is per-node and un-refined — use assign='flat' to refine"
            )
        branching = math.ceil(math.sqrt(n_centroids))
        return semantic_dedup_tree(
            corpus, id_col, vec_col, branching=branching, depth=2,
            threshold=threshold, pair_impl=pair_impl,
        ).select(
            id_col,
            F.col("leaf_id").alias("centroid_id"),
            "is_dup",
        )
    cents = ivf_centroids(corpus, id_col, vec_col, n_centroids, refine_iters)
    if assign == "gemm":
        assigned = _gemm_assign(
            corpus, cents.localCheckpoint(eager=True), id_col, vec_col, 1
        )
    else:
        assigned = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1)
    return _bucket_dups(
        assigned, id_col, vec_col, "centroid_id", threshold, pair_impl
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int,
    candidates: str = "broadcast",
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """X39: hard-negative mining — for each query vector, the top-k
    most cosine-similar corpus vectors whose LABEL DIFFERS from the
    query's. This is the contrastive-training data miner: the
    near-miss wrong-class neighbors are exactly the negatives that
    teach an embedding model its decision boundary (and random
    negatives teach it almost nothing). Same ranking discipline as
    ``brute_force_topk`` (rounded cosine, neighbor id tie-break) so
    results are engine-reproducible.

    Scale: ``candidates="broadcast"`` (default) broadcasts the query
    side (mining batches are thousands of anchors, not the corpus);
    the corpus streams through the scan stage scoring each anchor —
    O(Q·N) like any brute-force pass. ``candidates="ivf"`` is the
    form for when Q grows to corpus scale: both sides assign to the
    X8 centroid table (broadcast, zero-shuffle) and the candidate
    join is keyed on ``centroid_id`` — shuffle volume N + Q·nprobe
    rows instead of Q·N scores, recall tuned by ``nprobe`` exactly
    like ``ivf_topk`` (neighbors outside probed lists are missed:
    the documented approximation; ``nprobe=n_centroids`` recovers
    the exact broadcast result, which is the equivalence the test
    pins). Either way the label filter lands BEFORE ranking, so the
    window ranks only cross-label pairs."""
    from pyspark.sql.window import Window

    if candidates not in ("broadcast", "ivf"):
        raise ValueError(
            f"candidates must be broadcast|ivf, got {candidates!r}"
        )
    if candidates == "ivf":
        # eager checkpoint: the seed table feeds two ivf_assign
        # broadcasts (lists + probes); un-checkpointed, each would
        # replay the corpus-wide md5 seed draw (r9 review finding —
        # the same redundancy fixed in lloyd_step_diagnostics).
        cents = ivf_centroids(
            corpus, id_col, vec_col, n_centroids
        ).localCheckpoint(eager=True)
        lists = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            "centroid_id",
        ).join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(label_col).alias("neighbor_label"),
            ),
            "neighbor_id",
        )
        probes = ivf_assign(
            queries, cents, id_col, vec_col, nprobe=nprobe
        ).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            "centroid_id",
        ).join(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(label_col).alias("query_label"),
            ),
            "query_id",
        )
        scored = (
            lists.join(probes, "centroid_id")
            .filter(F.col("neighbor_label") != F.col("query_label"))
            .select(
                "query_id",
                "query_label",
                "neighbor_id",
                "neighbor_label",
                F.round(cosine("__qv", "__cv"), 6).alias("cos_sim"),
            )
            # no dedup needed: corpus vectors live in exactly one
            # list (nprobe=1 build), so a (query, neighbor) pair
            # meets through at most one centroid — same argument as
            # ivf_topk.
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.col(label_col).alias("query_label"),
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            F.col(label_col).alias("neighbor_label"),
        )
        scored = (
            c.crossJoin(F.broadcast(q))
            .filter(F.col("neighbor_label") != F.col("query_label"))
            .select(
                "query_id",
                "query_label",
                "neighbor_id",
                "neighbor_label",
                F.round(cosine("__qv", "__cv"), 6).alias("cos_sim"),
            )
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "cos_sim",
            "rank",
        )
    )


def _topb_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    b: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Exact deterministic top-``b`` rows per group by (md5(id), id)
    — the seed-free draw — WITHOUT a whole-group window partition.
    Two-phase: each input partition pre-prunes to its local top-b per
    group (bounded by b·P rows per group), then the global window
    ranks only the survivors. A mega-group is never a single
    unbounded window partition, which is what kills the naive
    row_number draw at 100 TB."""
    from pyspark.sql.window import Window

    key = F.md5(F.col(id_col).cast("string"))
    local_w = Window.partitionBy(group_col, F.spark_partition_id()).orderBy(
        key, F.col(id_col)
    )
    pruned = (
        df.withColumn("__lrn", F.row_number().over(local_w))
        .filter(F.col("__lrn") <= b)
        .drop("__lrn")
    )
    global_w = Window.partitionBy(group_col).orderBy(key, F.col(id_col))
    ranked = pruned.withColumn("__rn", F.row_number().over(global_w)).filter(
        F.col("__rn") <= b
    )
    if rank_col is None:
        return ranked.drop("__rn")
    return ranked.withColumnRenamed("__rn", rank_col)


def ivf_tree_assign(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    branching: int = 8,
    depth: int = 2,
) -> DataFrame:
    """Log-depth hierarchical centroid assignment — the scale form of
    ``ivf_assign``. Flat assignment costs N·k comparisons; when
    cluster SIZE must stay constant (the SemDeDup deployment: k ∝ N),
    that is N²/c — quadratic. A centroid TREE with fixed branching b
    and depth d = log_b(k) costs N·b·d = N·b·log_b(N/c): each row
    descends the tree comparing only its current node's b children.
    This is the coarse-quantizer hierarchy every billion-scale IVF
    deployment uses.

    Tree construction is the same seed-free draw as ``ivf_centroids``
    applied per node: level-l centroids are, within each level-(l-1)
    bucket, the b members with smallest (md5(id), id) — drawn by the
    two-phase ``_topb_per_group`` so no draw ever windows a whole
    bucket in one partition. Assignment per level is the broadcast
    transform/array_sort expression of ``ivf_assign`` (same rounded
    cosine, same centroid-id tie-break), joined on the parent bucket.

    Returns ``(id_col, vec_col, leaf_id)`` — ≤ b^depth leaves, each
    leaf named by its centroid's row id.

    Scale: per level, one broadcast join (the level's centroid table,
    ≤ b^l rows grouped to b^(l-1) arrays) + a narrow map; the draw
    adds two bounded windows. No corpus self-join, no whole-corpus
    window, no shuffle that grows with k."""
    assigned = corpus.select(
        F.col(id_col), F.col(vec_col), F.lit(-1).cast("long").alias("__bucket")
    )
    for _level in range(int(depth)):
        # Eager-checkpoint each level's draw (≤ b^(l+1) rows — tiny):
        # the level-l draw's lineage contains the FULL corpus
        # assignment through levels 0..l-1, and a consumer that
        # broadcasts the grouped table would otherwise replay that
        # corpus pass per broadcast job (measured on the r12 X167
        # tree experiment: construction replay, not arithmetic, was
        # the time).  The draw is deterministic, so the checkpoint
        # is bit-neutral.
        cents = _topb_per_group(
            assigned, "__bucket", id_col, int(branching)
        ).select(
            F.col("__bucket"),
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cvec"),
        ).localCheckpoint(eager=True)
        grouped = cents.groupBy("__bucket").agg(
            F.collect_list(F.struct("cid", "cvec")).alias("__cands")
        )
        best = topk_centroid_expr(
            vec_col, 1, cands_col="__cands", id_field="cid",
            vec_field="cvec",
        ).getItem(0).getField("cid")
        assigned = (
            assigned.join(F.broadcast(grouped), "__bucket")
            .select(F.col(id_col), F.col(vec_col), best.alias("__bucket"))
        )
    return assigned.select(
        F.col(id_col), F.col(vec_col), F.col("__bucket").alias("leaf_id")
    )


# Rows per matmul inside the BLAS kernels (r13, ADVICE r12): bounds
# the live sims block to BLOCK×k (assign) / |Q|×BLOCK (topk) doubles
# per task instead of the whole group's m×k.  4096×(N/64) doubles at
# N=10⁶ adaptive-k is ~512 MB FLOP-chunk → still one ~130 GFLOP gemm
# per chunk at d=32; small enough to keep two live, big enough that
# the BLAS call dominates the Python loop.
_GEMM_ROW_BLOCK = 4096

# r14 (ADVICE r13): ceiling on the |Q|·G probe-replication shuffle of
# _gemm_topk when the caller supplies the probe size — the derived
# group count stops growing with cluster width once |Q|·G would pass
# this many replicated probe rows (floor 32 groups).
_GEMM_REPL_CAP = 1_000_000


def _gemm_assign(
    df: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
    n_groups: int | None = None,
    row_block: int | None = None,
) -> DataFrame:
    """BLAS assignment kernel (round 12) — the vectorized twin of
    ``ivf_assign``'s broadcast expr scoring, for the adaptive-k
    regime where k ∝ N makes the INTERPRETED higher-order cosine the
    dominant cost.  Measured on the r12 X167/X168 fixes: ~20–30 µs
    per interpreted eval, so the ~1M evals the tree path still needed
    at sf1.0 cost ~30 s while the same arithmetic is a ~400 MFLOP
    matmul.  Rows are salted into ``n_groups`` deterministic groups
    (``pmod(id, G)`` — the result is per-row, so ANY grouping yields
    identical output); the centroid table (k rows, the ``ivf_
    centroids`` contract) is replicated once per group; one
    ``applyInPandas`` per group computes the m×k cosine block in
    float64 with the ``_round6_half_up`` discipline and emits ONLY
    each row's top ``nprobe`` — ``(id, vec, centroid_id,
    probe_rank)``, never the m×k block.

    Exactness: same comparator as ``topk_centroid_expr`` — round-6
    cosine DESC, centroid id ASC (centroids are pre-sorted by id in
    the kernel, so numpy's stable argsort on the negated sims breaks
    ties by id).  A zero-norm side scores NaN and ranks LAST (the
    fixture has no zero vectors; the expr path's NULL-sim ordering
    is likewise undefined-but-deterministic there).

    Scale (r13 chunking, ADVICE r12; bound restated r14, ADVICE r13):
    the kernel matmuls X in fixed ``_GEMM_ROW_BLOCK``-row chunks,
    keeping only each chunk's top ``nprobe``.  Per-task memory is
    INPUT-DOMINATED, three terms precisely: (1) the group's m×d rows
    arrive as ONE Arrow batch (the applyInPandas contract — chunking
    cannot shrink this term, only G can); (2) the k×d centroid block
    plus one live BLOCK×k sims chunk (the r13 fix: linear in k, NOT
    the former m×k block, which with k ∝ N grew ~N²/(64·G) doubles);
    (3) the output frame is m×nprobe rows WITH each input vector
    repeated nprobe times — for nprobe>1 the output term is nprobe×
    the input's vector payload.  Only term (2) is what the chunking
    bounds; terms (1) and (3) scale with m = N/G and are the reason
    G derives from cluster parallelism.  FLOPs are N·k·d —
    with k ∝ N this flat form holds to ~10⁵–10⁶ centroids on a
    cluster's FLOP budget, past which the per-level-gemm centroid
    tree (the FAISS coarse-quantizer shape) is the documented path.

    Salting is ``pmod(hash(id), G)`` — type-agnostic (string ids
    work; the former ``pmod(id, G)`` required a numeric id), and
    per the contract above ANY grouping yields identical output.

    ``n_groups=None`` (the default since r13) derives G from the
    session's ``defaultParallelism`` (min 32) — a fixed G=32 capped
    assignment at 32 tasks however many executors the cluster has,
    an idle-cluster ceiling invisible at local[32] where the two
    coincide.  Centroid replication grows as k·G rows, still
    negligible next to the N input rows.  ``_gemm_topk`` gets the
    same derived default, but its self-kNN CALL SITE (``_knn_edges``
    bruteforce) pins G=32 explicitly: there the probe-replication
    shuffle is |Q|·G with Q the corpus itself, and must not multiply
    with cluster width."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if n_groups is None:
        n_groups = max(32, df.sparkSession.sparkContext.defaultParallelism)
    # row_block: test hook (r14, ADVICE r13) — the kernels' chunk size
    # as an argument, so exactness-under-chunking tests never mutate
    # the module global (leak-prone under parallel/hypothesis runs).
    blk = int(row_block) if row_block else _GEMM_ROW_BLOCK

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField(vec_col, df.schema[vec_col].dataType),
            T.StructField("centroid_id", df.schema[id_col].dataType),
            T.StructField("probe_rank", T.IntegerType()),
        ]
    )
    npb = int(nprobe)

    def _kern(pdf: "pd.DataFrame") -> "pd.DataFrame":
        side = pdf["__side"].to_numpy()
        x_pdf = pdf.iloc[side == 0]
        c_pdf = pdf.iloc[side == 1]
        if len(x_pdf) == 0 or len(c_pdf) == 0:
            return pd.DataFrame(
                {
                    id_col: pd.Series([], dtype="object"),
                    vec_col: pd.Series([], dtype="object"),
                    "centroid_id": pd.Series([], dtype="object"),
                    "probe_rank": pd.Series([], dtype="int32"),
                }
            )
        corder = np.argsort(c_pdf[id_col].to_numpy(), kind="stable")
        c_pdf = c_pdf.iloc[corder]
        cids = c_pdf[id_col].to_numpy()
        C = np.array(list(c_pdf[vec_col]), dtype=np.float64)
        nc = np.linalg.norm(C, axis=1)
        take = min(npb, len(cids))
        m = len(x_pdf)
        xids = x_pdf[id_col].to_numpy()
        xvecs = x_pdf[vec_col].to_numpy()
        idx_parts = []
        # fixed-row chunks: one BLOCK×k sims block live at a time,
        # only the chunk's top-nprobe indices are retained (ADVICE
        # r12 — the former whole-group m×k block was ~N²/(64·G)
        # doubles under the adaptive k ∝ N default).
        for lo in range(0, m, blk):
            X = np.array(list(xvecs[lo : lo + blk]),
                         dtype=np.float64)
            nx = np.linalg.norm(X, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (X @ C.T) / np.outer(nx, nc)
            r6 = _round6_half_up(sims)
            # stable argsort on -r6: ties fall back to position =
            # cid asc (NaN sorts last: "zero-norm ranks last")
            idx_parts.append(
                np.argsort(-r6, axis=1, kind="stable")[:, :take]
            )
        idx = np.concatenate(idx_parts, axis=0)
        return pd.DataFrame(
            {
                id_col: np.repeat(xids, take),
                vec_col: np.repeat(xvecs, take),
                "centroid_id": cids[idx].ravel(),
                "probe_rank": np.tile(
                    np.arange(1, take + 1, dtype=np.int32), m
                ),
            }
        )

    g = F.pmod(F.hash(F.col(id_col)), F.lit(int(n_groups)))
    side0 = df.select(
        g.alias("__g"),
        F.col(id_col),
        F.col(vec_col),
        F.lit(0).alias("__side"),
    )
    side1 = cents.crossJoin(
        F.broadcast(
            df.sparkSession.range(int(n_groups)).select(
                F.col("id").alias("__g")
            )
        )
    ).select(
        F.col("__g"),
        F.col("centroid_id").alias(id_col),
        F.col("centroid_vec").alias(vec_col),
        F.lit(1).alias("__side"),
    )
    return (
        side0.unionByName(side1)
        .groupBy("__g")
        .applyInPandas(_kern, out_schema)
    )


def _derive_topk_groups(parallelism: int, probe_rows: int | None) -> int:
    """_gemm_topk's default group count: cluster parallelism
    (floor 32), capped so the |Q|·G probe-replication shuffle never
    exceeds ``_GEMM_REPL_CAP`` replicated probe rows when the caller
    knows |Q| (r14, ADVICE r13 — without the cap, a moderately large
    probe set on a wide cluster silently multiplies shuffle volume
    and the plan shape becomes environment-dependent)."""
    g = max(32, int(parallelism))
    if probe_rows:
        g = max(32, min(g, _GEMM_REPL_CAP // max(1, int(probe_rows))))
    return g


def _gemm_topk(
    probe: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_groups: int | None = None,
    probe_rows: int | None = None,
    row_block: int | None = None,
) -> DataFrame:
    """BLAS exact top-k — ``brute_force_topk``'s vectorized twin
    (round 12; the X168 ground-truth pass at sf1.0 was ~1.3M
    interpreted cosines ≈ 30 s, vs an ~80 MFLOP matmul).  Since r13
    the kernel chunks BOTH matmul axes, so the probe set may be
    anything up to the corpus itself (the X177 self-kNN routing —
    86 s interpreted at sf0.1 as registered, ~1 s through this
    kernel, bit-identical rows by the pinned parity test); the
    probe-replication shuffle is |Q|·G rows, the one term that says
    keep G modest when Q is corpus-sized.  Honest ceiling of the
    self-kNN regime: applyInPandas materializes each group as one
    pandas frame, so per-task INPUT is |Q| + N/G rows even though
    the sims blocks are chunked — exact all-pairs ground truth is a
    bounded-corpus diagnostic by nature (the oracle fixture shape);
    the 100 TB deployment path for kNN graphs is the IVF branch of
    ``_knn_edges`` (linear, probed), never this.  The CORPUS is
    salted into
    ``n_groups`` groups and the probe set is replicated per group
    (|Q|·G rows); each
    group's kernel emits its per-query top ``k`` (round-6 cosine
    DESC, id ASC, self excluded), and a final window over the G·k·|Q|
    partial winners — map-side top-k then a bounded re-rank, the
    two-phase global-rank discipline — yields the exact global top-k:
    the global winners are a subset of the per-group winners by
    transitivity of the comparator.  Inside the kernel the corpus is
    matmul'd in ``_GEMM_ROW_BLOCK``-row chunks, each reduced to its
    per-query top-k before the next (so per-task live memory is the
    |Q|×BLOCK chunk, not the |Q|×(N/G) block); the chunk winners
    merge under the same comparator (round-6 cosine DESC, id ASC),
    exact by transitivity.  Salting is ``pmod(hash(id), G)`` —
    type-agnostic, output grouping-invariant.

    Output contract = ``brute_force_topk``: ``(query_id,
    neighbor_id, cos_sim, rank)``.

    ``n_groups=None`` (default, r13) derives G from
    ``defaultParallelism`` (min 32) — right for the small-probe-set
    contract, where replication is |Q|·G of a bounded Q and G is
    pure corpus parallelism.  The self-kNN call site pins G=32
    explicitly (corpus-sized Q: replication must not grow with
    cluster width).  ``probe_rows`` (r14, ADVICE r13): callers that
    KNOW |Q| (the recall-curve site draws exactly ``n_queries``)
    pass it so the derived G is capped at
    ``_GEMM_REPL_CAP // probe_rows`` — the replication shuffle stays
    bounded (≤ ~1M replicated probe rows) however wide the cluster,
    and the plan shape stops being environment-dependent once the
    cap binds.  Callers with an unbounded/unknown probe set should
    pin ``n_groups`` explicitly instead of relying on the default."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    if n_groups is None:
        n_groups = _derive_topk_groups(
            corpus.sparkSession.sparkContext.defaultParallelism, probe_rows
        )
    blk = int(row_block) if row_block else _GEMM_ROW_BLOCK

    out_schema = T.StructType(
        [
            T.StructField("query_id", probe.schema[id_col].dataType),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    kk = int(k)

    def _kern(pdf: "pd.DataFrame") -> "pd.DataFrame":
        side = pdf["__side"].to_numpy()
        c_pdf = pdf.iloc[side == 0]
        q_pdf = pdf.iloc[side == 1]
        if len(c_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype="object"),
                    "neighbor_id": pd.Series([], dtype="object"),
                    "cos_sim": pd.Series([], dtype="float64"),
                }
            )
        norder = np.argsort(c_pdf[id_col].to_numpy(), kind="stable")
        c_pdf = c_pdf.iloc[norder]
        nids = c_pdf[id_col].to_numpy()
        cvecs = c_pdf[vec_col].to_numpy()
        all_qids = q_pdf[id_col].to_numpy()
        all_qvecs = q_pdf[vec_col].to_numpy()
        n = len(nids)
        take = min(kk, n)
        out_q, out_n, out_v = [], [], []
        # both sides chunked (r13): the self-kNN routing makes the
        # probe side corpus-sized, so the live sims block is
        # BLOCK×BLOCK regardless of |Q| or N — each (Q-chunk,
        # C-chunk) gemm is reduced to the Q-chunk's per-query
        # top-take before the next matmul (ADVICE r12 shape applied
        # to both axes).
        for qlo in range(0, len(all_qids), blk):
            qids = all_qids[qlo : qlo + blk]
            Q = np.array(
                list(all_qvecs[qlo : qlo + blk]),
                dtype=np.float64,
            )
            nq = np.linalg.norm(Q, axis=1)
            val_parts, pos_parts = [], []
            for lo in range(0, n, blk):
                C = np.array(list(cvecs[lo : lo + blk]),
                             dtype=np.float64)
                nc = np.linalg.norm(C, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = (Q @ C.T) / np.outer(nq, nc)
                r6 = _round6_half_up(sims)
                # self-exclusion: -inf sorts after every real cosine
                r6 = np.where(
                    qids[:, None] == nids[None, lo : lo + len(nc)],
                    -np.inf,
                    r6,
                )
                t = min(take, r6.shape[1])
                idx = np.argsort(-r6, axis=1, kind="stable")[:, :t]
                val_parts.append(np.take_along_axis(r6, idx, axis=1))
                pos_parts.append(idx + lo)
            cand_vals = np.concatenate(val_parts, axis=1)
            cand_pos = np.concatenate(pos_parts, axis=1)
            # merge chunk winners: round-6 cosine DESC, then global
            # position ASC == corpus id ASC (nids is id-sorted).
            # NaN (zero-norm) sorts last, matching the chunk
            # comparator.
            order = np.lexsort(
                (cand_pos, -cand_vals), axis=-1
            )[:, :take]
            rows = np.repeat(np.arange(len(qids)), take)
            cols = order.ravel()
            vals = cand_vals[rows, cols]
            keep = np.isfinite(vals)
            out_q.append(qids[rows[keep]])
            out_n.append(nids[cand_pos[rows, cols][keep]])
            out_v.append(vals[keep])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cos_sim": np.concatenate(out_v),
            }
        )

    g = F.pmod(F.hash(F.col(id_col)), F.lit(int(n_groups)))
    side0 = corpus.select(
        g.alias("__g"),
        F.col(id_col),
        F.col(vec_col),
        F.lit(0).alias("__side"),
    )
    side1 = probe.crossJoin(
        F.broadcast(
            probe.sparkSession.range(int(n_groups)).select(
                F.col("id").alias("__g")
            )
        )
    ).select(
        F.col("__g"),
        F.col(id_col),
        F.col(vec_col),
        F.lit(1).alias("__side"),
    )
    partial = (
        side0.unionByName(side1).groupBy("__g").applyInPandas(_kern, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def semantic_dedup_tree(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    branching: int = 8,
    depth: int = 2,
    threshold: float = 0.95,
    pair_impl: str = "auto",
) -> DataFrame:
    """X28 at scale: SemDeDup over the log-depth centroid tree.
    Identical duplicate semantics to ``semantic_dedup`` (within-
    bucket cosine >= threshold, lowest id survives) with the leaf as
    the bucket — but the assignment cost is N·b·depth instead of
    N·k, so growing the leaf count with the corpus (the policy that
    keeps per-leaf pair work constant) no longer makes assignment
    quadratic. Flat k=b^depth and the tree partition the space
    differently (both are approximations of the same family — like
    IVF nprobe, the bucketing is the documented recall knob).

    Returns ``(id, leaf_id, is_dup)``, one row per corpus vector."""
    leaves = ivf_tree_assign(corpus, id_col, vec_col, branching, depth)
    return _bucket_dups(
        leaves, id_col, vec_col, "leaf_id", threshold, pair_impl
    )


def index_shard_plan(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    n_shards: int = 4,
) -> DataFrame:
    """X72: balanced serving-shard plan for an IVF index — assign
    inverted lists to ``n_shards`` serving shards so per-shard vector
    counts stay even despite list-size skew.  A hash assignment
    ignores skew (one hot list can double a shard); the classic fix
    is LPT ("longest processing time first") — here its deterministic
    snake/boustrophedon form: rank lists by size descending and deal
    rank r to shard r%S on even passes, S-1-(r%S) on odd passes, so
    each pass pairs a large remainder with a small one.  Exact LPT's
    "append to currently-lightest shard" is a sequential recurrence;
    the snake is its standard order-free approximation — same
    guarantee class, expressible as one closed-form expression per
    row.

    Output (per list): (centroid_id, n_vectors, rank, shard,
    shard_total_vectors) — the last column is the balance panel.

    Scale: the X8 zero-shuffle assignment builds list sizes with one
    keyed aggregate to a k-row table; ranking and the snake run on
    those k rows (single-partition sort — k is the IVF list count,
    thousands at most, NOT corpus-sized) and the result broadcasts
    back to route vectors/queries."""
    from pyspark.sql.window import Window

    lists = (
        ivf_assign(corpus, centroids, id_col, vec_col, nprobe=1)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    )
    w = Window.orderBy(F.desc("n_vectors"), F.asc("centroid_id"))
    ranked = lists.withColumn(
        "rank", (F.row_number().over(w) - 1).cast("int")
    )
    snake = (
        f"CAST(CASE WHEN (rank div {n_shards}) % 2 = 0 "
        f"THEN rank % {n_shards} "
        f"ELSE {n_shards - 1} - (rank % {n_shards}) END AS INT)"
    )
    per_list = ranked.withColumn("shard", F.expr(snake))
    tot = Window.partitionBy("shard")
    return per_list.select(
        "centroid_id",
        "n_vectors",
        "rank",
        "shard",
        F.sum("n_vectors").over(tot).cast("long").alias(
            "shard_total_vectors"
        ),
    )


def retrieval_mrr_eval(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """X73: MRR@k of the IVF index against the exact nearest
    neighbor — the rank-position-sensitive companion to X4/X8's
    recall@k (``ann_recall_eval``): recall says whether the true
    neighbor is anywhere in the top-k, reciprocal rank says how far
    down it sits — the metric that moves first when nprobe is too
    low or lists are imbalanced (the true NN drifts from rank 1 to
    rank 4 long before it falls out of the top-k entirely).

    Per query: the exact NN (brute force, rank 1), the rank the IVF
    index found it at (0 = missed within k), reciprocal rank as a
    ppm integer division (1e6 div rank — exact, order-free), and
    the corpus-wide MRR: an integer mean of the ppm values, so the
    aggregate is deterministic in any engine (no float summation
    order).

    Scale: the brute-force side is the eval's ground truth —
    query-set-sized (offline sample), not corpus-sized; the IVF side
    is the production X4c path (keyed centroid join).  The final
    window runs over the query set only."""
    from pyspark.sql.window import Window

    truth = brute_force_topk(queries, corpus, id_col, vec_col, k=1).select(
        "query_id", F.col("neighbor_id").alias("true_neighbor")
    )
    approx = ivf_topk(
        queries, corpus, id_col, vec_col,
        k=k, n_centroids=n_centroids, nprobe=nprobe,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("true_neighbor"),
        F.col("rank").alias("found_rank"),
    )
    per = truth.join(approx, ["query_id", "true_neighbor"], "left").select(
        "query_id",
        "true_neighbor",
        F.coalesce("found_rank", F.lit(0)).cast("int").alias("found_rank"),
        F.expr(
            "CASE WHEN found_rank IS NULL THEN 0L "
            "ELSE 1000000L div found_rank END"
        ).alias("__rr_ppm"),
    )
    tot = Window.partitionBy()
    return per.select(
        "query_id",
        "true_neighbor",
        "found_rank",
        (F.col("__rr_ppm").cast("double") / 1_000_000.0).alias(
            "reciprocal_rank"
        ),
        (
            F.expr(
                "CAST(sum(__rr_ppm) OVER () div count(1) OVER () AS DOUBLE)"
            )
            / 1_000_000.0
        ).alias("mrr"),
    )


def _ndcg_discount_ppm(k: int) -> list[int]:
    """Position-discount lookup table: round(1e6 / log2(rank + 1))
    for ranks 1..k.  Computed ONCE in Python (a literal CASE in the
    plan) so neither engine evaluates a transcendental at query time
    — the one source of cross-engine drift in every nDCG
    implementation.  The oracle computes the same table independently
    from the same formula."""
    import math

    return [round(1_000_000 / math.log2(r + 1)) for r in range(1, k + 1)]


def retrieval_ndcg_eval(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 1,
) -> DataFrame:
    """X125: nDCG@k of the IVF index against the exact cosine top-k —
    the GRADED companion to recall@k (X4/X8: is the true NN anywhere
    in the list) and MRR@k (X73: how far down is the single true NN).
    nDCG grades the WHOLE retrieved list: the exact top-k defines
    graded relevance (rel = k+1-true_rank, so the true best neighbor
    is worth k and the k-th is worth 1) and each retrieved position
    pays the standard 1/log2(rank+1) discount.  This is the metric
    retrieval deployments actually tune on — it moves when the index
    returns the right set in the wrong order, which recall can't see
    and MRR only sees for one item.

    Exactness: discounts are a precomputed integer-ppm lookup table
    (see ``_ndcg_discount_ppm``); gains, DCG, and the per-query ideal
    DCG are exact BIGINT sums of rel·discount terms; ndcg_ppm is one
    integer division per query and the corpus mean is an integer mean
    of those — no float ever enters an aggregate.

    Scale: truth is query-set-sized brute force (the eval's ground
    truth, offline sample); the production side is the X4c keyed
    centroid join; the per-query sum and corpus mean run over the
    query set only."""
    from pyspark.sql.window import Window

    disc = _ndcg_discount_ppm(k)
    disc_case = "CASE rank " + " ".join(
        f"WHEN {r} THEN {d}L" for r, d in enumerate(disc, start=1)
    ) + " ELSE 0L END"

    truth = brute_force_topk(queries, corpus, id_col, vec_col, k=k).select(
        "query_id",
        "neighbor_id",
        (F.lit(k + 1) - F.col("rank")).cast("long").alias("__rel"),
        F.expr(disc_case).alias("__ideal_disc"),
    )
    approx = ivf_topk(
        queries, corpus, id_col, vec_col,
        k=k, n_centroids=n_centroids, nprobe=nprobe,
    ).select("query_id", "neighbor_id", "rank")

    # Retrieved-side gain: rel of the item under the discount of the
    # position the index put it at (0 if the item isn't in the exact
    # top-k). Ideal DCG folds the truth side under its own ranks, so
    # a query whose candidate pool is thinner than k normalizes
    # against its realizable ideal, not a fictional full list.
    gains = approx.join(truth, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        (F.coalesce(F.col("__rel"), F.lit(0)) * F.expr(disc_case)).alias(
            "__gain_ppm"
        ),
    )
    dcg = gains.groupBy("query_id").agg(
        F.sum("__gain_ppm").alias("__dcg_ppm")
    )
    idcg = truth.groupBy("query_id").agg(
        F.sum(F.col("__rel") * F.col("__ideal_disc")).alias("__idcg_ppm"),
        F.count(F.lit(1)).alias("n_true"),
    )
    per = idcg.join(dcg, "query_id", "left").select(
        "query_id",
        "n_true",
        F.coalesce("__dcg_ppm", F.lit(0)).alias("__dcg_ppm"),
        "__idcg_ppm",
        F.expr(
            "(1000000L * coalesce(__dcg_ppm, 0L)) div __idcg_ppm"
        ).alias("__ndcg_ppm"),
    )
    return per.select(
        "query_id",
        "n_true",
        (F.col("__dcg_ppm").cast("double") / 1_000_000.0).alias("dcg"),
        (F.col("__ndcg_ppm").cast("double") / 1_000_000.0).alias("ndcg"),
        (
            F.expr(
                "CAST(sum(__ndcg_ppm) OVER () div count(1) OVER () AS DOUBLE)"
            )
            / 1_000_000.0
        ).alias("mean_ndcg"),
    )


def similarity_profile(
    df: DataFrame, id_col: str, vec_col: str, bins: int = 20
) -> DataFrame:
    """X114: random-pair cosine histogram — the corpus ISOTROPY
    profile.  Embedding models are anisotropic (Ethayarajh 2019):
    two UNRELATED texts' vectors often score cosine 0.3-0.6, and
    every cosine threshold in the dedup/ANN family (X8, X28, X39)
    is only meaningful relative to this background.  Read the
    profile first, THEN pick thresholds; a mean random-pair cosine
    far above 0 is also the empirical motivation for X68's
    all-but-the-top deflation.

    Pairing is hash-driven and shuffle-friendly: each id buckets by
    unit_hash mod ⌈n/2⌉, each bucket contributes its two smallest
    (hash, id) members as ONE disjoint pair (WindowGroupLimit — two
    rows per bucket per map partition reach the shuffle), giving
    ~0.4·n deterministic pseudo-random pairs with no global sort and
    no self-join.  Cosines round to 6 decimals (the X8 cross-engine
    convention) before binning into ``bins`` equal [-1, 1] buckets;
    empty buckets still report.

    Scale: one narrow map, one bucket-keyed window, one bounded
    aggregate."""
    from pyspark.sql.window import Window

    from ..operators.sampling import unit_hash

    n1 = df.agg(
        F.greatest(
            (F.count(F.lit(1)) / 2).cast("long"), F.lit(1)
        ).alias("__nb")
    )
    h = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .crossJoin(F.broadcast(n1))
        .select(
            "__id", "__v", (unit_hash("__id") % F.col("__nb")).alias("__bkt"),
            unit_hash("__id").alias("__h"),
        )
    )
    w = Window.partitionBy("__bkt").orderBy("__h", "__id")
    two = h.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") <= 2)
    pairs = (
        two.groupBy("__bkt")
        .agg(
            F.count(F.lit(1)).alias("__m"),
            F.max(F.when(F.col("__r") == 1, F.col("__v"))).alias("__va"),
            F.max(F.when(F.col("__r") == 2, F.col("__v"))).alias("__vb"),
        )
        .filter(F.col("__m") == 2)
        .select(F.round(cosine("__va", "__vb"), 6).alias("__cos"))
    )
    binned = pairs.select(
        F.expr(
            f"CAST(least({bins} - 1, greatest(0, "
            f"floor((__cos + 1.0) / 2.0 * {bins}))) AS BIGINT)"
        ).alias("bin"),
        "__cos",
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.round(F.col("__cos") * 1_000_000.0).cast("long")).alias("__s"),
    )
    grid = (
        df.sparkSession.range(bins)
        .select(F.col("id").cast("long").alias("bin"))
    )
    tot = agg.agg(F.sum("n_pairs").alias("__np"))
    return (
        grid.join(F.broadcast(agg), "bin", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.expr(f"-1000000 + bin * (2000000 div {bins})").alias(
                "bin_lo_e6"
            ),
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.expr(
                "CASE WHEN __np = 0 THEN 0 "
                "ELSE (1000000 * coalesce(n_pairs, 0)) div __np END"
            ).alias("share_ppm"),
            F.expr(
                "CASE WHEN coalesce(n_pairs, 0) = 0 THEN NULL "
                "ELSE __s div n_pairs END"
            ).alias("mean_cos_e6"),
        )
        .orderBy("bin")
    )


def mmr_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_vec_sql: str,
    k: int = 6,
    shortlist: int = 24,
    lambda_x10: int = 7,
) -> DataFrame:
    """X120: Maximal Marginal Relevance selection (Carbonell &
    Goldstein, SIGIR 1998) — pick k items that are RELEVANT to a
    probe but DIVERSE among themselves: round i selects argmax
    λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s).  Pure top-k by relevance
    returns k near-duplicates of the best hit; every RAG retriever,
    few-shot-example picker, and eval-set sampler needs exactly this
    de-redundancy step, and at corpus scale it must run inside the
    engine.

    Two-phase shape (the standard production split): the DISTRIBUTED
    phase scores the whole corpus against the probe and takes a
    ``shortlist``-sized head via orderBy+limit (compiles to
    TakeOrderedAndProject — each partition forwards only its top
    ``shortlist`` rows, the O3 discipline); the greedy phase then
    runs as ``k`` unrolled stages over that bounded table — each
    round is a broadcast of the 1-row selection + a greatest()
    update of each candidate's max-sim-to-selected + a LIMIT-1
    argmax.  Every round's candidate table is lazily
    localCheckpoint-ed (the X7 connected-components convention):
    without the cut, round i's lineage replays rounds 1..i-1 and
    the unrolled plan grows quadratically in k.  No driver
    collect() anywhere: the loop is plan construction, not data
    movement.

    Determinism/exactness: similarities use the house cosine rounded
    to 6 decimals, then scaled to e6 integers; the MMR score is kept
    ×10 — score_x10_e6 = λ₁₀·rel_e6 − (10−λ₁₀)·maxsim_e6 — so it is
    a PURE integer with no division at all (Spark div truncates
    toward zero, DuckDB // floors; on the negative scores diversity
    penalties produce, those diverge — not dividing sidesteps the
    trap entirely and the ordering is identical).  Tie-break
    (score desc, id asc).  Round 1 has no selected set: score =
    10·rel_e6 (the standard MMR convention).

    Scale: corpus work is ONE scan + one bounded top-k; the k·C
    greedy work is independent of corpus size."""
    rel = (
        f"CAST(round(round({_COS_SQL.format(a=vec_col, b=probe_vec_sql)}, 6)"
        " * 1000000) AS BIGINT)"
    )
    scored = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.expr(rel).alias("rel_e6"),
    )
    cand = (
        scored.orderBy(F.col("rel_e6").desc(), F.col("id").asc())
        .limit(shortlist)
        .select("id", "vec", "rel_e6", F.lit(None).cast("long").alias("maxsim_e6"))
        .localCheckpoint(eager=False)
    )
    score = (
        f"CASE WHEN maxsim_e6 IS NULL THEN 10 * rel_e6 ELSE "
        f"{lambda_x10} * rel_e6 - {10 - lambda_x10} * maxsim_e6 END"
    )
    picks = []
    for i in range(1, k + 1):
        sel = (
            cand.withColumn("score_x10_e6", F.expr(score))
            .orderBy(F.col("score_x10_e6").desc(), F.col("id").asc())
            .limit(1)
        )
        picks.append(
            sel.select(
                F.lit(i).alias("rank"),
                "id",
                "rel_e6",
                "maxsim_e6",
                "score_x10_e6",
            )
        )
        if i < k:
            selv = sel.select(
                F.col("id").alias("__sid"), F.col("vec").alias("__svec")
            )
            sim = (
                f"CAST(round(round({_COS_SQL.format(a='vec', b='__svec')}, 6)"
                " * 1000000) AS BIGINT)"
            )
            cand = (
                cand.crossJoin(F.broadcast(selv))
                .filter(F.col("id") != F.col("__sid"))
                .select(
                    "id",
                    "vec",
                    "rel_e6",
                    F.expr(f"greatest(coalesce(maxsim_e6, {sim}), {sim})").alias(
                        "maxsim_e6"
                    ),
                )
                .localCheckpoint(eager=False)
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.orderBy("rank")


def cosine_threshold_calibration(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    n_centroids: int = 8,
    thresholds: tuple[int, ...] = (
        200_000,
        400_000,
        600_000,
        800_000,
        950_000,
    ),
    pair_impl: str = "auto",
    assign: str = "auto",
) -> DataFrame:
    """X137: semantic-dedup threshold calibration — the operating
    table you read before picking X28's ``threshold``: over the
    cluster-bucketed candidate pairs SemDeDup would score anyway,
    evaluate each candidate ppm threshold against a weak ground
    truth (label agreement — the standard proxy when no human dup
    labels exist), reporting predicted-duplicate counts, precision
    and recall at every threshold in one pass.  The X81 PR-curve
    idea applied to the embedding-similarity axis: thresholds are a
    dial, and this table is the dial's face.

    Exactness: cosines go through round-to-6 then the
    round-times-1e6 re-round (the X27 convention — never a bare
    double*1e6 truncation); counts are exact; precision/recall are
    integer ppm with NULL (not 0) when the denominator is empty.

    Scale: candidate generation is the X28 shape — centroid-keyed
    self-join, never all-pairs; the threshold sweep is ONE explode
    over the pair table (|thresholds|×pairs rows), not |thresholds|
    passes; the output is |thresholds| rows.  ``pair_impl="gemm"``
    swaps the interpreted per-pair cosine for the shared BLAS
    bucket kernel (``_bucket_pair_scores_gemm``) — the r9 10×
    probe showed the interpreted pair stage dominating (13.2× at
    constant bucket size); the sweep and aggregation are unchanged,
    so both impls are bit-identical by test; ``"auto"`` (default
    since r10) splits the buckets at ``GEMM_MIN_BUCKET`` via
    ``_pair_scores``.  ``assign`` picks the bucket-assignment engine
    (flat N·k vs log-depth tree) with the X28 auto policy — once the
    pair stage is GEMM-cheap, flat assignment's N·k growth is what
    remains superlinear when k must scale with N."""
    labels = corpus.select(F.col(id_col), F.col(label_col))
    assigned = (
        _centroid_buckets(corpus, id_col, vec_col, n_centroids, assign)
        .join(labels, id_col)
        .select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            F.col(label_col).alias("__lab"),
            "centroid_id",
        )
    )
    pairs = _pair_scores(
        assigned,
        "centroid_id",
        "__id",
        "__v",
        payload_cols=("__lab",),
        pair_impl=pair_impl,
    ).select(
        F.col("cos_e6").alias("__cos_e6"),
        (F.col("__lab_a") == F.col("__lab_b")).alias("__same"),
    )
    thr_arr = F.array(*[F.lit(int(t)) for t in thresholds])
    swept = pairs.select(
        "__cos_e6", "__same", F.explode(thr_arr).alias("thr_ppm")
    )
    agg = swept.groupBy("thr_ppm").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("__same"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("__cos_e6") >= F.col("thr_ppm"), 1).otherwise(0))
        .cast("long")
        .alias("n_pred"),
        F.sum(
            F.when(
                F.col("__same") & (F.col("__cos_e6") >= F.col("thr_ppm")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_tp"),
    )
    return agg.select(
        F.col("thr_ppm").cast("long").alias("thr_ppm"),
        "n_pairs",
        "n_pos",
        "n_pred",
        "n_tp",
        F.expr(
            "CASE WHEN n_pred = 0 THEN NULL "
            "ELSE (1000000 * n_tp) div n_pred END"
        )
        .cast("long")
        .alias("precision_ppm"),
        F.expr(
            "CASE WHEN n_pos = 0 THEN NULL "
            "ELSE (1000000 * n_tp) div n_pos END"
        )
        .cast("long")
        .alias("recall_ppm"),
    ).orderBy("thr_ppm")


def margin_knn_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    n_centroids: int = 8,
    k: int = 4,
    top_pairs: int = 20,
    pair_impl: str = "auto",
    assign: str = "auto",
) -> DataFrame:
    """X129: margin-based nearest-neighbor pair mining (Artetxe &
    Schwenk 2019, the LASER bitext-mining criterion): a cross-group
    pair (x, y) is a good match not when cos(x, y) is ABSOLUTELY
    high but when it is high RELATIVE to what x and y score against
    their other candidates — margin = 2·cos(x,y) / (avgₖ(x) +
    avgₖ(y)), where avgₖ is the mean similarity to the k nearest
    cross-group candidates.  Kills the hub problem (a vector near
    everything wins every absolute ranking but margins ~1).  Groups
    here are the label's parity — the fixture stand-in for the
    two-language split.

    Exactness: cosines are round-6-×1e6 ppm ints; avgₖ = sum div
    count over the top-k window (ties: higher cos first, then the
    candidate id); margin_ppm = (2e6·cos) div (avgₓ+avg_y), NULL
    when the denominator is ≤ 0 (all-negative neighborhoods carry
    no margin signal); final order (margin DESC NULLS LAST, ids).

    Scale: candidates are centroid-bucketed (the X28 shape — never
    the full G0×G1 cross join); the two avgₖ windows are keyed on
    x / y respectively; top-``top_pairs`` goes through
    TakeOrderedAndProject.  ``pair_impl="gemm"`` scores each
    bucket's G0×G1 block with one BLAS matmul
    (``_bucket_pair_scores_gemm``, cross mode) instead of the
    interpreted per-pair cosine — the r9 10× probe put the expr
    pair stage at 18.6× for 10× data at constant bucket size, and
    the per-pair interpreter constant is that gap; the margin
    windows and final ranking are shared, so both impls are
    bit-identical by test; ``"auto"`` (default since r10) splits the
    buckets at ``GEMM_MIN_BUCKET`` via ``_pair_scores``.  ``assign``
    picks the bucket-assignment engine (flat N·k vs log-depth tree)
    with the X28 auto policy."""
    from pyspark.sql.window import Window

    labels = corpus.select(
        F.col(id_col), (F.col(label_col) % 2).alias("__g")
    )
    assigned = (
        _centroid_buckets(corpus, id_col, vec_col, n_centroids, assign)
        .join(labels, id_col)
        .select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            "__g",
            "centroid_id",
        )
    )
    pairs = (
        _pair_scores(
            assigned,
            "centroid_id",
            "__id",
            "__v",
            cross_col="__g",
            pair_impl=pair_impl,
        )
        .select("id_a", "id_b", "cos_e6")
        .localCheckpoint(eager=True)
    )
    wa = Window.partitionBy("id_a").orderBy(
        F.col("cos_e6").desc(), F.col("id_b").asc()
    )
    ka = (
        pairs.withColumn("__r", F.row_number().over(wa))
        .filter(F.col("__r") <= k)
        .groupBy("id_a")
        .agg(
            F.expr(
                "CASE WHEN sum(cos_e6) < 0 THEN "
                "-((-sum(cos_e6)) div count(1)) "
                "ELSE sum(cos_e6) div count(1) END"
            ).alias("__ax")
        )
    )
    wb = Window.partitionBy("id_b").orderBy(
        F.col("cos_e6").desc(), F.col("id_a").asc()
    )
    kb = (
        pairs.withColumn("__r", F.row_number().over(wb))
        .filter(F.col("__r") <= k)
        .groupBy("id_b")
        .agg(
            F.expr(
                "CASE WHEN sum(cos_e6) < 0 THEN "
                "-((-sum(cos_e6)) div count(1)) "
                "ELSE sum(cos_e6) div count(1) END"
            ).alias("__ay")
        )
    )
    return (
        pairs.join(ka, "id_a")
        .join(kb, "id_b")
        .select(
            "id_a",
            "id_b",
            "cos_e6",
            # sign-symmetric division (the X41 convention): Spark div
            # truncates toward zero, DuckDB // floors — abs then
            # re-sign so a negative cosine's margin agrees.
            F.expr(
                "CASE WHEN __ax + __ay <= 0 THEN NULL "
                "WHEN cos_e6 < 0 THEN "
                "-((2000000 * -cos_e6) div (__ax + __ay)) "
                "ELSE (2000000 * cos_e6) div (__ax + __ay) END"
            )
            .cast("long")
            .alias("margin_ppm"),
        )
        .orderBy(
            F.col("margin_ppm").desc_nulls_last(),
            F.col("id_a").asc(),
            F.col("id_b").asc(),
        )
        .limit(top_pairs)
    )


def semantic_decontamination(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    bench_mod: int = 97,
    threshold: float = 0.9,
    n_centroids: int | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """X167: SEMANTIC decontamination — X13 catches benchmark leakage
    by shared n-grams; paraphrased leakage (translated, reworded,
    format-shifted eval items) has no shared n-grams but lands next
    to the benchmark in embedding space.  Flag every candidate
    vector whose round-6 cosine to ANY benchmark vector reaches
    ``threshold``, using the X8 IVF buckets as the candidate
    generator: the benchmark side probes its ``nprobe`` nearest
    centroids (recall knob), the corpus side lives in its rank-1
    bucket — the SemDeDup bucketed-pair discipline aimed across two
    sets instead of within one.

    The benchmark set here is the deterministic pseudo-benchmark
    ``id % bench_mod == 0`` (fixture convention, like X13's probe
    set); deployments pass a real benchmark table by unioning it in
    with ids in a reserved range.

    Output: one row per FLAGGED candidate — (vec_id, n_bench_hits,
    max_cos) with max_cos round-6.

    Scale (round 12 — the r12 staging probe measured the fixed-k=8
    form at 8.35× for 10× data, the X183 class): ``n_centroids=None``
    derives k = max(8, ceil(N / IVF_TARGET_BUCKET)) so bucket size —
    and the per-candidate pair volume — stays constant as the corpus
    grows.  At k ≤ FLAT_ASSIGN_MAX_K assignment is the flat broadcast
    expr scoring; above it both sides assign through the BLAS
    ``_gemm_assign`` kernel (same round-6/tie-break comparator;
    N·k·d float64 FLOPs instead of N·k ~25µs interpreted cosine
    evals — the tree experiment this replaced spent its time on
    interpreted per-level scoring, BENCH_SF1_r12 history).  A real
    deployment's benchmark set is CONSTANT-sized, so the bucket join
    is linear in N; the fixture's ``id % bench_mod`` proxy grows the
    bench side ∝ N, where the join is still 64·N/bench_mod pairs —
    linear."""
    if n_centroids is None:
        n_centroids = max(
            8, math.ceil(emb.count() / IVF_TARGET_BUCKET)
        )
    bench = emb.filter((F.col(id_col) % bench_mod) == 0)
    cand = emb.filter((F.col(id_col) % bench_mod) != 0)
    if n_centroids <= FLAT_ASSIGN_MAX_K:
        cents = ivf_centroids(emb, id_col, vec_col, n_centroids)
        cand_b = ivf_assign(cand, cents, id_col, vec_col, nprobe=1).select(
            F.col(id_col), F.col(vec_col).alias("__cv"), "centroid_id"
        )
        bench_b = ivf_assign(
            bench, cents, id_col, vec_col, nprobe=nprobe
        ).select(
            F.col(id_col).alias("__bid"),
            F.col(vec_col).alias("__bv"),
            "centroid_id",
        )
    else:
        # adaptive-k regime: BLAS assignment (same round-6/tie-break
        # comparator as the flat expr path — _gemm_assign docstring).
        # The k-row centroid draw is checkpointed so the two kernel
        # calls don't each replay the corpus TakeOrdered.
        cents = ivf_centroids(
            emb, id_col, vec_col, n_centroids
        ).localCheckpoint(eager=True)
        cand_b = _gemm_assign(cand, cents, id_col, vec_col, 1).select(
            F.col(id_col),
            F.col(vec_col).alias("__cv"),
            "centroid_id",
        )
        bench_b = _gemm_assign(
            bench, cents, id_col, vec_col, nprobe
        ).select(
            F.col(id_col).alias("__bid"),
            F.col(vec_col).alias("__bv"),
            "centroid_id",
        )
    thr = F.lit(threshold)
    return (
        cand_b.join(bench_b, "centroid_id")
        .select(
            F.col(id_col),
            "__bid",
            F.round(cosine("__cv", "__bv"), 6).alias("__cos"),
        )
        # a benchmark vector probing 2 centroids can meet the same
        # candidate twice — count distinct benchmark ids
        .filter(F.col("__cos") >= thr)
        .groupBy(id_col)
        .agg(
            F.countDistinct("__bid").cast("long").alias("n_bench_hits"),
            F.max("__cos").alias("max_cos"),
        )
        .orderBy(id_col)
    )


def ivf_nprobe_recall_curve(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_queries: int = 64,
    query_mod: int | None = None,
    n_centroids: int | None = None,
    nprobes: tuple[int, ...] = (1, 2, 4),
) -> DataFrame:
    """X168: the IVF recall-vs-nprobe dial, measured on this corpus —
    X73/X125 grade ONE configuration; this sweeps ``nprobes`` and
    reports exact recall@k against the brute-force ground truth for
    a deterministic query sample, so "how many probes does THIS
    corpus need for 95% recall" is a table, not folklore.  The
    recall loss IS the quantity a deployment trades for the
    nprobe/k speedup; measuring it on the corpus's own geometry
    (cluster sizes, boundary density) is the only honest way to
    pick the knob.

    Exactness: ground truth and IVF candidates rank by the same
    (round-6 cosine DESC, id ASC) comparator; per-query recall is
    exact integer 10⁶·|∩| div k; the mean is a DECIMAL-summed
    integer division.

    Scale (round 12 — the r12 staging probe measured the original
    ``id % query_mod`` + fixed-k=8 config at 33.9× for 10× data:
    BOTH the query count and the bucket size grew ∝ N, so truth and
    candidate volume were each N²-terms): the default query set is
    now FIXED-SIZE — the ``n_queries`` vectors with the smallest
    (md5('q#'||id), id), a salted draw so it never coincides with
    the centroid seed draw — which is how a deployment grades
    recall (a constant evaluation sample, not a constant FRACTION);
    ``query_mod`` remains as an explicit opt-in diagnostic.  Ground
    truth is then |Q|·N work — linear.  ``n_centroids=None`` derives
    k = max(8, ceil(N / IVF_TARGET_BUCKET)) so bucket size stays
    constant; above FLAT_ASSIGN_MAX_K ground truth runs through the
    BLAS ``_gemm_topk`` kernel and assignment (corpus rank-1,
    queries at max(nprobes)) through ``_gemm_assign`` — identical
    round-6/tie-break comparators, float64 matmuls instead of the
    ~25µs-per-eval interpreted cosine that dominated the tree
    experiment (BENCH_SF1_r12 history) — every term linear in N."""
    from pyspark.sql.window import Window

    if n_centroids is None:
        n_centroids = max(
            8, math.ceil(emb.count() / IVF_TARGET_BUCKET)
        )
    if query_mod is not None:
        queries = emb.filter((F.col(id_col) % query_mod) == 0)
    else:
        # eager checkpoint: the bounded query draw feeds the truth
        # pass, the probe assignment AND the per-sweep base — without
        # it each consumer replays the corpus TakeOrdered.
        queries = (
            emb.orderBy(
                F.md5(F.concat(F.lit("q#"), F.col(id_col).cast("string"))),
                F.col(id_col),
            )
            .limit(int(n_queries))
            .localCheckpoint(eager=True)
        )
    maxp = max(nprobes)
    if n_centroids <= FLAT_ASSIGN_MAX_K:
        truth = brute_force_topk(queries, emb, id_col, vec_col, k).select(
            "query_id", "neighbor_id"
        )
        cents = ivf_centroids(emb, id_col, vec_col, n_centroids)
        lists = ivf_assign(emb, cents, id_col, vec_col, nprobe=1).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            "centroid_id",
        )
        probes = ivf_assign(
            queries, cents, id_col, vec_col, nprobe=maxp
        ).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            "centroid_id",
            "probe_rank",
        )
    else:
        # adaptive-k regime: BLAS ground truth + BLAS assignment
        # (same round-6/tie-break comparator as the expr path — see
        # _gemm_topk/_gemm_assign; the interpreted higher-order
        # cosine at this scale was the measured ~30s term).
        # probe_rows: the default query draw is exactly n_queries
        # rows, so the kernel can bound its |Q|*G replication
        # shuffle (r14, ADVICE r13); the query_mod opt-in diagnostic
        # has data-dependent |Q| and keeps the parallelism default.
        truth = _gemm_topk(
            queries,
            emb,
            id_col,
            vec_col,
            k,
            probe_rows=None if query_mod is not None else int(n_queries),
        ).select("query_id", "neighbor_id")
        cents = ivf_centroids(
            emb, id_col, vec_col, n_centroids
        ).localCheckpoint(eager=True)
        lists = _gemm_assign(emb, cents, id_col, vec_col, 1).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            "centroid_id",
        )
        probes = _gemm_assign(
            queries, cents, id_col, vec_col, maxp
        ).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            "centroid_id",
            "probe_rank",
        )
    # ONE candidate table at max nprobe, re-ranked per sweep point
    cand = (
        probes.join(lists, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "probe_rank",
            F.round(cosine("__qv", "__cv"), 6).alias("__cos"),
        )
        .withColumn(
            "nprobe",
            F.explode(F.array(*[F.lit(p) for p in sorted(nprobes)])),
        )
        .filter(F.col("probe_rank") <= F.col("nprobe"))
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("__cos"), F.asc("neighbor_id")
    )
    got = (
        cand.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("nprobe", "query_id", "neighbor_id")
    )
    hits = got.join(truth, ["query_id", "neighbor_id"]).groupBy(
        "nprobe", "query_id"
    ).agg(F.count(F.lit(1)).alias("__hit"))
    # base = EVERY (query, nprobe) cell, not just queries with
    # candidates: a query whose probed lists hold only itself has
    # recall 0, and dropping it would flatter the curve
    base = queries.select(F.col(id_col).alias("query_id")).withColumn(
        "nprobe",
        F.explode(F.array(*[F.lit(p) for p in sorted(nprobes)])),
    )
    per_q = (
        base.join(hits, ["nprobe", "query_id"], "left")
        .select(
            "nprobe",
            "query_id",
            F.expr(f"(1000000 * coalesce(__hit, 0)) div {k}")
            .cast("long")
            .alias("__rec"),
        )
    )
    return (
        per_q.groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.expr("sum(cast(__rec as decimal(38,0))) div count(1)")
            .cast("long")
            .alias("mean_recall_ppm"),
        )
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            "n_queries",
            "mean_recall_ppm",
        )
        .orderBy("nprobe")
    )


def _knn_edges(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    candidates: str,
    n_centroids: int,
    nprobe: int,
) -> DataFrame:
    """Shared X177/X187 top-k graph build: (query_id, neighbor_id)
    edges ranked by the X4 (round-6 cosine DESC, id ASC) comparator.
    ``bruteforce`` is the oracle-exact |N|² pass; ``ivf`` is the
    deployment shape (X8/X168 machinery, n_centroids scaled with N
    for constant bucket pair volume)."""
    from pyspark.sql.window import Window

    if candidates == "bruteforce":
        # r13: the |N|² ground truth runs through the BLAS kernel —
        # bit-identical rows to brute_force_topk (pinned by
        # test_gemm_topk_matches_brute_force + the self-kNN twin
        # test), but the 25M round-6 cosines at sf0.1 drop from ~86 s
        # of ~25µs interpreted evals to ~1 s of chunked gemm.  The
        # oracle models the same comparator, so parity is unchanged.
        # G pinned at 32 here: the probe side IS the corpus, so the
        # |Q|·G replication shuffle must not scale with cluster
        # width (see _gemm_topk's docstring).
        return _gemm_topk(emb, emb, id_col, vec_col, k, n_groups=32).select(
            "query_id", "neighbor_id"
        )
    if candidates == "ivf":
        # probe-side memberships (cross side 0) x rank-1 inverted
        # lists (side 1) through the X129/X137 _pair_scores engine —
        # a (q, n) candidate appears exactly once (n lives in ONE
        # list; q probes it or not), so no cross-bucket dedup is
        # needed, and pair_impl="auto" gives the bucket-size-split
        # BLAS kernel (bit-identical to the expr path by the
        # _pair_scores contract; ranking by cos_e6 is the same
        # round-6 comparator scaled to ppm).
        cents = ivf_centroids(emb, id_col, vec_col, n_centroids)
        if n_centroids > FLAT_ASSIGN_MAX_K:
            # scaled-k regime (k ∝ N): BLAS assignment — the flat
            # expr scoring here is N·k ~25µs interpreted cosines,
            # the same term the r12 X167/X168 fixes measured and
            # removed (round-6/tie-break comparator identical by
            # the _gemm_assign contract).
            cents = cents.localCheckpoint(eager=True)
            lists = _gemm_assign(emb, cents, id_col, vec_col, 1).select(
                F.col(id_col), F.col(vec_col), "centroid_id"
            ).withColumn("__side", F.lit(1))
            probes = _gemm_assign(
                emb, cents, id_col, vec_col, nprobe
            ).select(
                F.col(id_col), F.col(vec_col), "centroid_id"
            ).withColumn("__side", F.lit(0))
        else:
            lists = ivf_assign(emb, cents, id_col, vec_col, nprobe=1).select(
                F.col(id_col), F.col(vec_col), "centroid_id"
            ).withColumn("__side", F.lit(1))
            probes = ivf_assign(
                emb, cents, id_col, vec_col, nprobe=nprobe
            ).select(
                F.col(id_col), F.col(vec_col), "centroid_id"
            ).withColumn("__side", F.lit(0))
        scores = _pair_scores(
            probes.unionByName(lists),
            "centroid_id",
            id_col,
            vec_col,
            cross_col="__side",
        )
        w = Window.partitionBy("id_a").orderBy(
            F.desc("cos_e6"), F.asc("id_b")
        )
        return (
            scores.filter(F.col("id_a") != F.col("id_b"))
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= k)
            .select(
                F.col("id_a").alias("query_id"),
                F.col("id_b").alias("neighbor_id"),
            )
        )
    raise ValueError(f"candidates must be bruteforce|ivf, got {candidates!r}")


def knn_hubness_audit(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    candidates: str = "bruteforce",
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """X177: hubness audit of the exact kNN graph (Radovanovic et
    al. 2010) — in high-dimensional embedding spaces the
    k-occurrence distribution (how often each point appears in OTHER
    points' top-k) grows a heavy right tail: "hub" vectors crowd
    into everyone's neighbor lists while "antihubs" appear in none.
    Hubs poison kNN-based curation (X28 SemDeDup, X39 hard-negative
    mining, X120 MMR): a hub survives every cluster and mines as a
    negative for everything.  This panel measures the pathology per
    label before those operators trust the geometry: antihub share,
    hub count (k-occurrence >= 2k, the standard dial), max
    k-occurrence, mean k-occurrence (== k globally; per-label skew
    is the signal), and kNN reciprocity (mutual-neighbor rate —
    low reciprocity is the same pathology seen edge-wise).

    Exactness: the graph ranks by (round-6 cosine DESC, id ASC) —
    the X4 comparator; every output is an exact integer count or a
    ppm/e6 integer division.

    Scale: ``candidates="bruteforce"`` (the oracle-pinned default) is
    the X4 broadcast brute-force pass (|N|² narrow map —
    fixture-honest); ``candidates="ivf"`` swaps the graph build to
    the IVF inverted lists (X8/X168 machinery: zero-shuffle
    assignment, centroid-keyed candidate join, bucket pair volume
    held constant by scaling ``n_centroids`` with N) with the audit
    unchanged — the deployment shape, probed at 10× in BENCH_SF1.
    The k-occurrence aggregate, reciprocity self-join (|edges| =
    k·N rows), and label panels are all keyed shuffles bounded by
    the edge table."""
    edges = _knn_edges(emb, id_col, vec_col, k, candidates, n_centroids, nprobe)
    edges = edges.localCheckpoint(eager=True)
    vecs = emb.select(
        F.col(id_col).alias("__vid"), F.col(label_col).alias("label")
    )
    kocc = (
        vecs.join(
            edges.groupBy("neighbor_id").agg(
                F.count(F.lit(1)).alias("__k")
            ),
            vecs.__vid == F.col("neighbor_id"),
            "left",
        )
        .select(
            "__vid", "label", F.coalesce("__k", F.lit(0)).alias("__kocc")
        )
    )
    occ_panel = kocc.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum((F.col("__kocc") == 0).cast("long")).alias("n_antihubs"),
        F.sum((F.col("__kocc") >= 2 * k).cast("long")).alias("n_hubs"),
        F.max("__kocc").alias("max_kocc"),
        F.expr("(1000000 * sum(__kocc)) div count(1)").alias(
            "mean_kocc_e6"
        ),
    )
    rev = edges.select(
        F.col("query_id").alias("neighbor_id"),
        F.col("neighbor_id").alias("query_id"),
        F.lit(1).alias("__mutual"),
    )
    recip = (
        edges.join(rev, ["query_id", "neighbor_id"], "left")
        .join(vecs, F.col("query_id") == F.col("__vid"))
        .groupBy("label")
        .agg(
            F.expr(
                "(1000000 * sum(coalesce(__mutual, 0))) div count(1)"
            ).alias("reciprocity_ppm")
        )
    )
    return (
        occ_panel.join(recip, "label")
        .select(
            "label",
            "n_vecs",
            "n_antihubs",
            "n_hubs",
            "max_kocc",
            "mean_kocc_e6",
            "reciprocity_ppm",
        )
        .orderBy("label")
    )


# X183's default bucket granularity — the shared IVF_TARGET_BUCKET
# adaptive-k policy (see the constant next to FLAT_ASSIGN_MAX_K).
# The r11 staging probe measured the alternative: a fixed k=8 at 10×
# data is N²/8 → 43× observed, vs 13.1× for the scaled knob (pure
# candidate-volume growth, BENCH_SF1_r11).
SRP_TARGET_BUCKET = IVF_TARGET_BUCKET


def srp_cosine_calibration(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 16,
    n_centroids: int | None = None,
    assign: str = "auto",
) -> DataFrame:
    """X183: signed-random-projection (SimHash-for-cosine) estimator
    calibration — the cosine-sketch member of the calibration family
    (X45 LSH recall, X163 MinHash-J, X141 quantile error): per
    exact-cosine band, the empirical sign-bit match rate against the
    Goemans-Williamson/Charikar expectation E[match] = 1 - theta/pi.
    The gap IS the estimator error a hyperplane-LSH deployment would
    inherit on this corpus's similarity range — measured, not quoted
    from the paper.

    Bits are the SIGNS of the X46 Rademacher fold (same _RP_SIGN_SQL
    cell arithmetic, sign taken BEFORE the 1/sqrt(m) scale and
    round-6, which cannot change it); pairs come from the X8 IVF
    buckets (nprobe=1 — the X137 candidate discipline, never
    all-pairs); the expectation uses acos of the round-6 cosine,
    scaled-integer-rounded per pair before summation (the X99 ln
    convention: acos values do not land on e6 ties).

    Scale: bit arrays ride the scan (d*bits multiply-adds per row);
    bucketed pair volume is the X28-audited shape; the band panel is
    <= 20 rows.

    ``n_centroids=None`` (the default, round 12 — VERDICT r11 task 3)
    derives k ∝ N: ``max(8, ceil(N / SRP_TARGET_BUCKET))``, so the
    within-bucket pair volume stays linear as the corpus grows — the
    same scaled-granularity policy ``semantic_dedup`` documents, made
    the shipping default here because the r11 staging probe measured
    the fixed-k=8 form quadratic (43× at 10× data vs 13.1× scaled).
    Passing an explicit ``n_centroids`` pins the granularity (the
    fixed-k mis-deployment is an opt-in diagnostic, not the default).
    Assignment routes through ``_centroid_buckets`` with
    ``assign="auto"``: flat N·k scoring up to FLAT_ASSIGN_MAX_K, the
    ``_gemm_assign`` BLAS kernel above it (r12 policy —
    bit-identical flat buckets, so the flat-modeled DuckDB oracle
    holds at every k; the log-depth tree is a DIFFERENT bucketing
    and stays an explicit opt-in dial).  The one-job ``count()`` that
    sizes k is the same driver-side pattern as the CC convergence
    probes (operators/graph.py) — an action, not a collect, and the
    result is a single long."""
    from .embeddings import _RP_SIGN_SQL

    if n_centroids is None:
        n_centroids = max(
            8, math.ceil(emb.count() / SRP_TARGET_BUCKET)
        )

    sign_bits = (
        "transform(sequence(0, {m} - 1), j -> "
        "CASE WHEN aggregate(zip_with({v}, sequence(0, size({v}) - 1), "
        "(x, i) -> CAST(x AS DOUBLE) * " + _RP_SIGN_SQL.format(i="i", j="j")
        + "), 0.0D, (acc, t) -> acc + t) > 0 THEN 1 ELSE 0 END)"
    ).format(m=int(bits), v=vec_col)
    withbits = emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(sign_bits).alias("__bits"),
    )
    # _centroid_buckets returns (id, vec, centroid_id) — flat rank-1
    # ivf_assign up to FLAT_ASSIGN_MAX_K centroids, the gemm kernel
    # above (assign="auto", the r12 X28 policy: flat buckets
    # bit-for-bit, tree only as explicit opt-in).  Re-attach the bit
    # arrays
    # by id, then score within-bucket pairs through the X129/X137
    # _pair_scores engine (pair_impl="auto": BLAS kernel on big
    # buckets, codegen on small — bit-identical cos_e6 by the
    # _pair_scores contract; the bit arrays ride along as a payload
    # column). cos_e6/1e6 is the SAME double as round(cos, 6) — both
    # are the nearest double to the same 6-decimal value — so the
    # band/acos arithmetic is unchanged from the expr form.
    assigned = _centroid_buckets(
        emb, id_col, vec_col, n_centroids, assign
    ).join(withbits.select(F.col(id_col), F.col("__bits")), id_col)
    pairs = _pair_scores(
        assigned, "centroid_id", id_col, vec_col, payload_cols=("__bits",)
    ).select(
        (F.col("cos_e6") / 1_000_000.0).alias("__cos"),
        F.expr(
            "aggregate(zip_with(__bits_a, __bits_b, (x, y) -> "
            "CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)"
        ).alias("__match"),
    )
    scored = pairs.select(
        F.floor(F.col("__cos") * 10).cast("int").alias("cos_band"),
        "__match",
        F.expr(
            "CAST(ROUND((1.0D - ACOS(GREATEST(-1.0D, LEAST(1.0D, __cos))) "
            "/ PI()) * 1000000) AS BIGINT)"
        ).alias("__exp_ppm"),
    )
    return (
        scored.groupBy("cos_band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("sum(__exp_ppm) div count(1)").alias(
                "expected_match_ppm"
            ),
            F.expr(
                f"(1000000 * sum(__match)) div ({int(bits)} * count(1))"
            ).alias("empirical_match_ppm"),
        )
        .withColumn(
            "gap_ppm",
            F.col("empirical_match_ppm") - F.col("expected_match_ppm"),
        )
        .orderBy("cos_band")
    )


def mutual_knn_clusters(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    candidates: str = "bruteforce",
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """X187: mutual-kNN clustering census — connected components over
    the RECIPROCAL edges of the exact top-k graph (a -> b AND b -> a),
    the classic hub-robust semantic clustering paradigm next to the
    centroid-based X28/X8 family: one-directional edges to hubs (the
    X177 pathology) are dropped by construction, so clusters are
    mutual-agreement groups, not hub halos.  The panel reports, per
    cluster size, the cluster count, vector mass, and mean
    dominant-label purity — the label-coherence audit of the
    geometry's own clustering.

    Exactness: the graph ranks by the X4 comparator; CC labels are
    the X7 min-label fixpoint (engine-independent); purity is ppm
    integer division of integer counts (dominant label ties break to
    the smaller label via the (count, -label) struct max).

    Scale: the edge build is the X177 shape (brute force at fixture
    scale; IVF candidates at deployment — the audit is unchanged);
    the mutual filter is one self-join of the k*N edge table; CC is
    the X7 machinery (near-clique graphs, bounded rounds); panels
    are keyed aggregates on cluster ids."""
    from .graph import connected_components

    edges = _knn_edges(emb, id_col, vec_col, k, candidates, n_centroids, nprobe)
    edges = edges.localCheckpoint(eager=True)
    rev = edges.select(
        F.col("query_id").alias("neighbor_id"),
        F.col("neighbor_id").alias("query_id"),
    )
    mutual = (
        edges.join(rev, ["query_id", "neighbor_id"])
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select(
            F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
        )
    )
    nodes = emb.select(F.col(id_col).alias("id"))
    cc = connected_components(nodes, mutual)
    labeled = cc.join(
        emb.select(
            F.col(id_col).alias("id"), F.col(label_col).alias("__l")
        ),
        "id",
    )
    # Dominant label = highest count, smallest label on ties — a rank
    # window (ORDER BY count DESC, label ASC), matching the oracle's
    # ROW_NUMBER formulation and analyzable for ANY orderable label
    # type (r11 ADVICE: the earlier max(struct(__c, -__l)) negated the
    # label, so a string label_col failed analysis).  Both frames are
    # per-(cluster, label) aggregates — tiny next to the edge work.
    from pyspark.sql.window import Window as _W

    counts = labeled.groupBy("cluster_id", "__l").agg(
        F.count(F.lit(1)).alias("__c")
    )
    dom = (
        counts.withColumn(
            "__rn",
            F.row_number().over(
                _W.partitionBy("cluster_id").orderBy(
                    F.desc("__c"), F.asc("__l")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("cluster_id", F.col("__c").alias("__domc"))
    )
    per_cluster = (
        counts.groupBy("cluster_id")
        .agg(F.sum("__c").alias("__size"))
        .join(dom, "cluster_id")
        .select(
            "cluster_id",
            "__size",
            F.expr("(1000000 * __domc) div __size").alias("__purity"),
        )
    )
    return (
        per_cluster.groupBy(F.col("__size").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("__size").alias("n_vecs"),
            F.expr("sum(__purity) div count(1)").alias("mean_purity_ppm"),
        )
        .orderBy("cluster_size")
    )
