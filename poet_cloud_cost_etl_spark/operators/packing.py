"""Token-budget packing and document chunking: structure a document
stream into ~budget-token packs / overlapping context-window chunks
for LLM training (SURVEY §2.11 extension family).

Semantics: within each shard, documents are laid end-to-end in key
order and cut into packs of ``budget`` tokens — pack id = exclusive
prefix token sum ÷ budget (the "streaming chunker"; a document whose
tokens straddle a boundary belongs to the pack where it starts).

Scale: packing is inherently sequential, so a single global order
would funnel the corpus through one task. Production pipelines shard
first (one writer per shard) and pack within shards — here the shard
is a hash of the document key, so the layout is deterministic and the
per-shard window is an ordinary hash-partitioned window, no global
sort. Pack identity is the (shard, pack_id) pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import TOKENS_SQL
from .sampling import unit_hash


def pack_by_token_budget(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    n_shards: int = 8,
) -> DataFrame:
    """Assign ``(shard, pack_id)`` to each row. ``token_col`` is the
    per-document token count (see ``textstats.token_counts``)."""
    shard = F.pmod(unit_hash(id_col), F.lit(n_shards)).cast("int")
    with_shard = df.select(
        F.col(id_col), F.col(token_col), shard.alias("shard")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum(F.col(token_col)).over(w), F.lit(0))
    return with_shard.select(
        F.col(id_col),
        F.col("shard"),
        F.col(token_col),
        F.floor(prefix / F.lit(budget)).cast("long").alias("pack_id"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """X21: split each document into overlapping token-window chunks —
    the standard context-window preparation step (stride =
    ``chunk_tokens - overlap``; the final chunk may be short; a chunk
    starts at every stride multiple < n_tokens, so every token lands
    in at least one chunk and no chunk is empty).

    Output: (id, chunk_id, chunk_start, n_tokens, chunk_text) where
    chunk_start is the 0-based token offset and chunk_text the
    space-joined token slice.

    Scale: tokenize → sequence → explode → slice is a narrow map —
    zero shuffles; output size is input tokens × (1 + overlap/stride),
    a constant-factor expansion exactly like production chunkers.
    Documents whose canonical token stream is empty produce no chunks
    (nothing to train on)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}")
    stride = chunk_tokens - overlap
    t = df.select(
        F.col(id_col),
        F.expr(
            f"filter({TOKENS_SQL.format(col=text_col)}, x -> x != '')"
        ).alias("__t"),
    ).filter(F.size("__t") > 0)
    starts = F.expr(f"sequence(0, size(__t) - 1, {stride})")
    return (
        t.select(F.col(id_col), F.col("__t"), F.posexplode(starts))
        .select(
            F.col(id_col),
            F.col("pos").cast("long").alias("chunk_id"),
            F.col("col").cast("long").alias("chunk_start"),
            F.least(
                F.lit(chunk_tokens).cast("long"),
                (F.size("__t") - F.col("col")).cast("long"),
            ).alias("n_tokens"),
            F.array_join(
                F.slice(F.col("__t"), F.col("col") + 1, F.lit(chunk_tokens)),
                " ",
            ).alias("chunk_text"),
        )
    )


# Sequence-length bucket ladder for padding_plan: powers of two from
# 16 to 4096 — the bucket grid production seqlen-bucketed batching
# uses (each batch pads its rows to the bucket cap, so cap choice IS
# the padding-waste dial).
PAD_CAPS = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096]


def padding_plan(
    df: DataFrame, id_col: str, text_col: str, batch_rows: int = 8
) -> DataFrame:
    """X52: padding-efficiency plan for length-bucketed batching —
    assign each document to the smallest power-of-two sequence cap
    that holds it, then report per bucket how many fixed-size batches
    the bucket fills and what fraction of the padded token slots is
    WASTE (padding + the empty rows of the final partial batch).
    This is the pre-flight audit for the standard "bucket by length,
    pad to bucket cap" training-batch recipe: the waste column is the
    compute you burn on pad tokens, per bucket, before you commit a
    100 TB tokenization run to a bucket ladder.

    Documents longer than the top cap are counted truncated-to-cap
    (the plan's contract is tokens-that-enter-a-batch; truncation
    loss itself is X38 ``seqlen_plan``'s column).

    Exactness: every column is exact-integer arithmetic — ceil-div
    for batch count, ppm integer division for the waste share.
    Scale: one narrow map (size + bucket lookup inside codegen) and
    one ≤|caps|-row aggregate; nothing else. The bucket lookup is a
    filter over a 9-element literal array, not a join."""
    caps_sql = "array(" + ", ".join(str(c) for c in PAD_CAPS) + ")"
    top = PAD_CAPS[-1]
    n_tok = F.expr(f"size({TOKENS_SQL.format(col=text_col)})")
    b = df.select(
        F.col(id_col),
        F.least(n_tok, F.lit(top)).alias("__n"),
    ).select(
        "__n",
        F.expr(f"element_at(filter({caps_sql}, c -> c >= __n), 1)").alias("cap"),
    )
    agg = b.groupBy("cap").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n").alias("real_tokens"),
    )
    n_batches = F.expr(f"(n_docs + {int(batch_rows)} - 1) div {int(batch_rows)}")
    return (
        agg.select(
            "cap",
            "n_docs",
            "real_tokens",
            n_batches.alias("n_batches"),
        )
        .select(
            "cap",
            "n_docs",
            "n_batches",
            "real_tokens",
            (F.col("n_batches") * batch_rows * F.col("cap")).alias("slot_tokens"),
        )
        .select(
            "cap",
            "n_docs",
            "n_batches",
            "real_tokens",
            "slot_tokens",
            (
                F.expr(
                    "(1000000 * (slot_tokens - real_tokens)) div slot_tokens"
                ).cast("double")
                / 1_000_000.0
            ).alias("waste_share"),
        )
        .orderBy("cap")
    )


def contrastive_pairs_plan(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    n_batches: int = 8,
) -> DataFrame:
    """X139: contrastive training-pair construction plan — the
    SimCSE/DPR-style data layout: anchor/positive = consecutive
    non-overlapping ``chunk_tokens`` windows of the SAME document
    (adjacent text shares topic — the standard weak-supervision
    positive), negatives = the in-batch trick (every OTHER pair's
    positive inside the same hash batch).  This op emits the
    per-batch feasibility panel: pair counts, and the min/mean
    in-batch negatives a pair actually gets — mean_neg collapsing
    toward 0 means batches are dominated by single documents and
    the in-batch trick silently trains on false negatives.

    Exactness: batch = unit-hash(doc) mod ``n_batches``; negatives
    per pair = B − p_own (B pairs in batch, p_own from the pair's
    own doc), so Σ negatives = B² − Σ p_d² — all exact integers;
    mean is scaled e3 integer division.

    Scale: the chunk explode is narrow; pairing is ONE id-keyed
    self-join of the chunk table at offset +1; the panel is one
    batch aggregate over (batch, doc) partials — map-side
    combinable."""
    from .sampling import unit_hash

    chunks = chunk_documents(
        df, id_col, text_col, chunk_tokens=chunk_tokens, overlap=0
    ).select(
        F.col(id_col).alias("__d"),
        "chunk_id",
        "n_tokens",
    )
    nxt = chunks.select(
        F.col("__d"),
        (F.col("chunk_id") - 1).alias("chunk_id"),
        F.col("n_tokens").alias("__pos_tokens"),
    )
    pairs = chunks.join(nxt, ["__d", "chunk_id"]).select(
        "__d",
        (unit_hash("__d") % n_batches).alias("batch_id"),
        "__pos_tokens",
    )
    per_doc = pairs.groupBy("batch_id", "__d").agg(
        F.count(F.lit(1)).alias("__p"),
        F.sum("__pos_tokens").alias("__pt"),
    )
    return (
        per_doc.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__p").cast("long").alias("n_pairs"),
            F.max("__p").cast("long").alias("__maxp"),
            F.sum(F.col("__p") * F.col("__p")).cast("long").alias("__sumsq"),
            F.sum("__pt").cast("long").alias("__pt_sum"),
        )
        .select(
            F.col("batch_id").cast("long").alias("batch_id"),
            "n_docs",
            "n_pairs",
            (F.col("n_pairs") - F.col("__maxp")).alias("min_neg_per_pair"),
            F.expr(
                "(1000 * (n_pairs * n_pairs - __sumsq)) div n_pairs"
            ).alias("mean_neg_per_pair_e3"),
            F.expr("__pt_sum div n_pairs").alias("mean_pos_tokens"),
        )
        .orderBy("batch_id")
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    boundary_mod: int = 8,
) -> DataFrame:
    """X158 (r11-queue): content-defined chunking — variable-size
    chunk boundaries drawn from the CONTENT (a token whose unit hash
    ≡ 0 mod ``boundary_mod`` closes the current chunk), the
    rolling-hash trick behind rsync/LBFS/dedup storage: an insertion
    shifts fixed windows (X21) by one everywhere downstream, but CDC
    boundaries re-synchronize immediately, so chunk-level dedup
    (X26/X97) survives edits. Expected chunk length = boundary_mod
    tokens.

    Output: one row per chunk — (id, chunk_idx, n_tokens,
    chunk_hash) with chunk_idx 0-based in token order.

    Scale: scan-stage tokenize + posexplode; the ONLY shuffle is the
    doc-keyed window/regroup (per-doc partitions, bounded by doc
    length); the boundary test is a pure hash expression — no
    corpus-wide state."""
    toks = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.expr(
                    f"filter({TOKENS_SQL.format(col=text_col)}, "
                    "x -> x != '')"
                )
            ).alias("__p", "__w"),
        )
    )
    flagged = toks.withColumn(
        "__b",
        F.when(unit_hash("__w") % boundary_mod == 0, 1).otherwise(0),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("__p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = flagged.withColumn(
        "chunk_idx", F.coalesce(F.sum("__b").over(w), F.lit(0)).cast("long")
    )
    return (
        seg.groupBy(id_col, "chunk_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(sort_array(collect_list("
                        "struct(__p, __w))), x -> x.__w)"
                    ),
                )
            ).alias("chunk_hash"),
        )
        .orderBy(id_col, "chunk_idx")
    )


def cdc_chunk_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    boundary_mod: int = 8,
) -> DataFrame:
    """X158 panel: per-source CDC chunk duplication census — the
    chunk-level twin of X26 on CDC (edit-stable) boundaries. A
    source with high chunk-duplication but low doc-duplication is
    remixing content (aggregators, scrapers with injected chrome).

    Output per source: n_chunks, n_dup_instances (chunks whose hash
    occurs ≥ 2 corpus-wide), dup_ppm, mean_chunk_tokens.

    Scale: chunk table (doc-keyed window) → one hash-keyed total +
    join back → |sources| aggregate."""
    chunks = cdc_chunks(df, id_col, text_col, boundary_mod)
    src = df.select(F.col(id_col), F.col(source_col).alias("source"))
    ch = chunks.join(src, id_col).select(
        "source", "n_tokens", "chunk_hash"
    )
    totals = ch.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    return (
        ch.join(totals, "chunk_hash")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("__c") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_instances"),
            F.sum("n_tokens").cast("long").alias("__tok"),
        )
        .select(
            "source",
            "n_chunks",
            "n_dup_instances",
            F.expr("(1000000 * n_dup_instances) div n_chunks")
            .cast("long")
            .alias("dup_ppm"),
            F.expr("__tok div n_chunks").cast("long").alias(
                "mean_chunk_tokens"
            ),
        )
        .orderBy("source")
    )
