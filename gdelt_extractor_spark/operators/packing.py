"""Sequence packing for LM training data prep.

Training consumes fixed-length token sequences, not documents; the
standard prep is concat-then-chunk — concatenate documents in a
deterministic order and cut every ``budget`` tokens.  This operator
assigns every document its place in that layout without materializing
any concatenated text: one running-sum window per shard.

Scale shape: documents are salted into ``n_shards`` independent
shards and packed within each — no global ordering, no single-
partition window; parallelism = n_shards, and each shard's running
sum is one partial-aggregated window pass.  All expressions are JVM
codegen (md5 order key, token count, window sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from ..functions.text import tokens


# Salt of the packing order key md5(PACK_SALT:id).  One constant, not a
# per-call option: ``lm_block_spans`` is the block map of
# ``pack_sequences``' layout and only agrees with it under the same
# order.  The DuckDB oracles interpolate this value.
PACK_SALT = "pack-v1"


def _placement_base(
    df: DataFrame, id_col: str, text_col: str, n_shards: int
) -> DataFrame:
    """(doc_id, shard, _ok, n_tokens): the per-document inputs every
    packing layout shares.  Shard = id mod n_shards for integral ids,
    else the first 8 hex digits of the order key mod n_shards; ``_ok``
    = md5(PACK_SALT:id), the within-shard order."""
    order_key = F.md5(
        F.concat(F.lit(PACK_SALT + ":"), F.col(id_col).cast("string"))
    )
    if isinstance(df.schema[id_col].dataType, NumericType):
        shard = F.pmod(F.col(id_col), F.lit(n_shards))
    else:
        shard = F.pmod(
            F.conv(F.substring(order_key, 1, 8), 16, 10).cast("long"),
            F.lit(n_shards),
        )
    return df.select(
        F.col(id_col).alias("doc_id"),
        shard.cast("int").alias("shard"),
        order_key.alias("_ok"),
        # NULL text counts as empty, not size(NULL) = -1 — a negative
        # n_tokens corrupts running sums / bin capacities (ADVICE r8)
        F.size(tokens(F.coalesce(F.col(text_col), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_shards: int = 8,
) -> DataFrame:
    """Per-document placement in the concat-then-chunk layout:
    (doc_id, shard, n_tokens, seq_id, seq_offset), where ``seq_id``
    is the ``budget``-token sequence (within the shard) holding the
    document's first token and ``seq_offset`` its offset there.  A
    document crossing a boundary continues into the next sequence —
    exactly the standard LM packing semantics.

    Determinism: shard = id mod n_shards for integral ids (the value
    the DuckDB oracle reproduces verbatim); non-numeric ids hash into
    shards through the md5 order key (first 8 hex digits mod
    n_shards), so string document ids pack without an analysis error.
    Order = (md5(PACK_SALT:id), id) — partition-independent, reproducible,
    and portable to the DuckDB oracle.  Tokens are the repo-wide
    whitespace tokenizer (``functions/text.py``), so budgets line up
    with ``token_stats``.
    """
    base = _placement_base(df, id_col, text_col, n_shards)
    w = Window.partitionBy("shard").orderBy(F.col("_ok").asc(), F.col("doc_id").asc())
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(start / budget).cast("long").alias("seq_id"),
        (start % budget).cast("long").alias("seq_offset"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Sliding-window token chunking: split each document into
    overlapping windows of ``chunk_tokens`` whitespace tokens whose
    starts are ``stride`` apart — the standard pre-embedding /
    context-window shaping step for retrieval and LLM training
    corpora (stride < chunk_tokens gives chunk overlap so no span is
    lost at a boundary; stride == chunk_tokens gives disjoint
    chunks).

    Returns one row per (document, chunk): ``id_col``, ``chunk_id``
    (0-based), ``n_chunk_tokens`` (tail chunks run short), and
    ``chunk_text``.

    Scale shape: a single codegen projection — tokenize once,
    ``explode(sequence(0, n_chunks-1))``, slice per chunk.  No
    shuffle, no UDF; the fan-out is bounded by per-document length
    (ceil(n_tokens/stride) rows per doc), so the operator streams at
    scan speed on any corpus size and downstream repartitioning is
    the consumer's choice.
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    if stride > chunk_tokens:
        # stride > chunk would silently skip the tokens between one
        # chunk's end and the next chunk's start — a coverage gap no
        # training/retrieval consumer wants; refuse loudly rather
        # than emit a corpus that looks complete but isn't
        raise ValueError(
            f"stride ({stride}) > chunk_tokens ({chunk_tokens}) would "
            "leave tokens uncovered between consecutive chunks"
        )
    # NULL text is treated as empty text (one empty chunk) — a bare
    # tokens(NULL) would be a NULL array, making explode(sequence)
    # silently DROP the document from the output while ''-text docs
    # keep a row; corpus row coverage must not depend on that
    # distinction
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    staged = df.select(
        id_col, toks.alias("_toks"), F.size(toks).alias("_n")
    )
    n_chunks = F.ceil(F.col("_n") / F.lit(stride)).cast("long")
    start = F.col("chunk_id") * stride  # 0-based token offset
    chunk = F.slice(F.col("_toks"), (start + 1).cast("int"), chunk_tokens)
    return (
        staged.select(
            id_col,
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
                "chunk_id"
            ),
            "_toks",
        )
        .select(
            id_col,
            "chunk_id",
            F.size(chunk).alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def length_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    boundaries: tuple[int, ...] = (64, 128, 256, 512, 1024, 2048),
) -> DataFrame:
    """Length-bucketed batching stats — the padding-waste report that
    sizes inference/eval batching (group sequences of similar length
    so a batch pads to its bucket cap, not the corpus max).

    Each doc lands in the smallest bucket boundary ≥ its token count
    (counts beyond the last boundary go to an overflow bucket keyed
    by -1).  Per bucket: docs, real tokens, padded tokens
    (docs × boundary), and the padding-waste fraction.

    Plan: token count and bucket are one codegen projection (the
    boundary CASE chain is a static unrolled expression), then one
    map-side-combined groupBy on ≤ |boundaries|+1 keys.  Scan speed
    at any scale; the aggregate output is bounded by the boundary
    list, never by the corpus.
    """
    n_tok = F.size(tokens(F.coalesce(F.col(text_col), F.lit(""))))
    bucket = F.lit(-1)
    for bound in sorted(boundaries, reverse=True):
        bucket = F.when(n_tok <= bound, F.lit(bound)).otherwise(bucket)
    per_doc = df.select(
        F.col(id_col).alias("_id"),
        n_tok.cast("long").alias("_n"),
        bucket.cast("long").alias("bucket"),
    )
    return (
        per_doc.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("n_tokens"),
            F.max("_n").alias("max_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            "max_tokens",
            # overflow bucket pads to its own max length
            F.when(F.col("bucket") > 0, F.col("bucket") * F.col("n_docs"))
            .otherwise(F.col("max_tokens") * F.col("n_docs"))
            .alias("n_padded"),
        )
        .withColumn(
            "waste_frac",
            F.round(1 - F.col("n_tokens") / F.col("n_padded"), 6),
        )
    )


def lm_block_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_shards: int = 8,
) -> DataFrame:
    """The block→document materialization map for concat-then-chunk
    packing: one row per (block, contributing document span), i.e.
    what a data loader actually reads to assemble fixed-``budget``
    training blocks.  ``pack_sequences`` answers "where does doc d
    start"; this answers "which token ranges fill block b" — a doc
    crossing block boundaries appears once per block it touches.

    Columns: (shard, block_id, doc_id, doc_from, block_from,
    span_len) with token offsets 0-based: block b of a shard is
    rebuilt by concatenating its spans ordered by block_from, taking
    ``tokens(text)[doc_from : doc_from+span_len]`` of each doc.

    Scale shape: identical layout math to ``pack_sequences`` (same
    salted shards, same per-shard running-sum window — NO global
    order), then a pure-arithmetic fan-out: each doc explodes into
    ``floor(start/B)..floor((end-1)/B)`` — output rows ≈ corpus
    tokens / budget extra rows over the doc count, never per-token.
    Zero-token docs contribute no span (defensive filter only — the
    repo-wide tokenizer gives blank text one empty token, so every
    doc occupies >= 1 slot, same as pack_sequences).  All codegen:
    sequence() explode + greatest/least span clipping.
    """
    base = _placement_base(df, id_col, text_col, n_shards)
    w = Window.partitionBy("shard").orderBy(
        F.col("_ok").asc(), F.col("doc_id").asc()
    )
    placed = base.select(
        "doc_id",
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start"),
    ).filter(F.col("n_tokens") > 0)
    b = F.lit(int(budget)).cast("long")
    first_b = F.floor(F.col("start") / b)
    last_b = F.floor((F.col("start") + F.col("n_tokens") - 1) / b)
    spans = placed.select(
        "doc_id",
        "shard",
        "start",
        "n_tokens",
        F.explode(F.sequence(first_b, last_b)).alias("block_id"),
    )
    tok_from = F.greatest(F.col("start"), F.col("block_id") * b)
    tok_to = F.least(
        F.col("start") + F.col("n_tokens"), (F.col("block_id") + 1) * b
    )
    return spans.select(
        "shard",
        F.col("block_id").cast("long").alias("block_id"),
        "doc_id",
        (tok_from - F.col("start")).cast("long").alias("doc_from"),
        (tok_from - F.col("block_id") * b).cast("long").alias("block_from"),
        (tok_to - tok_from).cast("long").alias("span_len"),
    )


def pack_bins_bfd(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_shards: int = 8,
) -> DataFrame:
    """Best-fit-decreasing bin packing — the PADDED-BATCH layout
    (every document whole in exactly one ``budget``-token bin, unused
    tail padded) complementing ``pack_sequences``' concat-then-chunk
    layout (documents split across sequence boundaries, no padding).
    SFT and any loss-masking setup need whole documents; BFD is the
    classic 11/9·OPT+1 heuristic that keeps the padding waste low.

    Returns (doc_id, shard, n_tokens, bin_id, bin_slot, truncated):
    ``bin_id`` numbers bins within the shard, ``bin_slot`` the
    placement order inside the bin, ``truncated`` marks documents
    longer than the budget (they get a bin of their own, to be
    truncated by the materializing writer — never silently dropped).

    Determinism: documents are considered in (n_tokens DESC,
    md5(PACK_SALT:id), id) order and placed into the OPEN BIN WITH THE
    SMALLEST SUFFICIENT REMAINING CAPACITY (ties → lowest bin_id), so
    the assignment is a pure function of the (shard, length) multiset
    — partition-independent and reproducible (property-tested against
    a pure-Python reference).  Sharding matches ``pack_sequences``:
    id mod n_shards for integral ids, md5 hash otherwise.

    Scale shape: token counting is one JVM projection; the sequential
    BFD decision runs per shard inside ONE ``applyInPandas`` task
    over the (doc_id, n_tokens) pairs — ~16 bytes/doc, so a task
    handles tens of millions of docs; ``n_shards`` grows with the
    corpus to bound per-shard doc count exactly as training sharding
    already requires.  Bin packing is inherently sequential per bin
    stream; sharding IS the parallelism, as it is in every production
    packer.  Rows-only gate (the greedy loop is not SQL-expressible);
    invariants (capacity, completeness, determinism, reference
    equality) are property-tested."""
    import pandas as pd

    base = _placement_base(df, id_col, text_col, n_shards)
    id_dt = df.schema[id_col].dataType.simpleString()

    def _bfd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "_ok", "doc_id"], ascending=[False, True, True]
        )
        # open bins as (remaining, bin_id, next_slot); linear best-fit
        # scan — bins are few relative to docs and the constant is
        # tiny next to the token-count scan that fed us
        bins: list[list[int]] = []
        out_bin, out_slot, out_trunc = [], [], []
        for n in pdf["n_tokens"].to_numpy():
            need = int(n)
            # the coalesce above guarantees this; a negative need
            # would best-fit anywhere and GROW the bin's remaining
            # capacity, silently overflowing the budget (ADVICE r8)
            if need < 0:
                raise ValueError(f"pack_bins_bfd: negative n_tokens {need}")
            if need > budget:
                bins.append([0, len(bins), 1])  # full bin of its own
                out_bin.append(bins[-1][1]); out_slot.append(0)
                out_trunc.append(True)
                continue
            best = None
            for b in bins:
                if b[0] >= need and (best is None or b[0] < best[0] or (b[0] == best[0] and b[1] < best[1])):
                    best = b
            if best is None:
                bins.append([budget - need, len(bins), 1])
                out_bin.append(bins[-1][1]); out_slot.append(0)
            else:
                best[0] -= need
                out_bin.append(best[1]); out_slot.append(best[2])
                best[2] += 1
            out_trunc.append(False)
        res = pdf[["doc_id", "shard", "n_tokens"]].copy()
        res["bin_id"] = out_bin
        res["bin_slot"] = out_slot
        res["truncated"] = out_trunc
        return res

    return base.groupBy("shard").applyInPandas(
        _bfd,
        f"doc_id {id_dt}, shard int, n_tokens long, bin_id long, "
        "bin_slot long, truncated boolean",
    )
