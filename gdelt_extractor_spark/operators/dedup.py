"""Deduplication operators, exact → fuzzy, all shuffle-frugal.

Reference parity: ``df.drop_duplicates("SOURCEURL")`` keep-first
(reference/extractor/extractor.py:256) generalizes to
``dedup_keep_first``.  The rest are the LLM-training-data dedup
family (SURVEY.md §2c): exact content hash, n-gram Jaccard,
MinHash+LSH, SimHash, embedding cosine.

Scale posture (100 TB):
- ``dedup_keep_first`` / ``dedup_exact``: ONE shuffle keyed on the
  dedup key / content hash; hash keys are uniform by construction so
  no skew.  Aggregation is partial (map-side combine) before the
  shuffle.
- ``dedup_ngram_jaccard`` / ``dedup_containment`` (and
  ``dedup_eval``'s truth side) are one exact set-similarity join:
  docs meet only through a shared shingle in a doc's PREFIX — its
  rarest shingles under one global (doc frequency, hash) order
  (Vernica, Carey, Li 2010) — never a cartesian product; a
  positional bound prunes candidates, and the verify intersects the
  two docs' sorted shingle arrays, one row per candidate.  The
  hot-shingle cap (``max_shingle_df``, on by default) keeps shingles
  in more docs than the cap out of the join, so a pair is missed
  only when every shingle it shares is hot; at 100 TB use
  ``dedup_minhash_lsh`` whose candidate set is bounded by LSH bands.
- The MinHash family (``dedup_minhash_lsh``, ``dedup_eval``'s pred
  side, ``dedup_incremental_minhash``) shares one band join
  (``_band_pairs``): docs meet only in a shared (band, bucket).
  ``dedup_minhash_lsh`` and ``dedup_eval`` score its candidates with
  the shingle-pair operators' exact verify (``_verify_pairs``) over
  one ``_set_docs`` row per doc, whose groupBy(id) also computes the
  signature's slot minima; ``dedup_incremental_minhash`` keeps no
  text of the indexed docs, so it accepts by the signature estimate.
- ``dedup_embedding`` uses a blocking key (``label``) so the pair
  join is per-block, mirroring production blocked-dedup.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..functions.sql import lit, name
from ..functions.text import _md5_int, normalize_sql, tokens, tokens_sql
from ._finish import collect_if_small, collect_pairs_if_small, none_means_large


def dedup_keep_first(df: DataFrame, key: str, order: str) -> DataFrame:
    """Keep one row per ``key``, the first by ``order``.

    The reference relies on pandas file order; a distributed engine
    needs an explicit deterministic order column.
    """
    rn = f"row_number() OVER (PARTITION BY {name(key)} ORDER BY {name(order)} ASC) AS _rn"
    return df.selectExpr("*", rn).where("_rn = 1").drop("_rn")


def with_content_hash(df: DataFrame, text_col: str, out: str = "content_hash") -> DataFrame:
    """md5 of whitespace-normalized lowercase text (JVM-side)."""
    return df.withColumn(out, F.expr(f"md5({normalize_sql(name(text_col))})"))


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact near-dup: group by normalized-content hash, keep the
    lowest id; report group size so callers can audit collapses."""
    return (
        with_content_hash(df, text_col)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingle_hashes_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct 64-bit shingle hashes (array<bigint>): multi-arg xxhash64 over
    the n tokens directly.  Equality of hashes stands in for equality
    of shingles (collision prob ~2^-64), and downstream set ops work
    on fixed-width longs instead of strings.

    Hashing the tokens as separate xxhash64 arguments skips the
    per-shingle slice-array + concat-string allocations of the
    ``xxhash64(concat_ws(' ', slice(...)))`` form — measured ~10-15%
    off the tokenize→shingle→distinct pipeline at sf0.1.  Tokens past
    the array end (docs shorter than ``n``) come back NULL from
    ``F.get`` and multi-arg xxhash64 skips NULL arguments — the same
    semantics as the old form, where ``slice`` truncated and
    ``concat_ws`` joined what was left."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.xxhash64(*[F.get(toks, (i + k).cast("int")) for k in range(n)]),
    )
    return F.array_distinct(grams)


def shingle_hash_rows(
    df: DataFrame, text_col: str, n: int, keep_cols: list[str]
) -> DataFrame:
    """Exploded (keep_cols..., shingle) rows — one row per shingle
    OCCURRENCE — via explode-the-positions-THEN-hash.

    Hash values are identical to ``shingle_hashes_from_tokens``
    (same multi-arg xxhash64 over the same token windows, same
    NULL-skip tail semantics), but the hashing runs AFTER the
    explode, where it is a plain projection inside whole-stage
    codegen.  Spark's higher-order ``transform`` lambdas are
    evaluated by the interpreted expression walker — measured 7× on
    the shingle build (1.06s vs 0.15s for 500 docs, one thread) —
    so the array form is only worth it when the consumer genuinely
    needs the per-doc ARRAY (verification array_intersect); every
    rows-shaped consumer belongs here."""
    keep = [name(c) for c in keep_cols]
    toks = tokens_sql(name(text_col))
    fp = ", ".join(f"get(_toks, CAST(_i + {k} AS INT))" for k in range(n))
    return (
        df.selectExpr(*keep, f"{toks} AS _toks", f"size({toks}) AS _n")
        .selectExpr(*keep, f"explode(sequence(0, greatest(_n - {n}, 0))) AS _i", "_toks")
        .selectExpr(*keep, f"xxhash64({fp}) AS shingle")
    )


def _shingle_rows(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle-hash) — one row per shingle OCCURRENCE per doc.

    Shingles are xxhash64'd so the self-join shuffles fixed-width
    longs, not n-gram strings; the build is the codegen explode-form
    (see shingle_hash_rows).  Callers dedupe at ROW level: ranked
    ``_set_docs`` on its key exchange, ``contamination_links`` with a
    ``distinct()``.  The per-row ``array_distinct`` alternative was
    measured 5× slower than the raw build at sf0.1 (3.9s vs 0.7s for
    5k docs) — one shuffle of the (uniformly keyed) shingle rows is
    far cheaper than the per-row O(len²) dedup."""
    return shingle_hash_rows(
        df.selectExpr(f"{name(id_col)} AS id", name(text_col)), text_col, n, ["id"]
    )


def _set_docs(rows: DataFrame, key: str, *extra: Column, ranked: bool = True) -> DataFrame:
    """(id, _sk[, extra...]) — one row per doc, checkpointed: the
    query's one corpus-scale materialization.

    ``ranked`` (the prefix-filter callers): ``rows`` are (id, ``key``)
    occurrence rows, repeats allowed, and ``_sk`` is the doc's key set
    as (nd, k) structs sorted ascending, where nd is the key's document
    frequency.  nd is a function of k, so (nd, k) is one GLOBAL total
    order, rarest first — the token order of the prefix filter.  The
    rows are repartitioned on the key ONCE: hash partitioning on the
    key alone satisfies both the distinct's grouping (every column,
    the key among them) and the nd window's, so the ranked build pays
    two exchanges (key, then id), not three.  The window beat
    ``groupBy(key).count()`` joined back over the same partitioning
    (``dedup_ngram_jaccard`` median 0.63 vs 0.69 s at sf0.01 and
    1.10 vs 1.20 s at sf0.1, 8 alternating pairs each, 4 cores).
    Unranked (``dedup_minhash_lsh``, whose candidates come from band
    buckets): ``rows`` may repeat a key, and ``_sk`` is the
    ``collect_set`` of (k) structs, deduped map-side — no distinct
    shuffle and no window, which sorts every key partition (~0.6 s of
    a ~3 s query at sf0.1).  Either way
    ``size(_sk)`` is the set size and ``_sk.k`` is what
    ``_verify_pairs`` intersects.  ``extra`` aggregates ride the same
    groupBy(id) (the token count, the slot minima).

    Memory bound: the checkpoint holds every distinct key of every
    doc, hot keys included (the verify counts full intersections), so
    an everywhere-hot shingle keeps O(n_docs) entries resident.
    localCheckpoint stores MEMORY_AND_DISK, so overflow spills to
    executor-local disk instead of OOM; pinned by
    tests/test_dedup.py::test_hot_shingle_checkpoint_bound."""
    if not ranked:
        return (
            rows.groupBy("id")
            .agg(F.expr(f"collect_set(struct({key} AS k)) AS _sk"), *extra)
            .localCheckpoint(eager=True)
        )
    return (
        rows.repartition(key)
        .distinct()
        .selectExpr("*", f"count(1) OVER (PARTITION BY {key}) AS nd")
        .groupBy("id")
        .agg(F.expr(f"sort_array(collect_list(struct(nd, {key} AS k))) AS _sk"), *extra)
        .localCheckpoint(eager=True)
    )


def _set_candidates(
    docs: DataFrame, threshold: float, cap: int | None, containment: bool = False
) -> DataFrame:
    """(id_a < id_b) candidate pairs of the set-similarity join over
    ``_set_docs`` — a superset of the pairs whose Jaccard (or, with
    ``containment``, |A∩B|/min(|A|,|B|)) reaches ``threshold`` and
    that share at least one shingle with nd ≤ ``cap``.

    Prefix filter: with t = threshold − 1e-6, a doc of size s keeps
    its first p = s − ⌈t·s⌉ + 1 keys in the global order.  A pair
    with overlap ≥ t·s shares its rarest common key w inside that
    prefix (everything it shares sits at or after w, so w's position
    is ≤ s − overlap).  Jaccard needs overlap ≥ t·max(|A|,|B|), so
    prefix meets prefix, under the length filter
    min(|A|,|B|) ≥ t·max(|A|,|B|).  Containment only bounds the
    overlap by the smaller doc, so the smaller doc's prefix (the
    lower id on equal sizes) probes ALL of the other doc's keys.

    Cap: keys with nd > cap join nothing.  They sort after every
    cold key, so w is cold whenever any shared key is: a pair is
    missed exactly when every key it shares is hot.  ``cap=None``
    filters nothing.

    Positional bound: per pair, c matched keys, the last at positions
    i_a, i_b.  Every shared key before it matched, and any after it
    lies past i_a in A and past i_b in B, so
    |A∩B| ≤ ub = c + min(|A| − i_a, |B| − i_b) − 1; pairs whose ub
    scores below t are dropped.

    The 1e-6 slack keeps every filter lossless under the verify's
    round(value, 6) ≥ threshold acceptance: a pair with true value
    ≥ threshold − 5e-7 rounds up into the output."""
    t = lit(threshold - 1e-6)
    rows = docs.selectExpr("id", "size(_sk) AS sz", "posexplode(_sk) AS (pos, e)").selectExpr(
        "id", "sz", "pos", "e.nd", "e.k"
    )
    if cap is not None:
        rows = rows.where(f"nd <= {lit(cap)}")
    prefix = rows.where(f"pos <= sz - ceil(sz * {t})")
    a, b = prefix.alias("a"), (rows if containment else prefix).alias("b")
    if containment:
        on = "(a.sz < b.sz OR (a.sz = b.sz AND a.id < b.id))"
    else:
        on = f"(a.id < b.id AND least(a.sz, b.sz) >= {t} * greatest(a.sz, b.sz))"
    pairs = (
        a.join(b, F.expr(f"a.k = b.k AND {on}"))
        .groupBy(*map(F.expr, ("a.id AS _ia", "b.id AS _ib", "a.sz AS sz_a", "b.sz AS sz_b")))
        .agg(*map(F.expr, ("count(1) AS c", "max(a.pos) AS i_a", "max(b.pos) AS i_b")))
    )
    ub = "(c + least(sz_a - i_a, sz_b - i_b) - 1)"
    # containment's probe side a is the smaller doc
    den = "sz_a" if containment else f"(sz_a + sz_b - {ub})"
    return pairs.where(f"{ub} / {den} >= {t}").selectExpr(
        "least(_ia, _ib) AS id_a", "greatest(_ia, _ib) AS id_b"
    )


def _verify_pairs(
    cand: DataFrame, docs: DataFrame, threshold: float, containment: bool = False
) -> DataFrame:
    """``cand`` (id_a, id_b, ...) with the exact ``jaccard`` (or
    ``containment``) of each pair's full key sets, rounded to 6
    places, kept where it reaches ``threshold``.  The intersection is
    ``size(array_intersect)`` of the two docs' ``_sk`` key arrays:
    one row per candidate, never a per-key re-join."""

    def keys(side: str) -> DataFrame:
        return docs.selectExpr(f"id AS id_{side}", f"_sk.k AS _k{side}")

    inter = "size(array_intersect(_ka, _kb))"
    sa, sb = "size(_ka)", "size(_kb)"
    out = "containment" if containment else "jaccard"
    val = f"{inter} / " + (f"least({sa}, {sb})" if containment else f"({sa} + {sb} - {inter})")
    return (
        cand.join(keys("a"), "id_a")
        .join(keys("b"), "id_b")
        .withColumn(out, F.expr(f"round({val}, 6)"))
        .where(f"{out} >= {lit(threshold)}")
        .drop("_ka", "_kb")
    )


def _set_similarity_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    cap: int | None,
    containment: bool,
) -> DataFrame:
    """The shared body of the two public shingle-pair operators."""
    docs = _set_docs(_shingle_rows(df, text_col, id_col, n), "shingle")
    out = "containment" if containment else "jaccard"
    return (
        _verify_pairs(
            _set_candidates(docs, threshold, cap, containment),
            docs,
            threshold,
            containment,
        )
        .selectExpr("id_a", "id_b", out)
        .localCheckpoint(eager=True)  # bounded result; lets the index go
    )


def dedup_ngram_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """Pairs (id_a < id_b) whose n-gram shingle-set Jaccard ≥ threshold.

    Exact values: candidates come from the prefix-filtered
    set-similarity join (``_set_candidates``: each doc's rarest
    shingles under one global order, the length filter and a
    positional upper bound), and every candidate is verified against
    the two FULL shingle sets (``_verify_pairs``).  All filters carry
    a 1e-6 slack, so none drops a pair whose Jaccard rounds up to
    ``threshold``.

    ``max_shingle_df`` is the hot-shingle guard for scale: a shingle
    in k documents would contribute O(k²) join rows, and common
    phrases ("all rights reserved") make some k huge on a web corpus.
    Shingles whose document frequency exceeds the cap join nothing,
    so a true pair is missed only when ALL the shingles it shares are
    hot — at threshold ≥ 0.5 a near-dup pair shares most of its
    shingles, so any cap ≫ the near-dup cluster size preserves the
    result (property-tested against a pure-Python reference in
    tests/test_properties.py).  The cap is the DEFAULT;
    ``max_shingle_df=None`` runs the same join with no frequency
    filter, for oracle/audit work on bounded corpora.
    """
    return _set_similarity_pairs(
        df, text_col, id_col, n, threshold, max_shingle_df, containment=False
    )


# Salts of the md5 hash spaces below.  One constant each, not a
# per-call option: an index and a batch hashed under different salts
# would silently never match, and a new value re-lays out every stored
# fingerprint.  The DuckDB oracles interpolate these values.
MINHASH_SALT = "mhlsh-v1"
WINNOW_SALT = "winnow-v1"
SIMHASH_SALT = "simhash-v1"

# MinHash signature length and shingle width.  One constant each, not
# a per-call option: signatures of different lengths or widths share
# no band bucket and no estimate.  The band counts are two constants
# because two values are in use: the pairwise operators
# (``dedup_minhash_lsh``, ``dedup_eval``) band 32 slots as 8 bands of
# 4 rows; the persisted-index family (``minhash_band_index``,
# ``dedup_incremental_minhash``, ``updated_band_index`` and the
# incremental pipeline) as 16 bands of 2, and an index and a batch
# banded differently would silently share no bucket.  The DuckDB
# oracles interpolate these values.
NUM_HASHES = 32
MINHASH_N = 3
PAIR_BANDS = 8
INDEX_BANDS = 16


def _md5_perm_consts(salt: str, m: int) -> list[tuple[int, int]]:
    """Per-slot universal-family permutation constants (a_i odd in
    [1, 2^14), b_i in [0, 2^48)) derived from md5(salt:perm:i) —
    derived, not random, so a DuckDB oracle regenerates them.  Shared
    by MinHash (``MINHASH_SALT``) and ``similarity.source_similarity``."""
    import hashlib

    out = []
    for i in range(m):
        d = hashlib.md5(f"{salt}:perm:{i}".encode()).hexdigest()
        out.append(((int(d[:4], 16) % (1 << 14)) | 1, int(d[4:16], 16)))
    return out


def _slot_minima() -> list[Column]:
    """The ``NUM_HASHES`` MinHash slot aggregates over 48-bit ``h0``
    shingle-hash rows: slot i is min((h0·a_i + b_i) mod 2^48) under
    the ``_md5_perm_consts`` permutations, aliased ``_s{i}``.  Min is
    duplicate-insensitive, so multiset rows give set signatures."""
    mod = 1 << 48
    return [
        F.min((F.col("h0") * F.lit(a) + F.lit(b)) % F.lit(mod)).alias(f"_s{i}")
        for i, (a, b) in enumerate(_md5_perm_consts(MINHASH_SALT, NUM_HASHES))
    ]


def _sig_array() -> Column:
    """The ``_slot_minima`` columns assembled into ``sig``."""
    return F.array(*[F.col(f"_s{i}") for i in range(NUM_HASHES)]).alias("sig")


def minhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sig array<bigint>) MinHash signatures, one per distinct
    id: one salted md5 per shingle occurrence truncated to 48 bits
    (``_md5_shingle_rows``), then ONE partial-aggregated groupBy(id)
    with ``NUM_HASHES`` codegen min-aggregates (``_slot_minima``) —
    map-side mins collapse each document's shingles before the wire,
    so at 100 TB the exchange is output-sized, not corpus-sized.
    Every value is DuckDB-replayable.  Rows sharing an id pool their
    shingles into one signature; docs shorter than ``MINHASH_N``
    tokens get none (no full window exists)."""
    return (
        _md5_shingle_rows(df, text_col, id_col, MINHASH_N)
        .groupBy("id")
        .agg(*_slot_minima())
        .select("id", _sig_array())
    )


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
) -> DataFrame:
    """MinHash+LSH near-dup: band signatures, bucket-join candidates,
    verify candidates with exact Jaccard, emit pairs ≥ threshold.

    With r = NUM_HASHES/PAIR_BANDS rows per band, P(candidate) =
    1-(1-s^r)^bands — the standard S-curve.  The corpus-sized work is
    one shingle scan + one partial-aggregated groupBy(id)
    (``_set_docs``, unranked) that collects each doc's shingle set and
    its ``NUM_HASHES`` codegen slot minima together; the band join
    (``_band_pairs``) and the verify (``_verify_pairs``) run on
    frames bounded by the per-doc table and the candidate set.

    Every step is DuckDB-replicable (the registry entry is value-hash
    oracle-gated): ONE salted md5 per shingle occurrence truncated to
    48 bits, per-slot minima under the derived universal permutations
    of ``_md5_perm_consts``, band buckets as md5 of the comma-joined
    slot minima (``_expand_bands``), and exact-Jaccard verification
    over the distinct 48-bit shingle-hash sets.  Shingle SET
    semantics over ``MINHASH_N``-token windows; shorter docs drop (no
    full window exists).
    """
    # multiset rows, no distinct: the slot minima are
    # duplicate-insensitive and collect_set dedups map-side
    docs = _set_docs(
        _md5_shingle_rows(df, text_col, id_col, MINHASH_N), "h0", *_slot_minima(), ranked=False
    )
    cand = _band_pairs(_expand_bands(docs.select("id", _sig_array()), PAIR_BANDS))
    return _verify_pairs(cand, docs, threshold).selectExpr("id_a", "id_b", "jaccard")


def dedup_pair_eval(pred: DataFrame, truth: DataFrame) -> DataFrame:
    """Pair-level evaluation of an approximate dedup against an exact
    baseline — the number every production dedup run reports before
    anyone trusts a recall knob: ONE row (n_pred, n_true, n_hit,
    precision, recall, f1).  Both inputs are (id_a, id_b[, ...]) pair
    frames; extra columns are ignored and pairs are deduped.

    Plan: two distincts, ONE full-outer pair join carrying presence
    flags, ONE 1-row aggregate — each input pipeline is evaluated
    exactly once (three separate count jobs would re-run the heavy
    upstream dedups once per count)."""
    p = pred.select("id_a", "id_b").distinct().withColumn("_p", F.lit(1))
    t = truth.select("id_a", "id_b").distinct().withColumn("_t", F.lit(1))
    j = p.join(t, ["id_a", "id_b"], "full_outer")
    counts = j.agg(
        F.coalesce(F.sum("_p"), F.lit(0)).alias("n_pred"),
        F.coalesce(F.sum("_t"), F.lit(0)).alias("n_true"),
        F.coalesce(F.sum(F.col("_p") * F.col("_t")), F.lit(0)).alias("n_hit"),
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("n_hit") / F.col("n_pred")
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("n_true") > 0, F.col("n_hit") / F.col("n_true")
    ).otherwise(F.lit(0.0))
    return (
        counts.withColumn("precision", F.round(prec, 6))
        .withColumn("recall", F.round(rec, 6))
        .withColumn(
            "f1",
            F.round(
                F.when(
                    prec + rec > 0, 2 * prec * rec / (prec + rec)
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )


def _md5_shingle_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    keep_len: bool = False,
    partial_tail: bool = False,
) -> DataFrame:
    """(id[, _n], h0) — one row per n-token shingle OCCURRENCE, hashed
    with the repo's engine-portable idiom: ONE md5 per shingle salted
    with ``MINHASH_SALT`` and truncated to 48 bits.  The single
    definition the MinHash family shares (signatures, LSH, the
    incremental index, dedup_eval), so a change to the
    salt/truncation can never diverge the Spark paths from each other
    or the DuckDB oracle.

    ``partial_tail=True`` keeps docs shorter than ``n`` tokens with
    their one partial-window shingle (``dedup_ngram_jaccard``'s
    window semantics); the default drops them (the md5 MinHash
    contract — no full window exists)."""
    base = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_t")
    ).withColumn("_n", F.size("_t"))
    if partial_tail:
        hi = F.greatest((F.col("_n") - n).cast("int"), F.lit(0))
    else:
        base = base.filter(F.col("_n") >= n)
        hi = (F.col("_n") - n).cast("int")
    h0 = _md5_int(
        MINHASH_SALT,
        12,
        F.concat_ws(" ", F.slice("_t", (F.col("pos") + 1).cast("int"), n)),
    ).cast("long")
    keep = ["id"] + (["_n"] if keep_len else [])
    return base.select(
        *keep, F.explode(F.sequence(F.lit(0), hi)).alias("pos"), "_t"
    ).select(*keep, h0.alias("h0"))


def dedup_eval(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """End-to-end dedup-quality audit: pair precision/recall/F1 of
    md5-portable MinHash+LSH against the exact-Jaccard baseline at
    the same ``threshold`` — over ONE shared tokenize→shingle→md5
    corpus pass, where composing ``dedup_minhash_lsh`` and
    ``dedup_ngram_jaccard`` would tokenize and shingle the corpus
    twice.

    The shared frame is (id, n_tokens, 48-bit salted-md5 shingle
    hash) with the partial-window tail (docs shorter than ``n``
    keep their one partial shingle — ``dedup_ngram_jaccard``'s
    window semantics), aggregated ONCE per doc (``_set_docs``: the
    sorted key array, the token count and the slot minima) and
    checkpointed:

    - PRED candidates come from the full-window subset (docs ≥ n
      tokens — the MinHash contract) through ``dedup_minhash_lsh``'s
      band join: slot minima + band buckets → ``_band_pairs``.
    - TRUTH candidates come from ``dedup_ngram_jaccard``'s join
      (``_set_candidates``: prefix filter, length filter, positional
      bound, the same ``max_shingle_df`` cap and 1e-6 slack) on the
      SAME docs — set algebra is hash-agnostic, so the pair set and
      jaccard values are identical to ``dedup_ngram_jaccard`` (modulo
      48-bit collisions, which the DuckDB oracle shares bit-for-bit
      on the pred side and which are ~1e-4-improbable on the
      string-replay truth side at tested scales; the divergence is
      pinned with a REAL birthday-searched collision in
      tests/test_dedup.py::test_dedup_eval_48bit_collision_divergence).
    - ONE verify pass (``_verify_pairs``) over the tagged union of
      both candidate frames, split by tag after scoring: pred
      candidates contain only full-window docs, whose distinct-h0
      sets are their truth sets, so both sides' exact Jaccard is the
      same array intersection.

    Degenerate-input note (documented divergence from the naive
    composition): a NULL text and an empty text both hash their one
    partial window to md5(MINHASH_SALT + ":"), so the truth side pairs them —
    ``dedup_ngram_jaccard``'s multi-arg NULL-skip distinguishes the two.
    The DuckDB oracle coalesces NULL text to '' and agrees with THIS
    operator; the composition-equivalence unit test uses a
    non-NULL-text corpus.

    Returns ONE row (n_pred, n_true, n_hit, precision, recall, f1)
    — ``dedup_pair_eval`` of the two pair frames."""
    sh_all = _md5_shingle_rows(
        df, text_col, id_col, n, keep_len=True, partial_tail=True
    )
    # ONE per-doc aggregate over the set rows (``_set_docs`` dedupes
    # them on its key exchange): the sorted key array (truth
    # candidates and the verify), the token length and the 32 slot
    # minima (pred signatures).  Short docs (_n < n)
    # compute minima they never use (the band build filters them) —
    # 32 integer ops per row, cheaper than a second aggregate pass.
    docs = _set_docs(
        sh_all.select("id", "_n", "h0"),
        "h0",
        F.min("_n").alias("_n"),
        *_slot_minima(),
    )

    # --- pred candidates: MinHash+LSH, the dedup_minhash_lsh band join
    # (full windows only: docs >= n tokens)
    candidates = _band_pairs(
        _expand_bands(docs.filter(F.col("_n") >= n).select("id", _sig_array()), PAIR_BANDS)
    ).select("id_a", "id_b", F.lit(1).alias("_p"), F.lit(0).alias("_t"))
    # --- truth candidates: dedup_ngram_jaccard's join on the same docs
    cand_t = _set_candidates(docs, threshold, max_shingle_df).select(
        "id_a", "id_b", F.lit(0).alias("_p"), F.lit(1).alias("_t")
    )

    # --- ONE verify pass over the tagged union, split by tag after
    # scoring.  Pred candidates contain only full-window docs, whose
    # distinct-h0 sets are their truth sets, so both sides' exact
    # Jaccard is the same intersection.
    allc = (
        candidates.unionByName(cand_t)
        .groupBy("id_a", "id_b")
        .agg(F.max("_p").alias("_p"), F.max("_t").alias("_t"))
    )
    scored = _verify_pairs(allc, docs, threshold).localCheckpoint(
        eager=True  # consumed by both tag splits
    )
    pred = scored.filter(F.col("_p") == 1).select("id_a", "id_b")
    truth = scored.filter(F.col("_t") == 1).select("id_a", "id_b")
    return dedup_pair_eval(pred, truth)


# Winnowing's k-gram width, hash-window width and hot-fingerprint cap.
# The DuckDB oracle interpolates them.
WINNOW_K = 5
WINNOW_W = 4
WINNOW_MAX_FP_DF = 100


def winnow_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003, "Winnowing: local algorithms for document fingerprinting" —
    the MOSS algorithm): hash every k-token window (k = ``WINNOW_K``),
    slide a w-hash window (w = ``WINNOW_W``) over the hash sequence, and SELECT each window's minimum —
    a ~2/(w+1)-density sample that still GUARANTEES any shared run of
    ≥ w+k-1 tokens yields at least one shared fingerprint.  The
    sampled complement of ``duplicate_spans`` (which keeps every
    window): fingerprint storage shrinks by ~w/2 while long-match
    detection stays sound — the standard plagiarism/near-copy index
    shape at corpus scale.

    Returns distinct (id, fp) rows.  The selected set per document is
    well-defined independent of the tie rule (we keep distinct VALUES
    of the per-window minima, not positions).  Hashing is the
    repo-portable salted-md5 48-bit ``h0`` (one md5 per k-gram), so a
    DuckDB oracle replays everything.  Docs shorter than k+w-1 tokens
    yield no fingerprint (no full hash window exists).

    Plan shape: tokenize → explode the window POSITIONS, then k-gram
    + md5 as a plain post-explode projection inside whole-stage
    codegen (the ``shingle_hash_rows`` discipline — higher-order
    ``transform`` lambdas run on the interpreted expression walker,
    measured 7× on the identical shingle-hash shape; r9 verdict item
    3) → ONE per-doc window (MIN over w preceding rows) → one
    distinct.  Fingerprint values are byte-identical to the pre-r10
    array form (same md5 over the same k-gram strings).  All shuffles
    key on (id) or (id, fp) — uniform, bounded, corpus-scan
    dominated."""
    k, w = WINNOW_K, WINNOW_W
    base = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_t"))
        .withColumn("_n", F.size("_t"))
        .filter(F.col("_n") >= k + w - 1)
    )
    h = _md5_int(
        WINNOW_SALT, 12, F.concat_ws(" ", F.slice("_t", F.col("pos") + 1, k))
    ).cast("long")
    rows = base.select(
        "id",
        F.explode(
            F.sequence(F.lit(0), (F.col("_n") - k).cast("int"))
        ).alias("pos"),
        "_t",
    ).select("id", "pos", h.alias("h"))
    wspec = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(-(w - 1), 0)
    )
    return (
        rows.withColumn("_minh", F.min("h").over(wspec))
        .filter(F.col("pos") >= w - 1)  # full hash windows only
        .select("id", F.col("_minh").alias("fp"))
        .distinct()
    )


def winnow_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints
    (id_a < id_b, n_shared) — the corpus-level near-copy report over
    the sampled index of ``winnow_fingerprints``.  Fingerprints
    occurring in more than ``WINNOW_MAX_FP_DF`` documents drop before
    the pair join (the dedup_ngram_jaccard hot-shingle guard: a
    boilerplate fingerprint shared by k docs costs O(k²) pair rows;
    the cap bounds the join without touching genuine pair evidence on
    bounded corpora)."""
    # The fingerprint lineage (tokenize + rolling-min window + distinct)
    # feeds the hot-fp aggregate, the anti join, AND both sides of the
    # pair self-join — four static evaluations of the corpus-scale
    # subtree.  The sampled index is tiny next to the corpus, so
    # materializing it once is the cheaper side of the trade at any
    # scale (same discipline as triangle_count's canon/deg split).
    fps = winnow_fingerprints(df, text_col, id_col).localCheckpoint(eager=True)
    hot = (
        fps.groupBy("fp")
        .agg(F.countDistinct("id").alias("_df"))
        .filter(F.col("_df") > WINNOW_MAX_FP_DF)
        .select("fp")
    )
    fps = fps.join(hot, "fp", "left_anti")
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def _simhash_fp_udf():
    """Pandas UDF: array<bigint> token hashes → 64-bit SimHash.

    Bit j of the fingerprint is the sign of sum over tokens of
    (+1 if token-hash bit j else -1).  Token hashing stays JVM-side
    (md5, nibble-packed); only the 64-way bit vote runs here, as one
    vectorized numpy kernel per Arrow batch — benchmarked ~3× faster
    than 64 Catalyst ``aggregate`` folds over the same array.
    """
    import numpy as np

    @F.pandas_udf("long")
    def fp(th: pd.Series) -> pd.Series:
        out = np.zeros(len(th), dtype=np.int64)
        for i, arr in enumerate(th):
            a = np.asarray(arr, dtype=np.int64)
            if a.size == 0:
                continue
            bits = np.unpackbits(
                a.view(np.uint8).reshape(a.size, 8), axis=1, bitorder="little"
            )
            votes = bits.sum(axis=0, dtype=np.int64) * 2 - a.size
            out[i] = np.packbits(votes > 0, bitorder="little").view(np.int64)[0]
        return pd.Series(out)

    return fp


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, simhash bigint): the engine-portable 64-bit SimHash.  Per
    token ONE salted md5; each of the digest's 16 leading hex digits
    contributes 4 fingerprint bits (bit i = digit(i//4) >> (i%4) & 1,
    so nibble j lands at bits 4j..4j+3), votes are summed over the
    token multiset, and bit i is set iff its vote is strictly
    positive.  The DuckDB oracle replays the same votes as a
    16-hex-char string.  NULL text is coalesced to '' (one
    empty-string token), matching the oracle's ``coalesce(text, '')``.

    r12 (guide §4.2): md5 + nibble packing stay JVM-side codegen and
    the 64-way bit vote runs in the numpy pandas-UDF kernel.  Votes
    are integer sums (order-free, exact), so the fingerprint is
    bit-identical to 64 codegen sum aggregates — which were the
    measured cost center (~0.6s of the 0.8s fingerprint phase at
    sf0.1; the md5 itself is ~0.2s)."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("t"),
    )
    h = tok.select(
        "id", F.md5(F.concat(F.lit(SIMHASH_SALT + ":"), F.col("t"))).alias("h")
    )
    packed = F.lit(0).cast("long")
    for j in range(16):
        packed = packed.bitwiseOR(
            F.shiftleft(F.conv(F.substring("h", j + 1, 1), 16, 10).cast("long"), 4 * j)
        )
    arr = (
        h.select("id", packed.alias("_th"))
        .groupBy("id")
        .agg(F.collect_list("_th").alias("th"))
    )
    return arr.select("id", _simhash_fp_udf()("th").alias("simhash"))


# Fewest pigeonhole chunks of ``hamming_pairs``; the SimHash oracle's
# 4-hex-char chunks assume it.
HAMMING_CHUNKS = 4


def hamming_pairs(
    fp: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs (id_a < id_b, hamming) of 64-bit fingerprints with
    hamming distance ≤ max_hamming.

    Candidate generation by pigeonhole: split the fingerprint into
    n_chunks = max(``HAMMING_CHUNKS``, max_hamming + 1) equal bit
    chunks; hamming ≤ n_chunks-1 ⇒ at least one chunk matches exactly, so the join key is
    (chunk_idx, chunk_value) — an equi-join on uniform hash-derived
    keys, never a cross product.  Shared by SimHash text dedup and
    perceptual image-hash dedup.

    The fingerprint frame is materialized once (eager
    ``localCheckpoint``) before the self-join: without it, both join
    branches recompute the whole upstream plan — for SimHash that is
    scan → tokenize → Arrow-batched fingerprint UDF, and the
    optimizer additionally re-evaluates the UDF inside each branch's
    chunk projection (4 ArrowEvalPython nodes total, measured plan).
    The fp frame is 16 bytes/doc, so the checkpoint is trivially
    small next to 4× the corpus tokenize cost (measured 4.4s → cold
    run cut by ~2× at sf0.1); at 100 TB the same ratio holds — the
    fingerprint table of a billion docs is ~16 GB spread over the
    cluster, three orders below the corpus it summarizes.
    """
    # pigeonhole needs > max_hamming disjoint chunks; widen if the
    # caller's max_hamming outgrows HAMMING_CHUNKS.  Boundaries spread
    # the remainder across leading chunks (ADVICE r9 sibling of the
    # hex-form fix: the old ceil width made chunk 8 of a 9-chunk
    # split start at bit 64 — a constant-0 key, all-pairs join) so
    # every chunk is non-empty for any max_hamming <= 63.
    n_chunks = max(HAMMING_CHUNKS, max_hamming + 1)
    if n_chunks > 64:
        raise ValueError(
            "hamming_pairs: pigeonhole on 64 bits supports "
            f"max_hamming <= 63 / n_chunks <= 64 (got n_chunks={n_chunks})"
        )
    base, rem = divmod(64, n_chunks)
    bounds, pos = [], 0
    for c in range(n_chunks):
        wdt = base + (1 if c < rem else 0)
        bounds.append((pos, wdt))
        pos += wdt

    fp = fp.select(F.col(id_col), F.col(hash_col)).localCheckpoint(eager=True)

    def chunk_val(lo: int, wdt: int) -> Column:
        if wdt >= 64:  # single-chunk degenerate case: key = whole fp
            return F.col(hash_col).alias("v")
        mask = (1 << wdt) - 1
        return (
            F.shiftright(hash_col, lo)
            .bitwiseAND(F.lit(mask).cast("long"))
            .alias("v")
        )

    chunks = fp.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("c"), chunk_val(lo, wdt))
                    for c, (lo, wdt) in enumerate(bounds)
                ]
            )
        ).alias("ch"),
    ).select("id", "fp", "ch.c", "ch.v")
    a, b = chunks.alias("a"), chunks.alias("b")
    joined = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.c").alias("c"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").bitwiseXOR(F.col("b.fp")).alias("xor"),
        )
    )

    # A pair matching in k chunks would surface k times; instead of a
    # distinct (full aggregate exchange over the pair set, with the
    # fingerprints riding along) keep only the row whose c is the
    # pair's FIRST matching chunk — "no earlier chunk has zero XOR"
    # is branch-free bit math on the already-computed XOR, so the
    # dedup costs zero shuffles (measured: removing the distinct cut
    # the cold pair-join stage materially at sf0.1).
    def chunk_xor_zero(c: int) -> Column:
        lo, wdt = bounds[c]
        if wdt >= 64:
            return F.col("xor") == 0
        mask = (1 << wdt) - 1
        return (
            F.shiftright("xor", lo).bitwiseAND(F.lit(mask).cast("long")) == 0
        )

    first_match = F.lit(True)
    for c in range(n_chunks - 1, 0, -1):
        earlier_all_nonzero = F.lit(True)
        for c2 in range(c):
            earlier_all_nonzero = earlier_all_nonzero & ~chunk_xor_zero(c2)
        first_match = F.when(F.col("c") == c, earlier_all_nonzero).otherwise(
            first_match
        )

    return (
        joined.filter(first_match)
        .withColumn("hamming", F.bit_count("xor"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ max_hamming:
    ``simhash`` fingerprints, candidates via the pigeonhole chunk
    equi-join of ``hamming_pairs``.  Value-hash oracle-gated: the
    DuckDB twin replays the fingerprint as a hex string, bit i ↔ hex
    digit i//4, so the pair set is identical."""
    return hamming_pairs(simhash(df, text_col, id_col), "id", "simhash", max_hamming)


def keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    node_col: str = "node",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Apply a dedup clustering to the corpus: keep each cluster's
    canonical member (the ``cluster_id`` row itself — the component
    minimum under ``connected_components``) plus every document that
    belongs to no cluster.  The final step of the dedup pipeline:
    pairs → clusters → deduplicated corpus.

    Plan: one anti join against the non-canonical member list — a
    frame no larger than the duplicate count, so at web-corpus dup
    rates (10-40%) the join side is a fraction of the corpus and the
    kept rows stream through a single shuffle (or broadcast, when the
    dup list is small enough for AQE to promote)."""
    drop = clusters.where(f"{name(node_col)} <> {name(cluster_col)}").selectExpr(
        f"{name(node_col)} AS {name(id_col)}"
    )
    return df.join(drop, id_col, "left_anti")


def _gemm_block_pairs(
    blocked: DataFrame, id_dt: str, threshold: float
) -> DataFrame:
    """Within-block exact cosine pairs via one numpy GEMM per block.

    ``blocked`` carries (``_id``, ``_v``, ``_blk``); returns every
    within-``_blk`` pair (id_a < id_b) whose cosine ≥ ``threshold``.
    Shared by ``dedup_semantic`` (block = IVF cluster) and
    ``dedup_embedding`` (block = caller's blocking key) — the r7
    measurement that motivated it: the per-pair ``zip_with``/
    ``aggregate`` dot product runs on Spark's interpreted expression
    walker, and moving the all-pairs math of a BOUNDED block into an
    Arrow-batched matrix multiply was 7-15× (12.3s → 1.6s on
    dedup_semantic at sf0.1).

    Numerics match the SQL/oracle formula exactly where it matters:
    cosine = dot / (norm_a · norm_b) computed in float64, then rounded
    HALF_UP to 6 decimals (``sign(x)·floor(|x|·1e6+0.5)/1e6`` — Spark
    ``F.round`` semantics, NOT numpy's half-even).  The GEMM and a
    left-to-right fold can differ in the last float bits, but the
    6-decimal round absorbs that except on adversarial midpoints.

    Robustness (ADVICE r7): NULL vectors are filtered out before the
    ``applyInPandas`` (they can't pair — the legacy ``zip_with`` path
    yielded NULL cosine and dropped them), and within a block vectors
    are grouped BY LENGTH so a ragged corpus can't turn the stacked
    matrix into a numpy object array: mixed-length pairs emit nothing,
    which again matches the legacy NULL-cosine drop.  Zero-norm
    vectors get cosine 0 and therefore never pair — callers must use
    ``threshold > 0`` (asserted) since the exact-SQL baseline's
    0/0 = NaN would compare GREATER than any threshold under Spark's
    NaN ordering.
    """
    import numpy as np

    if not threshold > 0:
        raise ValueError(
            "block-GEMM cosine dedup requires threshold > 0 "
            "(zero-norm vectors are defined to cosine 0, not NaN)"
        )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype=pdf["_id"].dtype),
                "id_b": pd.Series(dtype=pdf["_id"].dtype),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        frames = []
        # group by vector length: ragged inputs never reach the GEMM
        for _, grp in pdf.groupby(pdf["_v"].map(len).to_numpy()):
            if len(grp) < 2:
                continue
            ids = grp["_id"].to_numpy()
            V = np.array(grp["_v"].tolist(), dtype=np.float64)
            nrm = np.sqrt((V * V).sum(axis=1))
            nrm[nrm == 0.0] = 1.0  # zero vectors never clear threshold > 0
            S = V @ V.T
            C = S / (nrm[:, None] * nrm[None, :])
            iu = np.triu_indices(len(ids), 1)
            raw = C[iu]
            # HALF_UP to 6 decimals — Spark F.round semantics, NOT
            # np.round's half-even (the r5 decimal-midpoint gotcha)
            cos = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
            keep = cos >= threshold
            a, b = ids[iu[0][keep]], ids[iu[1][keep]]
            swap = b < a  # works for numeric and string ids alike
            lo, hi = a.copy(), b.copy()
            lo[swap], hi[swap] = b[swap], a[swap]
            frames.append(pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[keep]}))
        return pd.concat(frames, ignore_index=True) if frames else empty

    return (
        blocked.filter(F.col("_v").isNotNull())
        .groupBy("_blk")
        .applyInPandas(_pairs, f"id_a {id_dt}, id_b {id_dt}, cosine double")
    )


def dedup_semantic(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    m: int = 16,
    nprobe: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): coarse-quantize the embedding space with the
    deterministic IVF quantizer, then EXACT cosine pairs within each
    cluster — the all-pairs O(N²) join becomes m × O((N/m)²) blocked
    work, and cluster granularity is the recall/cost knob.

    ``nprobe > 1`` assigns each vector to its ``nprobe`` nearest
    centroids so near-dups straddling a cluster boundary still meet
    (pairs sharing several probed clusters are deduped; the cosine is
    identical wherever the pair meets, so keep-any is exact).

    Scale shape: quantizer fit is one bounded-sample Spark job
    (``ivf_fit_centroids``); assignment is a vectorized Arrow batch
    per task; within-cluster pairs come from ONE
    ``applyInPandas`` over the cluster key — each task runs a numpy
    GEMM on its cluster's (n_c × d) matrix and emits only the
    surviving pairs, the paper's own within-cluster similarity shape.
    That replaces the former blocked self-join, whose per-pair
    ``zip_with``/``aggregate`` dot product ran on Spark's interpreted
    expression walker (measured at sf0.1, m=8/nprobe=2: 12.3s → 1.6s
    median, 7.7×; the eager checkpoint the self-join needed is gone
    too — the probed frame now has exactly one consumer).  At 100 TB,
    ``m`` grows with corpus size to hold the per-cluster matrix (and
    pair volume) constant — the assignment stays one pass either way.
    """
    from .similarity import _ivf_assign_udf, _ivf_probe_udf, ivf_fit_centroids

    cents = ivf_fit_centroids(emb, m=m, id_col=id_col, vec_col=vec_col)
    if nprobe <= 1:
        clustered = emb.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            _ivf_assign_udf(cents)(F.col(vec_col)).alias("_blk"),
        )
    else:
        clustered = emb.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.explode(_ivf_probe_udf(cents, nprobe)(F.col(vec_col))).alias(
                "_blk"
            ),
        )

    id_dt = emb.schema[id_col].dataType.simpleString()
    pairs = _gemm_block_pairs(clustered, id_dt, threshold)
    if nprobe > 1:
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


def _driver_union_find(sym_edges: DataFrame, pdf: pd.DataFrame, label: str = "label") -> DataFrame:
    """Finish a (contracted) component graph driver-side: classic
    union-find with path compression and min-root union over the
    collected edges ``pdf`` (one orientation is enough), back out as a
    (node, ``label``) mapping frame typed like ``sym_edges``' node
    columns.
    Deterministic: the merged root is always the min of the two
    roots, so the final root is the minimum node of the contracted
    subgraph regardless of edge order — on the integral and string
    domains ``collect_if_small`` admits, Python's ``min`` is
    Catalyst's.

    Measured driver memory at the 100k-edge default cap (tracemalloc,
    symmetrized = 200k rows): 3.2 MB for the Arrow/pandas frame plus
    21.4 MB peak for the union-find dict — the dict, not the collect,
    is the driver cost, which is why the cap default is 100k and not
    the r4 1M (whose dict scales to ~10× that)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        ra, rb = find(u), find(v)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = pd.DataFrame(sorted((n, find(n)) for n in parent), columns=["node", label])
    return sym_edges.sparkSession.createDataFrame(out, _mapping_schema(sym_edges, label))


def _mapping_schema(sym_edges: DataFrame, label: str) -> StructType:
    """(node, <label>) typed like the symmetrized edges' node column:
    ``node`` keeps its nullability, the label (a ``min`` aggregate on
    the distributed route) is nullable."""
    u = sym_edges.schema["u"]
    return StructType(
        [StructField("node", u.dataType, u.nullable), StructField(label, u.dataType, True)]
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Collapse near-dup PAIRS into duplicate CLUSTERS: returns
    (node, cluster_id) where cluster_id is the minimum node id in the
    connected component.  This is the step between pair emission
    (ngram/minhash/simhash/embedding dedup) and actually dropping
    duplicates: transitivity means A~B and B~C must land in ONE
    cluster even though (A,C) was never emitted as a pair.

    Algorithm: STAR CONTRACTION with HASH PRIORITIES.  Each round
    maps every node to the xxhash64-minimum of its closed
    neighborhood, ``m(u) = argmin_{w ∈ N(u) ∪ {u}} (xxh(w), w)``,
    rewrites the edge set to the contracted graph
    ``{(m(u), m(v)) : (u,v) ∈ E, m(u) ≠ m(v)}``, and composes the
    node→super-node mapping.  The component's hash-minimum always
    maps to itself, so the mapping converges to one representative
    per component; a final normalization pass relabels every
    component to its MINIMUM NODE ID (the public contract — the
    oracle's recursive-closure min and ``keep_canonical``'s
    canonical member both rely on it).

    Priorities are hashed rather than raw ids because value-order
    contraction degrades to ~1 node removed per round on a
    monotone-id chain (ADVICE r4: path 1-2-...-n contracts to path
    1..n-1) — a real shape, since near-dup pairs between
    consecutively ingested documents have consecutive ids.  Under a
    fixed pseudo-random priority the expected fraction of nodes that
    are local minima is constant (~1/3 on a chain), so components
    shrink geometrically IN EXPECTATION over the hash draw for every
    input shape, restoring O(log component-size) rounds without
    giving up determinism (xxhash64 is a fixed function; ties broken
    by node id).  Chosen over plain min-label propagation, which is
    O(diameter) and was measured NOT converging in 20 rounds on a
    1.4k-pair low-threshold embedding graph (long A~B~C chains where
    only adjacent pairs clear the threshold) — star contraction
    finished the same graph in 8 rounds, and over label propagation
    + pointer jumping (16 rounds, 1.6× slower): contraction shrinks
    the DATA each round, not just the distance.

    Every round's edge set and mapping are ``localCheckpoint``ed —
    the loop is iterative, so unbounded lineage would re-execute all
    prior rounds at each action and overflow the planner at scale.
    Shuffle keys are node ids (uniform); the contracted graph
    concentrates onto component minima, which is exactly the mass
    AQE's skew handling rebalances at scale.  Termination is the
    edge set running empty — an exact check, not a heuristic — and
    ``max_iter`` (log2 of the largest plausible component) turns a
    pathological non-shrink into a loud error instead of a
    silently-partial clustering.

    Bounded driver finish: once the (geometrically shrinking)
    symmetrized edge set has at most ``DRIVER_FINISH_ROWS`` rows of
    integral or binary-collated string ids, the remaining rounds
    collapse into a driver union-find over the rows the size probe
    already collected.  Each saved distributed round is ~3 tiny-data
    Spark jobs of pure scheduling overhead; at 100 TB the first rounds
    still run distributed and only the contracted tail ever reaches
    the driver (3.2 MB of Arrow buffers + 21.4 MB of union-find dict
    at the 100k cap — see ``_driver_union_find`` for the measurement).
    Round 0 probes the pairs themselves
    (``_finish.collect_pairs_if_small``: admitted when 2·pairs fits
    the cap), so an admitted edge set costs ONE Spark job: no
    symmetrize checkpoint, and no relabelling, since the union-find
    roots already are the component minima.  An edge set too large
    for that probe goes straight to the distributed rounds, which skip
    their own round-0 probe.  Either route returns the input's id type
    and the same schema, nullability included.
    """
    e = edges.selectExpr(f"{name(src)} AS u", f"{name(dst)} AS v")
    sym = e.unionByName(e.selectExpr("v AS u", "u AS v"))
    # round 0 on the pairs themselves: an admitted edge set is the
    # whole answer in one job, since the union-find roots already are
    # the component minima
    pdf = collect_pairs_if_small(e, sym, ["u", "v"])
    if pdf is not None:
        if not len(pdf):
            return edges.sparkSession.createDataFrame([], _mapping_schema(sym, "cluster_id"))
        return _driver_union_find(sym, pdf, "cluster_id")
    # checkpoint the symmetrized edge list ONCE: its lineage contains
    # the (expensive) upstream pair-generation join, and the loop
    # touches it every round — without the cut, each round re-runs
    # the whole dedup pair join
    ecur = sym.localCheckpoint(eager=True)
    # per-round node→super-node steps; composed ONCE at the end.
    # Each step's lineage is one groupBy over that round's
    # checkpointed edge set, so deferring composition is safe and
    # saves a driver action per round (measured ~0.1s/round of pure
    # job-submission overhead in local mode).
    steps: list[DataFrame] = []
    converged = False
    # the id types never change between rounds: when the probe's None
    # already proves the edge set non-empty, a distributed round costs
    # the one probe job, with no separate emptiness job
    probe_decides = none_means_large(ecur, ["u", "v"])
    for i in range(max_iter):
        # round 0's probe ran on the pairs above
        pdf = collect_if_small(ecur, ["u", "v"]) if i else None
        if pdf is not None:
            if len(pdf):
                steps.append(_driver_union_find(ecur, pdf))
            converged = True
            break
        if not probe_decides and ecur.isEmpty():
            converged = True
            break
        # representative = closed-neighborhood minimum under the
        # (xxhash64, id) priority order; struct min is lexicographic,
        # so ties on the hash break by node id — fully deterministic
        m = (
            ecur.groupBy("u")
            .agg(F.expr("min(struct(xxhash64(v) AS h, v AS n)) AS mv"))
            .selectExpr(
                "u", "CASE WHEN struct(xxhash64(u) AS h, u AS n) <= mv THEN u ELSE mv.n END AS m"
            )
        )
        contracted = (
            ecur.join(m, "u")
            .selectExpr("m AS nu", "v")
            .join(m.selectExpr("u AS v", "m AS nv"), "v")
            .selectExpr("nu AS u", "nv AS v")
            .where("u <> v")
            .distinct()
        )
        steps.append(m.selectExpr("u AS node", "m AS label"))
        ecur = contracted.localCheckpoint(eager=True)
        # emptiness is re-checked at the top of the loop
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (rounds needed ≈ log2 of the largest component)"
        )
    if not steps:  # no edges at all: every node is its own cluster
        return edges.sparkSession.createDataFrame([], _mapping_schema(ecur, "cluster_id"))
    mapping = steps[0]
    for step in steps[1:]:
        # left join: nodes whose super-node already collapsed out of
        # the edge set keep their final label
        mapping = mapping.join(
            step.selectExpr("node AS ln", "label AS nl"), F.expr("label = ln"), "left"
        ).selectExpr("node", "coalesce(nl, label) AS label")
    # Normalize representatives to the component's MINIMUM NODE ID:
    # contraction converged on hash-min representatives (and the
    # driver finish on contracted-subgraph minima), but the public
    # contract is min-of-component.  One groupBy + join over the
    # mapping — node-count sized, far smaller than the corpus, and
    # the canon side is duplicate-cluster sized (broadcastable).
    canon = mapping.groupBy("label").agg(F.expr("min(node) AS cluster_id"))
    return mapping.join(canon, "label").selectExpr("node", "cluster_id")


def dedup_embedding(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.95,
    engine: str = "gemm",
) -> DataFrame:
    """Embedding near-dup: pairs within a blocking key whose cosine
    similarity ≥ threshold.

    Blocking (here on ``label``; in production a coarse cluster id)
    keeps the pair work per-block instead of all-pairs.  The default
    ``engine="gemm"`` routes each block through ONE Arrow batch and a
    numpy matrix multiply (``_gemm_block_pairs`` — shared with
    ``dedup_semantic``): the r7 A/B on dedup_semantic measured the
    per-pair ``zip_with``/``aggregate`` dot product (interpreted
    expression walker, NOT codegen — higher-order array lambdas never
    compile) at 12.3s vs 0.82s for the GEMM at sf0.1, and this
    operator was the last one still on the interpreted pattern (the
    suite's only >2× mover vs the r4 baseline).  Parallelism is the
    block-key cardinality — at production scale blocks come from a
    quantizer sized so blocks are many and bounded (see
    ``dedup_semantic``'s ``m``); the GEMM cost per task is
    O(block² · dim) on a bounded block.

    ``engine="sql"`` keeps the former blocked self-join whose dot
    product is a JVM ``aggregate`` over ``zip_with``, retained for
    A/B measurement and for engines where Python workers are
    unavailable.  Both engines produce identical pairs: cosine =
    dot/(norm_a·norm_b) rounded HALF_UP to 6 decimals (numpy
    ``sign·floor(|x|·1e6+0.5)`` ≡ Spark ``F.round``).  Divergences
    only on degenerate inputs, where the GEMM path is the saner one:
    zero-norm vectors are cosine 0 (never pair; the SQL path's
    0/0 = NaN compares greater than ANY threshold under Spark NaN
    ordering and would emit the pair), NULL/ragged vectors are
    dropped rather than task-crashing (ADVICE r7).
    """
    if engine not in ("gemm", "sql"):
        # a typo ('GEMM', 'sql ') must not silently select the other
        # engine — the two differ on degenerate inputs (see above)
        raise ValueError(
            f"dedup_embedding: unknown engine {engine!r} "
            "(expected 'gemm' or 'sql')"
        )
    if engine == "gemm":
        blocked = emb.select(
            F.col(id_col).alias("_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
            F.col(block_col).alias("_blk"),
        )
        id_dt = emb.schema[id_col].dataType.simpleString()
        return _gemm_block_pairs(blocked, id_dt, threshold)
    v = emb.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "norm",
        F.sqrt(F.aggregate(F.zip_with("v", "v", lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x)),
    )
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .withColumn("cosine", F.round(dot / (F.col("a.norm") * F.col("b.norm")), 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
    )


def _span_window_rows(
    base: DataFrame,
    k: int,
    with_pos: bool = False,
    hashed: bool = False,
    with_text: bool = False,
) -> DataFrame:
    """(doc_id, [pos,] span[, span_text]) — one row per k-token
    window, built by exploding the window positions and projecting
    the span AFTER the explode (the shingle_hash_rows discipline:
    transform lambdas run on the interpreted expression walker,
    post-explode slice/concat projections stay in whole-stage
    codegen).  ``base`` carries (doc_id, _t); docs with fewer than
    ``k`` tokens emit no rows — identical to the former empty-array
    explode.

    ``hashed=True`` emits ``span`` as the multi-arg xxhash64 of the
    k window tokens (one 8-byte long instead of a ~k·avg-token-width
    string) — the scale key: downstream groupBy/join shuffles sort
    fixed-width longs, ~9× smaller sort keys on 12-token English
    spans, and no concat string is ever built.  Windows are always
    FULL here (the ``_n >= k`` filter), so the NULL-skip tail
    semantics of multi-arg xxhash64 never engage and distinct token
    windows map to distinct hash inputs (argument boundaries are
    seed-chained, so ("ab","c") and ("a","bc") differ).
    ``with_text`` additionally carries the concat string as
    ``span_text`` for callers that must REPORT the span (hash
    grouping with a min(span_text) carry — the string rides as an
    aggregation buffer, partial-aggregated map-side, never a sort
    key)."""
    staged = base.withColumn("_n", F.size("_t")).filter(F.col("_n") >= k)
    rows = staged.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), (F.col("_n") - k).cast("int"))).alias("pos"),
        "_t",
    )
    span_str = F.concat_ws(" ", F.slice("_t", (F.col("pos") + 1).cast("int"), k))
    cols: list = ["doc_id"] + (["pos"] if with_pos else [])
    if hashed:
        span_h = F.xxhash64(
            *[F.get("_t", (F.col("pos") + j).cast("int")) for j in range(k)]
        )
        cols.append(span_h.alias("span"))
        if with_text:
            cols.append(span_str.alias("span_text"))
    else:
        cols.append(span_str.alias("span"))
    return rows.select(*cols)


# Occurrences that make a k-token span a duplicate (Lee et al. count a
# doc repeating itself).  The span oracles interpolate it.
SPAN_MIN_COUNT = 2


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    exact_strings: bool = False,
) -> DataFrame:
    """Exact repeated k-token span detection — the corpus-level
    exact-substring-dedup signal of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed for
    Spark: instead of a monolithic suffix array, every k-token
    window of the normalized text becomes a shingle row, and a
    corpus-wide aggregate finds windows that occur ``SPAN_MIN_COUNT``+
    times (within OR across documents — a doc repeating itself
    counts, as in the paper).

    Returns one row per duplicated span:
    (span, n_docs, n_total, first_doc) where n_total counts every
    occurrence, n_docs the distinct documents, and first_doc the
    lexicographically-first carrying document (deterministic).

    Only FULL k-token windows participate: documents shorter than
    ``k`` tokens contribute nothing (unlike the dedup shingle
    helpers, which truncate short docs into one partial shingle).

    Plan shape: tokenize+window in ONE codegen projection (no
    shuffle); explode; then TWO partial-aggregated shuffles — first
    on (span, doc) for per-doc counts, then on span for the corpus
    rollup — both keyed on content-derived uniform keys, never an
    all-pairs join.  A COUNT(DISTINCT) in a single agg would Expand
    every window row instead.

    The DEFAULT groups on ``xxhash64`` of the k window tokens and
    carries ``min(span_text)`` only as an aggregation buffer into
    the report — ~9× smaller shuffle sort keys at 100 TB, identical
    output absent a 2^-64 hash collision (the DuckDB oracle twin
    groups on the string and hash-matches this path).
    ``exact_strings=True`` groups on the raw span string — the
    collision-proof mode, at string-sort shuffle cost.
    """
    toks = tokens(text_col)
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    if exact_strings:
        per_doc = (
            _span_window_rows(base, k)
            .groupBy("span", "doc_id")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        return (
            per_doc.groupBy("span")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("_c").alias("n_total"),
                F.min("doc_id").alias("first_doc"),
            )
            .filter(F.col("n_total") >= SPAN_MIN_COUNT)
        )
    per_doc = (
        _span_window_rows(base, k, hashed=True, with_text=True)
        .groupBy("span", "doc_id")
        .agg(F.count(F.lit(1)).alias("_c"), F.min("span_text").alias("_s"))
    )
    return (
        per_doc.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_c").alias("n_total"),
            F.min("doc_id").alias("first_doc"),
            F.min("_s").alias("_span_text"),
        )
        .filter(F.col("n_total") >= SPAN_MIN_COUNT)
        .select(
            F.col("_span_text").alias("span"), "n_docs", "n_total", "first_doc"
        )
    )


def span_dup_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    exact_strings: bool = False,
) -> DataFrame:
    """Score side of the Lee et al. exact-substring recipe: for each
    document, the fraction of its k-token windows that are duplicated
    corpus-wide (per ``duplicate_spans``).  Downstream curation drops
    or trims docs above a threshold — the distributed stand-in for
    the paper's cut-the-repeated-substring step, at document
    granularity.

    Returns (doc_id, n_windows, n_dup_windows, dup_frac); docs
    shorter than ``k`` tokens report 0 windows and 0.0 fraction.

    Plan shape (r12): the window projection feeds ONE per-(span,
    doc) partial-aggregated shuffle, eagerly materialized, and BOTH
    consumers — the corpus dup rollup and the per-doc score —
    aggregate from that frame, so the window projection is evaluated
    once (pre-r12 the per-doc score joined the RAW window stream
    against the dup list, re-evaluating the tokenize+hash
    projection; n_windows ≡ Σ _c and n_dup_windows ≡ Σ _c·is_dup
    make the per-(span, doc) counts a lossless proxy — guide §8's
    decide-with-small-rows rule).  The join on the span
    key is content-derived and uniform; the duplicate-span side is
    small at any realistic dup rate but NOT broadcast by hint — its
    size is data-dependent and unbounded, so the equi-join stays a
    shuffle join and AQE promotes it to broadcast at runtime when
    it fits.

    The span never needs to be REPORTED here, so the DEFAULT keys
    every shuffle/join on the xxhash64 window hash and no span
    string is ever built (identical scores absent a 2^-64
    collision); ``exact_strings=True`` keys on the raw string.
    """
    toks = tokens(text_col)
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    win = _span_window_rows(base, k, hashed=not exact_strings)
    # the per-(span, doc) counts (3 longs/row, ≈ one row per distinct
    # window occurrence pair) feed the corpus dup rollup AND the
    # per-doc score.  The two static subtrees canonicalize
    # DIFFERENTLY — the outer left join infers isnotnull(doc_id)
    # onto the score branch only — so the runtime stage cache never
    # reuses the exchange and the window projection ran twice; one
    # eager materialization runs it once (r12, guide §5 — A/B
    # 1.31s → 1.11s at sf0.1, 6/7 pairwise).
    per_doc = (
        win.groupBy("span", "doc_id")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=True)
    )
    dup = (
        per_doc.groupBy("span")
        .agg(F.sum("_c").alias("_tot"))
        .filter(F.col("_tot") >= SPAN_MIN_COUNT)
        .select("span", F.lit(1).alias("_is_dup"))
    )
    scored = (
        per_doc.join(dup, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("n_windows"),
            F.sum(
                F.col("_c") * F.coalesce(F.col("_is_dup"), F.lit(0))
            ).alias("n_dup_windows"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.round(
                F.when(
                    F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0.0)
                ).otherwise(F.col("n_dup_windows") / F.col("n_windows")),
                6,
            ).alias("dup_frac"),
        )
    )


def dedup_containment(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """Pairs (id_a < id_b) whose n-gram shingle CONTAINMENT
    |A∩B| / min(|A|,|B|) ≥ threshold — the asymmetric companion to
    ``dedup_ngram_jaccard``: a short document quoted whole inside a
    long one scores containment ≈ 1 while its Jaccard stays far
    below any dedup threshold (the Broder 1997 resemblance-vs-
    containment distinction).  The standard catch for quote-
    inclusion / page-wrapping duplication.

    Same join, verify and cap contract as the Jaccard operator
    (``_set_candidates``): containment bounds the overlap only by the
    smaller doc, so only that doc is cut to its prefix, and it probes
    every cold shingle of the other; the positional bound divides by
    the smaller size.  Values are exact, every filter carries the
    1e-6 slack, and a true pair is missed only when ALL the shingles
    it shares are hot.  ``max_shingle_df=None`` filters nothing.
    """
    return _set_similarity_pairs(
        df, text_col, id_col, n, threshold, max_shingle_df, containment=True
    )


def cut_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    exact_strings: bool = False,
) -> DataFrame:
    """The APPLY step of the Lee et al. exact-substring recipe: cut
    every corpus-duplicated k-token span out of the documents
    (where ``span_dup_fraction`` only scores).  A token is removed
    iff at least one duplicated window covers it, so overlapping
    duplicated spans merge naturally; the text is rebuilt from the
    surviving NORMALIZED tokens in order (the token-level analog of
    the paper's byte-level substring cut).

    Returns (doc_id, clean_text, n_tokens, n_tokens_removed) for the
    WHOLE corpus — untouched documents pass through with 0 removed.

    Plan shape: windows with positions in one codegen projection
    (evaluated per consumer — storing the exploded frame would cost
    more than its scan-speed recompute, see span_dup_fraction); the
    corpus dup set via two partial-agg shuffles; duplicated window
    positions collected per doc (bounded by windows-per-doc); the
    final rebuild is a per-row nested higher-order filter
    (token j survives iff no dup position p has p ≤ j ≤ p+k−1),
    O(tokens × dup-windows) per row, no UDF.

    Like ``span_dup_fraction``, no span is ever reported, so the
    DEFAULT keys all shuffles/joins on the xxhash64 window hash and
    builds no span strings; ``exact_strings=True`` keys on the raw
    string.
    """
    toks = tokens(text_col)
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    n = F.size("_t")
    win = _span_window_rows(base, k, with_pos=True, hashed=not exact_strings)
    dup = (
        win.groupBy("span", "doc_id")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("span")
        .agg(F.sum("_c").alias("_tot"))
        .filter(F.col("_tot") >= SPAN_MIN_COUNT)
        .select("span")
    )
    dup_pos = (
        win.join(dup, "span")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("_dp"))
    )
    dp = F.coalesce(F.col("_dp"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("_t"),
        lambda x, j: ~F.exists(dp, lambda p: (p <= j) & (j <= p + F.lit(k - 1))),
    )
    n_safe = F.coalesce(n, F.lit(0))
    return (
        base.join(dup_pos, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.array_join(kept, " "), F.lit("")).alias("clean_text"),
            F.greatest(n_safe, F.lit(0)).cast("long").alias("n_tokens"),
            (F.greatest(n_safe, F.lit(0)) - F.coalesce(F.size(kept), F.lit(0)))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


def dedup_incremental(
    new_docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Incremental exact dedup: the production shape where a NEW
    batch (today's crawl) dedups against itself AND against the
    fingerprint index of everything already ingested — a batch is
    never allowed to re-scan the historical corpus, only its hash
    index.

    ``seen`` is the historical index: one ``hash_col`` column
    (build it with ``with_content_hash(...).select(hash_col)``; keep
    it as a bucketed table on the hash so tomorrow's anti join needs
    no shuffle on the index side).  Returns the surviving new rows —
    batch-internal duplicates collapse keep-lowest-id first, then
    anything already seen is anti-joined away.  Union the survivors'
    hashes into ``seen`` afterwards with ``updated_index``.

    Plan: ONE shuffle of the (small) new batch on its content hash
    for the keep-first window, then an anti join on the hash.  At
    100 TB-of-history scale the index side dominates: against a
    bucketed index the batch is hashed straight into the index's
    bucket count, so that one exchange serves both the window and the
    anti join at any shuffle-partition setting and the index side
    never shuffles; unbucketed, both sides exchange once on the
    uniform hash key.  The historical TEXT is never read either way.
    """
    index = seen.select(hash_col)
    hashed = with_content_hash(new_docs, text_col, out=hash_col)
    n_buckets = _bucket_count(index, hash_col)
    if n_buckets is not None:
        hashed = hashed.repartition(n_buckets, hash_col)
    w = Window.partitionBy(hash_col).orderBy(F.col(id_col).asc())
    batch_first = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return batch_first.join(index.distinct(), hash_col, "left_anti")


def _bucket_count(df: DataFrame, col: str) -> int | None:
    """Bucket count of ``df`` when its planned scan is already hash
    partitioned on ``col`` alone (a table bucketed on it), else None.
    Planning only; no job runs."""
    part = df._jdf.queryExecution().sparkPlan().outputPartitioning()
    if part.getClass().getSimpleName() != "HashPartitioning":
        return None
    keys = part.expressions()
    if keys.length() != 1 or keys.apply(0).toString().split("#")[0] != col:
        return None
    return part.numPartitions()


def updated_index(
    seen: DataFrame, survivors: DataFrame, hash_col: str = "content_hash"
) -> DataFrame:
    """The new historical index after a ``dedup_incremental`` batch:
    old index ∪ surviving hashes.  Survivors are already unique and
    disjoint from ``seen`` by construction, so this is a UNION ALL —
    no distinct shuffle; write it back bucketed on the hash."""
    return seen.select(hash_col).unionByName(survivors.select(hash_col))


def _expand_bands(sig_df: DataFrame, bands: int) -> DataFrame:
    """(id, sig) → (id, sig, band, bucket) LSH band rows: bucket = md5
    of the band's r comma-joined slot values (the engine-portable form
    DuckDB replays), factored so the batch side, the persistent index
    and the pairwise LSH compute buckets identically.  NULL signatures
    (docs shorter than a shingle) emit no band rows — they would all
    share one md5 bucket per band."""
    r = NUM_HASHES // bands

    def bucket(b: int) -> Column:
        return F.md5(
            F.concat_ws(
                ",", *[F.col("sig")[b * r + j].cast("string") for j in range(r)]
            )
        )

    return sig_df.filter(F.col("sig").isNotNull()).select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")


def _band_pairs(band_rows: DataFrame) -> DataFrame:
    """(id_a < id_b) distinct pairs of ``_expand_bands`` rows that share
    a (band, bucket): the one LSH band self-join."""
    a, b = band_rows.alias("a"), band_rows.alias("b")
    return (
        a.join(b, F.expr("a.band = b.band AND a.bucket = b.bucket AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Persistent LSH index rows for a corpus: (id, sig, band,
    bucket) — what ``dedup_incremental_minhash`` joins tomorrow's
    batch against.  Write it bucketed on (band, bucket)
    (``sinks.files.write_bucketed``) so the daily candidate join
    shuffles only the day's batch; the signature column rides along
    so candidate verification needs no second index.  Every value
    (``minhash_signatures``, md5 band buckets) is one a DuckDB oracle
    regenerates.  Banded as ``INDEX_BANDS`` bands."""
    return _expand_bands(minhash_signatures(df, text_col, id_col), INDEX_BANDS)


def _est_jaccard(a, b):
    """MinHash Jaccard estimate: fraction of equal signature slots.

    Deliberately the ``zip_with``/``aggregate`` fold even though it
    runs interpreted: it only ever evaluates on band-join CANDIDATES
    (a bounded set), and the unrolled 32-term codegen sum was A/B'd
    SLOWER at sf0.1 (dedup_incremental_minhash 3.7s → 5.0s — the
    32-comparison expression tree inflates codegen compilation in
    every stage that carries the filter, which costs more than the
    interpreter on a small candidate set).  The interpreted-walker
    rewrites pay off on per-CORPUS-row expressions (shingles,
    signatures), not per-candidate ones."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda s, x: s + x,
    ) / F.lit(float(NUM_HASHES))


def dedup_incremental_minhash(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> DataFrame:
    """Incremental NEAR-dup dedup — ``dedup_incremental``'s exact
    anti join generalized to MinHash: today's batch dedups against
    itself and against the historical LSH band index WITHOUT ever
    re-reading historical text.  The index stores signatures, so
    candidates verify by the MinHash Jaccard estimate (fraction of
    equal slots) — the standard production trade: no second pass
    over history, estimator error bounded by 1/√NUM_HASHES.

    Semantics are greedy keep-first (a batch doc matching ANY
    lower-id batch doc, or ANY indexed doc, is dropped — matching a
    doc that is itself dropped still drops you: conservative, never
    re-admits a near-dup).  Returns the surviving new rows with the
    ``sig`` they were verified with (NULL for docs shorter than
    ``MINHASH_N`` tokens: they have no signature, never match and always
    survive); extend the index afterwards with ``updated_band_index``.

    The whole batch (drop decisions included) is DuckDB-replayable
    (``minhash_signatures``, md5 band buckets), so the registry entry
    is value-hash gated.  The estimate is a fraction k/NUM_HASHES
    (exact in binary for power-of-two NUM_HASHES), so the
    ≥ threshold comparison is engine-exact.

    Plan: the batch's signatures materialize once (eager
    localCheckpoint — they feed both band-join sides, the index join
    and the estimator); the self-join (``_band_pairs``) and the index
    join are (band, bucket) equi-joins; with the index stored bucketed
    on (band, bucket), only the day's batch shuffles.  Verification
    runs on the bounded candidate set.
    """
    # the batch's band rows drop the 32-slot sig (~10x fewer shuffle
    # bytes); the estimator joins it back by id on candidates only
    sig_new = minhash_signatures(new_docs, text_col, id_col).localCheckpoint(eager=True)
    nb = _expand_bands(sig_new, INDEX_BANDS).select("id", "band", "bucket")
    cand_pairs = _band_pairs(nb)
    internal_drop = (
        cand_pairs.join(
            sig_new.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sig_new.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
        .filter(_est_jaccard(F.col("sig_a"), F.col("sig_b")) >= threshold)
        .select(F.col("id_b").alias("id"))
    )
    hist_drop = (
        nb.join(
            index.select(
                F.col("sig").alias("sig_h"), F.col("band"), F.col("bucket")
            ),
            ["band", "bucket"],
        )
        .select("id", "sig_h")
        .join(sig_new, "id")
        .filter(_est_jaccard(F.col("sig"), F.col("sig_h")) >= threshold)
        .select("id")
    )
    drops = internal_drop.unionByName(hist_drop).distinct()
    # every dropped id has a signature, so flagging drops on the
    # (small) signature frame lets ONE join of the batch both drop
    # them and hand the survivors the sig they were verified with;
    # sig-less docs find no row and survive with sig NULL
    flagged = sig_new.join(drops.withColumn("_drop", F.lit(True)), "id", "left")
    return (
        new_docs.join(flagged.withColumnRenamed("id", id_col), id_col, "left")
        .filter(F.col("_drop").isNull())
        .drop("_drop")
    )


def updated_band_index(
    index: DataFrame,
    survivors: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The band index after a ``dedup_incremental_minhash`` batch:
    old index ∪ the survivors' band rows, expanded from the ``sig``
    column the survivors carry (no text is re-tokenized; sig-less
    survivors add no rows).  Survivors are near-dup disjoint from the
    index by construction — UNION ALL, no distinct shuffle; write
    back bucketed on (band, bucket)."""
    return index.unionByName(
        _expand_bands(survivors.select(F.col(id_col).alias("id"), "sig"), INDEX_BANDS)
    )


# ``dedup_editdistance``'s blocking prefix, length band, compared
# prefix (chars) and edit bound.  The DuckDB oracle interpolates them.
EDIT_BLOCK_PREFIX = 12
EDIT_LENGTH_BUCKET = 64
EDIT_COMPARE_PREFIX = 64
EDIT_MAX_DIST = 16


def dedup_editdistance(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Pairs (id_a < id_b) whose normalized-text prefixes are within
    ``EDIT_MAX_DIST`` Levenshtein edits — the character-level near-dup
    verifier that catches small in-place mutations (typo injection,
    template slot swaps) which shingle-set Jaccard scores leniently
    and embedding cosine misses entirely.

    Candidate generation is standard blocking: documents sharing BOTH
    an ``EDIT_BLOCK_PREFIX``-char normalized prefix and an
    ``EDIT_LENGTH_BUCKET``-char length band ever meet, so the self-join
    is an equi-join on the block key (shuffle hash join — never a
    cartesian), and the O(b²) blow-up is bounded by the block sizes.
    Verification runs built-in ``levenshtein`` (JVM codegen, exact
    DP) on ``EDIT_COMPARE_PREFIX``-char prefixes — constant work per
    pair.  Recall boundary (documented, standard for blocking): a pair
    whose edits fall inside the first ``EDIT_BLOCK_PREFIX`` chars or
    straddle a length-band boundary is missed; run with a rotated
    prefix (e.g. suffix blocking) for the union if that matters.

    Scale shape: one projection pass (normalize + block key), one
    shuffle equi-join on the block key, per-pair constant-cost
    verify.  No Python, no UDFs, no full-text transfer — only the
    bounded prefixes move through the shuffle.
    """
    from ..functions.text import normalize_text

    norm = normalize_text(text_col)
    base = df.select(
        F.col(id_col).alias("id"),
        F.substring(norm, 1, EDIT_COMPARE_PREFIX).alias("pref"),
        F.concat_ws(
            "#",
            F.substring(norm, 1, EDIT_BLOCK_PREFIX),
            F.floor(F.length(norm) / EDIT_LENGTH_BUCKET).cast("string"),
        ).alias("block"),
    )
    a, b = base.alias("a"), base.alias("b")
    dist = F.levenshtein(F.col("a.pref"), F.col("b.pref"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dist.cast("long").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= EDIT_MAX_DIST)
    )
