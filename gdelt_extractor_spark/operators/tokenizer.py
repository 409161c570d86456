"""BPE tokenizer training and application (Sennrich et al. 2016) —
the full pipeline ``textstats.bpe_pair_counts`` previews one step of.

Scale decomposition (the part that matters at 100 TB):

1. **Word-frequency aggregate — distributed.** The only pass over
   corpus bytes: tokenize → groupBy word → count.  Zipf makes the
   resulting vocabulary orders of magnitude smaller than the corpus,
   and it is the COMPLETE sufficient statistic for BPE training —
   merges depend on nothing else.
2. **Merge loop — driver-side over the bounded vocab.** Classic BPE
   trainers (subword-nmt, HuggingFace) train from exactly this
   word→count dict; the loop is O(merges · vocab) on a few MB of
   driver memory.  Running it distributed would pay a full shuffle
   per merge for work a laptop does in seconds — the same
   bounded-driver trade as the IVF/PQ quantizer fits, with
   ``word_frequencies``' ``max_vocab_rows`` as the explicit cap
   (most-frequent rows kept, deterministic (freq desc, word asc)
   order).
3. **Encode — distributed.** Learned merges broadcast to an Arrow
   UDF that applies them in rank order per word; one scan, no
   shuffle.  A word-level LRU memoizes within each batch (Zipf again:
   a batch's distinct words ≪ its tokens).

Determinism: pair selection is (count desc, pair asc) — the same
total order everywhere in this repo — so the merge list is a pure
function of the word-frequency table, which is itself
partition-independent.
"""

from __future__ import annotations

from collections import Counter


import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

_EOW = "</w>"  # end-of-word marker, as in the original BPE paper


def word_frequencies(
    df: DataFrame, text_col: str, max_vocab_rows: int = 200_000
) -> DataFrame:
    """The corpus's word-frequency table — BPE training's sufficient
    statistic.  One distributed aggregate; the ``max_vocab_rows`` cap
    keeps the driver transfer bounded (deterministic most-frequent
    prefix, (freq desc, word asc))."""
    return (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.col("f").desc(), F.col("w").asc())
        .limit(max_vocab_rows)
    )


def _merge_word(symbols: tuple, pair: tuple) -> tuple:
    out = []
    i = 0
    while i < len(symbols):
        if i + 1 < len(symbols) and (symbols[i], symbols[i + 1]) == pair:
            out.append(symbols[i] + symbols[i + 1])
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return tuple(out)


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 100,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus's 200,000 most
    frequent words.  Returns the ordered merge list [(left, right),
    ...]; stops early when no pair occurs twice."""
    vocab_rows = word_frequencies(df, text_col).collect()
    vocab: dict[tuple, int] = {
        tuple(r.w) + (_EOW,): r.f for r in vocab_rows
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        # deterministic argmax: highest count, then lexicographically
        # smallest pair — matching the repo's (count desc, key asc)
        # convention
        top = max(pairs.values())
        best_pair = min(p for p, c in pairs.items() if c == top)
        if pairs[best_pair] < 2:
            break
        merges.append(best_pair)
        vocab = {
            _merge_word(syms, best_pair): f for syms, f in vocab.items()
        }
    return merges


def _bpe_encode_udf(merges: list[tuple[str, str]]):
    from pyspark.sql.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        # plain-dict word memo (lru_cache on a closure doesn't
        # pickle); bounded: cleared when it outgrows the cap
        memo: dict[str, tuple] = {}

        def encode_word(w: str) -> tuple:
            got = memo.get(w)
            if got is not None:
                return got
            syms = tuple(w) + (_EOW,)
            while len(syms) > 1:
                # lowest-rank (earliest-learned) applicable merge
                # first — the standard BPE application order
                cand = [
                    ranks[(syms[i], syms[i + 1])]
                    for i in range(len(syms) - 1)
                    if (syms[i], syms[i + 1]) in ranks
                ]
                if not cand:
                    break
                syms = _merge_word(syms, merges[min(cand)])
            if len(memo) > 65536:
                memo.clear()
            memo[w] = syms
            return syms

        out = []
        for t in texts:
            toks: list[str] = []
            for w in (t or "").lower().split():
                toks.extend(encode_word(w))
            out.append(toks)
        return pd.Series(out)

    return encode


# ---- unigram LM tokenizer (Kudo 2018, SentencePiece-style) --------
#
# The sibling of BPE above, same three-stage scale decomposition:
# word-frequency aggregate (distributed, the sufficient statistic) →
# EM trainer (driver loop over the bounded vocab) → Viterbi encode
# (distributed Arrow UDF, memoized per word).  Differences from
# SentencePiece proper, chosen for determinism and oracle
# replayability: the seed vocabulary is substring counts over the
# capped word-frequency table (not ESA), the E-step is hard Viterbi
# (not forward-backward), and pruning keeps the top pieces by
# freq-weighted usage (count desc, piece asc — the repo's total
# order) instead of likelihood-loss ranking.
#
# Engine-portable encode: piece scores are INTEGER log-prob
# micro-units (HALF_UP), and the Viterbi DP maximizes the combined
# bigint  score_u·2^20 − n_pieces  per word — score dominates (any
# ≥1-micro-unit difference outweighs the count term), ties prefer
# fewer pieces, and equal (score, count) segmentations are
# indistinguishable in the (n_pieces, score_sum) output — so the
# whole DP is exact 64-bit integer arithmetic that a DuckDB
# recursive CTE replays bit-for-bit (the bpe_subwords pin
# discipline; see __spark_entry__._unigram_oracle_sql).

# count term headroom: the count term stays below the score term for
# words < 2^20 chars.  The BINDING bound is tighter (ADVICE r11): an
# all-UNK word contributes _UG_UNK_SCORE_U·_UG_MULT − 1 ≈ −2.097e13
# per char to the DP total, so a single word beyond ~4.3×10^5 UNK
# chars overflows INT64 — DuckDB's BIGINT DP would error/wrap while
# Python's arbitrary-precision side stays exact, a silent gate
# divergence rather than a loud failure.  Oracle-gated corpora must
# keep whitespace-delimited words under ~4×10^5 chars (the testdata
# and any real text corpus are orders of magnitude below; a corpus
# of megabyte-long unbroken tokens needs pre-chunking anyway).
_UG_MULT = 1 << 20
_UG_UNK_SCORE_U = -20_000_000  # pinned fallback for unseen single chars

# THE documents-table data fingerprint (DuckDB SQL) keying the BPE and
# unigram pins — single definition imported by both pin scripts, both
# oracle fpq CTEs and the refit==pin CI tests, so pin generation can
# never desynchronize from oracle dispatch (r11 review; the
# _kmeans_pins.FINGERPRINT_SQL discipline)
DOC_FINGERPRINT_SQL = (
    "CAST(COUNT(*) AS VARCHAR) || ':' || "
    "CAST(CAST(SUM(length(text)) AS BIGINT) AS VARCHAR)"
)


def _half_up_micro(x: float) -> int:
    import math

    return int(math.copysign(math.floor(abs(x) * 1e6 + 0.5), x))


def _ug_viterbi(w: str, scores: dict[str, int], maxlen: int) -> int:
    """Combined-bigint Viterbi total for one word: max over
    segmentations of Σ(score_u·MULT − 1).  Every position is
    reachable via the single-char UNK fallback."""
    n = len(w)
    neg = -(1 << 62)
    dp = [0] + [neg] * n
    for j in range(1, n + 1):
        best = neg
        for i in range(max(0, j - maxlen), j):
            s = scores.get(w[i:j])
            if s is None:
                if j - i != 1:
                    continue
                s = _UG_UNK_SCORE_U
            cand = dp[i] + s * _UG_MULT - 1
            if cand > best:
                best = cand
        dp[j] = best
    return dp[n]


# ``unigram_train``'s training vocabulary (most frequent words), its
# seed pieces (the most frequent multi-char substrings up to the seed
# length) and its hard-EM rounds.  The pinned tables of
# ``_unigram_pins`` were fit with these values.
UNIGRAM_VOCAB_ROWS = 20_000
UNIGRAM_SEED_MAX_LEN = 5
UNIGRAM_SEED_SIZE = 1024
UNIGRAM_EM_ROUNDS = 2


def unigram_train(
    df: DataFrame, text_col: str, vocab_size: int = 96
) -> list[tuple[str, int]]:
    """Learn a unigram-LM piece vocabulary; returns the sorted piece
    table [(piece, score_u)] with score_u = HALF_UP(ln p · 1e6).

    All single characters of the (capped) training vocabulary are
    always kept — the char floor guarantees every training word
    segments without the UNK fallback; ``vocab_size`` bounds the
    TOTAL table (chars + best multi-char pieces).  Deterministic: a
    pure function of the word-frequency table (freq desc, word asc
    capped), like ``bpe_train``."""
    import math
    from collections import Counter

    words = [
        (r.w, r.f)
        for r in word_frequencies(df, text_col, UNIGRAM_VOCAB_ROWS).collect()
    ]
    cnt: Counter = Counter()
    chars: set[str] = set()
    for w, f in words:
        lw = len(w)
        for i in range(lw):
            chars.add(w[i])
            for j in range(i + 2, min(i + UNIGRAM_SEED_MAX_LEN, lw) + 1):
                cnt[w[i:j]] += f
    multis = sorted(cnt, key=lambda p: (-cnt[p], p))[:UNIGRAM_SEED_SIZE]
    char_counts = Counter()
    for w, f in words:
        for c in w:
            char_counts[c] += f

    def estimate(counts: dict[str, int]) -> dict[str, float]:
        total = float(sum(counts.values()))
        return {p: math.log(c / total) for p, c in counts.items()}

    probs = estimate({**char_counts, **{p: cnt[p] for p in multis}})
    n_multi = max(0, vocab_size - len(chars))
    maxlen = UNIGRAM_SEED_MAX_LEN
    for _ in range(UNIGRAM_EM_ROUNDS):
        # E-step: hard-Viterbi usage counts (float scores are fine
        # here — the trainer is driver-only and deterministic; only
        # the FINAL emitted table must be integer)
        scores_u = {p: _half_up_micro(lp) for p, lp in probs.items()}
        usage: Counter = Counter()
        for w, f in words:
            n = len(w)
            neg = -(1 << 62)
            dp = [0] + [neg] * n
            back = [0] * (n + 1)
            for j in range(1, n + 1):
                best, bi = neg, j - 1
                for i in range(max(0, j - maxlen), j):
                    s = scores_u.get(w[i:j])
                    if s is None:
                        if j - i != 1:
                            continue
                        s = _UG_UNK_SCORE_U
                    cand = dp[i] + s * _UG_MULT - 1
                    if cand > best:
                        best, bi = cand, i
                dp[j] = best
                back[j] = bi
            j = n
            while j > 0:
                usage[w[back[j]:j]] += f
                j = back[j]
        # M-step + prune: char floor (smoothed to ≥1 so log stays
        # finite) + the top multis by usage
        kept_multi = sorted(
            (p for p in usage if len(p) > 1),
            key=lambda p: (-usage[p], p),
        )[:n_multi]
        counts = {c: max(usage.get(c, 0), 1) for c in chars}
        counts.update({p: usage[p] for p in kept_multi})
        probs = estimate(counts)
    return sorted((p, _half_up_micro(lp)) for p, lp in probs.items())


def _unigram_encode_udf(pieces: list[tuple[str, int]]):
    from pyspark.sql.functions import pandas_udf

    scores = {p: int(s) for p, s in pieces}
    maxlen = max((len(p) for p in scores), default=1)

    @pandas_udf("struct<n_pieces: long, score_sum: long>")
    def encode(texts: pd.Series) -> pd.DataFrame:
        memo: dict[str, tuple] = {}

        def word_stats(w: str) -> tuple:
            got = memo.get(w)
            if got is not None:
                return got
            total = _ug_viterbi(w, scores, maxlen)
            c = (-total) % _UG_MULT
            s = (total + c) // _UG_MULT
            if len(memo) > 65536:
                memo.clear()
            memo[w] = (c, s)
            return (c, s)

        n_out, s_out = [], []
        for t in texts:
            np_, sc = 0, 0
            for w in (t or "").split():
                c, s = word_stats(w)
                np_ += c
                sc += s
            n_out.append(np_)
            s_out.append(sc)
        return pd.DataFrame({"n_pieces": n_out, "score_sum": s_out})

    return encode


def unigram_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pieces: list[tuple[str, int]],
) -> DataFrame:
    """Viterbi-segment the corpus with a learned piece table:
    (doc_id, n_pieces, score_sum) — piece count and integer
    log-prob-micro sum of the best segmentation, summed over the
    doc's words.  One scan, one Arrow pass, no shuffle; the piece
    table rides in the UDF closure (KBs)."""
    from ..functions.text import normalize_text

    enc = _unigram_encode_udf(pieces)
    normed = df.select(
        F.col(id_col).alias("doc_id"), normalize_text(text_col).alias("_t")
    )
    return normed.select(
        "doc_id", enc(F.col("_t")).alias("_e")
    ).select(
        "doc_id",
        F.col("_e.n_pieces").alias("n_pieces"),
        F.col("_e.score_sum").alias("score_sum"),
    )


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply learned merges to the corpus: (id, subword tokens,
    n_subwords).  One scan, one Arrow pass, no shuffle; the merge
    table rides to executors inside the UDF closure (KBs)."""
    enc = _bpe_encode_udf(merges)
    # match word_frequencies' tokenization (normalize → split) by
    # normalizing before the UDF so encode sees the same words
    from ..functions.text import normalize_text

    normed = df.select(
        F.col(id_col).alias("doc_id"), normalize_text(text_col).alias("_t")
    )
    return normed.select(
        "doc_id",
        enc(F.col("_t")).alias("subwords"),
    ).withColumn("n_subwords", F.size("subwords").cast("long"))
