"""Seeded input generator for the end-to-end benchmark.

Every input is a pure function of ``(workload, seed)``; the program
under test only ever sees the files written here.  Each generator also
returns the counts its outputs must have, known by construction:

- GDELT v2 export drops (``gdelt_v2_load``): zipped 61-column TSVs
  shaped like ``tests/fixtures/gdelt/v2_events.tsv``, one zip per
  15-minute drop, with a known share of rows that repeat an earlier
  SOURCEURL and a known share with empty Actor1 coordinates.
- Document corpora (``dedup_high``, ``curate_low``): a Zipf-vocabulary
  corpus with planted near-duplicate clusters (each copy mutates a few
  tokens of its cluster head), planted exact duplicates (case and
  whitespace variants), short documents that fail the Gopher word-count
  rule and PII tokens for the redaction stage.  Written as a sharded
  ``documents.parquet`` directory, the way real drops arrive.
- JSONL drops (``ingest_stream``): the same corpus shape, cut into
  fixed-size drops by id.  Every near-duplicate follows its head in
  both drop order and id order, so the surviving set does not depend
  on how the stream groups files into micro-batches.
"""

from __future__ import annotations

import hashlib
import os
import re
import zipfile
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

STOPWORDS = ("the", "of", "and", "a", "to", "in", "is", "it", "that", "this", "for", "on", "with")
# operators.textstats.EN_STOPWORDS: the Gopher rule counts these
GOPHER_STOPWORDS = frozenset(("the", "a", "of", "and", "is", "to", "in", "it", "that", "this", "for", "on", "with"))
VOCAB_SIZE = 30_000
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_ALPHA = re.compile("[a-z]")


def _vocab(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """Unique lowercase words, stopwords first, with Zipf(1) weights."""
    lens = rng.integers(3, 10, size=VOCAB_SIZE * 2)
    chars = LETTERS[rng.integers(0, 26, size=(VOCAB_SIZE * 2, 9))]
    words = ["".join(row[:n]) for row, n in zip(chars, lens)]
    seen = set(STOPWORDS)
    vocab = list(STOPWORDS)
    for w in words:
        if w not in seen:
            seen.add(w)
            vocab.append(w)
        if len(vocab) == VOCAB_SIZE:
            break
    weights = 1.0 / (np.arange(VOCAB_SIZE) + 3.0)
    cdf = np.cumsum(weights / weights.sum())
    return np.array(vocab, dtype=object), cdf


def _draw(rng: np.random.Generator, cdf: np.ndarray, n: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(n)), len(cdf) - 1)


# ------------------------------------------------------------------ corpus


@dataclass
class Corpus:
    docs: pd.DataFrame  # doc_id, text, lang, source, n_chars
    expected: dict = field(default_factory=dict)


def _shingles(text: str) -> set:
    t = text.lower().split()
    return set(zip(t, t[1:], t[2:]))


def _gopher_keep(text: str) -> bool:
    """The Gopher hard rules of ``operators.textstats.gopher_rules``
    on the generator's own alphabet (no ``#`` or ``...`` symbols)."""
    toks = text.lower().split()
    n = len(toks)
    if not 30 <= n <= 100_000:
        return False
    mean_len = sum(map(len, toks)) / n
    alpha = sum(map(bool, map(_ALPHA.search, toks))) / n
    return 2.0 <= mean_len <= 12.0 and alpha >= 0.8 and len(GOPHER_STOPWORDS.intersection(toks)) >= 2


def _train(doc_id: int) -> bool:
    """``operators.curation.sample_split`` bucket < 90."""
    return int(hashlib.md5(f"split-v1:{doc_id}".encode()).hexdigest()[:4], 16) % 100 < 90


def make_corpus(
    seed: int,
    n_docs: int,
    cluster_share: float,
    cluster_size: int,
    exact_share: float = 0.0,
    short_share: float = 0.0,
    pii_share: float = 0.0,
    count_pairs: bool = True,
) -> Corpus:
    """A corpus of ``n_docs`` documents.  ``cluster_share`` of them
    are near-duplicate copies planted in clusters of ``cluster_size``
    (head included); ``exact_share`` are case/whitespace variants of a
    head.  Ids follow a random order in which every copy comes after
    its head, so each cluster's minimum id is its head."""
    rng = np.random.default_rng(seed)
    vocab, cdf = _vocab(rng)
    n_copies = int(n_docs * cluster_share)
    n_clusters = max(1, n_copies // (cluster_size - 1))
    n_exact = int(n_docs * exact_share)
    n_orig = n_docs - n_copies - n_exact
    n_short = int(n_orig * short_share)

    lengths = rng.integers(60, 121, size=n_orig)
    lengths[n_clusters + n_exact : n_clusters + n_exact + n_short] = rng.integers(
        10, 25, size=n_short
    )
    flat = _draw(rng, cdf, int(lengths.sum()))
    offs = np.concatenate([[0], np.cumsum(lengths)])
    orig_toks = [vocab[flat[offs[i] : offs[i + 1]]] for i in range(n_orig)]
    # PII rides on originals that head no cluster (so copies never
    # carry a second tag); one email or phone token each
    n_pii = int(n_orig * pii_share)
    pii_idx = rng.choice(np.arange(n_clusters + n_exact, n_orig), size=n_pii, replace=False)
    for j, i in enumerate(pii_idx):
        toks = orig_toks[i].copy()
        pos = int(rng.integers(0, len(toks)))
        toks[pos] = f"user{j}@mail{j % 7}.example.org" if j % 2 else f"555-{j % 1000:03d}-{j % 10000:04d}"
        orig_toks[i] = toks

    texts = [" ".join(t) for t in orig_toks]
    head = np.arange(n_orig)  # cluster head of each doc (itself for originals)
    # near-dup copies: heads 0..n_clusters-1, each copy swaps 1-2 tokens
    copy_heads = np.arange(n_copies) % n_clusters
    for h in copy_heads:
        toks = orig_toks[h].copy()
        for pos in rng.choice(len(toks), size=int(rng.integers(1, 3)), replace=False):
            toks[pos] = vocab[int(rng.integers(100, VOCAB_SIZE))]
        texts.append(" ".join(toks))
    # exact copies: heads n_clusters..n_clusters+n_exact-1 (one each)
    # with a capitalized first token and a doubled space
    exact_heads = np.arange(n_clusters, n_clusters + n_exact)
    for h in exact_heads:
        t = list(orig_toks[h])
        t[0] = t[0].capitalize()
        texts.append(" ".join(t[:2]) + "  " + " ".join(t[2:]))
    head = np.concatenate([head, copy_heads, exact_heads])

    # id order: random keys, every copy keyed after its head
    key = rng.random(n_docs)
    key[n_orig:] = key[head[n_orig:]] + (1.0 - key[head[n_orig:]]) * rng.uniform(
        1e-9, 1.0, size=n_docs - n_orig
    )
    order = np.argsort(key, kind="stable")
    doc_id = np.empty(n_docs, dtype=np.int64)
    doc_id[order] = np.arange(n_docs, dtype=np.int64)

    docs = pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": "en",
            "source": [f"src{i % 20}" for i in range(n_docs)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    docs["head_id"] = doc_id[head]
    docs = docs.sort_values("doc_id", ignore_index=True)

    dup = docs["doc_id"] != docs["head_id"]
    survivors = docs.loc[~dup, "doc_id"]
    expected = {
        "docs": n_docs,
        "dedup_survivors": int(len(survivors)),
        "dedup_survivor_id_sum": int(survivors.sum()),
        "near_dup_clusters": int(n_clusters),
    }
    if count_pairs:
        expected["verified_pairs"] = _cluster_pairs(docs)
    keep = docs["text"].map(_gopher_keep)
    norm = docs["text"].str.lower().str.split().str.join(" ")
    kept = docs.loc[keep].assign(norm=norm[keep]).drop_duplicates("norm")
    expected["curated"] = int(len(kept))
    expected["curated_train"] = int(kept["doc_id"].map(_train).sum())
    return Corpus(docs, expected)


def _cluster_pairs(docs: pd.DataFrame) -> int:
    """Pairs inside planted clusters whose 3-shingle Jaccard rounds to
    >= 0.6 (``dedup_ngram_jaccard``'s threshold).  Documents in
    different clusters share no planted text, so these are all the
    verified pairs.  Per cluster: a member x shingle incidence matrix,
    intersections by one matrix product."""
    n = 0
    for _, g in docs.groupby("head_id"):
        if len(g) < 2:
            continue
        sets = [_shingles(t) for t in g["text"]]
        col: dict = {}
        rows = [[col.setdefault(s, len(col)) for s in st] for st in sets]
        m = np.zeros((len(sets), len(col)), dtype=np.float32)
        for i, r in enumerate(rows):
            m[i, r] = 1.0
        inter = (m @ m.T).astype(np.float64)
        size = np.diag(inter)
        jac = np.round(inter / (size[:, None] + size[None, :] - inter), 6)
        n += int(np.triu(jac >= 0.6, k=1).sum())
    return n


def write_corpus(corpus: Corpus, sf_dir: str, n_files: int) -> None:
    """``<sf_dir>/documents.parquet`` as a directory of ``n_files``
    id-range shards, the layout ``sources.tables.load_table`` reads."""
    out = os.path.join(sf_dir, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for i, rows in enumerate(np.array_split(np.arange(len(corpus.docs)), n_files)):
        corpus.docs[cols].iloc[rows].to_parquet(os.path.join(out, f"part-{i:05d}.parquet"), index=False)


def stream_drops(corpus: Corpus, drop_docs: int) -> list[bytes]:
    """The corpus cut into JSONL drops of ``drop_docs`` documents in
    id order (doc_id, text, source)."""
    d = corpus.docs[["doc_id", "text", "source"]]
    return [
        d.iloc[i : i + drop_docs].to_json(orient="records", lines=True).encode()
        for i in range(0, len(d), drop_docs)
    ]


# ------------------------------------------------------------------ GDELT

ACTOR_FIELDS = ("Code", "Name", "CountryCode", "KnownGroupCode", "EthnicCode",
                "Religion1Code", "Religion2Code", "Type1Code", "Type2Code", "Type3Code")
COUNTRIES = np.array(["USA", "CHN", "RUS", "FRA", "GBR", "DEU", "IND", "BRA"])
TYPES = np.array(["GOV", "MIL", "BUS", "CVL", "EDU", "MED"])


def _pick(rng: np.random.Generator, pool: list[str], n: int) -> np.ndarray:
    return np.asarray(pool, dtype=object)[rng.integers(0, len(pool), n)]


def _gdelt_columns(rng: np.random.Generator, ids: np.ndarray, urls: list[str],
                   empty_geo: np.ndarray, added: np.ndarray) -> list[np.ndarray]:
    """The 61 v2 export columns, in ``sources.gdelt.V2_EVENTS_SCHEMA``
    order, as string arrays drawn from small pre-formatted pools."""
    n = len(ids)
    ints = [str(i) for i in range(5000)]
    num = lambda lo, hi, fmt: [fmt % x for x in rng.uniform(lo, hi, 4096)]  # noqa: E731
    cols = [ids.astype(str).astype(object), np.full(n, "20240210", dtype=object),
            np.full(n, "202402", dtype=object), np.full(n, "2024", dtype=object),
            _pick(rng, num(2024.11, 2024.12, "%.4f"), n)]
    for _actor in ("Actor1", "Actor2"):
        for f in ACTOR_FIELDS:
            if f == "Name":
                cols.append(_pick(rng, [f"ACTOR {i}" for i in ints], n))
            elif f == "CountryCode":
                cols.append(_pick(rng, list(COUNTRIES), n))
            elif f in ("Code", "Type1Code"):
                cols.append(_pick(rng, list(TYPES), n))
            else:
                cols.append(_pick(rng, [f"{f[:2].upper()}{i}" for i in range(5)], n))
    codes = [f"{r:02d}{k}" for r in range(1, 21) for k in range(10)]
    cols += [_pick(rng, ints[:2], n), _pick(rng, codes, n),
             _pick(rng, [c[:3] for c in codes], n), _pick(rng, [c[:2] for c in codes], n),
             _pick(rng, ints[1:5], n), _pick(rng, num(-10, 10, "%.1f"), n)]
    cols += [_pick(rng, ints[1:50], n) for _ in range(3)]
    cols.append(_pick(rng, num(-10, 10, "%.2f"), n))
    for geo in ("Actor1Geo", "Actor2Geo", "ActionGeo"):
        lat = _pick(rng, num(-89.9, 89.9, "%.4f"), n)
        lon = _pick(rng, num(-179.9, 179.9, "%.4f"), n)
        if geo == "Actor1Geo":
            lat[empty_geo] = ""
            lon[empty_geo] = ""
        cols += [_pick(rng, ints[1:5], n), _pick(rng, [f"City {i}" for i in range(900)], n),
                 _pick(rng, list(COUNTRIES), n), _pick(rng, [f"AD{i}" for i in range(50)], n),
                 _pick(rng, [f"ADM2{i}" for i in range(50)], n), lat, lon,
                 _pick(rng, [f"F{i}" for i in range(4096)], n)]
    cols += [added.astype(str).astype(object), np.asarray(urls, dtype=object)]
    assert len(cols) == 61
    return cols


def make_gdelt(seed: int, out_dir: str, n_zips: int, rows_per_zip: int,
               dup_share: float, empty_geo_share: float) -> dict:
    """``n_zips`` zipped export drops (one day of 15-minute drops,
    ``<stamp>.export.CSV.zip``) under ``out_dir``.  ``dup_share`` of
    the rows repeat the SOURCEURL of an earlier row; Actor1
    coordinates are empty on ``empty_geo_share`` of the rows."""
    rng = np.random.default_rng(seed)
    n = n_zips * rows_per_zip
    ids = 1_000_000 + np.arange(n, dtype=np.int64)
    url_ix = np.arange(n)
    dups = rng.random(n) < dup_share
    dups[0] = False
    # a repeated row points at a uniformly chosen earlier row's URL
    url_ix[dups] = (rng.random(dups.sum()) * np.flatnonzero(dups)).astype(np.int64)
    while True:  # resolve chains so every row points at an original
        nxt = url_ix[url_ix]
        if np.array_equal(nxt, url_ix):
            break
        url_ix = nxt
    urls = [f"https://site{i % 97}.example.com/articles/{i}" for i in url_ix]
    empty_geo = rng.random(n) < empty_geo_share
    slot = np.arange(n) // rows_per_zip
    stamps = np.array([20240210000000 + (s // 4) * 10000 + (s % 4) * 1500 for s in range(n_zips)])
    cols = _gdelt_columns(rng, ids, urls, empty_geo, stamps[slot])
    lines = list(map("\t".join, zip(*cols)))

    os.makedirs(out_dir, exist_ok=True)
    for s in range(n_zips):
        tsv = "\n".join(lines[s * rows_per_zip : (s + 1) * rows_per_zip]) + "\n"
        name = f"{stamps[s]}.export.CSV"
        with zipfile.ZipFile(os.path.join(out_dir, name + ".zip"), "w",
                             zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
            zf.writestr(name, tsv)

    # keep-first on SOURCEURL keeps each URL's original (lowest id) row
    kept = url_ix == np.arange(n)
    return {
        "rows": int(n),
        "unique_urls": int(kept.sum()),
        "geom_rows": int((kept & ~empty_geo).sum()),
    }
