"""Text column expressions (all JVM-side, whole-stage-codegen'd).

Parity targets in the reference:
- ``text_filter`` — reference/extractor/extractor.py:69-71
  (``re.sub("[^a-zA-Z0-9 \\n]", "", text)``).
- ``url_site`` — reference/extractor/extractor.py:97
  (``urlparse(url).netloc``), re-expressed as a single regex so it
  stays in codegen instead of a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sql import lit

# Matches urlparse().netloc for the http(s) URLs GDELT carries:
# optional scheme, optional userinfo, then host[:port] up to / ? #.
_NETLOC_RE = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*:\/\/)?(?:[^\/@?#]*@)?([^\/?#]+)"


def text_filter(col: Column | str) -> Column:
    """Strip every char outside [a-zA-Z0-9 \\n] (reference scrub)."""
    return F.regexp_replace(col, "[^a-zA-Z0-9 \n]", "")


def url_site(col: Column | str) -> Column:
    """Host (netloc incl. port) of a URL-ish string, '' if none."""
    return F.regexp_extract(col, _NETLOC_RE, 1)


def normalize_text(col: Column | str) -> Column:
    """Canonical form for hashing/dedup: lowercase, collapse runs of
    whitespace to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def normalize_sql(c: str) -> str:
    """``normalize_text`` as SQL over the column expression ``c``."""
    return f"trim(regexp_replace(lower({c}), r'\\s+', ' '))"


def _md5_int(salt: str, n_hex: int, *parts: Column) -> Column:
    """The first ``n_hex`` hex digits of md5(``salt``:parts...) as a
    decimal string column (cast it to long or double) — the repo's
    engine-portable salted hash, which DuckDB replays as
    ``CAST('0x' || substring(md5(...), 1, n_hex) AS BIGINT)``."""
    salted = F.md5(F.concat(F.lit(salt + ":"), *parts))
    return F.conv(F.substring(salted, 1, n_hex), 16, 10)


def _md5_int_sql(salt: str, n_hex: int, *parts: str) -> str:
    """``_md5_int`` as SQL over the column expressions ``parts``."""
    salted = f"md5(concat({lit(salt + ':')}, {', '.join(parts)}))"
    return f"conv(substring({salted}, 1, {n_hex}), 16, 10)"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(col), " ")


def tokens_sql(c: str) -> str:
    """``tokens`` as SQL over the column expression ``c``."""
    return f"split({normalize_sql(c)}, ' ')"


def strip_markup(col: Column | str) -> Column:
    """Web-text cleanup (the C4 pre-filter step): drop <script>/
    <style> blocks WITH their contents, strip remaining tags and
    HTML comments, unescape the five predefined XML entities plus
    numeric &#NN; codes for ASCII, and collapse the whitespace the
    removals leave behind.

    Pure regexp_replace chain — whole-stage codegen, scan speed, and
    each pattern is engine-portable POSIX-ish regex so a DuckDB twin
    applies the identical sequence.  Order matters: blocks before
    tags (a stripped <script> tag would leak its payload as text),
    entities after tags (so &lt;b&gt; does not become a strippable
    tag), amp last (so &amp;lt; ends as the literal '&lt;').
    """
    # two separate block patterns, NOT one with a backreference:
    # RE2 engines (DuckDB) silently drop backrefs, so a \1 pattern
    # would strip blocks in Spark but not in an oracle twin
    out = F.regexp_replace(
        col, r"(?is)<script\b[^>]*>.*?</script\s*>", " "
    )
    out = F.regexp_replace(
        out, r"(?is)<style\b[^>]*>.*?</style\s*>", " "
    )
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?s)</?[a-zA-Z][^>]*>", " ")
    out = F.regexp_replace(out, "&lt;", "<")
    out = F.regexp_replace(out, "&gt;", ">")
    out = F.regexp_replace(out, "&quot;", '"')
    out = F.regexp_replace(out, "&#39;", "'")
    out = F.regexp_replace(out, "&amp;", "&")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def unicode_nfc(col: Column | str) -> Column:
    """Unicode NFC canonical normalization — the composition pass a
    multilingual corpus needs before hashing/dedup (decomposed
    e + U+0301 and precomposed é must collide).

    No JVM builtin exposes NFC through the DataFrame API, so this is
    the one text function that drops to Python — an Arrow-batched
    pandas UDF (vectorized str accessor, never per-row Python), kept
    OUT of the hot scrub path: normalize once on ingest, then every
    downstream hash/compare stays codegen.  Parity twin: DuckDB
    ``nfc_normalize``.
    """
    from pyspark.sql.functions import pandas_udf

    # No type hints: the module's `from __future__ import annotations`
    # stringifies them and pandas_udf can't resolve `pd` from a local
    # import; the explicit returnType + PandasUDFType-free scalar
    # default carries the same contract.
    def _nfc_fn(s):
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )

    _nfc_fn.__annotations__ = {}
    import pandas as pd

    _nfc_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _nfc = pandas_udf(_nfc_fn, "string")

    return _nfc(F.col(col) if isinstance(col, str) else col)


def canonicalize_url(col: Column | str) -> Column:
    """URL canonicalization for dedup/join keys — the normalization
    every web-corpus pipeline applies before grouping by URL
    (reference keys its keep-first dedup on raw SOURCEURL;
    canonicalizing first collapses the tracking-param and
    case/port/slash variants of the same page).

    Spec (mirrored by the DuckDB oracle twin in its own regex
    dialect — Java replacement ``$1`` vs RE2 ``\\1``):
      1. drop the fragment (first ``#`` onward)
      2. lowercase the ``scheme://host[:port]`` prefix
      3. drop default ports ``:80``/``:443`` at the authority end
      4. drop tracking params (utm_*, fbclid, gclid, mc_cid, mc_eid,
         igshid) wherever they sit in the query string
      5. repair separators: a query now starting with ``&`` gets
         ``?``, and a bare trailing ``?``/``&`` is dropped
      6. drop a trailing slash unless it is the ``://`` root

    Pure codegen expression chain — no UDF.  Param ORDER is
    preserved (sorting the query string is intentionally out of
    scope; order-insensitive keys should hash the sorted param list
    separately).
    """
    url = F.col(col) if isinstance(col, str) else col
    # 1. fragment
    u = F.regexp_replace(url, "#.*$", "")
    # 2. lowercase scheme://authority (authority = up to / ? or end)
    prefix = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    rest = F.substring(u, F.length(prefix) + 1, F.lit(1 << 30))
    u = F.when(prefix != "", F.concat(F.lower(prefix), rest)).otherwise(u)
    # 3. default ports at the end of the authority
    u = F.regexp_replace(u, r"^([a-z][a-z0-9+.-]*://[^/?:]*):(?:80|443)(/|\?|$)", r"$1$2")
    # 4. tracking params (value may be empty; stop at & or #)
    u = F.regexp_replace(
        u, r"[?&](?:utm_[a-zA-Z]+|fbclid|gclid|mc_cid|mc_eid|igshid)=[^&]*", ""
    )
    # 5. separator repair: first '&' with no '?' before it becomes '?'
    u = F.regexp_replace(u, r"^([^?&]*)&", r"$1?")
    u = F.regexp_replace(u, r"[?&]$", "")
    # 6. trailing slash (never the '://' root slash)
    u = F.regexp_replace(u, r"([^/])/$", r"$1")
    return u


# Invisible / format characters that survive casual inspection but
# poison tokenizers and dedup keys: zero-width space/joiner/non-joiner,
# word joiner, BOM/ZWNBSP, soft hyphen, directional marks.
_INVISIBLE_CLASS = (
    "[\u200b\u200c\u200d\u2060\ufeff\u00ad\u200e\u200f]"
)


def count_invisible(col: Column | str) -> Column:
    """Occurrences of invisible/format characters — the audit count
    that decides whether a source needs the scrub at all."""
    return F.regexp_count(F.col(col) if isinstance(col, str) else col,
                          F.lit(_INVISIBLE_CLASS))


def strip_invisible(col: Column | str) -> Column:
    """Remove invisible/format characters (zero-width family, BOM,
    soft hyphen, directional marks).  These characters split tokens
    invisibly, defeat exact-hash dedup (two visually identical docs
    hash apart), and smuggle adversarial structure through filters —
    the standard hygiene pass runs BEFORE tokenization and hashing.
    Pure regexp_replace: codegen, scan-speed, engine-portable class.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _INVISIBLE_CLASS, "")


def dehyphenate_wraps(col: Column | str) -> Column:
    """Repair hyphenated line wraps from PDF/OCR extraction:
    ``exam-\\nple`` → ``example`` (hyphen + newline between word
    characters), then unwrap remaining single newlines to spaces
    while PRESERVING blank-line paragraph breaks.  Run before any
    line-based operator — a wrapped corpus otherwise inflates line
    dedup and splits shingles at arbitrary print-width boundaries.
    """
    c = F.col(col) if isinstance(col, str) else col
    joined = F.regexp_replace(c, r"(\w)-\n(\w)", r"$1$2")
    # Unwrap single newlines but keep paragraph breaks — WITHOUT
    # lookarounds (RE2 oracle twins have none): park blank-line runs
    # on a sentinel, flatten the rest, restore.
    s = F.regexp_replace(joined, r"\n[ \t]*\n+", "\u0001")
    s = F.regexp_replace(s, r"\n", " ")
    return F.regexp_replace(s, "\u0001", "\n\n")


def mixed_script_token_count(col: Column | str) -> Column:
    """Tokens mixing Latin and Cyrillic letters — the homoglyph-
    spoofing signal (``pаypаl`` with Cyrillic а) used to flag
    adversarial or machine-mangled text.  Counted on whitespace
    tokens of the RAW text (normalization would not merge scripts).
    """
    c = F.col(col) if isinstance(col, str) else col
    tok = F.split(c, r"\s+")
    mixed = F.filter(
        tok,
        lambda t: t.rlike("[a-zA-Z]") & t.rlike("[Ѐ-ӿ]"),
    )
    return F.size(mixed)


def fix_mojibake(col: Column | str) -> Column:
    """Repair the classic double-encoding mojibake (UTF-8 bytes read
    as Latin-1/CP1252: 'A-tilde + copyright' for 'e-acute',
    'a-circumflex + euro + trademark' for a right quote) -- a
    top-frequency defect in web-crawl corpora (ftfy's core case).

    A string is repaired ONLY when (a) it contains a mojibake marker
    (a UTF-8 lead-byte char \u00c2-\u00c3/\u00e2/\u00d0/\u00d1
    followed by a continuation-range or CP1252-punctuation char --
    clean text virtually never does) and (b) the cp1252/latin-1
    encode -> strict utf-8 decode round trip succeeds; anything else
    passes through unchanged, so correctly-encoded French/Spanish
    text is safe (the strict decode rejects it unless the byte
    sequence really is valid UTF-8).

    Like ``unicode_nfc``, this is inherently a byte-transcoding pass
    with no JVM expression equivalent, so it drops to ONE
    Arrow-batched pandas UDF, applied once on ingest; rows-only
    testing (no DuckDB transcoding surface)."""
    import re as _re

    from pyspark.sql.functions import pandas_udf

    marker = _re.compile(
        "[\u00c2\u00c3\u00e2\u00d0\u00d1]"
        "[\u0080-\u00bf\u0152\u0153\u0160\u0161\u017d\u017e"
        "\u0192\u02c6\u02dc\u2013\u2014\u2018\u2019\u201a"
        "\u201c\u201d\u201e\u2020\u2021\u2022\u2026\u2030"
        "\u2039\u203a\u20ac\u2122]"
    )

    def _fix_one(v):
        if v is None or not marker.search(v):
            return v
        try:
            raw = v.encode("cp1252", "strict")
        except UnicodeEncodeError:
            try:
                raw = v.encode("latin-1", "strict")
            except UnicodeEncodeError:
                return v
        try:
            return raw.decode("utf-8", "strict")
        except UnicodeDecodeError:
            return v

    def _fix_fn(s):
        return s.map(_fix_one)

    import pandas as pd

    _fix_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _fix = pandas_udf(_fix_fn, "string")
    return _fix(F.col(col) if isinstance(col, str) else col)
