"""Keyword frequency — Spark re-expression of the reference's
``get_keywords`` + Counter wordcloud prep
(reference/extractor/extractor.py:398-406, the_words.py:28-30):
pull the keywords column, split on ';', strip, count frequencies,
drop an ignore-list.

Here the explode+groupBy runs distributed with map-side partial
aggregation; the reference pulls every keyword row to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# The reference's ignore list (the_words.py:11).  The DuckDB oracle
# interpolates it.
KEYWORD_IGNORE = ("state",)


def keyword_freq(enriched: DataFrame, keywords_col: str = "keywords") -> DataFrame:
    """(keyword, freq) from a ';'-separated keywords column.

    Each keyword is split on ';' and stripped, as the reference's
    ``get_keywords`` does, so "a;b" and "a; b" count the same keywords.
    ``KEYWORD_IGNORE`` drops "state" as the_words.py:11 does.  Empty
    strings (docs with no keywords) are dropped as the reference's
    ``if r[0]`` does.
    """
    kw = (
        enriched.select(F.explode(F.split(F.col(keywords_col), ";")).alias("keyword"))
        .withColumn("keyword", F.trim("keyword"))
        .filter((F.col("keyword") != "") & ~F.col("keyword").isin(*KEYWORD_IGNORE))
    )
    return kw.groupBy("keyword").agg(F.count(F.lit(1)).alias("freq"))


def kwic(
    df: "DataFrame",
    term: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
) -> "DataFrame":
    """Keyword-in-context concordance — the audit surface behind
    every "show me how the corpus actually uses this term" review
    (filter-rule debugging, PII-pattern spot checks, contamination
    triage): one row per occurrence of ``term`` with up to
    ``window`` normalized tokens of context on each side.

    Output: (id, pos, left_ctx, right_ctx) with ``pos`` the 0-based
    token position — stable keys for sampling or joining back to the
    source row.

    Plan shape: the shingle discipline (``_span_window_rows``) —
    tokenize once, explode the POSITION sequence, and keep slicing/
    joining in post-explode codegen projections; the match filter on
    ``toks[pos]`` prunes before any context string is built.  No
    shuffle at all: scan → explode → filter → project.  At 100 TB
    the explode is |tokens| rows per doc carrying the array
    reference; for term sets instead of one term, swap the equality
    for ``array_contains`` membership — same plan.
    """
    from ..functions.text import tokens

    base = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_t"))
    rows = base.select(
        "id",
        "_t",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.size("_t") - 1, F.lit(0)))
        ).alias("pos"),
    ).filter(F.get("_t", F.col("pos")) == term)  # 0-based, null-safe under ANSI
    start = F.greatest(F.col("pos") - window, F.lit(0))
    return rows.select(
        "id",
        F.col("pos").cast("long").alias("pos"),
        F.concat_ws(
            " ", F.slice("_t", (start + 1).cast("int"), (F.col("pos") - start).cast("int"))
        ).alias("left_ctx"),
        F.concat_ws(
            " ", F.slice("_t", (F.col("pos") + 2).cast("int"), window)
        ).alias("right_ctx"),
    )
