"""Enrichment seam tests: the Arrow-batched fetch path and its three
fetcher-injection routes (explicit callable, entry-point env var,
raising stub)."""

from __future__ import annotations

import os

import pytest

from gdelt_extractor_spark.operators import enrich as E


def _docs(spark):
    return spark.createDataFrame(
        [(1, "example.com/a"), (2, "example.com/b")],
        "doc_id long, source string",
    )


def test_explicit_fetcher_injected(spark):
    def fake(url: str) -> dict:
        return {"title": f"t:{url}", "site": "s", "summary": "x",
                "keywords": "k", "meta_keys": "m"}

    out = {r.doc_id: r for r in
           E.enrich_articles_fetch(_docs(spark), fetcher=fake).collect()}
    assert out[1].title == "t:example.com/a"
    assert out[2].site == "s"


def test_entry_point_env_injection(spark, monkeypatch):
    """VERDICT r8 item 8: a real parser drops in via
    SPARK_GRAFT_ARTICLE_FETCHER='module:function' with no code
    change; demo_fetcher is the second deterministic fake resolved
    through the real import path on the executors."""
    monkeypatch.setenv(
        E.ENRICH_FETCHER_ENV,
        "gdelt_extractor_spark.operators.enrich:demo_fetcher",
    )
    out = {r.doc_id: r for r in
           E.enrich_articles_fetch(_docs(spark)).collect()}
    want = E.demo_fetcher("example.com/a")
    assert out[1].title == want["title"]
    assert out[1].keywords == want["keywords"]
    assert out[2].title == E.demo_fetcher("example.com/b")["title"]


def test_stub_failures_yield_null_rows(spark, monkeypatch):
    """Without any injection the stub raises per URL and the
    except-path mirrors the reference: the row survives with NULL
    enrichment columns."""
    monkeypatch.delenv(E.ENRICH_FETCHER_ENV, raising=False)
    out = {r.doc_id: r for r in
           E.enrich_articles_fetch(_docs(spark)).collect()}
    assert set(out) == {1, 2}
    assert out[1].title is None and out[1].keywords is None


def test_bad_spec_raises():
    with pytest.raises(ValueError, match="module:function"):
        E._resolve_fetcher("nocolon")


def test_keyword_freq_splits_on_semicolon_like_the_reference(spark):
    """The reference's ``get_keywords`` splits on ';' and strips, so
    "alpha;beta" and "alpha; gamma" give alpha twice; the ignore list
    drops "state"."""
    from gdelt_extractor_spark.operators.keywords import keyword_freq

    df = spark.createDataFrame(
        [("alpha;beta",), ("alpha; gamma",), ("state; ",), ("",)], "keywords string"
    )
    got = sorted(tuple(r) for r in keyword_freq(df).collect())
    assert got == [("alpha", 2), ("beta", 1), ("gamma", 1)]
