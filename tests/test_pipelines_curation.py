"""Batch pipeline (run_v2/run_v1 equivalents), as-of join edge
cases, and curation operator behavior."""

from __future__ import annotations

import os
import zipfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdelt_extractor_spark.operators import curation as C
from gdelt_extractor_spark.operators.geo import geo_project
from gdelt_extractor_spark.operators.temporal import asof_join
from gdelt_extractor_spark.pipelines.batch import GEOM_KEEP, run_v1_batch, run_v2_batch
from gdelt_extractor_spark.sinks.jdbc import lastrun_df
from gdelt_extractor_spark.sources.gdelt import (
    V2_EVENTS_SCHEMA,
    process_gdelt_events,
    read_gdelt_zip,
)
from gdelt_extractor_spark.sources.tables import load_table
from tests.test_sources_gdelt import _v2_row


def _with_actor1_geo(row: str, lat: str, lon: str) -> str:
    cells = row.split("\t")
    cells[40], cells[41] = lat, lon  # Actor1Geo_Lat, Actor1Geo_Long
    return "\t".join(cells)


@pytest.fixture()
def v2_zip(tmp_path):
    tsv = tmp_path / "20240101083000.export.CSV"
    tsv.write_text(
        "\n".join(
            [
                _with_actor1_geo(_v2_row(1, "http://example.com/a"), "38.9", "-77.03"),
                _with_actor1_geo(_v2_row(2, "http://example.com/a"), "51.5", "-0.12"),
                _with_actor1_geo(_v2_row(3, "http://example.com/b", "19"), "48.85", "2.35"),
                _with_actor1_geo(_v2_row(4, "http://example.com/c"), "95.0", "10.0"),
                _v2_row(5, "http://example.com/d"),
            ]
        )
    )
    z = tmp_path / "20240101083000.export.CSV.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.write(tsv, arcname=tsv.name)
    os.remove(tsv)
    return str(z)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _assert_reads_only(df, table_dir: str) -> None:
    """``df`` scans the written events table alone: no zip scan, no
    unzip stage, every input file under ``table_dir``."""
    plan = df._jdf.queryExecution().toString()  # every plan phase
    assert "binaryfile" not in plan.lower(), plan
    files = df.inputFiles()
    assert files and all(f"{table_dir}/" in f for f in files), files


def test_run_v2_batch(spark, v2_zip, tmp_path):
    out = str(tmp_path / "wh")

    def fake_fetcher(url):
        return {"title": f"t:{url}", "site": "example.com", "summary": "s",
                "keywords": "k1; k2", "meta_keys": "m"}

    tables = run_v2_batch(spark, v2_zip, out, fetcher=fake_fetcher)
    assert set(tables) == {"v2_exports", "v2_articles", "v2_geom", "v2_lastrun"}
    exports = spark.read.parquet(f"{out}/v2_exports")
    assert exports.count() == 4  # URL dedup
    assert "globaleventid" in exports.columns
    # geometry: the keep-first row's coordinates, lat 95 filtered out
    geom = spark.read.parquet(f"{out}/v2_geom")
    want = geo_project(
        process_gdelt_events(read_gdelt_zip(spark, v2_zip)),
        "actor1geo_lat",
        "actor1geo_long",
        *GEOM_KEEP,
    )
    assert geom.schema == want.schema
    assert sorted(geom.collect()) == sorted(want.collect())
    assert sorted(r.globaleventid for r in geom.collect()) == [1, 3]
    arts = {r.doc_id: r.title for r in spark.read.parquet(f"{out}/v2_articles").collect()}
    assert arts[1] == "t:http://example.com/a"
    assert spark.read.parquet(f"{out}/v2_lastrun").count() == 1

    # single pass: the derived tables read the written events table
    _assert_reads_only(tables["v2_geom"], f"{out}/v2_exports")
    assert "MapInPandas" not in _plan(tables["v2_geom"])
    _assert_reads_only(tables["v2_articles"], f"{out}/v2_exports")
    # the fetch itself is the one mapInPandas stage; the unzip is not re-run
    assert _plan(tables["v2_articles"]).count("MapInPandas") == 1
    assert sorted(tables["v2_geom"].collect()) == sorted(want.collect())


def test_lastrun_df_is_local(spark):
    df = lastrun_df(spark)
    assert df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    assert df.schema == T.StructType([T.StructField("runtime", T.DoubleType(), True)])


def test_run_v1_batch(spark, tmp_path):
    # v1 = 58 cols; reuse the v2 row minus the three ADM2 fields
    row = _with_actor1_geo(_v2_row(7, "http://example.com/x"), "38.9", "-77.03").split("\t")
    adm2 = [i for i, f in enumerate(V2_EVENTS_SCHEMA.fields) if f.name.endswith("ADM2Code")]
    for idx in sorted(adm2, reverse=True):
        del row[idx]
    assert len(row) == 58
    tsv = tmp_path / "20240101.export.CSV"
    tsv.write_text("\t".join(row))
    out = str(tmp_path / "wh1")
    tables = run_v1_batch(spark, str(tsv), out)
    assert spark.read.parquet(f"{out}/v1").count() == 1
    assert set(tables) == {"v1", "v1_geom", "v1_lastrun"}
    assert [r.globaleventid for r in spark.read.parquet(f"{out}/v1_geom").collect()] == [7]
    _assert_reads_only(tables["v1_geom"], f"{out}/v1")
    assert "MapInPandas" not in _plan(tables["v1_geom"])


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 100, 10.0), (1, 200, 20.0), (2, 150, 15.0)],
        "id long, ts long, value double",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"), "value")
    right = spark.createDataFrame(
        [(1, 100, 1.0), (1, 150, 2.0), (3, 100, 9.0)],
        "id long, ts long, v double",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"), "v")
    out = {
        (r.id, r.ts.timestamp()): r.asof_v
        for r in asof_join(left, right, on="ts", by="id", value_cols=["v"]).collect()
    }
    assert out[(1, 100.0)] is None          # strict: equal ts invisible
    assert out[(1, 200.0)] == 2.0           # latest earlier right row
    assert out[(2, 150.0)] is None          # no right rows for id=2
    non_strict = {
        (r.id, r.ts.timestamp()): r.asof_v
        for r in asof_join(left, right, on="ts", by="id", value_cols=["v"], strict=False).collect()
    }
    assert non_strict[(1, 100.0)] == 1.0    # <= admits equal ts


def test_sample_split_deterministic_and_balanced(spark, sf_dir_mid):
    docs = load_table(spark, sf_dir_mid, "documents")
    s1 = {r.doc_id: r.split for r in C.sample_split(docs, "doc_id").collect()}
    s2 = {r.doc_id: r.split for r in C.sample_split(docs, "doc_id").collect()}
    assert s1 == s2
    frac = sum(1 for v in s1.values() if v == "train") / len(s1)
    assert 0.8 < frac < 0.97
    # different salt ⇒ different draw
    s3 = {r.doc_id: r.split for r in C.sample_split(docs, "doc_id", salt="v2").collect()}
    assert s3 != s1


def test_decontaminate_self_overlap(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    # benchmark == docs → overlap 100%, nothing kept
    out = C.decontaminate(docs, docs).collect()
    assert all(r.overlap_frac == 1.0 and not r.keep for r in out)
    # disjoint benchmark → overlap may exist only via shared trigrams
    other = spark.createDataFrame(
        [(999, "zzz yyy xxx www vvv uuu")], "doc_id long, text string"
    )
    out2 = C.decontaminate(docs, other).collect()
    assert all(r.n_overlap == 0 and r.keep for r in out2)


def test_decontaminate_strategies_agree(spark, sf_dir, driver_cap):
    """The broadcast-set route (benchmark shingle set within the
    driver-finish cap) and the shuffle-join route (set above it,
    forced here with a cap of 1) must be value- and schema-identical;
    each run's plan shows the route it took."""
    docs = load_table(spark, sf_dir, "documents")
    corpus, bench = docs.filter("doc_id >= 5"), docs.filter("doc_id < 5")

    def run():
        out = C.decontaminate(corpus, bench)
        rows = {
            r.doc_id: (r.n_shingles, r.n_overlap, r.overlap_frac, r.keep)
            for r in out.collect()
        }
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return rows, out.schema, "array_intersect" in plan

    rows, schema, broadcast_set = run()
    assert broadcast_set and rows
    driver_cap(1)
    assert run() == (rows, schema, False)


def test_compact_parquet_crash_recovery(spark, tmp_path):
    """The swap must never leave the dataset only in a temp dir: a
    leftover backup with no live dir (crash mid-swap) is restored; a
    stale backup next to a live dir is discarded; a normal pass
    compacts in place."""
    import os
    from gdelt_extractor_spark.sinks.files import compact_parquet, write_parquet

    path = str(tmp_path / "ds")
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    write_parquet(df.repartition(16), path)
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == 16

    n = compact_parquet(spark, path)
    assert n == 1
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.exists(path + "__precompact")
    assert not os.path.exists(path + "__compacting")

    # crash mid-swap: live dir renamed aside, temp never promoted
    os.rename(path, path + "__precompact")
    compact_parquet(spark, path)  # recovery restores, then compacts
    assert spark.read.parquet(path).count() == 1000

    # stale backup next to a live dir: discarded, live wins
    write_parquet(df.limit(10), path + "__precompact")
    compact_parquet(spark, path)
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.exists(path + "__precompact")

    # object-store path: explicit refusal, not silent corruption
    with pytest.raises(NotImplementedError):
        compact_parquet(spark, "s3://bucket/ds")


def test_remove_boilerplate_lines(spark):
    from gdelt_extractor_spark.operators.curation import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [
            (1, "COOKIE NOTICE\nreal content one\nfooter (c) corp"),
            (2, "COOKIE NOTICE\nreal content two\nfooter (c) corp"),
            (3, "  COOKIE NOTICE  \nunique text"),     # trims match
            (4, "COOKIE NOTICE\nfooter (c) corp"),     # fully boilerplate
            (5, "all original\n\nwith a blank line"),  # untouched; '' kept
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_boilerplate_lines(docs, min_docs=2).collect()}
    assert out[1].clean_text == "real content one"
    assert out[2].clean_text == "real content two"
    assert out[3].clean_text == "unique text"
    assert (out[4].clean_text, out[4].n_lines_kept, out[4].n_lines_removed) == ("", 0, 2)
    assert out[5].clean_text == "all original\n\nwith a blank line"
    assert out[5].n_lines_removed == 0


def test_remove_boilerplate_scales_past_broadcast(spark, sf_dir):
    """The C4 anti join must work when the boilerplate side is too
    large to broadcast: with broadcasting disabled entirely the plan
    falls back to a shuffle anti join on norm_line and produces
    byte-identical results."""
    from gdelt_extractor_spark.operators.curation import remove_boilerplate_lines

    docs = load_table(spark, sf_dir, "documents")
    expected = {
        (r.doc_id, r.clean_text, r.n_lines_kept)
        for r in remove_boilerplate_lines(docs, broadcast_boiler=True).collect()
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        out = remove_boilerplate_lines(docs)  # default: no broadcast hint
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        got = {(r.doc_id, r.clean_text, r.n_lines_kept) for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
    assert got == expected


def test_mix_sources_weights(spark):
    from gdelt_extractor_spark.operators.curation import mix_sources

    rows = [(i, f"doc {i}", ["a", "b", "c"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = mix_sources(df, {"a": 3.0, "b": 0.5, "c": 0.0}).toPandas()
    by = out.groupby("source").size().to_dict()
    # a: exactly 3 copies each (integer weight, no fractional draw)
    assert by["a"] == 300 and set(out[out.source == "a"].copy_id) == {1, 2, 3}
    # b: ~half kept, single copies
    assert 30 <= by["b"] <= 70 and set(out[out.source == "b"].copy_id) == {1}
    # c: dropped entirely
    assert "c" not in by
    # default weight 1.0: untouched stratum
    out2 = mix_sources(df, {"c": 0.0}).toPandas()
    assert len(out2[out2.source == "a"]) == 100


def test_mix_sources_deterministic(spark):
    from gdelt_extractor_spark.operators.curation import mix_sources

    rows = [(i, "x", "s") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    a = sorted(map(tuple, mix_sources(df, {"s": 1.7}).collect()))
    b = sorted(map(tuple, mix_sources(df.repartition(5), {"s": 1.7}).collect()))
    assert a == b
    # expected size ≈ 1.7 × 200
    assert 300 <= len(a) <= 380


def test_chunk_documents_windows(spark):
    """Sliding-window chunking: starts stride apart, full-width
    chunks except a short tail, overlap = chunk - stride tokens, and
    disjoint mode (stride == chunk) reconstructs the document."""
    from gdelt_extractor_spark.operators.packing import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "solo")], "doc_id long, text string")

    out = chunk_documents(df, chunk_tokens=4, stride=3)
    chunks = {
        (r.doc_id, r.chunk_id): r
        for r in out.collect()
    }
    # ceil(10/3) = 4 chunks for doc 1; 1 for the single-token doc
    assert {k for k in chunks} == {(1, 0), (1, 1), (1, 2), (1, 3), (2, 0)}
    assert chunks[(1, 0)].chunk_text == "w0 w1 w2 w3"
    assert chunks[(1, 1)].chunk_text == "w3 w4 w5 w6"  # 1-token overlap
    assert chunks[(1, 3)].chunk_text == "w9"  # short tail
    assert chunks[(1, 3)].n_chunk_tokens == 1
    assert chunks[(2, 0)].chunk_text == "solo"

    # disjoint mode: concatenating chunks in order == the document
    dis = chunk_documents(df, chunk_tokens=3, stride=3)
    rows = sorted(
        (r.chunk_id, r.chunk_text)
        for r in dis.filter("doc_id = 1").collect()
    )
    assert " ".join(t for _, t in rows) == text

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=0, stride=3)


def test_url_filter_normalize_block_dedup(spark):
    """URL curation: scheme/www/query/fragment/trailing-slash
    normalization, blocklist host removal, keep-first URL dedup."""
    from gdelt_extractor_spark.operators.curation import normalize_url, url_filter

    df = spark.createDataFrame(
        [
            (1, "HTTPS://WWW.A.com/x?q=1#f"),
            (2, "http://a.com/x/"),        # same page as 1 post-normalization
            (3, "http://blocked.com/y"),
            (4, "a.com/other"),            # schemeless
            (5, "http://www.b.org"),
        ],
        "doc_id long, url string",
    )
    out = url_filter(df, "url", ["Blocked.com"]).collect()
    by_id = {r.doc_id: r for r in out}
    assert set(by_id) == {1, 4, 5}  # 2 deduped against 1; 3 blocklisted
    assert by_id[1].url_norm == "a.com/x" and by_id[1].host == "a.com"
    assert by_id[4].url_norm == "a.com/other"
    assert by_id[5].url_norm == "b.org" and by_id[5].host == "b.org"

    # hostile/dirty forms: userinfo must not bypass the blocklist,
    # ports must not split the host, and blocklist entries in common
    # list formats (scheme, www, trailing slash) must all match
    dirty = spark.createDataFrame(
        [
            (10, "http://user@blocked.com/y"),    # userinfo bypass attempt
            (11, "http://blocked.com:8080/y"),    # port variant
            (12, "https://www.blocked.com/z/"),   # www + trailing slash
            (13, "http://fine.com/y"),
        ],
        "doc_id long, url string",
    )
    for bl in (["blocked.com"], ["https://Blocked.com/"], ["www.blocked.com"]):
        kept = {r.doc_id for r in url_filter(dirty, "url", bl).collect()}
        assert kept == {13}, (bl, kept)
    # userinfo is normalized away, so u@host/x dedups against host/x
    both = spark.createDataFrame(
        [(20, "http://u@a.com/x"), (21, "http://a.com/x")],
        "doc_id long, url string",
    )
    assert {r.doc_id for r in url_filter(both, "url", []).collect()} == {20}

    # pure-expression check: www only strips at the start of the host
    row = (
        spark.range(1)
        .select(normalize_url(F.lit("http://notwww.com/www.page")).alias("u"))
        .collect()[0]
    )
    assert row.u == "notwww.com/www.page"


def test_approx_quantiles_rank_error(spark, sf_dir):
    """percentile_approx at accuracy 10k must return a value whose
    actual rank sits within ±2% of the requested quantile."""
    import numpy as np

    import __spark_entry__ as entry_mod
    from gdelt_extractor_spark.sources.tables import load_table

    rows = entry_mod.queries()["approx_quantiles"](spark, sf_dir).collect()
    assert rows
    vals = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .toPandas()
        .groupby("event_type")["value"]
    )
    for r in rows:
        v = np.sort(vals.get_group(r.event_type).to_numpy())
        for q, ap in [(0.5, r.ap50), (0.9, r.ap90), (0.99, r.ap99)]:
            rank = np.searchsorted(v, ap, side="right") / len(v)
            assert abs(rank - q) <= 0.02, (r.event_type, q, ap, rank)


def test_dedup_lines_global_first_occurrence(spark):
    """Global line dedup keeps exactly the FIRST (doc_id, pos)
    occurrence of each repeated line — later copies drop wherever
    they appear, including inside the same document."""
    from gdelt_extractor_spark.operators.curation import dedup_lines_global

    df = spark.createDataFrame(
        [
            (1, "alpha\nshared\nalpha"),   # intra-doc repeat of alpha
            (2, "shared\nbeta"),           # shared already seen in doc 1
            (3, "shared"),                 # whole doc is duplicate
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_lines_global(df).collect()}
    assert out[1].clean_text == "alpha\nshared"
    assert out[1].n_lines_kept == 2 and out[1].n_lines_removed == 1
    assert out[2].clean_text == "beta"
    assert out[2].n_lines_removed == 1
    assert out[3].clean_text == "" and out[3].n_lines_kept == 0
    assert len(out) == 3  # corpus row count preserved


def test_chunk_documents_null_text_kept(spark):
    """NULL-text documents must not vanish from the chunk output —
    they behave exactly like empty-string documents (one empty
    chunk), so per-document coverage joins stay total."""
    from gdelt_extractor_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    out = {(r.doc_id, r.chunk_id): r for r in chunk_documents(df).collect()}
    assert set(out) == {(1, 0), (2, 0), (3, 0)}
    assert out[(1, 0)].chunk_text == "" and out[(2, 0)].chunk_text == ""


def test_weighted_sample_proportional_inclusion(spark):
    """A-ES sanity: over many salts, heavy rows are included roughly
    in proportion to weight; selection is deterministic per salt and
    invariant to partitioning; non-positive weights are excluded."""
    from gdelt_extractor_spark.operators.curation import weighted_sample

    rows = [(i, 100.0 if i < 5 else 1.0) for i in range(50)]
    rows += [(97, 0.0), (98, -1.0), (99, None)]
    df = spark.createDataFrame(rows, "id long, w double")

    heavy_hits = light_hits = 0
    for s in range(12):
        picked = {
            r.id for r in weighted_sample(df, "id", "w", k=10, salt=f"s{s}").collect()
        }
        assert len(picked) == 10
        assert not picked & {97, 98, 99}
        heavy_hits += len(picked & set(range(5)))
        light_hits += len(picked - set(range(5)))
    # 5 heavy rows at weight 100 vs 45 light at 1: heavy inclusion
    # must dominate (near-certain per draw), light fills the rest
    assert heavy_hits >= 0.9 * 5 * 12
    assert light_hits > 0

    a = sorted(r.id for r in weighted_sample(df, "id", "w", k=10).collect())
    b = sorted(r.id for r in weighted_sample(df.repartition(7), "id", "w", k=10).collect())
    assert a == b


def test_weighted_sample_per_stratum(spark):
    from gdelt_extractor_spark.operators.curation import weighted_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", 1.0 + i) for i in range(40)],
        "id long, grp string, w double",
    )
    out = weighted_sample(df, "id", "w", k=3, stratum_col="grp").toPandas()
    assert out.groupby("grp").size().to_dict() == {"a": 3, "b": 3}
    assert "sample_key" in out.columns


def test_source_overlap_doc_granularity(spark):
    """Verbatim duplication across sources is counted once per
    distinct content; within-source dups don't pair; whitespace/case
    normalize away; containment uses the smaller side."""
    df = spark.createDataFrame(
        [
            (1, "Shared  Text", "A"),
            (2, "shared text", "B"),      # same normalized content as 1
            (3, "shared text", "B"),      # within-B dup: still 1 fingerprint
            (4, "only in a", "A"),
            (5, "only in b", "B"),
            (6, "other thing", "C"),
        ],
        "doc_id long, text string, source string",
    )
    rows = C.source_overlap(df, "text", "source").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.source_a, r.source_b, r.n_shared) == ("A", "B", 1)
    assert (r.n_a, r.n_b) == (2, 2)
    assert r.containment == 0.5

    with pytest.raises(ValueError, match="granularity"):
        C.source_overlap(df, granularity="paragraph")


def test_source_overlap_shingle_granularity(spark):
    """Shingle mode detects shared content without whole-doc dups."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "A"),
            (2, "a quick brown fox runs away", "B"),  # shares 'quick brown fox'
            (3, "completely different words here", "C"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        (r.source_a, r.source_b): r
        for r in C.source_overlap(df, "text", "source", granularity="shingle").collect()
    }
    assert ("A", "B") in rows and rows[("A", "B")].n_shared == 1
    assert not any("C" in k for k in rows)


def test_source_quality_filter_drops_whole_source(spark):
    """A source full of junk loses ALL its docs — including any
    individually-plausible page — while good sources keep all."""
    from gdelt_extractor_spark.operators.curation import source_quality_filter

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    junk = "@@## %% !! ~~ ^^ || ## @@ %% !!"
    rows = (
        [(i, "good.com", good * 3) for i in range(4)]
        # one clean page on the junk domain still goes
        + [(10, "junk.com", good * 3)]
        + [(11 + i, "junk.com", junk) for i in range(4)]
        + [(20, "tiny.com", good * 3)]  # below min_docs: dropped
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = source_quality_filter(df, min_mean=0.6, min_docs=2).collect()
    srcs = {r.source for r in out}
    assert srcs == {"good.com"}
    assert len(out) == 4


def test_corpus_diff_statuses(spark):
    from gdelt_extractor_spark.operators.curation import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "Gamma  Ray")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (3, "gamma ray"), (4, "delta")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.status for r in
           corpus_diff(old, new, "doc_id", "text").collect()}
    # 3 is 'unchanged': diff hashes NORMALIZED text (case/whitespace)
    assert out == {1: "unchanged", 2: "removed", 3: "unchanged", 4: "added"}

    new2 = spark.createDataFrame([(1, "alpha CHANGED")],
                                 "doc_id long, text string")
    out2 = {r.doc_id: r.status for r in
            corpus_diff(old, new2, "doc_id", "text").collect()}
    assert out2 == {1: "changed", 2: "removed", 3: "removed"}


def test_mixture_weights_temperature_scaling(spark):
    from gdelt_extractor_spark.operators.curation import mixture_weights

    df = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)],
        "doc_id long, source string",
    )
    rows = {r.source: r for r in
            mixture_weights(df, "source", alpha=0.5).collect()}
    assert rows["big"].share == 0.9 and rows["small"].share == 0.1
    # sqrt scaling compresses the ratio 9:1 → 3:1
    assert abs(rows["big"].sample_prob / rows["small"].sample_prob - 3.0) < 1e-3
    assert rows["small"].boost > 1.0 > rows["big"].boost
    probs = sum(r.sample_prob for r in rows.values())
    assert abs(probs - 1.0) < 1e-5


def test_mixture_weights_token_mass(spark):
    from gdelt_extractor_spark.operators.curation import mixture_weights

    df = spark.createDataFrame(
        [(1, "a", 300), (2, "a", 100), (3, "b", 100)],
        "doc_id long, source string, n_tokens long",
    )
    rows = {r.source: r for r in
            mixture_weights(df, "source", alpha=1.0,
                            token_col="n_tokens").collect()}
    assert rows["a"].mass == 400 and rows["b"].mass == 100
    assert rows["a"].share == 0.8
    # alpha=1: sampling follows mass exactly, boost == 1
    assert rows["a"].sample_prob == 0.8 and rows["a"].boost == 1.0


def test_merge_corpus_stats_equals_recompute_and_passthrough(spark):
    from gdelt_extractor_spark.operators.curation import (
        corpus_stats,
        merge_corpus_stats,
    )

    docs = spark.createDataFrame(
        [(i, f"word " * (i + 1), "en", f"s{i % 3}") for i in range(12)],
        "doc_id long, text string, lang string, source string",
    )
    full = {tuple(r[:2]): r[2:] for r in
            corpus_stats(docs).collect()}
    merged_df = merge_corpus_stats(
        corpus_stats(docs.filter("doc_id % 2 = 0")),
        corpus_stats(docs.filter("doc_id % 2 = 1")),
    )
    merged = {tuple(r[:2]): r[2:] for r in merged_df.collect()}
    assert merged == full
    # a stratum present on one side only passes through
    only_hist = merge_corpus_stats(
        corpus_stats(docs.filter("source = 's0'")),
        corpus_stats(docs.filter("source = 's1'")),
    ).collect()
    assert {r.source for r in only_hist} == {"s0", "s1"}


def test_cluster_split_keeps_near_dups_together(spark):
    """Every cluster lands whole in one split; singletons split by
    their own id exactly as sample_split would."""
    from gdelt_extractor_spark.operators.curation import (
        cluster_split,
        sample_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    # clusters: {0,1,2} rep 0; {10,11} rep 10
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (10, 10), (11, 10)],
        "node long, cluster_id long",
    )
    out = {r.doc_id: r.split for r in
           cluster_split(docs, clusters, train_pct=50).collect()}
    assert out[0] == out[1] == out[2]
    assert out[10] == out[11]
    assert {"train", "val"} == set(out.values())  # both splits non-trivial
    # singletons match the plain per-doc hash with the same salt
    plain = {r.doc_id: r.split for r in
             sample_split(docs, "doc_id", train_pct=50,
                          salt="cluster-split-v1").collect()}
    clustered_ids = {0, 1, 2, 10, 11}
    for i in range(200):
        if i not in clustered_ids:
            assert out[i] == plain[i]


def test_corpus_diff_null_text_presence(spark):
    """A NULL-text doc present on both sides must NOT read as
    added/removed — presence comes from the id, not the hash."""
    from gdelt_extractor_spark.operators.curation import corpus_diff

    old = spark.createDataFrame([(1, None), (2, "x")],
                                "doc_id long, text string")
    new = spark.createDataFrame([(1, None), (2, None)],
                                "doc_id long, text string")
    got = {r.doc_id: r.status for r in
           corpus_diff(old, new, "doc_id", "text").collect()}
    assert got == {1: "unchanged", 2: "changed"}


def test_perplexity_band_filter_selection(spark):
    from gdelt_extractor_spark.operators.curation import perplexity_band_filter

    # src A: 5 docs scored 1..5; src B: 3 docs; one NULL-scored doc
    rows = [(i, "A", float(i)) for i in range(1, 6)]
    rows += [(10 + i, "B", float(i)) for i in range(1, 4)]
    rows += [(99, "A", None)]
    df = spark.createDataFrame(rows, "doc_id long, source string, lm_score double")
    out = {r.doc_id: r for r in perplexity_band_filter(
        df, group_col="source", score_col="lm_score", id_col="doc_id").collect()}
    # NULL-scored doc dropped entirely
    assert 99 not in out and len(out) == 8
    # src A percent ranks: 0, .25, .5, .75, 1 → keep docs 2,3,4
    assert [out[i].selected for i in range(1, 6)] == [False, True, True, True, False]
    assert out[3].pct_rank == 0.5
    # src B ranks: 0, .5, 1 → keep only the middle doc
    assert [out[10 + i].selected for i in range(1, 4)] == [False, True, False]


def test_perplexity_band_filter_ties_deterministic(spark):
    from gdelt_extractor_spark.operators.curation import perplexity_band_filter

    # all-equal scores: the (score, id) ORDER BY is a total order, so
    # ranks stay distinct and the band boundary is deterministic by id
    df = spark.createDataFrame(
        [(i, "A", 2.0) for i in range(4)],
        "doc_id long, source string, lm_score double",
    )
    out = {r.doc_id: r for r in perplexity_band_filter(
        df, lo_pct=0.0, hi_pct=0.5, group_col="source",
        score_col="lm_score").collect()}
    assert [out[i].pct_rank for i in range(4)] == [
        0.0, round(1 / 3, 6), round(2 / 3, 6), 1.0]
    assert [out[i].selected for i in range(4)] == [True, True, False, False]


def test_rater_agreement_hand_computed(spark):
    from gdelt_extractor_spark.operators.curation import rater_agreement

    # item 1: unanimous (3×A) → P_i = 1
    # item 2: 2×A 1×B       → P_i = (4+1-3)/(3·2) = 1/3
    # item 3: A,B,C         → P_i = 0
    # item 4: single rater  → P_i NULL, excluded from p_bar
    rows = [(1, r, "A") for r in range(3)]
    rows += [(2, 0, "A"), (2, 1, "A"), (2, 2, "B")]
    rows += [(3, 0, "A"), (3, 1, "B"), (3, 2, "C")]
    rows += [(4, 0, "B")]
    df = spark.createDataFrame(rows, "item_id long, rater_id long, label string")
    out = {r.item: r for r in rater_agreement(df).collect()}
    assert out[1].p_agree == 1.0
    assert out[2].p_agree == round(1 / 3, 6)
    assert out[3].p_agree == 0.0
    assert out[4].p_agree is None
    p_bar = (1.0 + 1 / 3 + 0.0) / 3
    # category mass: A=6, B=3, C=1 of 10 assignments
    p_e = (36 + 9 + 1) / 100
    kappa = (p_bar - p_e) / (1 - p_e)
    for r in out.values():
        assert r.p_bar == round(p_bar, 6)
        assert r.p_e == round(p_e, 6)
        assert r.fleiss_kappa == round(kappa, 6)
    assert (out[1].n_raters, out[1].n_cats) == (3, 1)
    assert (out[3].n_raters, out[3].n_cats) == (3, 3)


def test_rater_agreement_perfect_and_random(spark):
    from gdelt_extractor_spark.operators.curation import rater_agreement

    # all items unanimous over two balanced classes → kappa = 1
    rows = [(i, r, "A" if i % 2 == 0 else "B")
            for i in range(10) for r in range(3)]
    df = spark.createDataFrame(rows, "item_id long, rater_id long, label string")
    out = rater_agreement(df).first()
    assert out.fleiss_kappa == 1.0 and out.p_bar == 1.0


def test_contamination_links_pairs_and_containment(spark):
    from gdelt_extractor_spark.operators.curation import contamination_links

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta"),     # shingles: abc, bcd (2)
         (200, "one two three"),              # 1 shingle
         (300, "nothing shared at all here")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),  # contains both bench-100 shingles
         (2, "xx one two three yy"),             # contains bench-200's shingle
         (3, "totally disjoint text corpus")],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.bench_id): r for r in
           contamination_links(docs, bench).collect()}
    assert set(out) == {(1, 100), (2, 200)}
    assert out[(1, 100)].n_shared == 2
    assert out[(1, 100)].n_bench_shingles == 2
    assert out[(1, 100)].containment == 1.0
    assert out[(2, 200)].containment == 1.0
    # min_shared gate
    assert contamination_links(docs, bench, min_shared=2).count() == 1


def test_contamination_links_distinct_shingles(spark):
    from gdelt_extractor_spark.operators.curation import contamination_links

    # repeated shingle in the doc counts once (distinct semantics)
    bench = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    docs = spark.createDataFrame([(1, "a b c a b c a b c")],
                                 "doc_id long, text string")
    r = contamination_links(docs, bench).first()
    assert r.n_shared == 1 and r.containment == 1.0


def test_c4_line_filter_rules(spark):
    from gdelt_extractor_spark.operators.curation import c4_line_filter

    docs = spark.createDataFrame(
        [
            (1, "This line survives the filter.\nno terminal punct\n"
                "Too short.\nAnother good sentence stays here!\n"
                "Enable javascript to view this page.\nIs this kept?"),
            (2, "lorem ipsum dolor sit amet okay.\nA real line here."),
            (3, "function f() { return 1; }\nValid prose sentence here."),
            (4, "nothing qualifies here"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in c4_line_filter(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # doc 1: terminal-punct + >=3 words + no 'javascript' lines kept,
    # in order ("Too short." has < 3 words; "Is this kept?" passes)
    assert out[1].clean_text == (
        "This line survives the filter.\n"
        "Another good sentence stays here!\nIs this kept?"
    )
    assert out[1].n_lines == 6 and out[1].n_kept == 3
    assert not out[1].doc_dropped
    # page-level kills: lorem ipsum / '{' flag the whole doc but the
    # cleaned text is still reported for audit
    assert out[2].doc_dropped and out[2].n_kept == 2
    assert out[3].doc_dropped and out[3].n_kept == 1
    # nothing kept → dropped; NULL text → 1 empty line, dropped
    assert out[4].doc_dropped and out[4].n_kept == 0
    assert out[5].doc_dropped and out[5].clean_text == ""


class TestBudgetSelect:
    def test_strict_prefix_and_oversized(self, spark):
        from gdelt_extractor_spark.operators.curation import budget_select

        # group g: scores 9,8,7,6 with 4,4,4,4 tokens, budget 10 →
        # top two fit (cum 4,8), third overflows (12) and everything
        # after is dropped with it
        rows = [
            (1, "g", 9.0, "a b c d"),
            (2, "g", 8.0, "a b c d"),
            (3, "g", 7.0, "a b c d"),
            (4, "g", 6.0, "a"),        # would fit alone — prefix rule drops it
            (5, "h", 1.0, " ".join(["x"] * 50)),  # alone over budget
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, quality double, text string")
        out = {r.doc_id: r for r in budget_select(df, token_budget=10).collect()}
        assert [out[i].selected for i in (1, 2, 3, 4)] == [True, True, False, False]
        assert not out[5].selected
        assert out[2].cum_tokens == 8 and out[3].cum_tokens == 12

    def test_partition_invariant(self, spark):
        from gdelt_extractor_spark.operators.curation import budget_select

        rows = [(i, f"s{i % 4}", float((i * 13) % 7), "w " * ((i % 9) + 1))
                for i in range(80)]
        df = spark.createDataFrame(rows, "doc_id long, source string, quality double, text string")
        a = {tuple(r) for r in budget_select(df, token_budget=20).collect()}
        b = {tuple(r) for r in budget_select(df.repartition(11), token_budget=20).collect()}
        assert a == b

    def test_null_text_counts_as_empty(self, spark):
        """ADVICE r8: NULL text must NOT contribute size(NULL) = -1 —
        cum_tokens stays monotone and nothing after the first
        overflow re-enters the prefix."""
        from gdelt_extractor_spark.operators.curation import budget_select

        rows = [
            (1, "g", 9.0, "a b c d"),   # 4 tokens, cum 4
            (2, "g", 8.0, None),        # NULL → 1 token (''), cum 5
            (3, "g", 7.0, "a b c"),     # 3 tokens, cum 8 → overflow
            (4, "g", 6.0, "a"),         # after overflow → dropped
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, quality double, text string"
        )
        out = {r.doc_id: r for r in budget_select(df, token_budget=7).collect()}
        assert out[2].n_tokens == 1 and out[2].cum_tokens == 5
        assert [out[i].selected for i in (1, 2, 3, 4)] == [
            True, True, False, False]
        # monotone cum within the group order
        assert out[1].cum_tokens < out[2].cum_tokens < out[3].cum_tokens


class TestBlocklistFilter:
    def test_word_boundaries_and_counts(self, spark):
        from gdelt_extractor_spark.operators.curation import blocklist_filter

        rows = [
            (1, "a fatal ERROR and another error here"),
            (2, "errors are fine: no word-boundary match"),
            (3, "clean text entirely"),
            (4, "merge Merge MERGE"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in blocklist_filter(df, ["error", "merge"]).collect()}
        assert out[1].n_blocked_hits == 2 and out[1].n_blocked_terms == 1
        assert out[1].first_blocked == "error" and not out[1].keep
        assert out[2].n_blocked_hits == 0 and out[2].keep
        assert out[3].keep and out[3].first_blocked == ""
        assert out[4].n_blocked_hits == 3 and out[4].n_blocked_terms == 1

    def test_null_text_kept(self, spark):
        """ADVICE r8: NULL text → hits=0 / keep=true (like the oracle
        twin), never NULL flags that drop the doc from both sides."""
        from gdelt_extractor_spark.operators.curation import blocklist_filter

        df = spark.createDataFrame(
            [(1, None), (2, "an error here")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in blocklist_filter(df, ["error"]).collect()}
        assert out[1].n_blocked_hits == 0 and out[1].n_blocked_terms == 0
        assert out[1].keep is True and out[1].first_blocked == ""
        assert not out[2].keep

    def test_regex_metachars_escaped(self, spark):
        from gdelt_extractor_spark.operators.curation import blocklist_filter

        df = spark.createDataFrame(
            [(1, "we use c++ daily"), (2, "plain c here")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in blocklist_filter(df, ["c++"]).collect()}
        assert out[1].n_blocked_hits >= 1 and not out[1].keep
        assert out[2].keep


class TestBalanceClasses:
    def test_minority_size_and_determinism(self, spark):
        from gdelt_extractor_spark.operators.curation import balance_classes

        rows = [(i, "big" if i < 50 else ("mid" if i < 70 else "small"))
                for i in range(75)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        out = balance_classes(df, "lang").collect()
        from collections import Counter
        c = Counter(r.lang for r in out)
        assert c == {"big": 5, "mid": 5, "small": 5}  # minority = 5
        assert all(r.class_n in (50, 20, 5) for r in out)
        out2 = balance_classes(df.repartition(7), "lang").collect()
        assert {r.doc_id for r in out} == {r.doc_id for r in out2}

    def test_explicit_per_class(self, spark):
        from gdelt_extractor_spark.operators.curation import balance_classes

        df = spark.createDataFrame(
            [(i, "a" if i % 2 else "b") for i in range(40)],
            "doc_id long, lang string",
        )
        out = balance_classes(df, "lang", per_class=3).collect()
        from collections import Counter
        assert Counter(r.lang for r in out) == {"a": 3, "b": 3}


def test_flow_build_round_trip_budget(spark, sf_dir, round_trips):
    """Building the curation and near-dup flows costs at most 1,200
    driver-JVM round trips (the dedup flow's eager checkpoints and
    driver finish run while it is built).  Built one ``F.*`` call at
    a time, the two cost ~2,700, about 1 s of a 4-core flow."""
    import __spark_entry__ as E

    for _ in range(2):  # the first build pays the session's one-time setup
        with round_trips() as calls:
            E._curation_pipeline(spark, sf_dir)
            E._dedup_pipeline(spark, sf_dir)
    assert len(calls) <= 1200, len(calls)
