"""Bucketed-table co-located join: the join of two tables bucketed
on the join key must plan WITHOUT a shuffle (no Exchange above
either scan) and produce the same rows as the shuffled join."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from gdelt_extractor_spark.sinks.files import write_bucketed
from gdelt_extractor_spark.sources.tables import load_table


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    # spark.sql.warehouse.dir is static: bucketed tables land in the
    # session's default warehouse; DROP TABLE removes the files
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(o, "orders_b", ["o_orderkey"], 8, sort_by=["o_orderkey"])
        write_bucketed(l, "lineitem_b", ["l_orderkey"], 8, sort_by=["l_orderkey"])

        # at test scale the planner would broadcast instead; disable
        # it to surface the big-big (sort-merge) path bucketing is for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        ob = spark.table("orders_b")
        lb = spark.table("lineitem_b")
        joined = lb.join(ob, F.col("l_orderkey") == F.col("o_orderkey"))

        plan = _explain(joined)
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert "Bucketed: true" in plan

        expected = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).count()
        assert joined.count() == expected

        # aggregation keyed on the bucket column also skips the shuffle
        agg = lb.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
        agg_plan = _explain(agg)
        assert "Exchange" not in agg_plan, "bucket-keyed agg must not shuffle"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_mention_stats_on_bucketed_tables_no_shuffle(spark, tmp_path):
    """The 100 TB layout for mentions⋈events: both tables bucketed on
    GLOBALEVENTID makes the whole mention_stats plan shuffle-free —
    the pre-aggregation AND the join consume bucket partitioning.
    (The distinct-source count is rewritten as a bucket-local
    two-level agg here; the operator's countDistinct would add one
    exchange for its expand phase.)"""
    import os

    from gdelt_extractor_spark.sources.gdelt import (
        read_gdelt_mentions,
        read_gdelt_v2,
    )

    fix = os.path.join(os.path.dirname(__file__), "fixtures", "gdelt")
    ev = read_gdelt_v2(spark, f"{fix}/v2_events.tsv").select(
        "GLOBALEVENTID", "EventRootCode"
    )
    me = read_gdelt_mentions(spark, f"{fix}/v2_mentions.tsv").select(
        "GLOBALEVENTID", "MentionSourceName", "Confidence"
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(ev, "events_b", ["GLOBALEVENTID"], 8)
        write_bucketed(me, "mentions_b", ["GLOBALEVENTID"], 8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        evb, meb = spark.table("events_b"), spark.table("mentions_b")
        per_event = (
            meb.groupBy("GLOBALEVENTID", "MentionSourceName")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(F.col("Confidence").cast("long")).alias("_conf"),
            )
            .groupBy("GLOBALEVENTID")
            .agg(
                F.sum("_n").alias("n_mentions"),
                F.count(F.lit(1)).alias("n_sources"),
                F.sum("_conf").alias("sum_conf"),
            )
        )
        joined = evb.join(per_event, "GLOBALEVENTID", "left")
        plan = _explain(joined)
        assert "Exchange" not in plan, plan[:2000]
        assert "Bucketed: true" in plan
        assert joined.count() == ev.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS events_b")
        spark.sql("DROP TABLE IF EXISTS mentions_b")


def test_training_shards_deterministic_layout(spark, tmp_path):
    """Rows land in shard=<k>/ directories matching shard_assignment;
    a re-run reproduces the identical layout; all rows survive."""
    from gdelt_extractor_spark.sinks.files import (
        shard_assignment,
        shard_manifest,
        write_training_shards,
    )
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text "), F.col("id").cast("string")).alias("text"),
    )
    p = str(tmp_path / "shards")
    write_training_shards(df, p, n_shards=8)
    back = spark.read.parquet(p)
    assert back.count() == 200
    # directory shard == recomputed assignment for every row
    mismatch = back.withColumn(
        "_want", shard_assignment("doc_id", 8)
    ).filter(F.col("shard") != F.col("_want"))
    assert mismatch.count() == 0
    layout1 = sorted((r.shard, r.doc_id) for r in back.select("shard", "doc_id").collect())
    write_training_shards(df, p, n_shards=8)  # overwrite re-run
    back2 = spark.read.parquet(p)
    assert sorted((r.shard, r.doc_id) for r in back2.select("shard", "doc_id").collect()) == layout1
    # manifest totals reconcile with the corpus
    m = shard_manifest(df, "doc_id", "text", n_shards=8).collect()
    assert sum(r.n_docs for r in m) == 200
    assert {r.shard for r in m} <= set(range(8))


def _shard_docs(spark, n=120):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text "), F.col("id").cast("string")).alias("text"),
    )


def _parquet_layout(spark, df, path, n_shards):
    """{doc_id: shard} as write_training_shards lays the rows out."""
    from gdelt_extractor_spark.sinks.files import write_training_shards

    write_training_shards(df, path, n_shards=n_shards)
    return {
        r.doc_id: r.shard
        for r in spark.read.parquet(path).select("doc_id", "shard").collect()
    }


def test_shard_manifest_counts_match_written_shards(spark, tmp_path):
    """The manifest a training job reads before consuming shards
    reports, per shard, exactly the rows write_training_shards put
    there."""
    from collections import Counter

    from gdelt_extractor_spark.sinks.files import shard_manifest

    df = _shard_docs(spark)
    layout = _parquet_layout(spark, df, str(tmp_path / "pq"), 8)
    manifest = {
        r.shard: r.n_docs
        for r in shard_manifest(df, "doc_id", "text", n_shards=8).collect()
    }
    assert manifest == dict(Counter(layout.values()))
    assert sum(manifest.values()) == 120


def test_export_formats_share_the_shard_layout(spark, tmp_path):
    """write_jsonl_shards and write_webdataset place every id in the
    same shard as write_training_shards."""
    import gzip
    import json
    import os
    import tarfile

    from gdelt_extractor_spark.sinks.jsonl import write_jsonl_shards
    from gdelt_extractor_spark.sinks.webdataset import write_webdataset

    df = _shard_docs(spark)
    layout = _parquet_layout(spark, df, str(tmp_path / "pq"), 4)

    jl = str(tmp_path / "jsonl")
    write_jsonl_shards(df, jl, n_shards=4)
    wds = str(tmp_path / "wds")
    write_webdataset(df, wds, members={"txt": "text"}, n_shards=4)

    def shard_of(name):  # shard-00003.<ext> -> 3
        return int(name.split(".")[0].removeprefix("shard-"))

    got_jl, got_wds = {}, {}
    for name in os.listdir(jl):
        if name.startswith("shard-"):
            with gzip.open(os.path.join(jl, name), "rt") as fh:
                for line in fh:
                    got_jl[json.loads(line)["doc_id"]] = shard_of(name)
    for name in os.listdir(wds):
        if name.startswith("shard-"):
            with tarfile.open(os.path.join(wds, name)) as tf:
                for member in tf.getnames():
                    got_wds[int(member.split(".")[0])] = shard_of(name)
    assert got_jl == layout
    assert got_wds == layout


def test_format_constants_pinned():
    """Each salted hash space's committed value.  A new value
    re-lays out data already on disk (shards, packed sequences,
    fingerprints, feature-hash and projection spaces, LSH buckets)
    or moves a pinned quantizer fit (the IVF, PQ and k-means sample
    salts), so changing one must take a deliberate edit here."""
    from gdelt_extractor_spark.operators import (
        clustering,
        curation,
        decomposition,
        dedup,
        packing,
        similarity,
        textstats,
    )
    from gdelt_extractor_spark.sinks import files

    assert {
        "SHARD_SALT": files.SHARD_SALT,
        "PACK_SALT": packing.PACK_SALT,
        "MINHASH_SALT": dedup.MINHASH_SALT,
        "WINNOW_SALT": dedup.WINNOW_SALT,
        "SIMHASH_SALT": dedup.SIMHASH_SALT,
        "LANGNB_SALT": textstats.LANGNB_SALT,
        "HASH_EMB_SALT": textstats.HASH_EMB_SALT,
        "DSIR_SALT": curation.DSIR_SALT,
        "NBCLF_SALT": curation.NBCLF_SALT,
        "SRCSIM_SALT": similarity.SRCSIM_SALT,
        "LSH_SEED": similarity.LSH_SEED,
        "RPROJ_SALT": decomposition.RPROJ_SALT,
        "TRIPLETS_SALT": clustering.TRIPLETS_SALT,
        "IVF_FIT_SALT": similarity.IVF_FIT_SALT,
        "PQ_FIT_SALT": similarity.PQ_FIT_SALT,
        "KMEANS_FIT_SALT": clustering.KMEANS_FIT_SALT,
    } == {
        "SHARD_SALT": "shards-v1",
        "PACK_SALT": "pack-v1",
        "MINHASH_SALT": "mhlsh-v1",
        "WINNOW_SALT": "winnow-v1",
        "SIMHASH_SALT": "simhash-v1",
        "LANGNB_SALT": "langnb-v1",
        "HASH_EMB_SALT": "hash-emb-v1",
        "DSIR_SALT": "dsir-v1",
        "NBCLF_SALT": "nbclf-v1",
        "SRCSIM_SALT": "srcsim-v1",
        "LSH_SEED": 42,
        "RPROJ_SALT": "rproj-v1",
        "TRIPLETS_SALT": "triplets-v1",
        "IVF_FIT_SALT": "ivf-fit",
        "PQ_FIT_SALT": "pq-fit",
        "KMEANS_FIT_SALT": "kmeans-fit",
    }


def test_incremental_dedup_against_bucketed_index(spark, sf_dir, tmp_path):
    """The 100 TB shape claimed in dedup_incremental's docstring,
    proven at plan level: with the historical hash index stored as a
    table bucketed on content_hash, the anti join reads the index
    WITHOUT an Exchange above its scan, the day's batch shuffles once
    (straight into the index's 8 buckets, serving both the keep-first
    window and the join) whatever the shuffle-partition setting, and
    the survivors match the unbucketed result."""
    import re

    from gdelt_extractor_spark.operators.dedup import (
        dedup_incremental,
        with_content_hash,
    )

    hist = spark.createDataFrame(
        [(i, f"historic doc number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    seen = with_content_hash(hist, "text").select("content_hash")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        write_bucketed(seen, "seen_idx_b", ["content_hash"], 8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        batch = spark.createDataFrame(
            [(1000, "historic doc number 7"),     # already seen
             (1001, "genuinely new content")],
            "doc_id long, text string",
        )
        # 4 = SPARK_GRAFT_CPUS on a 4-core host, where partitions and
        # buckets used to disagree and the batch shuffled twice
        for parts in ("4", "8", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            out = dedup_incremental(batch, spark.table("seen_idx_b"))
            plan = _explain(out)
            assert "Bucketed: true" in plan
            exchanges = re.findall(r"\(\d+\) Exchange\n.*\n(.*)", plan)
            assert len(exchanges) == 1, (parts, plan[:3000])
            assert "hashpartitioning(content_hash" in exchanges[0]
            assert ", 8)" in exchanges[0], exchanges[0]
            assert [r.doc_id for r in out.collect()] == [1001]
        assert [r.doc_id for r in dedup_incremental(batch, seen).collect()] == [1001]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS seen_idx_b")


class TestExportTable:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "a,b \"q\"", 1.5, "p1"), (2, "plain", 2.5, "p2")],
            "id long, s string, v double, part string",
        )

    def test_roundtrip_all_formats(self, spark, tmp_path):
        from gdelt_extractor_spark.sinks.files import export_table

        df = self._df(spark)
        want = sorted(map(tuple, df.collect()))
        for fmt in ("parquet", "orc", "json", "csv"):
            p = str(tmp_path / fmt)
            export_table(df, p, fmt=fmt)
            back = spark.read.format(fmt)
            if fmt == "csv":
                back = back.option("header", "true").option("escape", '"') \
                    .schema(df.schema)
            elif fmt == "json":
                back = back.schema(df.schema)
            got = sorted(map(tuple, back.load(p).collect()))
            assert got == want, fmt

    def test_partitioned_orc_prunes(self, spark, tmp_path):
        from gdelt_extractor_spark.sinks.files import export_table

        p = str(tmp_path / "part_orc")
        export_table(self._df(spark), p, fmt="orc", partition_by=["part"])
        import os

        assert sorted(
            d for d in os.listdir(p) if d.startswith("part=")
        ) == ["part=p1", "part=p2"]
        got = spark.read.orc(p).filter("part = 'p1'").collect()
        assert len(got) == 1 and got[0].id == 1

    def test_csv_rejects_complex_columns(self, spark, tmp_path):
        import pytest as _pytest

        from gdelt_extractor_spark.sinks.files import export_table

        df = spark.createDataFrame([(1, [1, 2])], "id long, xs array<long>")
        with _pytest.raises(ValueError, match="complex columns"):
            export_table(df, str(tmp_path / "x"), fmt="csv")

    def test_unknown_format_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from gdelt_extractor_spark.sinks.files import export_table

        with _pytest.raises(ValueError, match="fmt must be"):
            export_table(self._df(spark), str(tmp_path / "x"), fmt="avro")
