"""Spark <-> DuckDB parity of the deterministic span-corpus derivation.

This is the foundation: every oracle query re-derives the corpus in DuckDB
via DUCKDB_SPANS_CTE, so the two derivations must match byte-for-byte.
"""

from __future__ import annotations

from conftest import assert_same_rows
from ocr_dataset_builder_spark import synth
from ocr_dataset_builder_spark.functions.cleanup import (
    clean_ocr_col,
    clean_ocr_text,
    duckdb_clean_sql,
)


def test_span_rows_parity(spark, duck, sf_dir):
    sdf = synth.span_rows(spark, sf_dir).select(
        "doc_id", "span_offset", "kind", "text", "media_ref"
    )
    rel = duck.sql(
        f"WITH {synth.DUCKDB_SPANS_CTE} "
        "SELECT doc_id, span_offset, kind, text, media_ref FROM span_rows"
    )
    assert_same_rows(sdf, rel)


def test_nested_roundtrip(spark, sf_dir):
    nested = synth.documents_spans(spark, sf_dir)
    flat = synth.explode_spans(nested).select(
        "doc_id", "span_offset", "kind", "text", "media_ref"
    )
    direct = synth.span_rows(spark, sf_dir).select(
        "doc_id", "span_offset", "kind", "text", "media_ref"
    )
    assert sorted(map(tuple, flat.collect())) == sorted(map(tuple, direct.collect()))


def test_cleanup_python_cases():
    # the 7 inline cases from reference tesseract/ocr_utils.py:61-87
    cases = {
        "  multiple   spaces here  ": "multiple spaces here",
        "line1\n\n\n\nline2": "line1\nline2",
        "a\r\nb\rc": "a\nb\nc",
        "   \n  \t \n ": "",
        "": "",
        None: "",
        "one\ttab\tsep": "one tab sep",
        "  lead and trail  \n  second  ": "lead and trail\nsecond",
    }
    for raw, want in cases.items():
        assert clean_ocr_text(raw) == want, raw


def test_cleanup_three_way_parity(spark, duck, sf_dir):
    """python == spark-JVM == duckdb cleanup over the real dirty corpus."""
    sdf = (
        synth.span_rows(spark, sf_dir)
        .where("kind = 'text'")
        .select("doc_id", "span_offset", clean_ocr_col("text").alias("clean"))
    )
    rel = duck.sql(
        f"WITH {synth.DUCKDB_SPANS_CTE} "
        f"SELECT doc_id, span_offset, {duckdb_clean_sql('text')} AS clean "
        "FROM span_rows WHERE kind = 'text'"
    )
    assert_same_rows(sdf, rel)

    # python parity on the same rows
    raw = (
        synth.span_rows(spark, sf_dir)
        .where("kind = 'text'")
        .select("doc_id", "span_offset", "text", clean_ocr_col("text").alias("clean"))
        .collect()
    )
    assert len(raw) > 100
    for r in raw:
        assert clean_ocr_text(r["text"]) == r["clean"], r["text"]


def test_documents_doc_id_unique(spark, sf_dir):
    """Invariant the boilerplate-phrase count shortcuts rely on (see
    queries_html.q_boilerplate_phrases): doc_id is unique in the
    documents table, so count(*) over per-doc-distinct phrases equals
    countDistinct(doc_id)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert d.count() == d.select("doc_id").distinct().count()


def test_declared_schemas_match_inferred(spark, sf_dir):
    """The corpus readers declare their schemas instead of inferring them
    (a read without one runs Spark jobs before it returns). They must
    equal what Spark infers from the fixture files, so a drift in the
    table generator fails here instead of silently re-typing a column."""
    for name, load in (
        ("documents", synth.load_flat_documents),
        ("embeddings", synth.load_embeddings),
    ):
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert load(spark, sf_dir).schema == inferred, name
