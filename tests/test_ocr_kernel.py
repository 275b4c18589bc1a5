"""The Python OCR kernel equals the JVM expression, NULL inputs included.

``ocr_media(m, True)`` runs the scalar Arrow UDF and ``ocr_media(m,
False)`` the JVM ``concat``. Each relation is one partition, so all its
rows land in one Arrow batch: a NULL offset next to non-NULL ones must
not change how the others render, a NULL argument must give NULL (as the
JVM ``concat`` and DuckDB's ``||`` do) rather than the text "None" or
"nan", and a batch whose media_ref is NULL throughout (an all-None
column in Python) must not fail on Arrow's null type.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ocr_dataset_builder_spark.operators.ocr import ocr_media

SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("span_offset", IntegerType()),
    ]
)

MIXED = {
    ("d1", "frame_000003.jpg", 3): "OCR d1/frame_000003.jpg\nline 3",
    ("d2", None, 4): None,
    ("d3", "frame_000007.jpg", None): None,
    ("d4", "frame_000008.jpg", -7): "OCR d4/frame_000008.jpg\nline -2",
    (None, "frame_000009.jpg", 9): None,
    ("d5", "frame_000012.jpg", 12): "OCR d5/frame_000012.jpg\nline 2",
}

ALL_NULL_REFS = {
    ("d1", None, 1): None,
    ("d2", None, 2): None,
    (None, None, None): None,
}


@pytest.mark.parametrize("want", [MIXED, ALL_NULL_REFS], ids=["mixed", "all_null_refs"])
def test_python_kernel_equals_jvm_expression(spark, want):
    m = spark.createDataFrame(list(want), SCHEMA).coalesce(1)
    py = ocr_media(m, use_arrow=True)
    jvm = ocr_media(m, use_arrow=False)
    assert py.exceptAll(jvm).count() == 0
    assert jvm.exceptAll(py).count() == 0
    got = {(r["doc_id"], r["media_ref"], r["span_offset"]): r["ocr_text"] for r in py.collect()}
    assert got == want
