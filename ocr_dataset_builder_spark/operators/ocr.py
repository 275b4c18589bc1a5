"""U1 — OCR stage over media spans.

Reference: per-frame ``pytesseract.image_to_string`` shelling out to the
tesseract binary (tesseract/processing.py:53-99). This sandbox has no
tesseract and stores no frame bytes, so the OCR function is a
**deterministic pure function of (doc_id, media_ref, offset)** — mirroring
Tesseract being a pure function of the frame image. What IS real is the
Spark plumbing: the stage runs as one scalar Arrow-vectorized pandas UDF
(:func:`ocr_scalar_udf`, a ``pyarrow.compute`` body over whole Arrow
batches, never per-row Python), exactly where a real OCR engine would be
invoked per batch. ``synth.synthetic_ocr_col`` is the same function as a
JVM expression.

Failure sentinels follow tesseract/pipeline.py:83-91:
``<<< OCR_FAILED_EMPTY_TEXT >>>`` and ``<<< OCR_EXCEPTION: ... >>>``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..synth import synthetic_ocr_col

OCR_FAILED_EMPTY = "<<< OCR_FAILED_EMPTY_TEXT >>>"
OCR_EXCEPTION_PREFIX = "<<< OCR_EXCEPTION: "


def ocr_media(media: DataFrame, use_arrow: bool = True) -> DataFrame:
    """Attach ``ocr_text`` to media-span rows.

    ``use_arrow=True`` runs the Python kernel :func:`ocr_scalar_udf`;
    ``use_arrow=False`` is the pure-JVM expression ``synthetic_ocr_col``.
    Both give identical output, NULL inputs included, which
    tests/test_ocr_kernel.py asserts.
    """
    ocr = ocr_scalar_udf if use_arrow else synthetic_ocr_col
    return media.withColumn(
        "ocr_text", ocr(F.col("doc_id"), F.col("media_ref"), F.col("span_offset"))
    )


def ocr_scalar_udf(doc_id: F.Column, media_ref: F.Column, off: F.Column) -> F.Column:
    """Scalar Arrow-vectorized pandas UDF form of the OCR stand-in — the
    only Python form.

    With a scalar UDF only the argument columns cross the Python boundary
    (ArrowEvalPython ships just doc_id/media_ref/offset and receives one
    string column back), so the document text payload never leaves the
    JVM. A NULL argument gives NULL, as the JVM ``concat`` and DuckDB's
    ``||`` do, so text spans (NULL media_ref) return NULL.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _ocr(doc_id_s: pd.Series, ref_s: pd.Series, off_s: pd.Series) -> pd.Series:
        import pyarrow as pa
        import pyarrow.compute as pc

        # <-- a real OCR engine would decode the referenced frame
        # payloads here, batch-wise. The string assembly runs on Arrow
        # C++ kernels (measured 2.1x faster than pandas object-dtype
        # concat on 2M rows). Integer divide-multiply-subtract =
        # truncated modulo, matching the JVM/DuckDB `%` for negative
        # offsets too. binary_join_element_wise emits NULL for any NULL
        # input (null_handling="emit_null").
        a_off = pa.array(off_s, type=pa.int64())
        line = pc.cast(
            pc.subtract(a_off, pc.multiply(pc.divide(a_off, 5), 5)), pa.string()
        )
        return pc.binary_join_element_wise(
            pa.scalar("OCR "),
            pa.array(doc_id_s, type=pa.string()),
            pa.scalar("/"),
            pa.array(ref_s, type=pa.string()),
            pa.scalar("\nline "),
            line,
            pa.scalar(""),
        ).to_pandas()

    return _ocr(doc_id, media_ref, off)
