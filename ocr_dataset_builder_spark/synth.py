"""Deterministic interleaved text+media span corpus.

The engine's contract input (BASELINE.json:input_hint) is::

    documents(doc_id STRING,
              spans ARRAY<STRUCT<kind:STRING, text:STRING,
                                 media_ref:STRING, offset:INT>>)

The driver's test parquet (`/root/testdata/sf*/documents.parquet`) is a flat
table ``(doc_id BIGINT, text, lang, source, n_chars)``. This module derives
the interleaved span corpus from it **deterministically and
engine-portably**: the exact same arithmetic is expressed once as Spark
DataFrame expressions and once as a DuckDB SQL CTE, so every oracle query
can re-derive the identical corpus inside DuckDB. No RNG, no wall clock.

Derivation spec (all arithmetic on non-negative integers, identical in
both engines):

* ``n_spans = 2 + doc_id % 9``  (2..10 spans per doc)
* ``offset  = 0..n_spans-1``  (1-fps second marks, reference
  video/processing.py:157)
* ``kind = 'media' if (doc_id + offset) % 3 == 0 else 'text'``
* media spans: ``media_ref = printf('frame_%06d.jpg', offset)``
  (naming per reference video/processing.py:158), ``text = NULL``
* text spans: an 80-char chunk of the doc text starting at
  ``1 + ((offset*37 + doc_id*11) % max(n_chars-80, 1))``, dirtied by one
  of 4 deterministic noise modes (leading/trailing whitespace, doubled
  spaces, CRLF + blank lines, whitespace-only) so the OCR cleanup stage
  has real work to do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# DuckDB side: CTEs to prepend as  f"WITH {DUCKDB_SPANS_CTE} SELECT ..."
# ---------------------------------------------------------------------------

DUCKDB_SPANS_CTE = """
_sp0 AS (
  SELECT doc_id AS doc_key, text AS doc_text, n_chars,
         CAST(unnest(range(0, 2 + doc_id % 9)) AS INT) AS off
  FROM documents
),
_sp1 AS (
  SELECT doc_key, off,
         substr(doc_text,
                CAST(1 + ((off*37 + doc_key*11) % greatest(n_chars - 80, 1)) AS INT),
                80) AS chunk,
         (doc_key + off) % 3 = 0 AS is_media,
         (doc_key + 2*off) % 4 AS noise,
         (doc_key + off) % 11 = 0 AS ws_only
  FROM _sp1_src
),
span_rows AS (
  SELECT CAST(doc_key AS VARCHAR) AS doc_id,
         doc_key,
         off AS span_offset,
         CASE WHEN is_media THEN 'media' ELSE 'text' END AS kind,
         CASE WHEN is_media THEN NULL
              WHEN noise = 0 THEN '  ' || chunk || chr(9) || ' '
              WHEN noise = 1 THEN replace(chunk, ' ', '  ')
              WHEN noise = 2 THEN substr(chunk, 1, 40) || chr(13) || chr(10)
                                 || chr(10) || chr(10) || substr(chunk, 41, 40)
              WHEN ws_only THEN '   '
              ELSE chunk END AS text,
         CASE WHEN is_media THEN printf('frame_%06d.jpg', off)
              ELSE NULL END AS media_ref
  FROM _sp1
)
""".replace("_sp1_src", "_sp0").strip()


# Synthetic OCR: a pure function of (doc_id, media_ref) standing in for
# Tesseract (reference tesseract/processing.py:53-99 — pure fn of the frame
# image; our frame "content" is keyed by doc+ref). Two lines so the cleanup
# stage is non-trivial.
def duckdb_ocr_sql(doc_id_expr: str, media_ref_expr: str, off_expr: str) -> str:
    return (
        f"('OCR ' || {doc_id_expr} || '/' || {media_ref_expr} || chr(10) "
        f"|| 'line ' || CAST({off_expr} % 5 AS VARCHAR))"
    )


# ---------------------------------------------------------------------------
# Spark side: identical derivation as DataFrame expressions
# ---------------------------------------------------------------------------


# The flat corpus tables, read with their declared schemas: a read
# without one runs Spark jobs to list and sample the files before it
# returns (one per read, on every call of every corpus query).
# tests/test_synth_parity.py pins both equal to what Spark infers from
# the fixture files, so generator drift fails loudly.
DOCUMENTS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
EMBEDDINGS_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def load_flat_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(f"{sf_dir}/documents.parquet")


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.schema(EMBEDDINGS_SCHEMA).parquet(f"{sf_dir}/embeddings.parquet")


def span_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat span relation: (doc_id, doc_key, span_offset, kind, text, media_ref).

    Mirrors DUCKDB_SPANS_CTE exactly — parity is asserted by
    tests/test_synth_parity.py.
    """
    return derive_span_rows(load_flat_documents(spark, sf_dir))


def derive_span_rows(d: DataFrame) -> DataFrame:
    """Derivation over any flat (doc_id BIGINT, text, n_chars) relation —
    used by bench.py to scale the corpus by deterministic replication."""
    sp0 = d.select(
        F.col("doc_id").alias("doc_key"),
        F.col("text").alias("doc_text"),
        "n_chars",
        F.explode(
            F.sequence(F.lit(0), (F.lit(1) + F.col("doc_id") % 9).cast("int"))
        ).alias("off"),
    )
    sp1 = sp0.select(
        "doc_key",
        "off",
        F.expr(
            "substr(doc_text, cast(1 + ((off*37 + doc_key*11) % greatest(n_chars - 80, 1)) as int), 80)"
        ).alias("chunk"),
        ((F.col("doc_key") + F.col("off")) % 3 == 0).alias("is_media"),
        ((F.col("doc_key") + 2 * F.col("off")) % 4).alias("noise"),
        ((F.col("doc_key") + F.col("off")) % 11 == 0).alias("ws_only"),
    )
    chunk = F.col("chunk")
    text = (
        F.when(F.col("is_media"), F.lit(None).cast("string"))
        .when(F.col("noise") == 0, F.concat(F.lit("  "), chunk, F.lit("\t ")))
        .when(F.col("noise") == 1, F.regexp_replace(chunk, " ", "  "))
        .when(
            F.col("noise") == 2,
            F.concat(
                F.substring(chunk, 1, 40),
                F.lit("\r\n\n\n"),
                F.substring(chunk, 41, 40),
            ),
        )
        .when(F.col("ws_only"), F.lit("   "))
        .otherwise(chunk)
    )
    return sp1.select(
        F.col("doc_key").cast("string").alias("doc_id"),
        "doc_key",
        F.col("off").alias("span_offset"),
        F.when(F.col("is_media"), F.lit("media")).otherwise(F.lit("text")).alias("kind"),
        text.alias("text"),
        F.when(
            F.col("is_media"), F.format_string("frame_%06d.jpg", F.col("off"))
        )
        .otherwise(F.lit(None).cast("string"))
        .alias("media_ref"),
    )


def documents_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contract-shaped nested table per BASELINE.json:input_hint:
    (doc_id STRING, spans ARRAY<STRUCT<kind,text,media_ref,offset:INT>>),
    spans sorted by offset.
    """
    return nest_span_rows(span_rows(spark, sf_dir))


def nest_span_rows(rows: DataFrame) -> DataFrame:
    return rows.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("span_offset").alias("offset"),
                    F.col("kind"),
                    F.col("text"),
                    F.col("media_ref"),
                )
            )
        ).alias("_sorted")
    ).select(
        "doc_id",
        F.transform(
            "_sorted",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )


def explode_spans(nested: DataFrame) -> DataFrame:
    """posexplode the contract-shaped table back to the flat span relation.

    This is the pipeline's first operator (SURVEY.md §2.1 S1 + §2.5 W4
    precursor); `span_pos` is the array position, `span_offset` the
    semantic order key.
    """
    return nested.select(
        "doc_id",
        F.posexplode("spans").alias("span_pos", "span"),
    ).select(
        "doc_id",
        "span_pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("span_offset"),
    )


def synthetic_ocr_col(doc_id: F.Column, media_ref: F.Column, off: F.Column) -> F.Column:
    """Spark mirror of duckdb_ocr_sql — the deterministic OCR stand-in
    (reference tesseract/processing.py:53-99)."""
    return F.concat(
        F.lit("OCR "),
        doc_id,
        F.lit("/"),
        media_ref,
        F.lit("\nline "),
        (off % 5).cast("string"),
    )
