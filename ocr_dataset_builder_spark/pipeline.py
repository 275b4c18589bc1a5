"""End-to-end extraction pipeline (SURVEY.md §7.1 minimum slice, grown).

documents (nested, contract shape)
  -> posexplode (S1)
  -> route: media spans -> OCR stage (U1, Arrow-batched) -> cleanup (T1)
            text  spans -> cleanup (T1)
  -> W4 sequencing
  -> W6 ordered span reassembly
  -> parquet/Iceberg sink + lineage commit, anti-join resume (J5).

Every stage is declarative DataFrame API; the only Python boundary is the
vectorized OCR batch function, placed AFTER the cheap relational filters so
Catalyst never has to push predicates through an opaque UDF (SURVEY.md §4
note 1).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.cleanup import clean_ocr_col
from .lineage import (
    commit_run,
    pending_docs,
    read_checkpoint,
    read_committed,
    run_committed,
)
from .operators.ocr import ocr_scalar_udf
from .synth import synthetic_ocr_col


def extract_spans(nested: DataFrame, use_arrow_ocr: bool = True) -> DataFrame:
    """Flagship transformation: ordered, cleaned span rows per document.

    Output: (doc_id, ord, kind, text, media_ref, span_offset) where text is
    the cleaned OCR text for media spans and the cleaned raw text for text
    spans. `ord` is the 0-based position in the document's span sequence —
    the invariant key (kind, text, media_ref, order).

    ``use_arrow_ocr=False`` computes the OCR text with the JVM expression
    ``synthetic_ocr_col`` instead of the Python UDF — the reference the
    span-sequence test and the benchmark's Python-crossing probe use.
    """
    # Document order is INTRA-ROW in the contract shape (spans live in one
    # array per doc), so ordering is embarrassingly parallel: sort each
    # row's array by (offset, kind, ...) with array_sort — a per-row JVM
    # kernel — and posexplode's position IS the ordinal. The whole
    # flagship plan contains ZERO exchanges (the earlier window variant
    # needed one shuffle; verified via explain and pinned by
    # tests/test_plan_quality.py).
    def fields(s):
        return F.struct(
            s["offset"].alias("offset"),
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        )

    sorted_spans = F.array_sort(F.transform("spans", fields))
    seq = nested.select(
        "doc_id", F.posexplode(sorted_spans).alias("ord", "span")
    ).select(
        "doc_id",
        F.col("ord").cast("int").alias("ord"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("span_offset"),
    )

    # The OCR stand-in runs as a SCALAR Arrow-vectorized pandas UDF: only
    # the UDF's argument columns (doc_id, media_ref, offset — all narrow)
    # cross the Python boundary; the text payload never leaves the JVM.
    # Measured against the alternatives on 18M spans: beats the
    # media/text-split + mapInArrow union at both 4 and 16 cores AND does
    # a single scan instead of two (the split needed a second pass over
    # the source). The identity Python crossing is this environment's
    # non-scaling resource, so bytes-through-Python is what we minimize.
    ocr = (ocr_scalar_udf if use_arrow_ocr else synthetic_ocr_col)(
        F.col("doc_id"), F.col("media_ref"), F.col("span_offset")
    )
    return seq.select(
        "doc_id",
        "ord",
        "kind",
        clean_ocr_col(
            F.when(F.col("kind") == "media", ocr).otherwise(F.col("text"))
        ).alias("text"),
        "media_ref",
        "span_offset",
    )


def doc_metrics(extracted: DataFrame) -> DataFrame:
    """Per-doc lineage metrics: frames processed, OCR chars, dedup ratio
    (here: fraction of spans whose text equals the previous span's text —
    the same lag-compare the F:i encoder uses)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("ord")
    with_dup = extracted.withColumn(
        "_is_dup", (F.col("text") == F.lag("text").over(w)).cast("int")
    )
    return with_dup.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kind") == "media", 1).otherwise(0)).alias(
            "frames_processed"
        ),
        F.sum(F.length("text")).alias("ocr_chars"),
        (F.sum(F.coalesce(F.col("_is_dup"), F.lit(0))) / F.count("*")).alias(
            "dedup_ratio"
        ),
    )


def run_path(output_dir: str, run_id: str) -> str:
    return os.path.join(output_dir, "extracted", f"run_id={run_id}")


def next_run_id(spark: SparkSession, output_dir: str, prefix: str = "run") -> str:
    """The first ``<prefix><i>`` not yet committed in the checkpoint —
    the deterministic fresh id the submit CLI's ``--run-id auto`` uses.
    A crash before commit re-derives the SAME id (it never reached the
    checkpoint), so the retry overwrites its own orphan staging dir; a
    committed run bumps the counter. The distinct-run_id set is one row
    per run — a driver-side collect of a tiny relation."""
    committed = {
        r["run_id"]
        for r in read_checkpoint(spark, output_dir).select("run_id").distinct().collect()
    }
    i = 0
    while f"{prefix}{i}" in committed:
        i += 1
    return f"{prefix}{i}"


def run_extraction(
    spark: SparkSession,
    nested: DataFrame,
    output_dir: str,
    run_id: str = "run0",
) -> int:
    """Resumable batch run: anti-join completed docs, extract, stage the
    run's output under its own ``run_id=`` partition directory, commit the
    checkpoint last. Returns number of docs processed this run.

    Failure semantics (at-least-once with idempotent commit): the data
    write targets ONLY this run's directory with mode=overwrite, so a
    retry of the same *uncommitted* run_id replaces rather than
    duplicates; a crash between data write and checkpoint commit leaves
    an orphan run dir that :func:`read_extracted` filters out (only
    committed run_ids are visible to readers). Metrics are computed from
    the staged run dir — O(this run), never a scan of the whole output
    history — and the doc count is observed on the staged write, so a
    resume runs no job of its own to count them.

    Committed-run guard: nothing pending is a no-op (returns 0 without
    touching storage — the everyday rerun-to-resume case), and reusing a
    run_id that already reached the checkpoint with docs still pending
    raises — overwriting a committed run's directory would truncate data
    the checkpoint marks done (silent permanent loss: those docs are
    never re-extracted because resume skips them).
    """
    ck = read_checkpoint(spark, output_dir)
    pending = pending_docs(nested, ck)
    if pending.isEmpty():
        return 0
    if run_committed(ck, run_id):
        raise ValueError(
            f"run_id {run_id!r} is already committed in {output_dir!r} but docs "
            "are still pending; pass a fresh run_id — overwriting a committed "
            "run's data directory would lose rows the checkpoint marks done"
        )
    n, metrics = stage_extraction(pending, run_path(output_dir, run_id))
    if n:
        commit_run(spark, output_dir, run_id, metrics)
    return n


def stage_extraction(pending: DataFrame, staged: str) -> tuple[int, DataFrame]:
    """Extract ``pending`` into the run directory ``staged`` (overwrite).
    Returns the docs written and the lazy :func:`doc_metrics` of the
    staged rows — O(this run), never a scan of the whole output history.
    The one stage of :func:`run_extraction` and the extraction daemon."""
    extracted = extract_spans(pending)
    n = write_counting_docs(extracted, staged, F.col("ord") == 0)
    # schema given explicitly: no schema-inference job over the dir
    spark = pending.sparkSession
    return n, doc_metrics(spark.read.schema(extracted.schema).parquet(staged))


def write_counting_docs(df: DataFrame, path: str, doc_row: Column) -> int:
    """Overwrite ``path`` with ``df`` and return the number of docs
    written, observed on the write itself as the rows where ``doc_row``
    holds — no job of its own counts them. For spans that is ``ord = 0``:
    one row per doc with at least one span, the row count of
    :func:`doc_metrics` over the written rows; a doc with no spans writes
    no row, is not counted and stays pending. For a table with one row
    per doc it is every row."""
    from pyspark.sql import Observation

    docs = Observation()
    df.observe(docs, F.count(F.when(doc_row, 1)).alias("docs")).write.mode(
        "overwrite"
    ).parquet(path)
    return docs.get["docs"]


EXTRACTED_SCHEMA = (
    "doc_id string, ord int, kind string, text string, media_ref string, "
    "span_offset int, run_id string"
)


def read_extracted(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed-only view of the extracted output. The declared schema
    types the ``run_id=`` partition column as string, also for a numeric
    run_id."""
    return read_committed(
        spark, os.path.join(output_dir, "extracted"), EXTRACTED_SCHEMA, output_dir
    )
