"""Incremental substring dedup as a streaming daemon — the production
daily-crawl loop composed from the micro-batch commit protocol of
streaming/daemon.py (reference video/frame_pipeline.py:437-522) and the
incremental dedup family (queries_substr.build_substr_index /
_incremental_removal_starts).

The stage of each micro-batch of NEW documents:

1. fingerprints its token windows (the same stride-1 machinery as the
   batch queries — the corpus is never re-fingerprinted);
2. reads the COMMITTED fingerprint index (a fraction of corpus size:
   one (fp, n_occ) row per distinct window) and computes removal spans:
   index hits are removed outright, index misses dedup keep-first
   within the batch (skew-safe min-struct agg);
3. stages the batch's post-removal text (the apply step) under a
   run-scoped ``run_id=`` directory with mode=overwrite, counting its
   docs on the write;
4. stages the batch's UNSEEN fingerprints as an index delta under the
   same run-scoped naming.

``daemon.batch_body`` commits the lineage checkpoint LAST — both staged
directories become visible to readers (:func:`read_deduped`,
:func:`read_index`) only once the commit lands, so a crash between any
two steps leaves invisible orphans that the retry overwrites. A batch
re-delivered after its commit stops at the committed-run guard before
any read or write, so it never dedups against its own fingerprints.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lineage import read_committed
from ..pipeline import write_counting_docs
from ..queries_corpus import _NORM_SPARK
from ..queries_substr import (
    _SUBSTR_W,
    _apply_removals,
    _incremental_removal_starts,
    _spans_from_starts,
    _windows,
)
from .daemon import Stage, drain

DOCS_SCHEMA = "doc_id bigint, text string"
DEDUPED_SCHEMA = (
    "doc_id bigint, n_tokens bigint, n_kept bigint, kept_text string, "
    "run_id string"
)
INDEX_SCHEMA = "fp bigint, n_occ bigint, run_id string"


def read_index(spark: SparkSession, index_dir: str, checkpoint_dir: str) -> DataFrame:
    """Committed-only view of the fingerprint index: (fp, n_occ)."""
    return read_committed(spark, index_dir, INDEX_SCHEMA, checkpoint_dir).drop(
        "run_id"
    )


def read_deduped(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed-only view of the deduped output."""
    return read_committed(
        spark, os.path.join(output_dir, "deduped"), DEDUPED_SCHEMA, output_dir
    )


def dedup_stage(output_dir: str, index_dir: str, w: int = _SUBSTR_W) -> Stage:
    """The dedup daemon's stage (module docstring steps 1-4)."""

    def stage(batch_df: DataFrame, batch_run: str):
        spark = batch_df.sparkSession
        nd = batch_df.select(
            "doc_id", _NORM_SPARK(F.col("text")).alias("norm")
        )
        staged = os.path.join(output_dir, "deduped", f"run_id={batch_run}")
        # the window table feeds three consumers (removal spans, the
        # unseen-delta anti-join, and — via nd — the apply step);
        # persist it for the stage's lifetime
        wins = _windows(spark, sf_dir=None, w=w, nd=nd).persist()
        try:
            idx_fps = read_index(spark, index_dir, output_dir).select("fp")
            removal = _incremental_removal_starts(wins, idx_fps)
            applied = _apply_removals(nd, _spans_from_starts(removal, w=w))
            n = write_counting_docs(applied, staged, F.lit(True))

            unseen = (
                wins.join(idx_fps, "fp", "left_anti")
                .groupBy("fp")
                .agg(F.count("*").alias("n_occ"))
            )
            unseen.write.mode("overwrite").parquet(
                os.path.join(index_dir, f"run_id={batch_run}")
            )
        finally:
            wins.unpersist()

        # metrics re-read the staged dir (O(batch)). Lineage column
        # mapping for the dedup daemon: frames_processed := input tokens,
        # ocr_chars := kept chars, dedup_ratio := removed-token fraction.
        out = spark.read.schema(
            "doc_id bigint, n_tokens bigint, n_kept bigint, kept_text string"
        ).parquet(staged)
        return n, out.select(
            "doc_id",
            F.col("n_tokens").alias("frames_processed"),
            F.length("kept_text").cast("bigint").alias("ocr_chars"),
            (
                (F.col("n_tokens") - F.col("n_kept"))
                / F.greatest(F.col("n_tokens"), F.lit(1))
            ).alias("dedup_ratio"),
        )

    return stage


def watch_dedup_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    index_dir: str,
    run_id: str = "dedup0",
    w: int = _SUBSTR_W,
) -> int:
    """Dedup all not-yet-consumed input files against the committed
    index, then stop (a daemon is this in a scheduler loop, exactly like
    daemon.watch_available_now). Returns docs processed this invocation.
    The batch run prefix is owned by the stream checkpoint
    (daemon._checkpoint_run_prefix)."""
    return drain(
        spark, input_dir, DOCS_SCHEMA, output_dir, run_id,
        dedup_stage(output_dir, index_dir, w),
    )
