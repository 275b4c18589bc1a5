"""Incremental substring dedup as a streaming daemon — the production
daily-crawl loop composed from D1/D2 (the watch/commit discipline of
streaming/daemon.py, reference video/frame_pipeline.py:437-522) and the
incremental dedup family (queries_substr.build_substr_index /
_incremental_removal_starts).

Each micro-batch of NEW documents:

1. fingerprints its token windows (the same stride-1 machinery as the
   batch queries — the corpus is never re-fingerprinted);
2. reads the COMMITTED fingerprint index (a fraction of corpus size:
   one (fp, n_occ) row per distinct window) and computes removal spans:
   index hits are removed outright, index misses dedup keep-first
   within the batch (skew-safe min-struct agg);
3. stages the batch's post-removal text (the apply step) under a
   run-scoped ``run_id=`` directory with mode=overwrite;
4. stages the batch's UNSEEN fingerprints as an index delta under the
   same run-scoped naming;
5. commits the lineage checkpoint LAST — both staged directories become
   visible to readers (:func:`read_deduped`, :func:`read_index`) only
   once the commit lands, so a crash between any two steps leaves
   invisible orphans that the retry overwrites.

Idempotence detail: a batch re-delivered AFTER its commit (crash between
commit_run and the stream-checkpoint write) re-reads the index with its
OWN delta excluded — otherwise the replay would dedup the batch against
its own fingerprints, stage empty text, and corrupt the overwrite. With
the exclusion, the replay recomputes byte-identical outputs, the
overwrite is a no-op, and the commit is SKIPPED (the run_id is already
in the checkpoint — re-appending would double the lineage rollups and
inflate the processed counter). Pinned by test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lineage import _read_or_empty, commit_run, read_checkpoint, run_committed
from ..queries_corpus import _NORM_SPARK
from ..queries_substr import (
    _SUBSTR_W,
    _apply_removals,
    _incremental_removal_starts,
    _spans_from_starts,
    _windows,
)
from .daemon import _checkpoint_run_prefix

DOCS_SCHEMA = "doc_id bigint, text string"
DEDUPED_SCHEMA = (
    "doc_id bigint, n_tokens bigint, n_kept bigint, kept_text string, "
    "run_id string"
)
INDEX_SCHEMA = "fp bigint, n_occ bigint, run_id string"


def read_index(
    spark: SparkSession,
    index_dir: str,
    checkpoint_dir: str,
    exclude_run: str | None = None,
) -> DataFrame:
    """Committed-only view of the fingerprint index: (fp, n_occ) from
    run deltas whose run_id reached the lineage checkpoint. The
    committed-id set is one row per batch — broadcast semi-join.
    ``exclude_run`` drops one run's own delta (see module docstring)."""
    data = _read_or_empty(spark, index_dir, INDEX_SCHEMA)
    committed = read_checkpoint(spark, checkpoint_dir).select("run_id").distinct()
    if exclude_run is not None:
        committed = committed.where(F.col("run_id") != exclude_run)
    return data.join(F.broadcast(committed), "run_id", "left_semi").drop(
        "run_id"
    )


def read_deduped(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed-only view of the deduped output (same convention as
    pipeline.read_extracted: orphan run dirs from crashed attempts are
    invisible)."""
    data = _read_or_empty(
        spark, os.path.join(output_dir, "deduped"), DEDUPED_SCHEMA
    )
    committed = read_checkpoint(spark, output_dir).select("run_id").distinct()
    return data.join(F.broadcast(committed), "run_id", "left_semi")


def _dedup_batch_processor(
    output_dir: str, index_dir: str, run_id: str, processed: dict, w: int
):
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_run = f"{run_id}-b{batch_id}"
        nd = batch_df.select(
            "doc_id", _NORM_SPARK(F.col("text")).alias("norm")
        )
        # the window table feeds three consumers (removal spans, the
        # unseen-delta anti-join, and — via nd — the apply step);
        # persist it for the batch's lifetime
        wins = _windows(spark, sf_dir=None, w=w, nd=nd).persist()
        try:
            idx_fps = read_index(
                spark, index_dir, output_dir, exclude_run=batch_run
            ).select("fp")
            removal = _incremental_removal_starts(wins, idx_fps)
            applied = _apply_removals(nd, _spans_from_starts(removal, w=w))
            staged = os.path.join(output_dir, "deduped", f"run_id={batch_run}")
            applied.write.mode("overwrite").parquet(staged)

            unseen = (
                wins.join(idx_fps, "fp", "left_anti")
                .groupBy("fp")
                .agg(F.count("*").alias("n_occ"))
            )
            unseen.write.mode("overwrite").parquet(
                os.path.join(index_dir, f"run_id={batch_run}")
            )

            # commit LAST; metrics re-read the staged dir (O(batch)).
            # Lineage column mapping for the dedup daemon:
            # frames_processed := input tokens, ocr_chars := kept chars,
            # dedup_ratio := removed-token fraction.
            out = spark.read.schema(
                "doc_id bigint, n_tokens bigint, n_kept bigint, kept_text string"
            ).parquet(staged)
            metrics = out.select(
                "doc_id",
                F.col("n_tokens").alias("frames_processed"),
                F.length("kept_text").cast("bigint").alias("ocr_chars"),
                (
                    (F.col("n_tokens") - F.col("n_kept"))
                    / F.greatest(F.col("n_tokens"), F.lit(1))
                ).alias("dedup_ratio"),
            )
            n = metrics.count()
            # replay of an ALREADY-COMMITTED batch: the recompute above
            # repairs any partially-overwritten staging from a crashed
            # earlier replay, but the commit must not re-append — the
            # checkpoint/lineage rows exist and a duplicate set would
            # double-count the run for lineage readers
            if n and not run_committed(read_checkpoint(spark, output_dir), batch_run):
                commit_run(spark, output_dir, batch_run, metrics)
                processed["n"] += n
        finally:
            wins.unpersist()

    return _process


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
    The batch run prefix is owned by the stream checkpoint (shared
    discipline with daemon._checkpoint_run_prefix)."""
    processed = {"n": 0}
    checkpoint_dir = os.path.join(output_dir, "_stream_checkpoint")
    prefix = _checkpoint_run_prefix(checkpoint_dir, run_id)
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .parquet(input_dir)
        .writeStream.foreachBatch(
            _dedup_batch_processor(output_dir, index_dir, prefix, processed, w)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination()
    return processed["n"]
