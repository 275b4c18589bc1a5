"""Incremental SEMANTIC dedup as a streaming daemon — the embedding
twin of streaming/dedup_daemon.py (round-5 verdict #5: the substring
family had the daily-crawl shape; the semantic family didn't).

Fixed artifacts (trained once, never touched by arrivals):
- a centroid table (cent_id, cv double[]) at ``cent_dir`` — e.g. the
  store's k-means centroids written by :func:`build_semantic_centroids`
  (the ann_ivf_trained discipline: arrival assigns, never retrains).

Per micro-batch of NEW embeddings:

1. assigns each vector to its stored centroid (broadcast of the k-row
   table);
2. reads the COMMITTED kept-store (vec_id, cent_id, v) and computes
   :func:`queries_corpus.semantic_incremental_verdicts`: a stored-kept
   duplicate in the same cluster drops the new vector outright; store
   misses SemDeDup-dedup among themselves within the batch;
3. stages the per-vector verdicts under a run-scoped ``run_id=``
   directory with mode=overwrite;
4. stages the batch's KEPT vectors as a kept-store delta under the same
   run-scoped naming — future batches dedup against them;
5. commits the lineage checkpoint LAST — both staged directories become
   visible to readers (:func:`read_verdicts`, :func:`read_kept_store`)
   only once the commit lands; a crash between any two steps leaves
   invisible orphans the retry overwrites.

Idempotence (same discipline as dedup_daemon, pinned by test): a batch
re-delivered AFTER its commit re-reads the kept-store with its OWN
delta excluded — otherwise the replay would dedup the batch against its
own keeps, stage an all-dropped verdict set, and corrupt the overwrite.
With the exclusion the replay recomputes byte-identical outputs, the
overwrite is a no-op, and the commit is SKIPPED (re-appending would
double the lineage rollups).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lineage import _read_or_empty, commit_run, read_checkpoint, run_committed
from ..queries_corpus import (
    _trained_centroids,
    semantic_incremental_verdicts,
)
from .daemon import _checkpoint_run_prefix

EMB_SCHEMA = "vec_id bigint, embedding array<float>"
VERDICTS_SCHEMA = (
    "vec_id bigint, cent_id bigint, n_store_dups bigint, "
    "store_dup boolean, keep boolean, run_id string"
)
KEPT_SCHEMA = "vec_id bigint, cent_id bigint, v array<double>, run_id string"
CENT_SCHEMA = "cent_id bigint, cv array<double>"


def build_semantic_centroids(
    spark: SparkSession, emb: DataFrame, cent_dir: str
) -> None:
    """Train the fixed quantizer on a (vec_id, embedding) store relation
    and materialize (cent_id, cv) — the one trainer job the daemon's
    whole lifetime amortizes."""
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    _, cent = _trained_centroids(spark, sf_dir=None, e=e)
    cent.write.mode("overwrite").parquet(cent_dir)


def read_kept_store(
    spark: SparkSession,
    store_dir: str,
    checkpoint_dir: str,
    exclude_run: str | None = None,
) -> DataFrame:
    """Committed-only view of the kept-store: (vec_id, cent_id, v) from
    run deltas whose run_id reached the lineage checkpoint.
    ``exclude_run`` drops one run's own delta (see module docstring)."""
    data = _read_or_empty(spark, store_dir, KEPT_SCHEMA)
    committed = read_checkpoint(spark, checkpoint_dir).select("run_id").distinct()
    if exclude_run is not None:
        committed = committed.where(F.col("run_id") != exclude_run)
    return data.join(F.broadcast(committed), "run_id", "left_semi").drop(
        "run_id"
    )


def read_verdicts(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed-only view of the per-vector verdicts."""
    data = _read_or_empty(
        spark, os.path.join(output_dir, "verdicts"), VERDICTS_SCHEMA
    )
    committed = read_checkpoint(spark, output_dir).select("run_id").distinct()
    return data.join(F.broadcast(committed), "run_id", "left_semi")


def _semantic_batch_processor(
    output_dir: str, store_dir: str, cent_dir: str, run_id: str, processed: dict
):
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_run = f"{run_id}-b{batch_id}"
        # Replay guard FIRST (ADVICE r6): a manual re-invocation of an
        # already-committed batch after LATER batches landed would
        # recompute against a store that now contains those later
        # deltas and OVERWRITE the committed verdicts with different
        # values. Exclude-own-delta byte-identity only holds for the
        # in-order availableNow replay; an out-of-order replay must
        # short-circuit before any write, not rely on it.
        if run_committed(read_checkpoint(spark, output_dir), batch_run):
            return
        new = batch_df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        cent = spark.read.schema(CENT_SCHEMA).parquet(cent_dir)
        stored_kept = read_kept_store(
            spark, store_dir, output_dir, exclude_run=batch_run
        )
        # verdicts feed two writers (the verdict stage and the keep
        # delta) plus the metrics re-read — persist for the batch
        verdicts = semantic_incremental_verdicts(new, stored_kept, cent).persist()
        try:
            staged = os.path.join(output_dir, "verdicts", f"run_id={batch_run}")
            verdicts.write.mode("overwrite").parquet(staged)

            keeps = (
                verdicts.where(F.col("keep"))
                .select("vec_id", "cent_id")
                .join(new, "vec_id")
            )
            keeps.write.mode("overwrite").parquet(
                os.path.join(store_dir, f"run_id={batch_run}")
            )

            # commit LAST; metrics re-read the staged dir (O(batch)).
            # Lineage column mapping for the semantic daemon:
            # frames_processed := 1 per vector, ocr_chars := kept flag,
            # dedup_ratio := dropped fraction of the batch.
            out = spark.read.schema(
                "vec_id bigint, cent_id bigint, n_store_dups bigint, "
                "store_dup boolean, keep boolean"
            ).parquet(staged)
            metrics = out.select(
                F.col("vec_id").alias("doc_id"),
                F.lit(1).cast("bigint").alias("frames_processed"),
                F.col("keep").cast("bigint").alias("ocr_chars"),
                (1 - F.col("keep").cast("int")).cast("double").alias(
                    "dedup_ratio"
                ),
            )
            n = metrics.count()
            if n and not run_committed(read_checkpoint(spark, output_dir), batch_run):
                commit_run(spark, output_dir, batch_run, metrics)
                processed["n"] += n
        finally:
            verdicts.unpersist()

    return _process


def watch_semantic_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    store_dir: str,
    cent_dir: str,
    run_id: str = "sem0",
) -> int:
    """Semantic-dedup all not-yet-consumed embedding files against the
    committed kept-store, then stop (a daemon is this in a scheduler
    loop). Returns vectors processed this invocation. The batch run
    prefix is owned by the stream checkpoint (shared discipline with
    daemon._checkpoint_run_prefix)."""
    processed = {"n": 0}
    checkpoint_dir = os.path.join(output_dir, "_stream_checkpoint")
    prefix = _checkpoint_run_prefix(checkpoint_dir, run_id)
    stream = (
        spark.readStream.schema(EMB_SCHEMA)
        .parquet(input_dir)
        .writeStream.foreachBatch(
            _semantic_batch_processor(
                output_dir, store_dir, cent_dir, prefix, processed
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination()
    return processed["n"]
