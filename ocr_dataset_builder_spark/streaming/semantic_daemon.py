"""Incremental SEMANTIC dedup as a streaming daemon — the embedding
twin of streaming/dedup_daemon.py (round-5 verdict #5: the substring
family had the daily-crawl shape; the semantic family didn't).

Fixed artifacts (trained once, never touched by arrivals):
- a centroid table (cent_id, cv double[]) at ``cent_dir`` — e.g. the
  store's k-means centroids written by :func:`build_semantic_centroids`
  (the ann_ivf_trained discipline: arrival assigns, never retrains).

The stage of each micro-batch of NEW embeddings:

1. assigns each vector to its stored centroid (broadcast of the k-row
   table);
2. reads the COMMITTED kept-store (vec_id, cent_id, v) and computes
   :func:`queries_corpus.semantic_incremental_verdicts`: a stored-kept
   duplicate in the same cluster drops the new vector outright; store
   misses SemDeDup-dedup among themselves within the batch;
3. stages the per-vector verdicts under a run-scoped ``run_id=``
   directory with mode=overwrite, counting its vectors on the write;
4. stages the batch's KEPT vectors as a kept-store delta under the same
   run-scoped naming — future batches dedup against them.

``daemon.batch_body`` commits the lineage checkpoint LAST — both staged
directories become visible to readers (:func:`read_verdicts`,
:func:`read_kept_store`) only once the commit lands; a crash between any
two steps leaves invisible orphans the retry overwrites. A batch
re-delivered after its commit stops at the committed-run guard before
any read or write: an out-of-order replay would otherwise recompute
against later batches' keeps and overwrite its committed verdicts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lineage import read_committed
from ..pipeline import write_counting_docs
from ..queries_corpus import (
    _trained_centroids,
    semantic_incremental_verdicts,
)
from .daemon import Stage, drain

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
    spark: SparkSession, store_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Committed-only view of the kept-store: (vec_id, cent_id, v)."""
    return read_committed(spark, store_dir, KEPT_SCHEMA, checkpoint_dir).drop(
        "run_id"
    )


def read_verdicts(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed-only view of the per-vector verdicts."""
    return read_committed(
        spark, os.path.join(output_dir, "verdicts"), VERDICTS_SCHEMA, output_dir
    )


def semantic_stage(output_dir: str, store_dir: str, cent_dir: str) -> Stage:
    """The semantic daemon's stage (module docstring steps 1-4)."""

    def stage(batch_df: DataFrame, batch_run: str):
        spark = batch_df.sparkSession
        new = batch_df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        cent = spark.read.schema(CENT_SCHEMA).parquet(cent_dir)
        stored_kept = read_kept_store(spark, store_dir, output_dir)
        staged = os.path.join(output_dir, "verdicts", f"run_id={batch_run}")
        # verdicts feed two writers (the verdict stage and the keep
        # delta) — persist for the stage
        verdicts = semantic_incremental_verdicts(new, stored_kept, cent).persist()
        try:
            n = write_counting_docs(verdicts, staged, F.lit(True))
            keeps = (
                verdicts.where(F.col("keep"))
                .select("vec_id", "cent_id")
                .join(new, "vec_id")
            )
            keeps.write.mode("overwrite").parquet(
                os.path.join(store_dir, f"run_id={batch_run}")
            )
        finally:
            verdicts.unpersist()

        # metrics re-read the staged dir (O(batch)). Lineage column
        # mapping for the semantic daemon: frames_processed := 1 per
        # vector, ocr_chars := kept flag, dedup_ratio := dropped fraction
        # of the batch.
        out = spark.read.schema(
            "vec_id bigint, cent_id bigint, n_store_dups bigint, "
            "store_dup boolean, keep boolean"
        ).parquet(staged)
        return n, out.select(
            F.col("vec_id").alias("doc_id"),
            F.lit(1).cast("bigint").alias("frames_processed"),
            F.col("keep").cast("bigint").alias("ocr_chars"),
            (1 - F.col("keep").cast("int")).cast("double").alias("dedup_ratio"),
        )

    return stage


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
    prefix is owned by the stream checkpoint
    (daemon._checkpoint_run_prefix)."""
    return drain(
        spark, input_dir, EMB_SCHEMA, output_dir, run_id,
        semantic_stage(output_dir, store_dir, cent_dir),
    )
