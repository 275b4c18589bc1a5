"""Lineage + checkpoint/resume.

Replaces the reference's append-only text checkpoint logs
(video/frame_pipeline.py:169-208, 354-363 and duplicates) with two tables:

* ``checkpoint`` — one row per completed doc (doc_id, run_id, status,
  committed_at). Resume = ``left_anti`` join of inputs against
  status='done' (J5, reference frame_pipeline.py:241-247). Stale-entry
  pruning (J6, :226-238) is the registered query
  ``queries_joins.q_checkpoint_semi``.
* ``lineage`` — per-partition metrics rows (partition_id, doc_id range,
  docs, frames_processed, ocr_chars, dedup_ratio, status, committed_at)
  per the north rule.

A run-partitioned output (``<table>/run_id=<id>/``) is shown to readers
through :func:`read_committed`: only runs that reached the checkpoint.

Storage goes through a pluggable table store (``sources/tables.py``):
the default is a directory of parquet appends; passing
``store=IcebergStore(spark, namespace)`` routes the same two operations
through Iceberg ``writeTo(...).append()`` snapshot commits. The Iceberg
path is real code gated on the catalog being present
(tests/test_iceberg_adapter.py skips when the runtime jar is absent —
this sandbox has none, SURVEY.md §7.4 risk 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHECKPOINT_SCHEMA = "doc_id string, run_id string, status string, committed_at timestamp"
LINEAGE_SCHEMA = (
    "run_id string, partition_id int, doc_id_min string, doc_id_max string, "
    "docs bigint, frames_processed bigint, ocr_chars bigint, dedup_ratio double, "
    "status string, committed_at timestamp"
)
# lineage rows per run: partition_id = xxhash64(doc_id) mod this
LINEAGE_BUCKETS = 16


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a parquet table with its declared schema, yielding an empty
    typed relation when the path does not exist yet. The declared schema
    spares the schema-inference job, and an existing but still-empty
    directory reads as the empty relation instead of failing inference.
    The probe is the read itself (catching ONLY the PATH_NOT_FOUND
    condition), NOT a driver-local ``os.path.exists`` — which is always
    false for hdfs://, s3a:// and any other non-local URI, and would
    silently restart resume from zero on exactly the distributed
    deployments this targets. Any other AnalysisException (transient
    storage fault, corrupted schema) re-raises: treating it as "no
    checkpoint" would restart resume from zero and a second commit would
    surface duplicate rows. A file whose column types differ from the
    declared ones fails when its rows are read."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as exc:
        condition = (
            exc.getCondition() if hasattr(exc, "getCondition") else exc.getErrorClass()
        )
        if condition != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], schema)


def _store(spark: SparkSession, checkpoint_dir: str, store=None):
    """Resolve the table backend: an explicit store (e.g.
    sources.tables.IcebergStore) wins, else the parquet-directory default."""
    if store is not None:
        return store
    from .sources.tables import ParquetStore

    return ParquetStore(spark, checkpoint_dir)


def read_checkpoint(
    spark: SparkSession, checkpoint_dir: str, store=None
) -> DataFrame:
    return _store(spark, checkpoint_dir, store).read("checkpoint", CHECKPOINT_SCHEMA)


def read_lineage(spark: SparkSession, checkpoint_dir: str, store=None) -> DataFrame:
    return _store(spark, checkpoint_dir, store).read("lineage", LINEAGE_SCHEMA)


def read_committed(
    spark: SparkSession, path: str, schema: str, checkpoint_dir: str
) -> DataFrame:
    """Committed-only view of the run-partitioned table at ``path``: rows
    of ``run_id=`` directories whose run reached the checkpoint in
    ``checkpoint_dir``. A directory left by a crash between its write and
    its commit is invisible, so a retry never surfaces duplicate rows.
    The committed-run set is one row per run — broadcast semi-join. A
    path that does not exist yet is the empty typed relation."""
    data = _read_or_empty(spark, path, schema)
    committed = read_checkpoint(spark, checkpoint_dir).select("run_id").distinct()
    return data.join(F.broadcast(committed), "run_id", "left_semi")


def pending_docs(nested: DataFrame, checkpoint: DataFrame) -> DataFrame:
    """J5 resume anti-join: inputs minus completed docs. Duplicate
    doc_ids on the right of a ``left_anti`` cannot change its result, so
    the checkpoint side is not deduplicated (a ``distinct`` costs a
    shuffle job per resume)."""
    done = checkpoint.where(F.col("status") == "done").select("doc_id")
    return nested.join(done, "doc_id", "left_anti")


def run_committed(checkpoint: DataFrame, run_id: str) -> bool:
    """True when ``run_id`` already has rows in the checkpoint."""
    return not checkpoint.where(F.col("run_id") == run_id).isEmpty()


def commit_run(
    spark: SparkSession,
    checkpoint_dir: str,
    run_id: str,
    doc_metrics: DataFrame,
    store=None,
) -> None:
    """Append per-doc checkpoint rows + per-partition lineage rollups.

    ``doc_metrics`` columns: doc_id, frames_processed, ocr_chars,
    dedup_ratio. Partition id is a stable hash bucket of doc_id so a
    re-run assigns identical buckets (idempotence under retries).
    ``doc_id`` is cast to string, the type both tables declare, so a
    caller with numeric ids (the dedup and semantic daemons) writes
    files that read back under the declared schema.
    """
    backend = _store(spark, checkpoint_dir, store)
    doc_metrics = doc_metrics.withColumn("doc_id", F.col("doc_id").cast("string"))
    ck = doc_metrics.select(
        "doc_id",
        F.lit(run_id).alias("run_id"),
        F.lit("done").alias("status"),
        F.current_timestamp().alias("committed_at"),
    )
    backend.append("checkpoint", ck)

    lin = (
        doc_metrics.withColumn(
            "partition_id",
            F.pmod(F.xxhash64("doc_id"), F.lit(LINEAGE_BUCKETS)).cast("int"),
        )
        .groupBy("partition_id")
        .agg(
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
            F.count("*").alias("docs"),
            F.sum("frames_processed").alias("frames_processed"),
            F.sum("ocr_chars").alias("ocr_chars"),
            F.avg("dedup_ratio").alias("dedup_ratio"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "doc_id_min",
            "doc_id_max",
            "docs",
            "frames_processed",
            "ocr_chars",
            "dedup_ratio",
            F.lit("done").alias("status"),
            F.current_timestamp().alias("committed_at"),
        )
    )
    backend.append("lineage", lin)
