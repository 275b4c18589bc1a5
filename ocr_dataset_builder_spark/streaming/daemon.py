"""D1/D2 — the micro-batch commit protocol of the three streaming daemons.

Reference: an infinite loop that re-lists the input dir every
``watch_interval_seconds`` (default 300 s), diffs against the checkpoint
log, and processes new directories (video/frame_pipeline.py:437-522 and
duplicates) — incremental batch over a growing file set. Rebuild: a
Structured Streaming file source + ``foreachBatch``; Spark's stream
checkpoint tracks consumed files. :func:`stream_writer` is the one stream
setup and :func:`batch_body` the one micro-batch body, shared with
``dedup_daemon`` and ``semantic_daemon``; each daemon supplies only a
``stage(batch_df, batch_run) -> (n, metrics)``. The extraction daemon
runs with ``trigger(availableNow=True)`` (:func:`watch_available_now`, a
daemon in a scheduler loop) or ``trigger(processingTime=...)``
(:func:`watch_continuous`, the reference's watch loop).

Delivery: at-least-once with idempotent commit (D2 — the reference's
"checkpoint only after full success"). Batch ``<prefix>-b<id>`` returns
on an empty batch; returns before any read or write when its run id is
already in the lineage checkpoint (a re-delivery after its commit, or a
manual replay); stages its outputs under run-scoped ``run_id=``
directories with mode=overwrite, so a retry of an uncommitted batch
replaces its own partial output; and commits the checkpoint LAST when it
staged any doc. Readers see only committed runs
(``lineage.read_committed``), and since the guard runs first a batch's
own delta is never in a committed view while it runs. No
watermarks/event-time: the reference has none (D3); batching is
count-based (A2), not time-based.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..lineage import commit_run, read_checkpoint, run_committed
from ..pipeline import run_path, stage_extraction

NESTED_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

# stage(batch_df, batch_run) -> (docs staged, lazy per-doc metrics)
Stage = Callable[[DataFrame, str], tuple[int, DataFrame]]


def batch_body(output_dir: str, prefix: str, stage: Stage, processed: dict):
    """The foreachBatch body: empty probe, committed-run guard, ``stage``,
    then ``commit_run`` when the stage wrote any doc. ``processed["n"]``
    counts the docs committed."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_run = f"{prefix}-b{batch_id}"
        if run_committed(read_checkpoint(spark, output_dir), batch_run):
            return
        n, metrics = stage(batch_df, batch_run)
        if n:
            commit_run(spark, output_dir, batch_run, metrics)
            processed["n"] += n

    return _process


def _checkpoint_run_prefix(checkpoint_dir: str, run_id: str) -> str:
    """The batch run prefix is OWNED by the stream checkpoint, not by the
    caller: batch_ids are only unique within one checkpoint lineage, and
    the two watch modes share the checkpoint. If each mode used its own
    run_id ('daemon0' vs 'stream0'), a batch re-delivered after a crash
    under the OTHER mode would stage '<other>-b<N>' instead of
    overwriting '<orig>-b<N>' and commit the same docs twice. So the
    first mode to create the checkpoint persists its prefix beside it,
    and every later invocation — either mode — reuses the stored one.

    Migration caveat: a stream checkpoint created before the marker
    existed has committed batches under its original caller's run_id but
    carries no marker — the first post-upgrade invocation's run_id
    becomes the prefix, so that invocation MUST pass the original
    run_id or a re-delivered in-flight batch would still stage under a
    new name. The marker is installed atomically AND exclusively
    (fully-written tmp + os.link, which fails if the marker exists):
    when two processes race the first start, exactly one wins the link
    and the loser ADOPTS the winner's prefix from the read-back — the
    earlier tmp+os.replace flow was last-wins, so the loser could keep
    committing under a prefix that differed from the stored marker,
    recreating the double-commit hazard the marker exists to prevent."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, "RUN_PREFIX")

    def _read_marker() -> str:
        try:
            with open(marker) as fh:
                return fh.read().strip()
        except FileNotFoundError:
            return ""

    stored = _read_marker()
    if stored:
        return stored
    def _write_tmp() -> str:
        tmp = f"{marker}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(run_id)
            fh.flush()
            os.fsync(fh.fileno())
        return tmp

    tmp = _write_tmp()
    try:
        os.link(tmp, marker)  # atomic + exclusive: first writer wins
        os.unlink(tmp)
    except FileExistsError:
        os.unlink(tmp)
    except OSError:
        # filesystem without hard-link support (FUSE object stores,
        # SMB): degrade to the atomic-but-last-wins install — same
        # guarantee the pre-link code gave there, rather than failing
        # every daemon start on such mounts
        os.replace(tmp, marker)
        return run_id
    stored = _read_marker()
    if stored:
        return stored
    # unreachable unless the marker was externally truncated: link only
    # ever installs a fully-written file — repair it last-wins
    os.replace(_write_tmp(), marker)
    return run_id


def stream_writer(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    output_dir: str,
    run_id: str,
    stage: Stage,
):
    """The stream over ``input_dir`` with :func:`batch_body` attached and
    its checkpoint at ``<output_dir>/_stream_checkpoint``; the caller sets
    the trigger. Returns ``(DataStreamWriter, processed_counter)``."""
    processed = {"n": 0}
    checkpoint_dir = os.path.join(output_dir, "_stream_checkpoint")
    prefix = _checkpoint_run_prefix(checkpoint_dir, run_id)
    writer = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .writeStream.foreachBatch(batch_body(output_dir, prefix, stage, processed))
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer, processed


def drain(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    output_dir: str,
    run_id: str,
    stage: Stage,
) -> int:
    """Run :func:`stream_writer` with ``trigger(availableNow=True)``:
    process all not-yet-consumed input files, then stop. Returns the
    number of docs committed."""
    writer, processed = stream_writer(
        spark, input_dir, schema, output_dir, run_id, stage
    )
    writer.trigger(availableNow=True).start().awaitTermination()
    return processed["n"]


def extraction_stage(output_dir: str) -> Stage:
    """The extraction daemon's stage: ``pipeline.stage_extraction`` into
    ``<output_dir>/extracted/run_id=<batch_run>``."""
    return lambda batch_df, batch_run: stage_extraction(
        batch_df, run_path(output_dir, batch_run)
    )


def watch_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    run_id: str = "stream0",
) -> int:
    """Extract all not-yet-consumed input files, then stop. Returns the
    number of docs processed in this invocation."""
    return drain(
        spark, input_dir, NESTED_SCHEMA, output_dir, run_id,
        extraction_stage(output_dir),
    )


def watch_continuous(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    run_id: str = "daemon0",
    interval: str = "300 seconds",
):
    """The reference daemon's infinite watch loop
    (video/frame_pipeline.py:437-522, 300 s default interval) as ONE
    long-running Structured Streaming query: same micro-batch body and
    stream checkpoint as :func:`watch_available_now`, but
    ``trigger(processingTime=interval)`` keeps it alive — each tick
    lists the input dir, processes only never-consumed files, and
    commits run-scoped. Returns ``(StreamingQuery, processed_counter)``;
    the caller owns the lifecycle (``query.stop()``). The two modes share
    the stream checkpoint, so a deployment can stop the daemon and drain
    the backlog with an availableNow pass, or vice versa, without ever
    double-processing a file."""
    writer, processed = stream_writer(
        spark, input_dir, NESTED_SCHEMA, output_dir, run_id,
        extraction_stage(output_dir),
    )
    query = writer.trigger(processingTime=interval).start()
    return query, processed
