"""D1 — daemon mode as Structured Streaming.

Reference: an infinite loop that re-lists the input dir every
``watch_interval_seconds`` (default 300 s), diffs against the checkpoint
log, and processes new directories
(video/frame_pipeline.py:437-522 and duplicates). There is no true event
stream — it is incremental batch over a growing file set.

Rebuild, two equivalent modes:

* :func:`watch_available_now` — Structured Streaming file source over the
  nested-documents parquet directory with ``trigger(availableNow=True)``
  + ``foreachBatch``: Spark's checkpoint tracks consumed files, each
  invocation processes exactly the new ones, then exits. A daemon is this
  in a scheduler loop — or the same code with
  ``trigger(processingTime='300 seconds')``.
* :func:`daemon_pass` — the reference's literal semantics: relist + J5
  anti-join against the lineage checkpoint (pipeline.run_extraction
  already is that), per pass.

Delivery: at-least-once with idempotent commit (D2 — the reference's
"checkpoint only after full success"). Each micro-batch stages its data
under a run-scoped ``run_id=`` directory with mode=overwrite, so a
re-delivered batch REPLACES its own previous partial output instead of
appending duplicates; a crash between the data write and the checkpoint
commit leaves an orphan run dir that ``pipeline.read_extracted`` hides
from readers (committed run_ids only). No watermarks/event-time: the
reference has none (D3); batching is count-based (A2), not time-based.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import extract_spans, doc_metrics, run_path, write_counting_docs
from ..lineage import commit_run, read_checkpoint, run_committed

NESTED_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _batch_processor(output_dir: str, run_id: str, processed: dict):
    """The shared foreachBatch body: run-scoped overwrite staging +
    checkpoint-last commit (D2). Re-delivery of a batch_id replaces its
    own output (idempotent); metrics read ONLY the staged dir — O(batch),
    never a rescan of the whole output history."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_run_id = f"{run_id}-b{batch_id}"
        staged = run_path(output_dir, batch_run_id)
        extracted = extract_spans(batch_df)
        n = write_counting_docs(extracted, staged)
        # a batch re-delivered AFTER its commit (crash between commit and
        # the stream-checkpoint write) recomputes + overwrites its staging
        # (repairing any partial overwrite) but must not re-append the
        # checkpoint rows — a duplicate set double-counts the run for
        # lineage readers
        if n and not run_committed(read_checkpoint(spark, output_dir), batch_run_id):
            metrics = doc_metrics(spark.read.schema(extracted.schema).parquet(staged))
            commit_run(spark, output_dir, batch_run_id, metrics)
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


def _watch_stream(spark: SparkSession, input_dir: str, output_dir: str, run_id: str):
    processed = {"n": 0}
    checkpoint_dir = os.path.join(output_dir, "_stream_checkpoint")
    prefix = _checkpoint_run_prefix(checkpoint_dir, run_id)
    writer = (
        spark.readStream.schema(NESTED_SCHEMA)
        .parquet(input_dir)
        .writeStream.foreachBatch(_batch_processor(output_dir, prefix, processed))
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer, processed


def watch_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    run_id: str = "stream0",
) -> int:
    """Process all not-yet-consumed input files, then stop. Returns the
    number of docs processed in this invocation."""
    writer, processed = _watch_stream(spark, input_dir, output_dir, run_id)
    stream = writer.trigger(availableNow=True).start()
    stream.awaitTermination()
    return processed["n"]


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
    writer, processed = _watch_stream(spark, input_dir, output_dir, run_id)
    query = writer.trigger(processingTime=interval).start()
    return query, processed


def daemon_pass(
    spark: SparkSession, nested: DataFrame, output_dir: str, run_id: str
) -> int:
    """One reference-style daemon pass: relist + anti-join + process.
    (The reference sleeps watch_interval_seconds between passes; a
    scheduler does that here.)"""
    from ..pipeline import run_extraction

    return run_extraction(spark, nested, output_dir, run_id=run_id)
