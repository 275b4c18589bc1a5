"""Streaming incremental SEMANTIC dedup (streaming/semantic_daemon.py):
two availableNow passes where pass 2 is deduped against pass 1's
committed kept-store, plus a replay of committed batches through the
shared micro-batch body that writes nothing — the embedding twin of
test_dedup_daemon.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from conftest import jobs_of

from ocr_dataset_builder_spark.streaming.semantic_daemon import (
    EMB_SCHEMA,
    build_semantic_centroids,
    read_kept_store,
    read_verdicts,
    semantic_stage,
    watch_semantic_available_now,
)

_A = [1.0, 0.0, 0.0, 0.0]
_B = [0.0, 1.0, 0.0, 0.0]
# bootstrap store the quantizer trains on: seeds are vec_id % 50 == 0,
# so ids 0 and 50 seed two centroids that converge to exactly A and B
_BOOT = [(i, _A) for i in (0, 1, 2, 3)] + [(i, _B) for i in (50, 51, 52, 53)]
# day 1: 100/101 are an A-cluster near-dup pair (101 farther from the
# centroid -> SemDeDup keeps it), 102 is alone in the B cluster
_DAY1 = [
    (100, [0.9, 0.1, 0.0, 0.0]),
    (101, [0.8, 0.2, 0.0, 0.0]),
    (102, [0.0, 0.9, 0.1, 0.0]),
]
# day 2: 200 duplicates the STORED keep 101 exactly (store drop);
# 201 is orthogonal to everything (keep); 202/203 are a fresh B-cluster
# near-dup pair (202 farther -> kept, 203 dominated)
_DAY2 = [
    (200, [0.8, 0.2, 0.0, 0.0]),
    (201, [0.0, 0.0, 1.0, 0.0]),
    (202, [0.0, 0.1, 0.0, 0.9]),
    (203, [0.0, 0.2, 0.0, 0.8]),
]


def test_semantic_daemon_incremental_and_replay(spark):
    in_dir = tempfile.mkdtemp(prefix="odb_sd_in_")
    out_dir = tempfile.mkdtemp(prefix="odb_sd_out_")
    store_dir = tempfile.mkdtemp(prefix="odb_sd_store_")
    cent_dir = tempfile.mkdtemp(prefix="odb_sd_cent_")
    try:
        boot = spark.createDataFrame(_BOOT, EMB_SCHEMA)
        build_semantic_centroids(spark, boot, cent_dir)

        spark.createDataFrame(_DAY1, EMB_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        n1 = watch_semantic_available_now(
            spark, in_dir, out_dir, store_dir, cent_dir
        )
        assert n1 == len(_DAY1)
        v1 = {
            r["vec_id"]: (r["store_dup"], r["keep"])
            for r in read_verdicts(spark, out_dir).collect()
        }
        # empty store -> no store dups; in-batch dominance drops 100
        assert v1 == {
            100: (False, False),
            101: (False, True),
            102: (False, True),
        }
        kept1 = {
            r["vec_id"] for r in read_kept_store(spark, store_dir, out_dir).collect()
        }
        assert kept1 == {101, 102}

        # idle pass: nothing new, nothing reprocessed
        assert (
            watch_semantic_available_now(
                spark, in_dir, out_dir, store_dir, cent_dir
            )
            == 0
        )

        spark.createDataFrame(_DAY2, EMB_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        n2 = watch_semantic_available_now(
            spark, in_dir, out_dir, store_dir, cent_dir
        )
        assert n2 == len(_DAY2)
        v2 = {
            r["vec_id"]: (r["store_dup"], r["n_store_dups"], r["keep"])
            for r in read_verdicts(spark, out_dir).collect()
            if r["vec_id"] >= 200
        }
        assert v2 == {
            200: (True, 1, False),  # exact copy of stored keep 101
            201: (False, 0, True),  # orthogonal newcomer
            202: (False, 0, True),  # batch pair: farther from centroid
            203: (False, 0, False),  # dominated by 202
        }
        kept2 = {
            r["vec_id"] for r in read_kept_store(spark, store_dir, out_dir).collect()
        }
        assert kept2 == {101, 102, 201, 202}

        # replay COMMITTED batches (crash between commit_run and the
        # stream-checkpoint write): the committed-run guard must make
        # each replay a no-op
        from ocr_dataset_builder_spark.lineage import read_checkpoint
        from ocr_dataset_builder_spark.streaming.daemon import (
            _checkpoint_run_prefix,
            batch_body,
        )

        before = sorted(
            map(tuple, read_verdicts(spark, out_dir).drop("run_id").collect())
        )
        ck_before = sorted(
            (r["doc_id"], r["run_id"])
            for r in read_checkpoint(spark, out_dir).collect()
        )
        prefix = _checkpoint_run_prefix(
            os.path.join(out_dir, "_stream_checkpoint"), "ignored"
        )
        counter = {"n": 0}
        proc = batch_body(
            out_dir, prefix, semantic_stage(out_dir, store_dir, cent_dir), counter
        )
        # the committed-batch guard must short-circuit BEFORE any write
        # (ADVICE r6: an out-of-order replay of b0 after b1's keeps
        # landed would otherwise recompute against b1's store delta and
        # overwrite b0's committed verdicts) — pin zero file churn in
        # the staged verdict dirs, not just value idempotence
        def _mtimes():
            out = {}
            for b in (0, 1):
                d = os.path.join(out_dir, "verdicts", f"run_id={prefix}-b{b}")
                for f in os.listdir(d):
                    p = os.path.join(d, f)
                    out[p] = os.path.getmtime(p)
            return out

        mt_before = _mtimes()
        day1 = spark.createDataFrame(_DAY1, EMB_SCHEMA)
        day2 = spark.createDataFrame(_DAY2, EMB_SCHEMA)

        def _replay():
            proc(day1, 0)
            proc(day2, 1)

        _, jobs = jobs_of(spark, _replay)
        assert _mtimes() == mt_before
        # no job beyond each batch's empty and committed-run probes
        assert jobs <= 4, f"replay ran {jobs} Spark jobs, the probes are 4"
        after = sorted(
            map(tuple, read_verdicts(spark, out_dir).drop("run_id").collect())
        )
        assert after == before
        assert {
            r["vec_id"] for r in read_kept_store(spark, store_dir, out_dir).collect()
        } == kept2
        ck_after = sorted(
            (r["doc_id"], r["run_id"])
            for r in read_checkpoint(spark, out_dir).collect()
        )
        assert ck_after == ck_before
        assert counter["n"] == 0
    finally:
        for d in (in_dir, out_dir, store_dir, cent_dir):
            shutil.rmtree(d, ignore_errors=True)
