"""Streaming incremental dedup (streaming/dedup_daemon.py): two
availableNow passes where pass 2 is deduped against pass 1's committed
fingerprint index, plus a replay of committed batches through the shared
micro-batch body that writes nothing."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from conftest import file_stamps, jobs_of

from ocr_dataset_builder_spark.streaming.dedup_daemon import (
    DOCS_SCHEMA,
    dedup_stage,
    read_deduped,
    read_index,
    watch_dedup_available_now,
)

# same repeat structure as the batch fixture in test_substr_dedup: docs
# 1-5 are day 1, docs 6/7 (whose only windows duplicate doc 5's) day 2
_DAY1 = [
    (1, " ".join(f"a{i}" for i in range(10))),
    (2, "zz " + " ".join(f"a{i}" for i in range(10))),
    (3, " ".join(f"c{i}" for i in range(8)) + " cx " + " ".join(f"c{i}" for i in range(8))),
    (4, " ".join(f"d{i}" for i in range(20))),
    (5, " ".join(f"e{i}" for i in range(10))),
]
_DAY2 = [
    (6, " ".join(f"e{i}" for i in range(8))),
    (7, " ".join(f"e{i}" for i in range(2, 10))),
]


def test_dedup_daemon_incremental_and_replay(spark):
    in_dir = tempfile.mkdtemp(prefix="odb_dd_in_")
    out_dir = tempfile.mkdtemp(prefix="odb_dd_out_")
    idx_dir = tempfile.mkdtemp(prefix="odb_dd_idx_")
    try:
        spark.createDataFrame(_DAY1, DOCS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        n1 = watch_dedup_available_now(spark, in_dir, out_dir, idx_dir)
        assert n1 == len(_DAY1)

        # day 1 output: within-batch keep-first (empty index) — doc 2
        # loses its shared run to doc 1, doc 3 its second occurrence
        got = {
            r["doc_id"]: r["kept_text"]
            for r in read_deduped(spark, out_dir).collect()
        }
        assert got[1] == " ".join(f"a{i}" for i in range(10))
        assert got[2] == "zz"
        assert got[3] == " ".join(f"c{i}" for i in range(8)) + " cx"
        assert got[5] == " ".join(f"e{i}" for i in range(10))

        # committed index covers exactly day 1's distinct window fps
        from ocr_dataset_builder_spark.queries_substr import _windows

        nd1 = spark.createDataFrame(_DAY1, DOCS_SCHEMA).select(
            "doc_id", F.col("text").alias("norm")
        )
        exp_fps = {
            r["fp"]
            for r in _windows(spark, None, nd=nd1).select("fp").distinct().collect()
        }
        idx1 = {r["fp"]: r["n_occ"] for r in read_index(spark, idx_dir, out_dir).collect()}
        assert set(idx1) == exp_fps
        assert sum(idx1.values()) == _windows(spark, None, nd=nd1).count()

        # idle pass: nothing new, nothing reprocessed, index unchanged
        assert watch_dedup_available_now(spark, in_dir, out_dir, idx_dir) == 0

        # day 2 arrives: both docs' windows are already in the index —
        # fully removed AGAINST THE INDEX (within day 2 alone, doc 6
        # would have been canonical and kept everything)
        spark.createDataFrame(_DAY2, DOCS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        n2 = watch_dedup_available_now(spark, in_dir, out_dir, idx_dir)
        assert n2 == len(_DAY2)
        got2 = {
            r["doc_id"]: (r["n_kept"], r["kept_text"])
            for r in read_deduped(spark, out_dir).collect()
        }
        assert got2[6] == (0, "")
        assert got2[7] == (0, "")
        # nothing unseen in day 2 -> the committed index is unchanged
        idx2 = {r["fp"]: r["n_occ"] for r in read_index(spark, idx_dir, out_dir).collect()}
        assert idx2 == idx1

        # replay COMMITTED batches (crash between commit_run and the
        # stream-checkpoint write): the committed-run guard returns
        # before any read or write, so a batch never dedups against its
        # own fingerprints
        from ocr_dataset_builder_spark.streaming.daemon import (
            _checkpoint_run_prefix,
            batch_body,
        )

        before_rows = sorted(
            map(tuple, read_deduped(spark, out_dir).drop("run_id").collect())
        )
        prefix = _checkpoint_run_prefix(
            os.path.join(out_dir, "_stream_checkpoint"), "ignored"
        )
        from ocr_dataset_builder_spark.lineage import read_checkpoint
        from ocr_dataset_builder_spark.queries_substr import _SUBSTR_W

        ck_before = sorted(
            (r["doc_id"], r["run_id"])
            for r in read_checkpoint(spark, out_dir).collect()
        )
        replay_counter = {"n": 0}
        proc = batch_body(
            out_dir, prefix, dedup_stage(out_dir, idx_dir, _SUBSTR_W),
            replay_counter,
        )
        day1 = spark.createDataFrame(_DAY1, DOCS_SCHEMA)
        day2 = spark.createDataFrame(_DAY2, DOCS_SCHEMA)
        stamps_before = file_stamps(out_dir, idx_dir)

        def _replay():
            # batch 0 was day 1 (first availableNow pass), batch 1 day 2
            proc(day1, 0)
            proc(day2, 1)

        _, jobs = jobs_of(spark, _replay)
        # zero file churn, and no job beyond each batch's empty and
        # committed-run probes
        assert file_stamps(out_dir, idx_dir) == stamps_before
        assert jobs <= 4, f"replay ran {jobs} Spark jobs, the probes are 4"
        after_rows = sorted(
            map(tuple, read_deduped(spark, out_dir).drop("run_id").collect())
        )
        assert after_rows == before_rows
        idx3 = {r["fp"]: r["n_occ"] for r in read_index(spark, idx_dir, out_dir).collect()}
        assert idx3 == idx1
        # an already-committed batch must neither re-append checkpoint
        # rows (duplicate lineage) nor count as newly processed
        ck_after = sorted(
            (r["doc_id"], r["run_id"])
            for r in read_checkpoint(spark, out_dir).collect()
        )
        assert ck_after == ck_before
        assert replay_counter["n"] == 0
    finally:
        for d in (in_dir, out_dir, idx_dir):
            shutil.rmtree(d, ignore_errors=True)
