"""_barrier writes a reliable checkpoint when the session carries a
checkpoint dir and an executor-local one otherwise; the choice must
change where the blocks live, never the result."""

from __future__ import annotations

import glob
import shutil
import tempfile

from ocr_dataset_builder_spark.queries_corpus import connected_components
from ocr_dataset_builder_spark.queries_final import q_corpus_prep_final


def test_checkpoint_dir_matches_local(spark, sf_dir):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    edges = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("7", "8")], "a_id string, b_id string"
    )

    def run():
        return (
            sorted(map(tuple, connected_components(edges).collect())),
            sorted(map(tuple, q_corpus_prep_final(spark, sf_dir).collect())),
        )

    local = run()
    d = tempfile.mkdtemp(prefix="odb_ckpt_")
    try:
        sc.setCheckpointDir(d)
        reliable = run()
        # the reliable path really ran: checkpointed RDDs landed in the dir
        assert glob.glob(f"{d}/*/rdd-*")
    finally:
        # back to the no-dir state, so later tests keep the local path
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        shutil.rmtree(d, ignore_errors=True)
    assert sc.getCheckpointDir() is None
    assert reliable == local
    assert local[0] == [("1", "1"), ("2", "1"), ("3", "1"), ("7", "7"), ("8", "7")]
    assert local[1]
