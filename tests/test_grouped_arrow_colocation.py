"""Regression: grouped_map_in_arrow must guarantee key co-location even
when the caller's upstream plan is statically hash-partitioned on the
key and AQE re-plans at runtime.

The hazard (round 7, measured on the 20k-vector LSH fixture): a manual
repartition(key) + sortWithinPartitions + mapInArrow chain loses its
explicit Exchange to Catalyst (redundant vs the upstream join's static
HashPartitioning), then AQE converts that join to a broadcast join and
re-reads its pre-planned shuffle with LOCAL (mapper-sliced) reads —
every key interleaves through every task, groups fragment, and a
quadratic per-group kernel silently emits a fraction of its pairs
(18,225 of 108,153, flipping per session with AQE's runtime choice).
``groupBy(key).applyInArrow`` declares ClusteredDistribution(key) as a
required child distribution, which AQE's local-read rewrite must not
break.

This test rebuilds that exact plan shape — parquet scan, join keyed on
the group column against a small aggregated relation (statically an SMJ
on the key, runtime-convertible to broadcast), then the grouped pass —
and asserts every group arrives whole."""

from __future__ import annotations

import shutil
import tempfile

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from ocr_dataset_builder_spark.operators.grouped import grouped_map_in_arrow


@pytest.fixture(scope="module")
def hazard_parquet(spark):
    d = tempfile.mkdtemp(prefix="odb_grp_hazard_")
    # 200 keys x 60 rows, written as many small files so the scan fans
    # out and the join's shuffle has many map-side outputs (the local
    # shuffle read slices by mapper — fragmentation needs >1 mapper)
    df = spark.range(200 * 60).select(
        (F.col("id") % 200).alias("grp"),
        F.col("id").alias("row_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("v"),
    )
    df.repartition(16).write.mode("overwrite").parquet(f"{d}/t.parquet")
    yield f"{d}/t.parquet"
    shutil.rmtree(d, ignore_errors=True)


def test_groups_arrive_whole_under_aqe_replan(spark, hazard_parquet):
    t = spark.read.parquet(hazard_parquet)
    # the LSH shape: aggregate sizes on the key, filter, join back on
    # the key — statically hash-partitions the stream on grp
    sizes = t.groupBy("grp").agg(F.count("*").alias("n"))
    ok = sizes.where(F.col("n") > 1).select("grp")
    sel = t.join(ok, "grp").select("grp", "row_id", "v")

    def _count(tbl):
        import pyarrow.compute as pc

        # one row per call: the grouped GEMM kernels rely on each call
        # holding exactly one group (n_keys == 1)
        g = tbl.column("grp")
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([g[0].as_py()], type=pa.int64()),
                pa.array([tbl.num_rows], type=pa.int64()),
                pa.array([pc.count_distinct(g).as_py()], type=pa.int64()),
            ],
            names=["grp", "n", "n_keys"],
        )

    got = grouped_map_in_arrow(
        sel, "grp", ["row_id"], _count, "grp bigint, n bigint, n_keys bigint"
    ).collect()
    # one call per group, each holding ALL 60 rows of ONE key — a
    # fragmented group shows up as repeated grp rows with partial counts
    assert len(got) == 200, f"groups fragmented: {len(got)} calls"
    assert all(r["n_keys"] == 1 for r in got)
    assert all(r["n"] == 60 for r in got)
    assert sorted(r["grp"] for r in got) == list(range(200))


def test_order_cols_sorted_within_group(spark, hazard_parquet):
    t = spark.read.parquet(hazard_parquet)

    def _check(tbl):
        import numpy as np

        tbl = tbl.combine_chunks()
        r = tbl.column("row_id").to_numpy(zero_copy_only=False)
        ok = bool((np.diff(r) > 0).all()) if len(r) > 1 else True
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([int(tbl.column("grp")[0].as_py())], pa.int64()),
                pa.array([ok], pa.bool_()),
            ],
            names=["grp", "sorted_ok"],
        )

    got = grouped_map_in_arrow(
        t, "grp", ["row_id"], _check, "grp bigint, sorted_ok boolean"
    ).collect()
    assert len(got) == 200
    assert all(r["sorted_ok"] for r in got)

