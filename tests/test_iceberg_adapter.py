"""Table-store backends: the parquet default must behave identically to
the direct path functions everywhere; the Iceberg backend runs only when
the Iceberg Spark runtime is on the classpath (skipped in this sandbox,
exercised on a real cluster image)."""

from __future__ import annotations

import shutil
import tempfile
from types import SimpleNamespace

import pytest

from ocr_dataset_builder_spark.lineage import (
    CHECKPOINT_SCHEMA,
    commit_run,
    read_checkpoint,
    read_lineage,
)
from ocr_dataset_builder_spark.sources.tables import (
    IcebergStore,
    ParquetStore,
    iceberg_catalog_available,
)


def _metrics(spark):
    return spark.createDataFrame(
        [("d1", 3, 120, 0.25), ("d2", 1, 40, 0.0)],
        "doc_id string, frames_processed bigint, ocr_chars bigint, dedup_ratio double",
    )


def test_parquet_store_matches_path_functions(spark):
    out = tempfile.mkdtemp(prefix="odb_store_")
    try:
        store = ParquetStore(spark, out)
        assert store.read("checkpoint", CHECKPOINT_SCHEMA).count() == 0
        commit_run(spark, out, "r1", _metrics(spark), store=store)
        # the explicit-store write is visible through the default readers
        assert read_checkpoint(spark, out).count() == 2
        assert read_lineage(spark, out).where("run_id = 'r1'").count() > 0
        store.append(
            "checkpoint",
            spark.createDataFrame(
                [("d3", "r2", "done", None)], CHECKPOINT_SCHEMA
            ),
        )
        assert store.read("checkpoint", CHECKPOINT_SCHEMA).count() == 3
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_iceberg_store_requires_runtime(spark):
    if iceberg_catalog_available(spark):
        pytest.skip("Iceberg runtime present; covered by the roundtrip test")
    with pytest.raises(RuntimeError, match="Iceberg"):
        IcebergStore(spark, "odb_it.db")


def test_iceberg_probe_raises_on_a_gateway_fault():
    """Only a missing catalog class means "no Iceberg"; any other failure
    of the probe propagates instead of turning the Iceberg path off."""

    def for_name(_cls):
        raise RuntimeError("py4j gateway fault")

    lang = SimpleNamespace(Class=SimpleNamespace(forName=for_name))
    jvm = SimpleNamespace(java=SimpleNamespace(lang=lang))
    session = SimpleNamespace(sparkContext=SimpleNamespace(_jvm=jvm))
    with pytest.raises(RuntimeError, match="gateway"):
        iceberg_catalog_available(session)


def test_iceberg_store_roundtrip(spark):
    if not iceberg_catalog_available(spark):
        pytest.skip("Iceberg Spark runtime not on the classpath")
    warehouse = tempfile.mkdtemp(prefix="odb_iceberg_wh_")
    try:
        spark.conf.set(
            "spark.sql.catalog.odb_it", "org.apache.iceberg.spark.SparkCatalog"
        )
        spark.conf.set("spark.sql.catalog.odb_it.type", "hadoop")
        spark.conf.set("spark.sql.catalog.odb_it.warehouse", warehouse)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS odb_it.db")
        store = IcebergStore(spark, "odb_it.db")
        assert store.read("checkpoint", CHECKPOINT_SCHEMA).count() == 0
        commit_run(spark, warehouse, "r1", _metrics(spark), store=store)
        assert store.read("checkpoint", CHECKPOINT_SCHEMA).count() == 2
        commit_run(spark, warehouse, "r2", _metrics(spark), store=store)
        # appends are snapshot commits, not overwrites
        assert store.read("checkpoint", CHECKPOINT_SCHEMA).count() == 4
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)
