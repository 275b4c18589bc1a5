from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from ocr_dataset_builder_spark.session import get_spark

    s = get_spark("odb-spark-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def rows_set(df_rows, ndigits: int = 6):
    """Normalize rows (list of tuples) for order-insensitive comparison."""
    out = []
    for r in df_rows:
        norm = tuple(
            round(v, ndigits) if isinstance(v, float) else v for v in r
        )
        out.append(norm)
    return sorted(out, key=repr)


def assert_same_rows(spark_df, duck_rel, ndigits: int = 6):
    s = rows_set([tuple(r) for r in spark_df.collect()], ndigits)
    d = rows_set([tuple(r) for r in duck_rel.fetchall()], ndigits)
    assert len(s) == len(d), f"row count mismatch: spark={len(s)} duck={len(d)}"
    for i, (a, b) in enumerate(zip(s, d)):
        assert a == b, f"row {i} mismatch:\n  spark={a!r}\n  duck ={b!r}"


def file_stamps(*roots: str) -> dict[str, tuple[int, int]]:
    """Every file under ``roots`` with its (size, mtime_ns)."""
    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for name in names:
                st = os.stat(os.path.join(d, name))
                out[os.path.join(d, name)] = (st.st_size, st.st_mtime_ns)
    return out


def jobs_of(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted under a job group of
    its own once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        result = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
