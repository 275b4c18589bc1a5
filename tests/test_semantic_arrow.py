"""The Arrow/GEMM backends for the two quadratic cosine kernels —
SemDeDup's within-cluster member cosine and the LSH pair verification —
pinned verdict-identical to the oracle-exact interpreted folds.

Round-6 harness finding these answer: at 108k dim-64 vectors the
interpreted ``zip_with``/``aggregate`` folds are allocation-bound
(semantic 0.65 scaling efficiency 8->16 cores, LSH 0.31 and absolutely
slower at more cores). The GEMM kernels keep the same plan shape
(cluster/bucket grouping, caps) but run the n^2*dim multiplies in BLAS.
Pins follow tests/test_kmeans_arrow.py's discipline: full-fixture
verdict identity plus crafted exact-tie cases in integer arithmetic
where both backends must agree bit-for-bit."""

import os

import pytest

from ocr_dataset_builder_spark import queries_corpus as qc

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def sf_dir():
    return SF_DIR


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_semantic_dedup_arrow_matches_fold(spark, sf_dir):
    fold = _rows(qc.q_semantic_dedup(spark, sf_dir))
    arrow = _rows(qc.q_semantic_dedup(spark, sf_dir, backend="arrow"))
    assert len(fold) > 0
    assert fold == arrow


def test_semantic_prep_arrow_matches_fold(spark, sf_dir):
    fold = _rows(qc.q_semantic_prep(spark, sf_dir))
    arrow = _rows(qc.q_semantic_prep(spark, sf_dir, backend="arrow"))
    assert fold == arrow


def test_lsh_near_dup_arrow_matches_fold(spark, sf_dir):
    fold = _rows(qc.q_embedding_near_dup_lsh(spark, sf_dir))
    arrow = _rows(
        qc.q_embedding_near_dup_lsh(spark, sf_dir, backend="arrow")
    )
    assert len(fold) > 0  # the fixture plants near-dup pairs
    assert fold == arrow


def test_member_flags_exact_ties(spark):
    """Integer-exact cluster where the dominance tie-break (b_d2 ==
    d2 -> larger vec_id dominates) decides every verdict. Exact
    duplicates give cos == 1.0 and equal d2 in BOTH kernels bit-for-bit
    (integer doubles, identical rows), so any tie-break divergence
    would flip a keep flag."""
    # cluster 7: vectors 1,2,3 identical (cos 1.0, equal d2) -> only the
    # LARGEST vec_id survives (dominated = exists dup with d2 desc,
    # vec_id desc strictly ahead). vector 9 is orthogonal -> kept, no
    # dup neighbors. cluster 8: singleton -> kept.
    e = spark.createDataFrame(
        [
            (1, [3.0, 4.0]),
            (2, [3.0, 4.0]),
            (3, [3.0, 4.0]),
            (9, [-4.0, 3.0]),
            (11, [1.0, 0.0]),
        ],
        "vec_id bigint, v array<double>",
    )
    assign = spark.createDataFrame(
        [(1, 7, 25.0), (2, 7, 25.0), (3, 7, 25.0), (9, 7, 25.0), (11, 8, 1.0)],
        "vec_id bigint, cent_id bigint, d2 double",
    )
    fold = {
        r["vec_id"]: (r["n_dup_neighbors"], r["max_cos"], r["keep"])
        for r in qc._semantic_flags_from(assign, e).collect()
    }
    arrow = {
        r["vec_id"]: (r["n_dup_neighbors"], r["max_cos"], r["keep"])
        for r in qc._semantic_flags_from(assign, e, backend="arrow").collect()
    }
    expect = {
        1: (2, 1.0, False),
        2: (2, 1.0, False),
        3: (2, 1.0, True),  # largest vec_id among the equal-d2 dups
        9: (0, None, True),
        11: (0, None, True),
    }
    assert fold == expect
    assert arrow == expect


def test_member_flags_d2_dominance(spark):
    """Unequal d2: among duplicate neighbors the vector FARTHEST from
    its centroid survives regardless of vec_id order."""
    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id bigint, v array<double>",
    )
    # vec 1 farthest from centroid -> keeps; 2 and 3 dominated by 1
    assign = spark.createDataFrame(
        [(1, 4, 9.0), (2, 4, 4.0), (3, 4, 1.0)],
        "vec_id bigint, cent_id bigint, d2 double",
    )
    for backend in ("fold", "arrow"):
        got = {
            r["vec_id"]: r["keep"]
            for r in qc._semantic_flags_from(
                assign, e, backend=backend
            ).collect()
        }
        assert got == {1: True, 2: False, 3: False}, backend


def test_member_flags_arrow_batch_boundary(spark):
    """Clusters that span Arrow batch boundaries must be carried and
    reassembled by the grouped mapInArrow pass, never split (a split
    cluster would undercount dup neighbors)."""
    # 3 clusters x 40 identical vectors each, batch size forced tiny so
    # every cluster crosses several RecordBatch boundaries
    rows_e = [(c * 100 + i, [float(c + 1), 0.0]) for c in range(3) for i in range(40)]
    rows_a = [(c * 100 + i, c, 0.0) for c in range(3) for i in range(40)]
    e = spark.createDataFrame(rows_e, "vec_id bigint, v array<double>")
    assign = spark.createDataFrame(
        rows_a, "vec_id bigint, cent_id bigint, d2 double"
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = qc._semantic_flags_from(assign, e, backend="arrow").collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(got) == 120
    # every member of a 40-duplicate cluster has 39 dup neighbors, and
    # exactly the max-vec_id member of each cluster survives (equal d2)
    assert all(r["n_dup_neighbors"] == 39 for r in got)
    kept = sorted(r["vec_id"] for r in got if r["keep"])
    assert kept == [39, 139, 239]


def test_lsh_pairs_arrow_exact_values(spark):
    """Crafted buckets with integer vectors: exact expected pair set,
    singleton bucket dropped, pairs ordered a_id < b_id."""
    ev = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 5),
            (2, [2.0, 0.0], 5),  # cos(1,2) = 1.0
            (3, [0.0, 1.0], 5),  # orthogonal to 1,2
            (4, [1.0, 1.0], 9),  # singleton bucket -> dropped
        ],
        "vec_id bigint, v array<double>, bucket int",
    )
    got = _rows(qc._near_dup_pairs_arrow(ev))
    assert got == [(1, 2, 1.0)]


def test_zero_norm_raises_both_backends(spark):
    """The embeddings contract excludes zero vectors; both kernels fail
    LOUDLY on one rather than silently diverging (the fold hits Spark 4's
    ANSI DIVIDE_BY_ZERO; the GEMM kernel raises its own guard — a silent
    NaN in numpy compares False while Spark orders NaN above everything,
    so quiet handling could flip verdicts between backends)."""
    import pytest as _pt

    e = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id bigint, v array<double>",
    )
    assign = spark.createDataFrame(
        [(1, 5, 1.0), (2, 5, 2.0), (3, 5, 3.0)],
        "vec_id bigint, cent_id bigint, d2 double",
    )
    for backend in ("fold", "arrow"):
        with _pt.raises(Exception, match="DIVIDE_BY_ZERO|zero-norm"):
            qc._semantic_flags_from(assign, e, backend=backend).collect()
    # the other two grouped GEMM kernels share the guard: a zero vector
    # in an LSH bucket, and one on either side of a store compare
    ev = spark.createDataFrame(
        [(1, [0.0, 0.0], 5), (2, [1.0, 0.0], 5), (3, [1.0, 0.0], 5)],
        "vec_id bigint, v array<double>, bucket int",
    )
    cv = "vec_id bigint, cent_id bigint, v array<double>"
    zero = spark.createDataFrame([(11, 1, [0.0, 0.0])], cv)
    unit = spark.createDataFrame([(12, 1, [1.0, 0.0])], cv)
    for got in (
        qc._near_dup_pairs_arrow(ev),
        qc._store_compare_arrow(zero, unit),
        qc._store_compare_arrow(unit, zero),
    ):
        with _pt.raises(Exception, match="zero-norm"):
            got.collect()


def test_incremental_arrow_matches_fold(spark, sf_dir):
    fold = _rows(qc.q_semantic_dedup_incremental(spark, sf_dir))
    arrow = _rows(
        qc.q_semantic_dedup_incremental(spark, sf_dir, backend="arrow")
    )
    assert len(fold) > 0
    assert fold == arrow


def test_store_compare_arrow_exact(spark):
    """Crafted store/batch: exact n_store_dups, clusters with no kept
    side emit nothing (the fold's inner join), kept-only clusters too."""
    from pyspark.sql import functions as F

    # cluster 1: kept = two copies of [1,0]; new 101 matches both, new
    # 102 orthogonal. cluster 2: no kept members -> new 201 emits nothing.
    small_k = spark.createDataFrame(
        [(11, 1, [1.0, 0.0]), (12, 1, [2.0, 0.0])],
        "vec_id bigint, cent_id bigint, v array<double>",
    )
    nv = spark.createDataFrame(
        [(101, 1, [3.0, 0.0]), (102, 1, [0.0, 1.0]), (201, 2, [1.0, 1.0])],
        "vec_id bigint, cent_id bigint, v array<double>",
    )
    got = _rows(qc._store_compare_arrow(nv, small_k))
    assert got == [(101, 2)]


def test_store_compare_arrow_batch_boundary(spark):
    """A cluster whose kept+new rows cross Arrow batch boundaries must
    be reassembled before the split at is_new (a truncated kept side
    would undercount store dups)."""
    small_k = spark.createDataFrame(
        [(i, 1, [1.0, 0.0]) for i in range(30)],
        "vec_id bigint, cent_id bigint, v array<double>",
    )
    nv = spark.createDataFrame(
        [(100 + i, 1, [2.0, 0.0]) for i in range(30)],
        "vec_id bigint, cent_id bigint, v array<double>",
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = _rows(qc._store_compare_arrow(nv, small_k))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == [(100 + i, 30) for i in range(30)]


def test_lsh_bucket_arrow_matches_fold(spark, sf_dir):
    """The hyperplane bucketing's GEMM form (one X @ W.T per batch,
    sign-bit pack) assigns every fixture vector to the same bucket as
    the oracle-exact interpreted fold. Once pair verification went
    GEMM, this 8-plane fold (~512 interpreted ops/vector) became the
    arrow LSH path's dominant remaining cost."""
    from pyspark.sql import functions as F

    fold = {
        r["vec_id"]: r["bucket"]
        for r in qc.q_ann_lsh_bucket(spark, sf_dir).collect()
    }
    arrow = {
        r["vec_id"]: r["bucket"]
        for r in qc.q_ann_lsh_bucket(
            spark, sf_dir, backend="arrow"
        ).collect()
    }
    assert len(fold) > 0
    assert fold == arrow
    # the arrow form also carries the vectors through (the composition
    # reads the embedding relation once, no bucket join-back)
    e = qc._emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    carried = qc._lsh_bucket_arrow(e)
    assert set(carried.columns) == {"vec_id", "v", "bucket"}


def test_lsh_bucket_arrow_zero_vector_sign_boundary(spark):
    """A zero vector projects to EXACTLY 0.0 on every plane in both
    summation orders — `> 0` is false in both, bucket 0. This pins the
    sign boundary where fold/arrow could only diverge by an ulp on
    nonzero near-boundary projections (why registered queries keep the
    fold)."""
    e = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id bigint, v array<double>",
    )
    got = {r["vec_id"]: r["bucket"] for r in qc._lsh_bucket_arrow(e).collect()}
    assert got[1] == 0
    # vector 2's bucket must match the fold computed on the same rows
    from pyspark.sql import functions as F

    def plane_sum(p):
        idx = F.sequence(F.lit(0), F.size("v") - 1)
        terms = F.transform(
            idx,
            lambda i: ((F.lit(p * 1103515245).cast("bigint")
                        + i.cast("bigint") * 12345) % 2001 - 1000).cast("double")
            * F.element_at("v", i.cast("int") + 1),
        )
        return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)

    bucket = sum(
        (
            F.when(plane_sum(p) > 0, F.lit(1 << p)).otherwise(F.lit(0))
            for p in range(qc._N_PLANES)
        ),
        F.lit(0),
    )
    fold = {
        r["vec_id"]: r["b"]
        for r in e.select("vec_id", bucket.cast("int").alias("b")).collect()
    }
    assert got == fold
