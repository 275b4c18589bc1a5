"""k-means trainer (queries_corpus): the composed iterative algorithm on
top of the oracle-verified Lloyd step — convergence behavior, inertia
monotonicity, and fixed-count/tolerance-path agreement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_dataset_builder_spark import queries_corpus as qc


def _inertia(e, cent):
    """Total inertia of the 1-NN assignment against a centroid set."""
    a = qc._assign_to(e, cent, 1)
    return a.agg(F.sum("d2").alias("s")).collect()[0]["s"]


def test_inertia_non_increasing_over_iterations(spark, sf_dir):
    e = qc._vectors(spark, sf_dir)
    seeds = qc._seed_centroids(e)
    inertias = [_inertia(e, seeds)]
    cent = seeds
    for _ in range(3):
        assign = qc._assign_to(e, cent, 1, carry_v=True).select("cent_id", "v")
        cent = qc._centroid_means(assign).localCheckpoint()
        inertias.append(_inertia(e, cent))
    # Lloyd's algorithm is monotone up to the 6-dp centroid rounding;
    # allow that rounding's worth of slack per step
    for prev, cur in zip(inertias, inertias[1:]):
        assert cur <= prev * (1 + 1e-6), inertias


def test_converged_trainer_stops_and_matches_fixed_path(spark, sf_dir):
    cent, n_iters, history = qc.train_kmeans_converged(
        spark, sf_dir, tol=1e-9, max_iters=qc._KM_MAX_ITERS
    )
    assert 1 <= n_iters <= qc._KM_MAX_ITERS
    assert history[-1] <= 1e-9
    # movement history trends down (tolerate small non-monotone wiggles
    # from the per-iteration rounding, but the last must be the floor)
    assert history[-1] <= history[0]

    # if it converged within the fixed count, the fixed-count query's
    # final assignment equals the converged assignment
    if n_iters <= qc._KM_ITERS:
        e = qc._vectors(spark, sf_dir)
        fixed = {
            (r["vec_id"], r["cent_id"])
            for r in qc.q_kmeans_train(spark, sf_dir).collect()
        }
        conv = {
            (r["vec_id"], r["cent_id"])
            for r in qc._assign_to(e, cent, 1).select("vec_id", "cent_id").collect()
        }
        assert fixed == conv


def test_trainer_loud_cap(spark, sf_dir):
    with pytest.raises(RuntimeError, match="did not converge"):
        qc.train_kmeans_converged(spark, sf_dir, tol=0.0, max_iters=1)


def test_iters_backstop_raises(spark, sf_dir):
    with pytest.raises(ValueError, match="backstop"):
        qc._trained_centroids(spark, sf_dir, iters=qc._KM_MAX_ITERS + 1)
