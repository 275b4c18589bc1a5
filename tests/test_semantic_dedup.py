"""SemDeDup family (queries_corpus): contract properties of the
within-cluster keep rule that the SQL oracle can't express as
invariants — dominance semantics, cap behavior, stats consistency."""

from __future__ import annotations

from ocr_dataset_builder_spark import queries_corpus as qc


def _flags(spark, sf_dir):
    return qc.q_semantic_dedup(spark, sf_dir).collect()


def test_isolated_vectors_always_keep(spark, sf_dir):
    rows = _flags(spark, sf_dir)
    assert rows, "empty semantic_dedup output"
    for r in rows:
        if r["n_dup_neighbors"] == 0:
            assert r["keep"], r
            assert r["max_cos"] is None, r


def test_some_duplicates_found_and_dropped(spark, sf_dir):
    rows = _flags(spark, sf_dir)
    n_dup = sum(1 for r in rows if r["n_dup_neighbors"] > 0)
    n_drop = sum(1 for r in rows if not r["keep"])
    assert n_dup > 0, "threshold produced no dup neighborhoods at test SF"
    assert 0 < n_drop < len(rows)


def test_local_maxima_kept(spark, sf_dir):
    """A vector can only be dropped by a neighbor that strictly dominates
    it under (d2 DESC, vec_id DESC) — so within every cluster the vector
    with the maximal (d2, vec_id) among those WITH dup neighbors must be
    kept (nothing can dominate it)."""
    e, cent = qc._trained_centroids(spark, sf_dir)
    assign = {
        r["vec_id"]: (r["cent_id"], r["d2"])
        for r in qc._assign_to(e, cent, 1).select(
            "vec_id", "cent_id", "d2"
        ).collect()
    }
    by_cluster: dict[int, list] = {}
    for r in _flags(spark, sf_dir):
        if r["n_dup_neighbors"] > 0:
            cid, d2 = assign[r["vec_id"]]
            by_cluster.setdefault(cid, []).append((d2, r["vec_id"], r["keep"]))
    assert by_cluster
    for cid, members in by_cluster.items():
        top = max(members)
        assert top[2], f"cluster {cid}: maximal dup-member {top} was dropped"


def test_dropped_vector_has_dominating_neighbor_kept_or_not(spark, sf_dir):
    """Every dropped vector must actually have a dup neighbor (dominance
    requires a neighbor); no vector is dropped in isolation."""
    for r in _flags(spark, sf_dir):
        if not r["keep"]:
            assert r["n_dup_neighbors"] > 0, r
            assert r["max_cos"] is not None and r["max_cos"] >= qc._SEM_DUP_MIN


def test_cluster_cap_disables_quadratic_step(spark, sf_dir, monkeypatch):
    """With the cap below every cluster size, no pairs are expanded:
    everything keeps, n_dup_neighbors is 0 everywhere — the loud-backstop
    behavior the stats query surfaces as n_kept == n_members."""
    monkeypatch.setattr(qc, "_SEM_CLUSTER_CAP", 1)
    rows = _flags(spark, sf_dir)
    assert rows
    assert all(r["keep"] and r["n_dup_neighbors"] == 0 for r in rows)
    # over-cap members still carry the prototype verdict in the composed
    # form (computed per row from the same per-cluster aggregate)
    proto = {
        r["vec_id"]: r["keep_proto"]
        for r in qc.q_cluster_prototypes(spark, sf_dir).collect()
    }
    prep = qc.q_semantic_prep(spark, sf_dir).collect()
    assert {r["vec_id"] for r in prep} == set(proto)
    for r in prep:
        assert r["keep_dedup"] and r["keep_proto"] == proto[r["vec_id"]], r


def test_stats_consistent_with_flags(spark, sf_dir):
    flags = _flags(spark, sf_dir)
    stats = {r["cent_id"]: r for r in qc.q_semantic_dedup_stats(spark, sf_dir).collect()}
    n_total = qc._emb(spark, sf_dir).count()
    assert sum(s["n_members"] for s in stats.values()) == n_total
    per_cluster_kept: dict[int, int] = {}
    per_cluster_n: dict[int, int] = {}
    for r in flags:
        per_cluster_n[r["cent_id"]] = per_cluster_n.get(r["cent_id"], 0) + 1
        if r["keep"]:
            per_cluster_kept[r["cent_id"]] = (
                per_cluster_kept.get(r["cent_id"], 0) + 1
            )
    for cid, s in stats.items():
        assert s["n_members"] == per_cluster_n[cid]
        assert s["n_kept"] == per_cluster_kept.get(cid, 0)
        assert s["n_dropped"] == s["n_members"] - s["n_kept"]
        assert 0 <= s["drop_ppm"] <= 1_000_000


def test_no_window_over_cluster_key(spark, sf_dir):
    """Skew gate: the per-vector verdict must not rank occurrences with a
    window partitioned by the cluster key (the keep rule is a partial agg
    + join). Windows partitioned by vec_id (the k-NN rank inside
    _assign_to — bounded by k, never skewable) are fine."""
    import re

    plan = qc.q_semantic_dedup(spark, sf_dir)._jdf.queryExecution().toString()
    for line in plan.splitlines():
        if "windowspecdefinition(" not in line:
            continue
        # physical Window node format: Window [exprs], [partCols], [ordCols]
        m = re.search(r"\], \[([^\]]*)\], \[", line)
        assert m, f"unparseable Window line:\n{line}"
        assert "cent_id#" not in m.group(1), (
            f"window partitioned by cent_id:\n{line}"
        )


def test_prototype_prune_rate_meaningful(spark, sf_dir):
    rows = qc.q_cluster_prototypes(spark, sf_dir).collect()
    assert rows
    n_pruned = sum(1 for r in rows if not r["keep_proto"])
    # the mean-relative rule must bite, but never consume a majority
    assert 0 < n_pruned < len(rows) / 2
    for r in rows:
        # verdict consistent with the reported numbers (d2 rounded to 4dp
        # in the output, so allow that rounding at the boundary)
        lhs, rhs = r["d2"], qc._PROTO_ALPHA * r["mean_d2"]
        if r["keep_proto"]:
            assert lhs > rhs - 1e-3, r
        else:
            assert lhs <= rhs + 1e-3, r


def test_semantic_prep_composes_both_flag_families(spark, sf_dir):
    prep = {r["vec_id"]: r for r in qc.q_semantic_prep(spark, sf_dir).collect()}
    dedup = {r["vec_id"]: r["keep"] for r in _flags(spark, sf_dir)}
    proto = {
        r["vec_id"]: r["keep_proto"]
        for r in qc.q_cluster_prototypes(spark, sf_dir).collect()
    }
    assert set(prep) == set(dedup) == set(proto)
    for vid, r in prep.items():
        assert r["keep_dedup"] == dedup[vid], vid
        assert r["keep_proto"] == proto[vid], vid
        assert r["keep"] == (r["keep_dedup"] and r["keep_proto"]), vid


def test_no_window_over_cluster_key_in_prune_family(spark, sf_dir):
    import re

    for q in (qc.q_cluster_prototypes, qc.q_semantic_prep):
        plan = q(spark, sf_dir)._jdf.queryExecution().toString()
        for line in plan.splitlines():
            if "windowspecdefinition(" not in line:
                continue
            m = re.search(r"\], \[([^\]]*)\], \[", line)
            assert m, f"unparseable Window line:\n{line}"
            assert "cent_id#" not in m.group(1), (
                f"{q.__name__}: window partitioned by cent_id:\n{line}"
            )


def test_degenerate_all_identical_embeddings(spark):
    """The semantic analogue of the degenerate-corpus pins: every vector
    identical -> every within-cluster pair has cos 1.0 and equal d2, so
    dominance falls through to vec_id and EXACTLY ONE vector survives
    per cluster (the max vec_id). This is the hot-cluster shape at its
    worst; the keep rule must stay a partial agg + join, not a ranking."""
    from pyspark.sql import functions as F

    n = 200
    e = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.array([F.lit(float(x)) for x in (1.0, 2.0, 3.0, 4.0)]).alias(
                "v"
            ),
        )
    )
    # two clusters by vec_id parity (identical vectors -> assignment is
    # arbitrary; fix it explicitly to exercise >1 cluster)
    assign = e.select(
        "vec_id", (F.col("vec_id") % 2).alias("cent_id"), F.lit(0.0).alias("d2")
    )
    rows = qc._semantic_flags_from(assign, e).collect()
    assert len(rows) == n
    kept = [r["vec_id"] for r in rows if r["keep"]]
    assert sorted(kept) == [n - 2, n - 1], kept  # max vec_id per parity class
    for r in rows:
        assert r["n_dup_neighbors"] == n // 2 - 1, r
        assert r["max_cos"] == 1.0, r


def test_centroids_knob_marginal_equals_pure(spark, sf_dir):
    """Trainer-sharing knob (r5 verdict #2): every semantic-family query
    run over a HELD trained-centroid relation must equal its pure form
    bit-for-bit — the knob changes where the trainer runs, never what
    any query computes."""
    cent = qc._trained_centroids(spark, sf_dir)[1].persist()
    cent.count()
    try:
        for fn in (
            qc.q_semantic_dedup,
            qc.q_semantic_dedup_stats,
            qc.q_cluster_prototypes,
            qc.q_semantic_prep,
        ):
            pure = sorted(map(tuple, fn(spark, sf_dir).collect()))
            held = sorted(map(tuple, fn(spark, sf_dir, centroids=cent).collect()))
            assert pure == held, fn.__name__
    finally:
        cent.unpersist()


def test_incremental_centroids_knob_matches_pure(spark, sf_dir):
    """q_semantic_dedup_incremental over a HELD store-trained centroid
    relation == the pure form (which trains on the store in-plan)."""
    from pyspark.sql import functions as F

    store = qc._vectors(spark, sf_dir).where(
        F.col("vec_id") % qc._SEM_NEW_MOD < 8
    )
    cent = qc._trained_centroids(spark, sf_dir, e=store)[1].persist()
    cent.count()
    try:
        pure = sorted(
            map(tuple, qc.q_semantic_dedup_incremental(spark, sf_dir).collect())
        )
        held = sorted(
            map(
                tuple,
                qc.q_semantic_dedup_incremental(
                    spark, sf_dir, centroids=cent
                ).collect(),
            )
        )
        assert pure == held
    finally:
        cent.unpersist()


def test_incremental_first_batch_no_store_dups(spark, sf_dir):
    """With an EMPTY kept-store the incremental verdict degenerates to
    plain within-batch SemDeDup (the first-day case)."""
    from pyspark.sql import functions as F

    e = qc._vectors(spark, sf_dir)
    new = e.where(F.col("vec_id") % qc._SEM_NEW_MOD >= 8)
    cent = qc._trained_centroids(spark, sf_dir, e=new)[1]
    empty = new.where(F.lit(False)).select(
        "vec_id", F.lit(0).cast("bigint").alias("cent_id"), "v"
    )
    got = qc.semantic_incremental_verdicts(new, empty, cent).collect()
    assert all(r["n_store_dups"] == 0 and not r["store_dup"] for r in got)
    flags = {
        r["vec_id"]: r["keep"]
        for r in qc._semantic_flags_from(
            qc._assign_to(new, cent, 1).select("vec_id", "cent_id", "d2"), new
        ).collect()
    }
    assert {r["vec_id"]: r["keep"] for r in got} == flags


def test_flags_knob_marginal_equals_pure(spark, sf_dir):
    """stats over a held per-vector verdict relation == pure stats."""
    flags = qc.q_semantic_dedup(spark, sf_dir).persist()
    flags.count()
    try:
        pure = sorted(map(tuple, qc.q_semantic_dedup_stats(spark, sf_dir).collect()))
        held = sorted(
            map(
                tuple,
                qc.q_semantic_dedup_stats(spark, sf_dir, flags=flags).collect(),
            )
        )
        assert pure == held
    finally:
        flags.unpersist()


def test_incremental_stats_verdicts_knob_matches_pure(spark, sf_dir):
    """incremental stats over a held per-vector verdict relation ==
    the pure form (which re-derives the verdicts in-plan)."""
    verdicts = qc.q_semantic_dedup_incremental(spark, sf_dir).persist()
    verdicts.count()
    try:
        pure = sorted(
            map(
                tuple,
                qc.q_semantic_dedup_incremental_stats(spark, sf_dir).collect(),
            )
        )
        held = sorted(
            map(
                tuple,
                qc.q_semantic_dedup_incremental_stats(
                    spark, sf_dir, verdicts=verdicts
                ).collect(),
            )
        )
        assert pure == held
    finally:
        verdicts.unpersist()
