"""Substring-level dedup (queries_substr): hand-built corpora with known
repeat structure pin the span semantics — cross-doc repeats, within-doc
repeats, overlap-safe interval union in the removal stats — and the
DuckDB oracle is exercised on the same fixture (the driver only runs it
at the registered sf dirs)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from ocr_dataset_builder_spark import queries_substr as qs
from conftest import rows_set

# token alphabets are disjoint per scenario so no accidental window
# collisions across docs
_DOCS = [
    # A/B share the 10-token run a0..a9 (W=8 -> 3 shared windows each)
    (1, " ".join(f"a{i}" for i in range(10))),
    (2, "zz " + " ".join(f"a{i}" for i in range(10))),
    # C repeats an 8-token phrase twice WITHIN the doc (separated by a
    # unique token, so the two occurrences are separate islands)
    (3, " ".join(f"c{i}" for i in range(8)) + " cx " + " ".join(f"c{i}" for i in range(8))),
    # D unique: no spans
    (4, " ".join(f"d{i}" for i in range(20))),
    # E/F/G: E's windows at start 0 and start 2 are duplicated (via F
    # resp. G) but start 1 is not -> two islands whose token coverage
    # OVERLAPS ([0,7] and [2,9]) -> union = 10 tokens, not 16
    (5, " ".join(f"e{i}" for i in range(10))),
    (6, " ".join(f"e{i}" for i in range(8))),
    (7, " ".join(f"e{i}" for i in range(2, 10))),
]


@pytest.fixture(scope="module")
def substr_dir(spark):
    tmp = tempfile.mkdtemp(prefix="odb_substr_")
    rows = [
        (doc_id, text, "en", "web", len(text)) for doc_id, text in _DOCS
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_substr_dup_spans_semantics(spark, substr_dir):
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"]): (
            r["n_windows"],
            r["span_tokens"],
        )
        for r in qs.q_substr_dup_spans(spark, substr_dir).collect()
    }
    # A: one maximal span covering all 10 tokens (3 consecutive windows)
    assert spans[(1, 0, 9)] == (3, 10)
    # B: same run shifted by the zz prefix
    assert spans[(2, 1, 10)] == (3, 10)
    # C: two islands, one per occurrence of the repeated phrase
    assert spans[(3, 0, 7)] == (1, 8)
    assert spans[(3, 9, 16)] == (1, 8)
    # E: two islands with overlapping coverage (starts 0 and 2)
    assert spans[(5, 0, 7)] == (1, 8)
    assert spans[(5, 2, 9)] == (1, 8)
    # F and G each consist of exactly one duplicated window
    assert spans[(6, 0, 7)] == (1, 8)
    assert spans[(7, 0, 7)] == (1, 8)
    # D has no spans; no other spans exist
    assert len(spans) == 8


def test_dedup_substrings_interval_union(spark, substr_dir):
    stats = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["n_spans"], r["frac_dup_ppm"])
        for r in qs.q_dedup_substrings(spark, substr_dir).collect()
    }
    # E: spans [0,7]+[2,9] must merge to 10 covered tokens, NOT 16
    assert stats[5] == (10, 10, 2, 1000000)
    # C: disjoint islands sum (8+8 of 17 tokens)
    assert stats[3] == (17, 16, 2, 941176)
    # D: zero coverage but still present in the report
    assert stats[4] == (20, 0, 0, 0)
    assert stats[1] == (10, 10, 1, 1000000)
    assert len(stats) == len(_DOCS)


def test_oracle_parity_on_fixture(spark, substr_dir):
    """The DuckDB oracle reproduces the Spark result on this fixture —
    the driver only compares them at the registered sf dirs, which do
    not exercise the overlap-merge edge deliberately built in here."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(substr_dir, 'documents.parquet')}/*.parquet'"
    )
    for fn, sql in (
        (qs.q_substr_dup_spans, qs.SQL_SUBSTR_DUP_SPANS),
        (qs.q_dedup_substrings, qs.SQL_DEDUP_SUBSTRINGS),
    ):
        sdf = fn(spark, substr_dir)
        cols = sorted(sdf.columns)
        spark_rows = rows_set(
            [tuple(r[c] for c in cols) for r in sdf.collect()]
        )
        res = con.execute(sql).fetchdf()
        assert sorted(res.columns.tolist()) == cols
        duck_rows = rows_set(
            [tuple(r) for r in res[cols].itertuples(index=False, name=None)]
        )
        assert spark_rows == duck_rows, f"oracle mismatch for {fn.__name__}"


def test_posting_cap_equality_below_cap(spark, sf_dir):
    """q_ngram_jaccard's posting-list cap is a pure guard at test scale:
    capped and uncapped results are identical (max posting size << cap)."""
    from ocr_dataset_builder_spark import queries_corpus as qc

    capped = rows_set(
        [tuple(r) for r in qc.q_ngram_jaccard(spark, sf_dir).collect()]
    )
    orig_cap = qc._POSTING_CAP
    try:
        qc._POSTING_CAP = 10**9
        uncapped = rows_set(
            [tuple(r) for r in qc.q_ngram_jaccard(spark, sf_dir).collect()]
        )
    finally:
        qc._POSTING_CAP = orig_cap
    assert capped == uncapped


def test_keep_first_removal_semantics(spark, substr_dir):
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"]): (
            r["n_windows"],
            r["span_tokens"],
        )
        for r in qs.q_substr_removal_spans(spark, substr_dir).collect()
    }
    # A (doc 1) holds every canonical occurrence -> nothing to remove;
    # B (doc 2) loses its whole shared run
    assert spans[(2, 1, 10)] == (3, 10)
    # C keeps the first in-doc occurrence, removes the second
    assert spans[(3, 9, 16)] == (1, 8)
    # E (doc 5) is canonical for both windows; F and G lose theirs
    assert spans[(6, 0, 7)] == (1, 8)
    assert spans[(7, 0, 7)] == (1, 8)
    assert len(spans) == 4

    stats = {
        r["doc_id"]: (r["removed_tokens"], r["removed_ppm"])
        for r in qs.q_dedup_substr_keep_first(spark, substr_dir).collect()
    }
    assert stats[1] == (0, 0)
    assert stats[2] == (10, 909091)
    assert stats[6] == (8, 1000000)


def test_keep_first_retains_one_occurrence_per_fingerprint(spark, sf_dir):
    """Corpus-wide invariant: removal windows = dup windows minus one
    survivor per duplicated fingerprint, and removal starts are a strict
    subset of dup starts."""
    from pyspark.sql import functions as F

    dup = qs._dup_windows(spark, sf_dir).cache()
    removal = qs._removal_starts(spark, sf_dir)
    n_dup = dup.count()
    n_fps = dup.select("fp").distinct().count()
    assert removal.count() == n_dup - n_fps
    extra = removal.join(
        dup.select("doc_id", "start0"), ["doc_id", "start0"], "left_anti"
    )
    assert extra.count() == 0
    dup.unpersist()


def test_corpus_prep_substr_composition(spark, sf_dir):
    """The substring-upgraded corpus_prep is the doc-level corpus_prep
    with per-doc token counts shrunk by keep-first removal: same or
    fewer docs (emptied docs leave), offsets contiguous over the
    post-removal counts, and removal never grows a doc."""
    from ocr_dataset_builder_spark.queries_quality import q_corpus_prep

    v1 = {r["doc_id"] for r in q_corpus_prep(spark, sf_dir).collect()}
    rows = qs.q_corpus_prep_substr(spark, sf_dir).collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))
    assert set(ids) <= v1
    assert all(r["n_tok"] > 0 for r in rows)
    assert all(r["removed_tokens"] >= 0 for r in rows)
    # offsets are an exact prefix sum over doc_id order
    off = 0
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        assert r["start_off"] == off
        off += r["n_tok"]


def test_fingerprint_paths_identical_spans(spark, sf_dir):
    """md5 (portable, oracle-backed) and xxhash64 (production fast path)
    fingerprints produce identical span output when collision-free."""
    md5_spans = rows_set(
        [tuple(r) for r in qs.q_substr_dup_spans(spark, sf_dir).collect()]
    )
    xx_spans = rows_set(
        [
            tuple(r)
            for r in qs.q_substr_dup_spans(
                spark, sf_dir, fingerprint="xxhash64"
            ).collect()
        ]
    )
    assert md5_spans == xx_spans


def test_window_width_parameter(spark, substr_dir):
    """W is a real parameter, not a baked constant: at w=10 the A/B
    shared 10-token run is exactly ONE window, and C's 8-token repeats
    fall below the width and vanish — and the SPANS carry the w=10
    arithmetic (span_end/span_tokens), not the default's."""
    dup = qs._dup_windows(spark, substr_dir, w=10)
    starts = {(r["doc_id"], r["start0"]) for r in dup.collect()}
    assert (1, 0) in starts and (2, 1) in starts
    assert not any(d == 3 for d, _ in starts)  # 8-token repeat < W

    spans = {
        (r["doc_id"], r["span_start"], r["span_end"]): (
            r["n_windows"],
            r["span_tokens"],
        )
        for r in qs.q_substr_dup_spans(spark, substr_dir, w=10).collect()
    }
    assert spans[(1, 0, 9)] == (1, 10)
    assert spans[(2, 1, 10)] == (1, 10)


def _brute_force_spans(docs: dict, w: int):
    """Independent O(n^2)-naive Python oracle: all dup spans and
    keep-first removal spans over {doc_id: [tokens]}."""
    from collections import Counter

    wins = {
        did: [" ".join(t[i : i + w]) for i in range(len(t) - w + 1)]
        for did, t in docs.items()
    }
    cnt = Counter(g for ws in wins.values() for g in ws)
    first = {}
    for did in sorted(wins):
        for i, g in enumerate(wins[did]):
            first.setdefault(g, (did, i))

    def islands(starts):
        out, run = [], []
        for s in starts:
            if run and s == run[-1] + 1:
                run.append(s)
            else:
                if run:
                    out.append(run)
                run = [s]
        if run:
            out.append(run)
        return [
            (r[0], r[-1] + w - 1, len(r), r[-1] + w - r[0]) for r in out
        ]

    dup_spans, removal_spans = set(), set()
    kept_text = {}
    for did, ws in wins.items():
        dup = [i for i, g in enumerate(ws) if cnt[g] >= 2]
        rem = [i for i in dup if first[ws[i]] != (did, i)]
        for sp in islands(dup):
            dup_spans.add((did,) + sp)
        removed_pos = set()
        for sp in islands(rem):
            removal_spans.add((did,) + sp)
            removed_pos.update(range(sp[0], sp[1] + 1))
        toks = docs[did]
        kept_text[did] = " ".join(
            t for i, t in enumerate(toks) if i not in removed_pos
        )
    return dup_spans, removal_spans, kept_text


def test_substr_spans_match_brute_force_randomized(spark):
    """Five seeded random corpora (small alphabet -> dense repeats):
    the distributed span pipeline must agree exactly with a naive
    single-machine recomputation — the suffix-array-replacement claim,
    checked against an implementation that shares no code with it."""
    import random

    for seed in range(5):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        docs = {
            did: [rng.choice(vocab) for _ in range(rng.randint(9, 40))]
            for did in range(1, 31)
        }
        tmp = tempfile.mkdtemp(prefix=f"odb_prop_{seed}_")
        try:
            rows = [
                (did, " ".join(toks), "en", "web", 0)
                for did, toks in docs.items()
            ]
            spark.createDataFrame(
                rows,
                "doc_id bigint, text string, lang string, source string, n_chars bigint",
            ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
            exp_dup, exp_rem, exp_kept = _brute_force_spans(docs, qs._SUBSTR_W)
            got_dup = {
                (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"], r["span_tokens"])
                for r in qs.q_substr_dup_spans(spark, tmp).collect()
            }
            got_rem = {
                (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"], r["span_tokens"])
                for r in qs.q_substr_removal_spans(spark, tmp).collect()
            }
            assert got_dup == exp_dup, f"seed {seed}: dup spans diverge"
            assert got_rem == exp_rem, f"seed {seed}: removal spans diverge"
            got_kept = {
                r["doc_id"]: r["kept_text"]
                for r in qs.q_dedup_substr_apply(spark, tmp).collect()
            }
            assert got_kept == exp_kept, f"seed {seed}: apply text diverges"
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def test_keep_first_plan_has_no_window(spark, sf_dir):
    """Skew gate (round-4 verdict #1): the keep-first ranking must be a
    min-struct partial agg + join, never a row_number window over the
    fingerprint — a window pins every occurrence of a hot boilerplate
    fingerprint on one task's sort, and AQE skew-splitting only applies
    to joins. The removal-starts subplans must contain NO Window node at
    all (the doc_id windows belong to the downstream span/coverage
    stages, not here)."""
    from pyspark.sql import functions as F

    plans = [
        qs._removal_starts(spark, sf_dir),
        qs._incremental_removal_starts(
            qs._windows(spark, sf_dir).where(F.col("doc_id") % 10 >= 8),
            qs._windows(spark, sf_dir).where(F.col("doc_id") % 10 < 8),
        ),
        qs.q_paragraph_dedup(spark, sf_dir),
    ]
    for df in plans:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan
        # the canonical pick must be a real partial agg (map-side combine)
        assert "HashAggregate" in plan or "SortAggregate" in plan, plan


def test_dedup_substr_apply_token_accounting(spark, substr_dir, sf_dir):
    """The apply step's kept_text re-splits to exactly n_kept tokens,
    and n_kept agrees with the keep-first report's removed_tokens
    (kept = total - removed) on both the hand-built fixture and the
    synthetic corpus."""
    for d in (substr_dir, sf_dir):
        removed = {
            r["doc_id"]: r["removed_tokens"]
            for r in qs.q_dedup_substr_keep_first(spark, d).collect()
        }
        rows = qs.q_dedup_substr_apply(spark, d).collect()
        assert len(rows) == len(removed)
        for r in rows:
            n_split = len(r["kept_text"].split(" ")) if r["kept_text"] else 0
            assert n_split == r["n_kept"], r
            assert r["n_kept"] == r["n_tokens"] - removed[r["doc_id"]], r


def test_dedup_substr_apply_fixture_text(spark, substr_dir):
    """Exact post-removal text on the hand-built corpus: doc 2 loses its
    whole shared run (keeps only the 'zz' prefix), doc 3 keeps the first
    in-doc occurrence plus the separator, doc 4 is untouched."""
    got = {
        r["doc_id"]: r["kept_text"]
        for r in qs.q_dedup_substr_apply(spark, substr_dir).collect()
    }
    assert got[1] == " ".join(f"a{i}" for i in range(10))  # canonical: intact
    assert got[2] == "zz"
    assert got[3] == " ".join(f"c{i}" for i in range(8)) + " cx"
    assert got[4] == " ".join(f"d{i}" for i in range(20))
    assert got[6] == ""  # fully removed (E owns the canonical window)


def test_corpus_prep_substr_emit_text(spark, sf_dir):
    """emit_text=True carries the ship-step text per survivor without
    changing the report columns' values; kept_text re-splits to n_tok."""
    pure = {
        r["doc_id"]: (r["n_tok"], r["start_off"], r["removed_tokens"])
        for r in qs.q_corpus_prep_substr(spark, sf_dir).collect()
    }
    rows = qs.q_corpus_prep_substr(spark, sf_dir, emit_text=True).collect()
    assert {
        r["doc_id"]: (r["n_tok"], r["start_off"], r["removed_tokens"])
        for r in rows
    } == pure
    for r in rows:
        assert len(r["kept_text"].split(" ")) == r["n_tok"], r


def test_substr_dup_rate_composed_equals_standalone(spark, sf_dir):
    """The rollup over an externally supplied per-doc report equals the
    pure standalone form."""
    per_doc = qs.q_dedup_substrings(spark, sf_dir)
    composed = sorted(
        map(tuple, qs.q_substr_dup_rate(spark, sf_dir, per_doc=per_doc).collect())
    )
    standalone = sorted(map(tuple, qs.q_substr_dup_rate(spark, sf_dir).collect()))
    assert composed == standalone


def test_file_index_matches_in_plan_incremental(spark, sf_dir):
    """The stored-index pipeline path (build_substr_index ->
    dedup_against_index) produces exactly the in-plan registered
    query's removal spans for the same corpus/batch split."""
    from pyspark.sql import functions as F

    from ocr_dataset_builder_spark.queries_corpus import _norm_docs

    idx_dir = tempfile.mkdtemp(prefix="odb_substr_idx_")
    try:
        nd = _norm_docs(spark, sf_dir)
        existing = nd.where(F.col("doc_id") % qs._NEW_BATCH_MOD < 8)
        new_nd = nd.where(F.col("doc_id") % qs._NEW_BATCH_MOD >= 8).select(
            "doc_id", "norm"
        )
        # index built ONLY from the existing split (write to files)
        qs._windows(spark, sf_dir=None, nd=existing.select("doc_id", "norm")).groupBy(
            "fp"
        ).agg(F.count("*").alias("n_occ")).write.mode("overwrite").parquet(
            os.path.join(idx_dir, "index")
        )
        via_files = {
            tuple(r)
            for r in qs.dedup_against_index(
                spark, new_nd, os.path.join(idx_dir, "index")
            ).collect()
        }
        wins = qs._windows(spark, sf_dir)
        in_plan = {
            tuple(r)
            for r in qs._spans_from_starts(
                qs._incremental_removal_starts(
                    wins.where(F.col("doc_id") % qs._NEW_BATCH_MOD >= 8),
                    wins.where(F.col("doc_id") % qs._NEW_BATCH_MOD < 8),
                )
            ).collect()
        }
        assert via_files == in_plan and via_files
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)


def test_incremental_semantics_on_fixture(spark, substr_dir):
    """Fixture split: with docs 1-5 as the corpus and 6,7 as the new
    batch, both new docs lose their full window (E owns the canonical
    e-windows): everything in the batch that the corpus already has is
    removed, and within-batch keep-first applies to the rest."""
    wins = qs._windows(spark, substr_dir)
    from pyspark.sql import functions as F

    removal = qs._incremental_removal_starts(
        wins.where(F.col("doc_id") >= 6), wins.where(F.col("doc_id") <= 5)
    )
    got = {(r["doc_id"], r["start0"]) for r in removal.collect()}
    assert got == {(6, 0), (7, 0)}


def test_bloom_path_matches_plain_incremental(spark, sf_dir):
    """dedup_against_index with a stored Bloom position set must return
    EXACTLY the plain path's spans (the bloom has no false negatives by
    construction — a definite-miss is routed to the keep-first side,
    which is where an exact-join miss lands anyway), and the maybe set
    must be a superset of the true index hits."""
    from pyspark.sql import functions as F

    from ocr_dataset_builder_spark.queries_corpus import _norm_docs

    tmp = tempfile.mkdtemp(prefix="odb_substr_bloom_")
    try:
        nd = _norm_docs(spark, sf_dir)
        existing_nd = nd.where(F.col("doc_id") % qs._NEW_BATCH_MOD < 8).select(
            "doc_id", "norm"
        )
        new_nd = nd.where(F.col("doc_id") % qs._NEW_BATCH_MOD >= 8).select(
            "doc_id", "norm"
        )
        idx_dir = os.path.join(tmp, "index")
        bloom_dir = os.path.join(tmp, "bloom")
        qs._windows(spark, sf_dir=None, nd=existing_nd).groupBy("fp").agg(
            F.count("*").alias("n_occ")
        ).write.mode("overwrite").parquet(idx_dir)
        idx = spark.read.parquet(idx_dir)
        qs.build_bloom_filter(idx).write.mode("overwrite").parquet(bloom_dir)
        # bounded: the position table never exceeds the filter size
        n_pos = spark.read.parquet(bloom_dir).count()
        assert 0 < n_pos <= qs._BLOOM_M

        plain = {
            tuple(r)
            for r in qs.dedup_against_index(spark, new_nd, idx_dir).collect()
        }
        bloomed = {
            tuple(r)
            for r in qs.dedup_against_index(
                spark, new_nd, idx_dir, bloom_dir=bloom_dir
            ).collect()
        }
        assert bloomed == plain and bloomed

        # no false negatives: every true index hit passes the bloom
        new_wins = qs._windows(spark, sf_dir=None, nd=new_nd)
        maybe = {
            r["fp"]
            for r in qs.bloom_maybe_fps(
                new_wins, spark.read.parquet(bloom_dir)
            ).collect()
        }
        true_hits = {
            r["fp"]
            for r in new_wins.join(idx.select("fp"), "fp", "leftsemi")
            .select("fp")
            .distinct()
            .collect()
        }
        assert true_hits <= maybe
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bloom_index_build_writes_both(spark, sf_dir):
    """build_substr_index(bloom_dir=...) writes index + position set in
    one pass; the positions are exactly build_bloom_filter(index)."""
    tmp = tempfile.mkdtemp(prefix="odb_substr_bloomidx_")
    try:
        idx_dir = os.path.join(tmp, "index")
        bloom_dir = os.path.join(tmp, "bloom")
        qs.build_substr_index(spark, sf_dir, idx_dir, bloom_dir=bloom_dir)
        idx = spark.read.parquet(idx_dir)
        want = {
            r["pos"] for r in qs.build_bloom_filter(idx).collect()
        }
        got = {r["pos"] for r in spark.read.parquet(bloom_dir).collect()}
        assert got == want and got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# frequency boilerplate filter (para_freq_filter)
# ---------------------------------------------------------------------------


def _write_docs(spark, rows):
    tmp = tempfile.mkdtemp(prefix="odb_parafreq_")
    spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    return tmp


def test_para_freq_filter_fixture(spark):
    """A paragraph shared by two docs loses EVERY occurrence (including
    the first — the defining contrast with keep-first); a paragraph
    repeated only WITHIN one doc has doc-frequency 1 and survives both
    copies; unique docs pass through untouched, including a short tail
    chunk."""
    p = lambda c: " ".join(f"{c}{i}" for i in range(20))  # noqa: E731
    tmp = _write_docs(
        spark,
        [
            (1, p("s") + " " + p("a")),
            (2, p("b") + " " + p("s")),
            (3, p("c") + " " + p("c")),
            (4, " ".join(f"t{i}" for i in range(26))),
        ],
    )
    try:
        got = {
            r["doc_id"]: (r["n_paras"], r["n_boiler_paras"], r["kept_text"])
            for r in qs.q_para_freq_filter(spark, tmp).collect()
        }
        assert got[1] == (2, 1, p("a"))
        assert got[2] == (2, 1, p("b"))
        assert got[3] == (2, 0, p("c") + " " + p("c"))
        assert got[4] == (2, 0, " ".join(f"t{i}" for i in range(26)))
        # keep-first on the same corpus KEEPS the first shared copy and
        # drops doc 3's second in-doc copy — the two disciplines must
        # disagree exactly there
        kf = {
            r["doc_id"]: r["kept_text"]
            for r in qs.q_paragraph_dedup(spark, tmp).collect()
        }
        assert kf[1] == p("s") + " " + p("a")
        assert kf[3] == p("c")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_para_freq_filter_degenerate_all_boiler(spark):
    """All-identical corpus: every paragraph is corpus-wide template, so
    every document empties — the hot-fp shape the partial-agg doc-freq
    must survive (and the plan gate below keeps window-free)."""
    text = " ".join(f"w{i % 7}" for i in range(40))
    tmp = _write_docs(spark, [(i, text) for i in range(50)])
    try:
        rows = qs.q_para_freq_filter(spark, tmp).collect()
        assert len(rows) == 50
        for r in rows:
            assert r["n_paras"] == 2 and r["n_boiler_paras"] == 2, r
            assert r["kept_text"] == "", r
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_para_freq_filter_plan_skew_safe(spark, sf_dir):
    """Same skew discipline as the keep-first family: doc-frequency is a
    partial agg (map-side combine), never a per-fp window."""
    df = qs.q_para_freq_filter(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan or "SortAggregate" in plan, plan
