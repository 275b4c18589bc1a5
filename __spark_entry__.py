"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship span-extraction query on sf0.001.
queries()     -> one callable per implemented operator (SURVEY.md §2).
oracle_sql()  -> DuckDB-equivalent SQL per query (value-level gate).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end ordered span extraction on sf0.001."""
    from ocr_dataset_builder_spark.queries_spans import q_flagship

    return q_flagship(spark, "/root/testdata/sf0.001")


# If the driver caps how many registered queries it value-checks per
# round (50 per round so far), rotation keeps every query covered and —
# per the round-4 verdict — prioritizes by STALENESS OF EVIDENCE, not
# novelty: (1) queries whose code changed since their last driver row
# (including never-checked new ones), (2) queries whose latest green row
# is the oldest, (3) the recently-re-verified rest. A semantics-changing
# edit can then never coast on a stale green row.
_PRIORITY = [
    # -- tier 1a: round-8 PLAN-REWRITING changes (min-struct nearest
    # ranking, centroid-means exchange elimination, assignment barriers,
    # CC convergence-probe fusion, member-fold layout pins) — the
    # riskiest semantics surface, every one must get a fresh row
    "semantic_dedup_incremental", "semantic_dedup_incremental_stats",
    "semantic_dedup", "semantic_dedup_stats", "cluster_prototypes",
    "semantic_prep", "kmeans_train", "kmeans_step", "ann_ivf_assign",
    "ann_ivf_trained", "ann_ivf_probe", "ann_recall",
    "corpus_prep_final", "dedup_best_of_cluster", "dedup_corpus",
    "near_dup_components", "dedup_cross_source", "bloom_prefilter_stats",
    # -- tier 1b: round-8-touched (the _spread parallelization rides
    # under these) AND stale evidence (newest driver row r4/r5 per the
    # r7 verdict) — touched+stale outranks touched+fresh
    "quality_filter", "quality_repetition", "simhash", "simhash_near",
    "simhash_near_stats", "substr_dup_spans", "tfidf_top_terms",
    "unigram_logprob", "stratified_sample",
    "substr_removal_spans", "dedup_substrings", "dedup_substr_keep_first",
    "dedup_substr_apply", "corpus_prep_substr", "corpus_prep_substr_text",
    "substr_dup_rate", "dedup_incremental", "paragraph_dedup",
    "para_freq_filter", "corpus_prep_budget", "token_budget_sample",
    "quality_deciles", "mixture_epochs", "mixture_expand",
    "mixture_stats", "corpus_shuffle", "packing_stats",
    # -- tier 1c: UNTOUCHED but r4-stale — this closes the rotation ask
    # (after r8 no registered query's newest row predates r5)
    "pii_scrub", "refine_frames", "refine_summary", "resize_checksum",
    "resize_dims",
    # (tiers 1a-1c = 50 names = the driver budget)
    # -- tier 2: round-8-touched with fresh r6/r7 rows (spread-only,
    # value-neutral by construction, full-registry crosscheck green)
    "minhash_lsh", "minhash_lsh_stats", "minhash_sig",
    "minhash_jaccard_verify", "dedup_exact", "ngram_jaccard",
    "ngram_posting_drops", "doc_fingerprint", "quality_score",
    "top_terms", "lang_id", "distinct_sketch", "bm25_score",
    "vocab_coverage", "decontaminate", "decontaminate_join",
    "corpus_prep", "doc_chunking", "length_percentiles",
    "length_percentiles_agg", "pack_blocks", "token_stats",
    "html_main_text", "html_blocks", "html_content_text",
    "boilerplate_phrases", "boilerplate_strip_stats",
    "layout_reading_order", "embedding_near_dup_lsh",
    "embedding_near_dup", "embedding_label_stats", "ann_lsh_bucket",
    "ann_cosine_topk",
    # -- tier 3: untouched, green in r6/r7 (registry default appends)
]


def _registry() -> dict[str, tuple]:
    from ocr_dataset_builder_spark import queries_spans

    reg: dict[str, tuple] = {}
    reg.update(queries_spans.QUERIES)
    for mod in (
        "queries_dataset",
        "queries_joins",
        "queries_corpus",
        "queries_substr",
        "queries_refine",
        "queries_events",
        "queries_html",
        "queries_quality",
        "queries_final",
    ):
        m = importlib.import_module(f"ocr_dataset_builder_spark.{mod}")
        reg.update(m.QUERIES)
    ordered: dict[str, tuple] = {}
    for name in _PRIORITY:
        if name in reg:
            ordered[name] = reg[name]
    for name, entry in reg.items():
        ordered.setdefault(name, entry)
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in _registry().items() if sql is not None
    }
