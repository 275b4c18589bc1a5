"""Substring-level exact deduplication — repeated token windows ACROSS
documents (doc-level exact/near dedup lives in queries_corpus).

The modern pretraining-dedup standard (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better", arXiv:2107.06499) removes any
>=50-token substring that appears more than once in the corpus, found via
a suffix array. A suffix array is a single-machine structure; the
Spark-native equivalent is fixed-width token-window fingerprinting:

1. tokenize each document once; slide a width-W window with stride 1
   (positional n-grams built from zip_with over shifted slices — each
   slice evaluates once per row, no O(tokens^2) re-split);
2. fingerprint each window with the engine-portable 60-bit md5 prefix —
   the shuffle carries (doc_id, start, int64), never the window text;
3. a window is *duplicated* iff its fingerprint occurs >=2 times in the
   whole corpus (within- or cross-document — both are training-data
   redundancy). Partial-agg groupBy on the fingerprint (map-side
   combine), then a semi-join of windows against the duplicated
   fingerprints (AQE broadcasts the dup set when it is small);
4. maximal repeat spans per document are runs of CONSECUTIVE duplicated
   window starts (gaps-and-islands: start - row_number is constant
   within a run), emitted as (doc_id, span_start, span_end, n_windows,
   span_tokens);
5. removal stats merge the spans' token coverage per document as a true
   interval union (a running-max-end window chain), so overlapping spans
   are never double-counted.

Every stage is a linear shuffle on a compact key: window rows are
O(total_tokens) with ~28 bytes each, the fingerprint groupBy is a
partial-agg count, and the island/union windows partition by doc_id —
the same key the corpus is already bucketed by at rest. Nothing here is
quadratic in corpus size, which is the whole point vs. the pairwise
near-dup paths. Window width W trades recall for the fingerprint-table
size exactly as in the paper; the registered query uses W=8 because the
synthetic docs are short — a production run sets W=50.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_corpus import (
    _NORM_CTE,
    _barrier,
    _docs,
    _hex15,
    _norm_docs,
    positional_ngrams,
)

_SUBSTR_W = 8  # token-window width (50 in production; docs here are short)


def _windows(
    spark: SparkSession,
    sf_dir: str,
    w: int = _SUBSTR_W,
    nd: DataFrame | None = None,
    fingerprint: str = "md5",
) -> DataFrame:
    """(doc_id, start0, fp): one row per width-w token window. ``nd``
    overrides the (doc_id, norm) relation — the composed corpus query
    runs the machinery over its survivor set instead of the raw table.

    ``fingerprint``: 'md5' (default) is the engine-portable 60-bit
    md5-prefix integer the DuckDB oracle mirrors; 'xxhash64' is the
    production fast path (Spark's native 64-bit hash, no hex parse —
    measured cheaper on the signature stage) with identical span output
    whenever neither hash collides (pinned by test); it has no DuckDB
    twin, so only the md5 form is driver-registered."""
    if nd is None:
        nd = _norm_docs(spark, sf_dir)
    nd = nd.withColumn("t", F.split("norm", " "))
    grams = nd.select(
        "doc_id",
        F.posexplode(positional_ngrams("t", w)).alias("start0", "gram"),
    )
    if fingerprint == "xxhash64":
        fp = F.xxhash64("gram")
    elif fingerprint == "md5":
        fp = _hex15(F.col("gram"))
    else:
        raise ValueError(f"unknown fingerprint: {fingerprint!r}")
    return grams.select("doc_id", "start0", fp.alias("fp"))


def _dup_windows(
    spark: SparkSession,
    sf_dir: str,
    w: int = _SUBSTR_W,
    nd: DataFrame | None = None,
    fingerprint: str = "md5",
) -> DataFrame:
    """Windows that occur >= 2 times corpus-wide. The dup-fingerprint
    side is a partial-agg count (small shuffle) and the semi-join
    carries no hint, so the planner broadcasts the dup set when tiny
    and shuffles when not — the right call at both ends of the scale."""
    wins = _windows(spark, sf_dir, w, nd=nd, fingerprint=fingerprint)
    dup_fps = (
        wins.groupBy("fp")
        .agg(F.count("*").alias("occ"))
        .where(F.col("occ") >= 2)
        .select("fp")
    )
    return wins.join(dup_fps, "fp", "leftsemi")


def _spans_from_starts(starts: DataFrame, w: int = _SUBSTR_W) -> DataFrame:
    """Gaps-and-islands over (doc_id, start0): maximal runs of
    consecutive window starts as (doc_id, span_start, span_end,
    n_windows, span_tokens), token positions 0-based inclusive,
    span_end = last_start + w - 1. ``w`` MUST match the width the
    starts were fingerprinted with (the width knob threads through
    every public entry point)."""
    w_doc = Window.partitionBy("doc_id").orderBy("start0")
    runs = starts.withColumn(
        "grp", F.col("start0") - F.row_number().over(w_doc)
    )
    return runs.groupBy("doc_id", "grp").agg(
        F.min("start0").cast("int").alias("span_start"),
        (F.max("start0") + F.lit(w - 1)).cast("int").alias("span_end"),
        F.count("*").alias("n_windows"),
        (F.max("start0") + F.lit(w) - F.min("start0"))
        .cast("int")
        .alias("span_tokens"),
    ).drop("grp")


def q_substr_dup_spans(
    spark: SparkSession,
    sf_dir: str,
    fingerprint: str = "md5",
    w: int = _SUBSTR_W,
) -> DataFrame:
    """Maximal repeated-substring spans over ALL duplicated occurrences
    (the redundancy report: every repeat is flagged, including the copy
    a keep-first dedup would retain)."""
    return _spans_from_starts(
        _dup_windows(spark, sf_dir, w=w, fingerprint=fingerprint), w=w
    )


def _wins_cte_sql(src: str) -> str:
    """Window/dup/removal CTE chain over any (doc_id, norm) relation."""
    return f"""
toks AS (
  SELECT doc_id, string_split(norm, ' ') AS t FROM {src}
),
wins_raw AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(t) - {_SUBSTR_W} + 1, 0) + 1),
           i -> struct_pack(
             start0 := i - 1,
             fp := ('0x' || substr(md5(array_to_string(t[i:i+{_SUBSTR_W}-1], ' ')), 1, 15))::BIGINT
           ))) AS win
  FROM toks
),
wins AS (
  SELECT doc_id, CAST(win.start0 AS INT) AS start0, win.fp AS fp FROM wins_raw
),
dupw AS (
  SELECT doc_id, start0, fp FROM (
    SELECT doc_id, start0, fp, count(*) OVER (PARTITION BY fp) AS occ FROM wins
  ) WHERE occ >= 2
),
dup AS (
  SELECT doc_id, start0 FROM dupw
),
removal AS (
  SELECT doc_id, start0 FROM (
    SELECT doc_id, start0,
           row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC, start0 ASC) AS rnk
    FROM dupw
  ) WHERE rnk > 1
)""".strip()


_WINS_CTE = _wins_cte_sql("norm_docs")


def _spans_cte_sql(src: str, out: str) -> str:
    """Gaps-and-islands CTE: maximal consecutive-start runs of `src`."""
    return f""",
{out} AS (
  SELECT doc_id,
         CAST(min(start0) AS INT) AS span_start,
         CAST(max(start0) + {_SUBSTR_W - 1} AS INT) AS span_end,
         count(*) AS n_windows,
         CAST(max(start0) + {_SUBSTR_W} - min(start0) AS INT) AS span_tokens
  FROM (
    SELECT doc_id, start0,
           start0 - row_number() OVER (PARTITION BY doc_id ORDER BY start0) AS grp
    FROM {src}
  )
  GROUP BY doc_id, grp
)"""


_SPANS_CTE = _spans_cte_sql("dup", "spans")

SQL_SUBSTR_DUP_SPANS = f"""WITH {_NORM_CTE},
{_WINS_CTE}{_SPANS_CTE}
SELECT doc_id, span_start, span_end, n_windows, span_tokens FROM spans
"""


def _merged_intervals(spans: DataFrame) -> DataFrame:
    """Interval-union merge of a (doc_id, span_start, span_end) span
    set into DISJOINT intervals — the ONE union implementation the
    coverage reports AND the apply step build on (running-max-end ->
    new-interval flag -> interval groups; doc_id-partitioned windows,
    the corpus's resting key). Output: one row per merged interval with
    the count of source spans it absorbed."""
    w_ord = Window.partitionBy("doc_id").orderBy("span_start")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    return (
        spans.withColumn("prev_max_end", F.max("span_end").over(w_prev))
        .withColumn(
            "new_iv",
            F.when(
                F.col("prev_max_end").isNull()
                | (F.col("span_start") > F.col("prev_max_end")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("iv", F.sum("new_iv").over(w_ord))
        .groupBy("doc_id", "iv")
        .agg(
            F.min("span_start").cast("int").alias("span_start"),
            F.max("span_end").cast("int").alias("span_end"),
            F.count("*").alias("iv_spans"),
        )
        .drop("iv")
    )


def _merged_coverage(spans: DataFrame) -> DataFrame:
    """Per-doc (cov_tokens, cov_spans) with overlapping spans counted
    once, over the shared interval union."""
    return (
        _merged_intervals(spans)
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
                "cov_tokens"
            ),
            F.sum("iv_spans").alias("cov_spans"),
        )
    )


def _coverage_stats(
    spark: SparkSession, sf_dir: str, spans: DataFrame, frac_name: str
) -> DataFrame:
    """Per-document token-coverage report over a span set: interval
    union (overlap-safe), span count, ppm fraction; zero-covered docs
    included."""
    merged = _merged_coverage(spans).select(
        "doc_id",
        F.col("cov_tokens").alias("dup_tokens"),
        F.col("cov_spans").alias("n_spans"),
    )
    nd = _norm_docs(spark, sf_dir).select(
        "doc_id", F.size(F.split("norm", " ")).cast("bigint").alias("n_tokens")
    )
    # removable fraction in integer parts-per-million, computed with
    # integer half-up division — float round(x, 6) lands on engine-
    # dependent ties (Spark rounds the shortest decimal repr, DuckDB the
    # binary value); (2*a*10^6 + b) div (2*b) is exact in both
    return (
        nd.join(merged, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        )
        .withColumn(
            frac_name,
            F.expr("(2 * dup_tokens * 1000000 + n_tokens) div (2 * n_tokens)"),
        )
    )


def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removal stats for substring dedup: per document, total tokens,
    tokens covered by the UNION of repeat spans (overlap-safe interval
    merge), span count, and the removable fraction. Every document
    appears (zero-covered docs included) so the output is the corpus
    report a dedup run signs off on."""
    return _coverage_stats(
        spark, sf_dir, q_substr_dup_spans(spark, sf_dir), "frac_dup_ppm"
    )


def _union_cte_sql(spans_cte: str) -> str:
    """Interval-union CTEs (ivs + merged) over a spans CTE — per-doc
    cov_tokens / cov_spans with overlaps merged."""
    return f""",
ivs AS (
  SELECT doc_id, span_start, span_end,
         CASE WHEN prev_max_end IS NULL OR span_start > prev_max_end
              THEN 1 ELSE 0 END AS new_iv
  FROM (
    SELECT doc_id, span_start, span_end,
           max(span_end) OVER (PARTITION BY doc_id ORDER BY span_start
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_max_end
    FROM {spans_cte}
  )
),
merged AS (
  SELECT doc_id, sum(iv_tokens) AS cov_tokens, sum(iv_spans) AS cov_spans
  FROM (
    SELECT doc_id, iv,
           max(span_end) - min(span_start) + 1 AS iv_tokens,
           count(*) AS iv_spans
    FROM (
      SELECT doc_id, span_start, span_end,
             sum(new_iv) OVER (PARTITION BY doc_id ORDER BY span_start) AS iv
      FROM ivs
    )
    GROUP BY doc_id, iv
  )
  GROUP BY doc_id
)"""


def _coverage_sql(spans_cte: str, tok_col: str, frac_col: str) -> str:
    """Interval-union coverage report over a spans CTE (same merge logic
    as _coverage_stats, independently stated in SQL)."""
    return _union_cte_sql(spans_cte) + f"""
SELECT doc_id, n_tokens, {tok_col}, n_spans,
       CAST((2 * {tok_col} * 1000000 + n_tokens) // (2 * n_tokens) AS BIGINT)
         AS {frac_col}
FROM (
  SELECT n.doc_id,
         CAST(len(string_split(n.norm, ' ')) AS BIGINT) AS n_tokens,
         CAST(coalesce(m.cov_tokens, 0) AS BIGINT) AS {tok_col},
         CAST(coalesce(m.cov_spans, 0) AS BIGINT) AS n_spans
  FROM norm_docs n
  LEFT JOIN merged m ON m.doc_id = n.doc_id
)
"""


SQL_DEDUP_SUBSTRINGS = (
    f"WITH {_NORM_CTE},\n{_WINS_CTE}{_SPANS_CTE}"
    + _coverage_sql("spans", "dup_tokens", "frac_dup_ppm")
)


def _keep_first_removals(occ: DataFrame) -> DataFrame:
    """Keep-first policy over any (doc_id, start0, fp) occurrence set:
    every occurrence of each duplicated fingerprint EXCEPT the
    corpus-wide minimum (doc_id, start0) is a removal candidate.

    Skew-safe by construction: the canonical occurrence per fingerprint
    is a min(struct(doc_id, start0)) PARTIAL AGG — map-side combine
    reduces a hot boilerplate fingerprint (one ubiquitous window with
    10^7+ occurrences on a crawl corpus) to one row per map task before
    the shuffle — and the mark-back is a keyed join, which AQE
    skew-splitting can carve up at runtime. The previous form ranked
    occurrences with row_number() over Window.partitionBy(fp), which
    sends EVERY occurrence of one fingerprint to a single task's sort
    with no recourse (AQE skew handling applies to joins, never to
    windows). Semantics are identical — keep-first needs only the
    minimum, not a full ranking — so the DuckDB oracles are unchanged;
    a plan gate asserts no Window node survives in this subplan."""
    keep = (
        occ.groupBy("fp")
        .agg(
            F.count("*").alias("n_occ"),
            F.min(F.struct("doc_id", "start0")).alias("keep"),
        )
        .where(F.col("n_occ") >= 2)
        .select("fp", "keep")
    )
    return (
        occ.join(keep, "fp")
        .where(
            (F.col("doc_id") != F.col("keep.doc_id"))
            | (F.col("start0") != F.col("keep.start0"))
        )
        .select("doc_id", "start0")
    )


def _removal_starts(
    spark: SparkSession,
    sf_dir: str,
    nd: DataFrame | None = None,
    w: int = _SUBSTR_W,
) -> DataFrame:
    """Keep-first removal candidates over the corpus windows. One
    partial-agg shuffle on the fingerprint (count + min-struct in the
    same pass — the dup filter and the canonical pick share it) and one
    keyed join back; see _keep_first_removals for the skew story."""
    return _keep_first_removals(_windows(spark, sf_dir, w, nd=nd))


def q_substr_removal_spans(
    spark: SparkSession, sf_dir: str, w: int = _SUBSTR_W
) -> DataFrame:
    """Maximal spans of keep-first removal candidates — what a Lee-style
    dedup actually deletes (the first occurrence of each repeated
    window survives)."""
    return _spans_from_starts(_removal_starts(spark, sf_dir, w=w), w=w)


SQL_SUBSTR_REMOVAL_SPANS = f"""WITH {_NORM_CTE},
{_WINS_CTE}{_spans_cte_sql("removal", "rspans")}
SELECT doc_id, span_start, span_end, n_windows, span_tokens FROM rspans
"""


def q_dedup_substr_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first removal stats: per document, tokens actually deleted
    under the keep-first policy (interval union of removal spans). The
    corpus-level guarantee: every repeated window keeps exactly one
    occurrence corpus-wide."""
    stats = _coverage_stats(
        spark, sf_dir, q_substr_removal_spans(spark, sf_dir), "removed_ppm"
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        F.col("dup_tokens").alias("removed_tokens"),
        "n_spans",
        "removed_ppm",
    )


SQL_DEDUP_SUBSTR_KEEP_FIRST = (
    f"WITH {_NORM_CTE},\n{_WINS_CTE}{_spans_cte_sql('removal', 'rspans')}"
    + _coverage_sql("rspans", "removed_tokens", "removed_ppm")
)


def _apply_removals(nd: DataFrame, rspans: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_kept, kept_text) over a (doc_id, norm)
    relation and a removal-span set: tokens at positions inside ANY
    removal span are dropped and the survivors re-join in original
    order.

    Linear by construction: spans first merge into DISJOINT sorted
    intervals (the shared _merged_intervals union, doc_id windows over
    the tiny span relation), and the in-row step concatenates the token
    runs BETWEEN those intervals with a single fold — O(tokens + spans)
    per doc. A per-token membership test (filter + exists over the span
    list) would be O(tokens * spans) in-row: an adversarial doc where
    dup and unique windows alternate carries O(tokens) spans, turning
    one row into a quadratic straggler task. The only shuffles are the
    span collect and the join back, both on doc_id — the key the corpus
    is already bucketed by."""
    sp = (
        _merged_intervals(rspans)
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("sp")
        )
    )
    base = nd.withColumn("t", F.split("norm", " "))
    joined = base.join(sp, "doc_id", "left")
    # fold over the sorted disjoint intervals carrying (next unconsumed
    # 0-based position, kept tokens so far); each interval contributes
    # the gap run before it, the finisher flushes the tail after the
    # last interval. A doc with no spans (sp NULL) keeps everything.
    # SQL text: the same fold without PySpark's per-lambda JVM round
    # trips on the driver
    kept = F.expr(
        """aggregate(
          coalesce(sp, CAST(array() AS array<struct<span_start:int,span_end:int>>)),
          struct(0 AS prev, CAST(array() AS array<string>) AS acc),
          (st, s) -> struct(
            s.span_end + 1 AS prev,
            concat(st.acc, slice(t, st.prev + 1, s.span_start - st.prev)) AS acc),
          st -> concat(st.acc, slice(t, st.prev + 1, size(t) - st.prev)))"""
    )
    return joined.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.array_join(kept, " ").alias("kept_text"),
    )


def q_dedup_substr_apply(
    spark: SparkSession, sf_dir: str, w: int = _SUBSTR_W
) -> DataFrame:
    """The dedup SHIP step (what a Lee-style run actually emits, vs the
    reports the other rungs produce): each document's post-removal text
    under the keep-first policy — tokens outside the interval union of
    its removal spans, in original order. Every document appears; a doc
    whose every window was someone else's first comes back with
    kept_text = '' and n_kept = 0 (a downstream corpus build drops
    those rows). Reference end-product analogue: the cleaned per-frame
    text shipped by data/pytorch_dataset.py:526-536."""
    rspans = _spans_from_starts(_removal_starts(spark, sf_dir, w=w), w=w)
    return _apply_removals(
        _norm_docs(spark, sf_dir).select("doc_id", "norm"), rspans
    )


def _kept_text_ctes(src: str, toks: str, spans: str = "rspans") -> str:
    """Kept-text CTE chain over a (doc_id, norm) relation ``src`` and a
    removal-span CTE ``spans`` — the oracle re-derives kept positions
    INDEPENDENTLY of the Spark side's in-row filter: per-span position
    ranges (range() list expansion) anti-joined against all token
    positions, re-assembled with an ordered string_agg. Emits CTEs
    ``{toks}``, rem_pos, allpos, keptpos, kept_agg — the ONE statement
    both SQL_DEDUP_SUBSTR_APPLY and the composed corpus_prep oracle use
    (same single-definition discipline as _spans_cte_sql)."""
    return f"""{toks} AS (
  SELECT doc_id, string_split(norm, ' ') AS t FROM {src}
),
rem_pos AS (
  SELECT DISTINCT doc_id,
         CAST(unnest(range(span_start, span_end + 1)) AS INT) AS pos
  FROM {spans}
),
allpos AS (
  SELECT doc_id, CAST(unnest(range(0, len(t))) AS INT) AS pos FROM {toks}
),
keptpos AS (
  SELECT a.doc_id, a.pos
  FROM allpos a LEFT JOIN rem_pos r ON r.doc_id = a.doc_id AND r.pos = a.pos
  WHERE r.doc_id IS NULL
),
kept_agg AS (
  SELECT k.doc_id, count(*) AS n_kept,
         string_agg(t.t[k.pos + 1], ' ' ORDER BY k.pos) AS kept_text
  FROM keptpos k JOIN {toks} t ON t.doc_id = k.doc_id
  GROUP BY k.doc_id
)"""


SQL_DEDUP_SUBSTR_APPLY = f"""WITH {_NORM_CTE},
{_WINS_CTE}{_spans_cte_sql("removal", "rspans")},
{_kept_text_ctes("norm_docs", "toks2")}
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(ka.kept_text, '') AS kept_text
FROM toks2 t LEFT JOIN kept_agg ka ON ka.doc_id = t.doc_id
"""


def q_corpus_prep_substr(
    spark: SparkSession, sf_dir: str, emit_text: bool = False
) -> DataFrame:
    """corpus_prep upgraded to the modern dedup standard: the doc-level
    chain (decontaminate -> stratified sample -> exact dedup) from
    q_corpus_prep, then SUBSTRING keep-first dedup over the canonical
    survivors — per-doc token counts shrink by the interval union of
    removal spans, documents emptied entirely leave the corpus — and
    GPT-style pack offsets computed over the POST-removal counts (the
    two-phase prefix sum; no global window over the data).

    Token accounting is in normalized-text tokens end to end (the
    substring machinery operates on norm), unlike q_corpus_prep's
    raw-text n_tok — the two are separate deliverables by design.
    Scale: adds exactly the substr_removal_spans stages (linear shuffles
    on fingerprint and doc_id) to the corpus_prep plan."""
    from .queries_corpus import _NORM_SPARK, _hex15 as _h15
    from .queries_quality import (
        _RATE_BP_SPARK,
        _decontaminated,
        pack_offsets,
    )

    clean = _decontaminated(spark, sf_dir)
    sampled = clean.where(
        _h15(F.col("doc_id").cast("string")) % 10000
        < _RATE_BP_SPARK(F.col("source"))
    )
    fp = sampled.select(
        F.md5(_NORM_SPARK(F.col("text"))).alias("fp"),
        "doc_id",
        "source",
        _NORM_SPARK(F.col("text")).alias("norm"),
    )
    # skew-safe exact-canonical filter: only canonical rows survive, so
    # the min-struct partial agg (lexicographic on doc_id, payload rides
    # along) needs NO join back and combines the hot fingerprint
    # map-side — strictly less shuffle than either the window form or an
    # agg+join-back (never a window over the full-text fp: hot on
    # boilerplate)
    canon = (
        fp.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "source", "norm")).alias("c"))
        .select("c.doc_id", "c.source", "c.norm")
    )
    removal = _removal_starts(spark, sf_dir, nd=canon.select("doc_id", "norm"))
    rspans = _spans_from_starts(removal)
    survivors = _survivor_coverage(canon, rspans)
    passengers = ["removed_tokens", "source"]
    if emit_text:
        # the ship-step passenger: post-removal text per survivor (same
        # in-row filter as q_dedup_substr_apply, over the survivor set);
        # pytest-pinned (len(split(kept_text)) == n_tok) — the driver
        # compares the default report form
        applied = _apply_removals(canon.select("doc_id", "norm"), rspans)
        survivors = survivors.join(
            applied.select("doc_id", "kept_text"), "doc_id"
        )
        passengers.append("kept_text")
    return pack_offsets(
        survivors.where(F.col("n_tok") > 0),
        passengers=passengers,
    )


def _survivor_coverage(canon: DataFrame, rspans: DataFrame) -> DataFrame:
    """(doc_id, source, n_tok, removed_tokens): post-removal token
    counts over the survivor set — interval union of removal spans
    subtracted from the normalized token count."""
    merged = _merged_coverage(rspans).select(
        "doc_id", F.col("cov_tokens").alias("removed_tokens")
    )
    base = canon.select(
        "doc_id",
        "source",
        F.size(F.split("norm", " ")).cast("bigint").alias("n_tokens"),
    )
    return base.join(merged, "doc_id", "left").select(
        "doc_id",
        "source",
        (
            F.col("n_tokens") - F.coalesce("removed_tokens", F.lit(0))
        ).alias("n_tok"),
        F.coalesce("removed_tokens", F.lit(0)).alias("removed_tokens"),
    )


def _corpus_prep_substr_sql(emit_text: bool = False) -> str:
    from .queries_corpus import _HEX15_SQL, _NORM_SQL
    from .queries_quality import (
        _PACK_CAP,
        _PROBE_MOD,
        _RATE_BP_SQL,
        _SHINGLE_CTE,
    )

    if emit_text:
        # kept-text derivation over the survivor set — the SAME
        # statement as SQL_DEDUP_SUBSTR_APPLY, parameterized on the
        # source relation
        text_ctes = ",\n" + _kept_text_ctes("canon_docs", "toksc")
        kept_col = ",\n         coalesce(ka.kept_text, '') AS kept_text"
        kept_join = "\n  LEFT JOIN kept_agg ka ON ka.doc_id = c.doc_id"
        kept_pass = ", kept_text"
    else:
        text_ctes = ""
        kept_col = ""
        kept_join = ""
        kept_pass = ""

    return f"""WITH {_NORM_CTE}{_SHINGLE_CTE},
probe AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {_PROBE_MOD} = 0
),
contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM sh s JOIN probe p ON s.shingle = p.shingle
  WHERE s.doc_id % {_PROBE_MOD} <> 0
),
sampled AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d
  WHERE d.doc_id % {_PROBE_MOD} <> 0
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    AND {_HEX15_SQL("CAST(d.doc_id AS VARCHAR)")} % 10000 < {_RATE_BP_SQL("d.source")}
),
canon_docs AS (
  SELECT doc_id, source, {_NORM_SQL} AS norm
  FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY md5({_NORM_SQL})) AS canon_id
    FROM sampled
  ) WHERE doc_id = canon_id
),
{_wins_cte_sql("canon_docs")}{_spans_cte_sql("removal", "rspans")}{_union_cte_sql("rspans")}{text_ctes},
survivors AS (
  SELECT c.doc_id, c.source,
         CAST(len(string_split(c.norm, ' ')) AS BIGINT)
           - CAST(coalesce(m.cov_tokens, 0) AS BIGINT) AS n_tok,
         CAST(coalesce(m.cov_tokens, 0) AS BIGINT) AS removed_tokens{kept_col}
  FROM canon_docs c
  LEFT JOIN merged m ON m.doc_id = c.doc_id{kept_join}
),
o AS (
  SELECT doc_id, source, n_tok, removed_tokens{kept_pass},
         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_off
  FROM survivors WHERE n_tok > 0
)
SELECT doc_id, n_tok, start_off,
       CAST(floor(start_off / {_PACK_CAP}) AS BIGINT) AS first_block,
       CAST(floor((start_off + n_tok - 1) / {_PACK_CAP})
            - floor(start_off / {_PACK_CAP}) + 1 AS BIGINT) AS n_blocks,
       removed_tokens, source{kept_pass}
FROM o
"""


# ---------------------------------------------------------------------------
# paragraph-level dedup (CCNet-style): the dedup unit between doc-level
# exact and substring-level — CCNet removes duplicated PARAGRAPHS across
# the corpus before LM filtering. The flat synthetic docs carry no
# paragraph boundaries, so paragraphs are derived as consecutive
# non-overlapping 20-token chunks (same synthesis discipline as the HTML
# corpus) — stride == width, vs the substring machinery's stride 1.
# ---------------------------------------------------------------------------

_PARA_TOK = 20


def _para_rows(nd: DataFrame) -> DataFrame:
    """(doc_id, para_idx, para, fp) — consecutive non-overlapping
    20-token chunks of each normalized document, fingerprinted. The
    chunking is entirely in-row (sequence + slice over the split-once
    token array); shared by the keep-first and frequency-filter
    paragraph queries so the unit definition cannot drift."""
    t = nd.withColumn("t", F.split("norm", " "))
    n_chunks = F.ceil(F.size("t") / F.lit(_PARA_TOK)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(F.col("t"), i * _PARA_TOK + 1, _PARA_TOK), " "
        ),
    )
    return t.select(
        "doc_id", F.posexplode(chunks).alias("para_idx", "para")
    ).withColumn("fp", _hex15(F.col("para")))


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first paragraph dedup: fingerprint each 20-token chunk,
    retain the corpus-wide first occurrence (lowest (doc_id, para_idx)),
    and re-assemble each document from its kept paragraphs. Output:
    (doc_id, n_paras, n_dup_paras, kept_text — '' when everything was
    someone else's paragraph first).

    Scale: one fingerprint partial-agg shuffle (min-struct canonical
    pick — map-side combine, skew-immune like _keep_first_removals; a
    boilerplate paragraph shared by 10^7 docs reduces per map task) +
    one keyed join back + one doc_id shuffle for the re-assembly;
    chunking itself is in-row (sequence + slice), no Python anywhere."""
    paras = _para_rows(_norm_docs(spark, sf_dir, spread=False))
    keep = paras.groupBy("fp").agg(
        F.min(F.struct("doc_id", "para_idx")).alias("keep")
    )
    marked = paras.join(keep, "fp").withColumn(
        "is_first",
        (F.col("doc_id") == F.col("keep.doc_id"))
        & (F.col("para_idx") == F.col("keep.para_idx")),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        F.sum((~F.col("is_first")).cast("bigint")).alias("n_dup_paras"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("is_first"),
                            F.struct("para_idx", "para"),
                        )
                    )
                ),
                lambda s: s["para"],
            ),
            " ",
        ).alias("kept_text"),
    )


_PARAS_CTE_SQL = f"""
toks AS (
  SELECT doc_id, string_split(norm, ' ') AS t FROM norm_docs
),
paras AS (
  SELECT doc_id, CAST(u.i AS INT) AS para_idx,
         u.para AS para,
         ('0x' || substr(md5(u.para), 1, 15))::BIGINT AS fp
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(0, CAST(ceil(len(t) / {_PARA_TOK}.0) AS BIGINT)),
             i -> struct_pack(
               i := i,
               para := array_to_string(t[i * {_PARA_TOK} + 1 : i * {_PARA_TOK} + {_PARA_TOK}], ' ')
             ))) AS u
    FROM toks
  )
)
""".strip()


SQL_PARAGRAPH_DEDUP = f"""WITH {_NORM_CTE},
{_PARAS_CTE_SQL},
ranked AS (
  SELECT doc_id, para_idx, para,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC, para_idx ASC) AS rnk
  FROM paras
)
SELECT doc_id,
       count(*) AS n_paras,
       CAST(sum(CASE WHEN rnk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
       coalesce(string_agg(CASE WHEN rnk = 1 THEN para END, ' ' ORDER BY para_idx ASC), '')
         AS kept_text
FROM ranked
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# frequency boilerplate removal (RefinedWeb-style): the OTHER paragraph
# discipline — keep-first retains one copy of a duplicated paragraph;
# template text (nav bars, cookie banners, license headers) should
# retain ZERO copies. A paragraph present in >= K distinct documents is
# boilerplate; every occurrence — including the first — is dropped.
# ---------------------------------------------------------------------------

_PARA_FREQ_K = 2  # test-scale doc-frequency threshold; production uses
# a corpus-fraction threshold the same way _PHRASE_FRAC does for 2-grams


def q_para_freq_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-filter boilerplate paragraphs: drop EVERY occurrence of
    any 20-token chunk appearing in >= _PARA_FREQ_K distinct documents,
    re-assemble each document from the survivors. Output: (doc_id,
    n_paras, n_boiler_paras, kept_text — '' when the whole document was
    template text). Complements q_paragraph_dedup (keep-first), matching
    the reference's cleanup intent (repeated frame boilerplate stripped
    in tesseract/processing.py cleanup) lifted to corpus scope.

    Scale: doc-frequency = distinct-(fp, doc_id) partial agg then a
    fp partial agg — both map-side-combining, skew-immune (a paragraph
    shared by 10^7 docs reduces per map task); the common-fp set is a
    tiny relation the planner broadcasts for the back-join; re-assembly
    is one doc_id shuffle with per-doc bounded state. No windows, no
    Python, nothing quadratic."""
    paras = _para_rows(_norm_docs(spark, sf_dir, spread=False))
    doc_freq = (
        paras.select("fp", "doc_id")
        .distinct()
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"))
    )
    common = (
        doc_freq.where(F.col("n_docs") >= _PARA_FREQ_K)
        .select("fp", F.lit(True).alias("is_boiler"))
    )
    marked = paras.join(common, "fp", "left")
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        F.sum(F.coalesce("is_boiler", F.lit(False)).cast("bigint")).alias(
            "n_boiler_paras"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.coalesce("is_boiler", F.lit(False)),
                            F.struct("para_idx", "para"),
                        )
                    )
                ),
                lambda s: s["para"],
            ),
            " ",
        ).alias("kept_text"),
    )


SQL_PARA_FREQ_FILTER = f"""WITH {_NORM_CTE},
{_PARAS_CTE_SQL},
common AS (
  SELECT fp FROM (
    SELECT fp, count(DISTINCT doc_id) AS n_docs FROM paras GROUP BY fp
  ) WHERE n_docs >= {_PARA_FREQ_K}
)
SELECT p.doc_id,
       count(*) AS n_paras,
       CAST(sum(CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler_paras,
       coalesce(string_agg(CASE WHEN c.fp IS NULL THEN p.para END,
                           ' ' ORDER BY p.para_idx ASC), '') AS kept_text
FROM paras p LEFT JOIN common c ON c.fp = p.fp
GROUP BY p.doc_id
"""


# ---------------------------------------------------------------------------
# incremental dedup: a NEW batch against a pre-built corpus index — how a
# production pipeline handles a daily crawl without recomputing the
# corpus. The index is the window-fingerprint table; a new document
# loses (a) every window already known to the corpus and (b) keep-first
# duplicates WITHIN the batch among the windows the corpus has not seen.
# ---------------------------------------------------------------------------

_NEW_BATCH_MOD = 10  # registered query: doc_id % 10 >= 8 is the "new" batch


def _incremental_removal_starts(
    new_wins: DataFrame, index_fps: DataFrame
) -> DataFrame:
    """(doc_id, start0) removal candidates for a new batch vs an index:
    index hits are removed outright (the corpus already owns that
    content); index misses dedup keep-first within the batch. Two keyed
    joins on the compact fingerprint + the skew-safe min-struct
    keep-first agg (_keep_first_removals) — the batch never joins
    itself pairwise, and the index relation needs only its fp column."""
    # _barrier (r8): hit + miss reference BOTH relations twice, and the
    # window/fingerprint stage (with its r8 spread) would re-run per
    # branch — same fix as bloom_prefilter_stats
    idx = _barrier(index_fps.select("fp").distinct())
    new_wins = _barrier(new_wins)
    hit = new_wins.join(idx, "fp", "leftsemi").select("doc_id", "start0")
    miss = new_wins.join(idx, "fp", "left_anti")
    return hit.unionByName(_keep_first_removals(miss))


def build_substr_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    w: int = _SUBSTR_W,
    bloom_dir: str | None = None,
) -> None:
    """Materialize the corpus window-fingerprint index: (fp, n_occ)
    parquet, one row per distinct fingerprint. Incremental runs read
    ONLY this (a fraction of corpus size) instead of re-fingerprinting
    the corpus. ``bloom_dir`` additionally writes the bounded Bloom
    position set (<= _BLOOM_M ints regardless of index size — see
    build_bloom_filter) so probes can pre-filter without touching the
    index at all for definite misses."""
    idx = (
        _windows(spark, sf_dir, w)
        .groupBy("fp")
        .agg(F.count("*").alias("n_occ"))
    )
    if bloom_dir is not None:
        idx = idx.persist()
    idx.write.mode("overwrite").parquet(index_dir)
    if bloom_dir is not None:
        build_bloom_filter(idx).write.mode("overwrite").parquet(bloom_dir)
        idx.unpersist()


def dedup_against_index(
    spark: SparkSession,
    new_nd: DataFrame,
    index_dir: str,
    w: int = _SUBSTR_W,
    bloom_dir: str | None = None,
) -> DataFrame:
    """Pipeline API: removal spans for a new (doc_id, norm) batch
    against a stored index (see build_substr_index).

    With ``bloom_dir``, the batch is first split by the broadcastable
    position set: bloom misses are DEFINITE index misses and skip the
    big index join entirely, only maybe-fps pay the confirm join.
    Output is identical with or without the bloom (no false negatives
    by construction — pinned by test); the bloom only changes how much
    of the batch the index join has to carry."""
    new_wins = _windows(spark, sf_dir=None, w=w, nd=new_nd)
    idx = spark.read.parquet(index_dir)
    if bloom_dir is None:
        return _spans_from_starts(
            _incremental_removal_starts(new_wins, idx), w=w
        )
    bloom = spark.read.parquet(bloom_dir)
    maybe = bloom_maybe_fps(new_wins, bloom)
    cand = new_wins.join(maybe, "fp", "leftsemi")
    definite_miss = new_wins.join(maybe, "fp", "left_anti")
    idx_fps = idx.select("fp").distinct()
    hit = cand.join(idx_fps, "fp", "leftsemi").select("doc_id", "start0")
    miss = cand.join(idx_fps, "fp", "left_anti").unionByName(definite_miss)
    removal = hit.unionByName(_keep_first_removals(miss))
    return _spans_from_starts(removal, w=w)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered driver form (index derived in-plan so the oracle can
    recompute it): docs with doc_id % 10 < 8 are the EXISTING corpus,
    the rest are the new batch. Per new doc: tokens removed under the
    incremental policy, span count, ppm — the report that gates a
    daily-crawl merge."""
    wins = _windows(spark, sf_dir)
    existing = wins.where(F.col("doc_id") % _NEW_BATCH_MOD < 8)
    new_wins = wins.where(F.col("doc_id") % _NEW_BATCH_MOD >= 8)
    removal = _incremental_removal_starts(new_wins, existing)
    spans = _spans_from_starts(removal)
    stats = _coverage_stats(spark, sf_dir, spans, "removed_ppm")
    return stats.where(F.col("doc_id") % _NEW_BATCH_MOD >= 8).select(
        "doc_id",
        "n_tokens",
        F.col("dup_tokens").alias("removed_tokens"),
        "n_spans",
        "removed_ppm",
    )


SQL_DEDUP_INCREMENTAL = f"""WITH {_NORM_CTE},
{_WINS_CTE},
idx AS (
  SELECT DISTINCT fp FROM wins WHERE doc_id % {_NEW_BATCH_MOD} < 8
),
neww AS (
  SELECT * FROM wins WHERE doc_id % {_NEW_BATCH_MOD} >= 8
),
hit AS (
  SELECT doc_id, start0 FROM neww WHERE fp IN (SELECT fp FROM idx)
),
batch_dup AS (
  SELECT doc_id, start0 FROM (
    SELECT doc_id, start0,
           row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC, start0 ASC) AS rnk
    FROM neww WHERE fp NOT IN (SELECT fp FROM idx)
  ) WHERE rnk > 1
),
iremoval AS (
  SELECT * FROM hit UNION ALL SELECT * FROM batch_dup
){_spans_cte_sql("iremoval", "ispans")}{_union_cte_sql("ispans")}
SELECT doc_id, n_tokens, removed_tokens, n_spans,
       CAST((2 * removed_tokens * 1000000 + n_tokens) // (2 * n_tokens) AS BIGINT)
         AS removed_ppm
FROM (
  SELECT n.doc_id,
         CAST(len(string_split(n.norm, ' ')) AS BIGINT) AS n_tokens,
         CAST(coalesce(m.cov_tokens, 0) AS BIGINT) AS removed_tokens,
         CAST(coalesce(m.cov_spans, 0) AS BIGINT) AS n_spans
  FROM norm_docs n
  LEFT JOIN merged m ON m.doc_id = n.doc_id
  WHERE n.doc_id % {_NEW_BATCH_MOD} >= 8
)
"""


# ---------------------------------------------------------------------------
# Bloom-style bounded pre-filter for incremental dedup
# ---------------------------------------------------------------------------
#
# dedup_against_index joins every new-batch window fingerprint against
# the stored (fp, n_occ) index. At 100 TB that index is O(corpus
# tokens) rows, so the join shuffles the whole batch against a huge
# relation even though most daily-crawl windows are NOT in the index.
# The classic fix is a Bloom filter over the index fingerprints; the
# Spark-native, oracle-portable form is a POSITION SET: k md5-derived
# bit positions per fingerprint, stored as distinct ints. Its size is
# bounded by _BLOOM_M (4 MB-class) NO MATTER HOW LARGE THE INDEX, so
# the planner broadcasts it and the common case (bloom miss = definite
# index miss) never touches the big index. No false negatives by
# construction; false positives only cost a wasted confirm-join row.

_BLOOM_K = 3
_BLOOM_M = 1 << 20


def _bloom_positions(fp: F.Column) -> F.Column:
    """k engine-portable positions per fingerprint: 60-bit md5 prefix of
    'fp:i' mod _BLOOM_M, mirrored exactly by the DuckDB oracle."""
    return F.array(
        *[
            _hex15(F.concat(fp.cast("string"), F.lit(f":{i}"))) % _BLOOM_M
            for i in range(_BLOOM_K)
        ]
    )


def build_bloom_filter(index_fps: DataFrame) -> DataFrame:
    """The bounded position-set form of a Bloom filter over index
    fingerprints: <= _BLOOM_M distinct int positions."""
    return index_fps.select(
        F.explode(_bloom_positions(F.col("fp"))).alias("pos")
    ).distinct()


def bloom_maybe_fps(new_fps: DataFrame, bloom: DataFrame) -> DataFrame:
    """Fingerprints that MIGHT be in the index: all k positions present.
    count(*) == k is correct even when one fp's positions collide — the
    exploded rows then hit (or miss) the position set together."""
    probe = (
        new_fps.select("fp")
        .distinct()
        .select("fp", F.explode(_bloom_positions(F.col("fp"))).alias("pos"))
    )
    return (
        probe.join(bloom, "pos")
        .groupBy("fp")
        .agg(F.count("*").alias("k_hits"))
        .where(F.col("k_hits") == _BLOOM_K)
        .select("fp")
    )


def q_bloom_prefilter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-filter economics on the registered incremental split (corpus
    = doc_id % mod < 8, batch = the rest): distinct batch fingerprints,
    how many the bloom passes (maybe), how many are true index hits, and
    the false-positive rate among true misses in ppm — the number that
    says how much confirm-join traffic the position set saves."""
    wins = _windows(spark, sf_dir)
    # _barrier (r8): the stats branches below reference each distinct
    # fingerprint set 2-3x (bloom build, probe, true-dup semi, counts),
    # and the doc_id%mod filters push below the window/md5 stage so
    # exchange reuse never canonicalizes — without a barrier one action
    # re-runs the fingerprint stage ~4x
    idx_fps = _barrier(
        wins.where(F.col("doc_id") % _NEW_BATCH_MOD < 8).select("fp").distinct()
    )
    new_fps = _barrier(
        wins.where(F.col("doc_id") % _NEW_BATCH_MOD >= 8).select("fp").distinct()
    )
    maybe = bloom_maybe_fps(new_fps, build_bloom_filter(idx_fps))
    n_new = new_fps.agg(F.count("*").alias("n_new_fps"))
    n_maybe = maybe.agg(F.count("*").alias("n_maybe"))
    n_true = new_fps.join(idx_fps, "fp", "leftsemi").agg(
        F.count("*").alias("n_true_dups")
    )
    return (
        n_new.crossJoin(n_maybe)
        .crossJoin(n_true)
        .select(
            "n_new_fps",
            "n_maybe",
            "n_true_dups",
            (F.col("n_maybe") - F.col("n_true_dups")).alias("n_false_pos"),
            F.expr(
                "CASE WHEN n_new_fps - n_true_dups = 0 THEN CAST(0 AS BIGINT) "
                "ELSE (2 * (n_maybe - n_true_dups) * 1000000 "
                "+ (n_new_fps - n_true_dups)) "
                "div (2 * (n_new_fps - n_true_dups)) END"
            ).alias("false_pos_ppm"),
        )
    )


_BLOOM_POS_SQL = (
    f"('0x' || substr(md5(CAST(f.fp AS VARCHAR) || ':' || CAST(k.i AS VARCHAR)), 1, 15))::BIGINT"
    f" % {_BLOOM_M}"
)

SQL_BLOOM_PREFILTER_STATS = f"""WITH {_NORM_CTE},
{_WINS_CTE},
idxf AS (SELECT DISTINCT fp FROM wins WHERE doc_id % {_NEW_BATCH_MOD} < 8),
newf AS (SELECT DISTINCT fp FROM wins WHERE doc_id % {_NEW_BATCH_MOD} >= 8),
ks AS (SELECT unnest(range(0, {_BLOOM_K})) AS i),
pos AS (
  SELECT DISTINCT {_BLOOM_POS_SQL} AS pos FROM idxf f, ks k
),
probe AS (
  SELECT f.fp, {_BLOOM_POS_SQL} AS pos FROM newf f, ks k
),
maybe AS (
  SELECT fp FROM probe JOIN pos USING (pos)
  GROUP BY fp HAVING count(*) = {_BLOOM_K}
),
agg AS (
  SELECT
    (SELECT count(*) FROM newf) AS n_new_fps,
    (SELECT count(*) FROM maybe) AS n_maybe,
    (SELECT count(*) FROM newf WHERE fp IN (SELECT fp FROM idxf)) AS n_true_dups
)
SELECT CAST(n_new_fps AS BIGINT) AS n_new_fps,
       CAST(n_maybe AS BIGINT) AS n_maybe,
       CAST(n_true_dups AS BIGINT) AS n_true_dups,
       CAST(n_maybe - n_true_dups AS BIGINT) AS n_false_pos,
       CAST(CASE WHEN n_new_fps - n_true_dups = 0 THEN 0
            ELSE (2 * (n_maybe - n_true_dups) * 1000000
                  + (n_new_fps - n_true_dups))
                 // (2 * (n_new_fps - n_true_dups)) END AS BIGINT)
         AS false_pos_ppm
FROM agg
"""


def q_substr_dup_rate(
    spark: SparkSession,
    sf_dir: str,
    per_doc: DataFrame | None = None,
) -> DataFrame:
    """Corpus observability rollup: per source, total tokens, tokens
    inside dup spans, doc counts, and the duplication rate in ppm — the
    one-page answer to 'how redundant is each feed?' that decides
    whether the substring pass is worth running on it. Pure partial-agg
    over the per-doc report (one extra tiny shuffle on source).

    A pipeline that already holds the per-doc report (q_dedup_substrings
    output — the artifact a dedup run signs off on) passes it as
    ``per_doc`` and pays ONLY the rollup (~0.14 s at sf0.1 vs the ~2.5 s
    chain — the form bench.py measures). Semantics are identical on
    both paths — pinned by the composed-equals-standalone test."""
    if per_doc is None:
        per_doc = q_dedup_substrings(spark, sf_dir)
    src = _docs(spark, sf_dir).select("doc_id", "source")
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("dup_tokens") > 0).cast("bigint")).alias(
                "n_docs_with_dups"
            ),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("dup_tokens").alias("total_dup_tokens"),
        )
        .withColumn(
            "dup_rate_ppm",
            F.expr(
                "(2 * total_dup_tokens * 1000000 + total_tokens) div (2 * total_tokens)"
            ),
        )
    )


def _substr_dup_rate_sql() -> str:
    body = SQL_DEDUP_SUBSTRINGS.rstrip()
    return f"""WITH per_doc AS (
{body}
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN p.dup_tokens > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_dups,
       CAST(sum(p.n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(p.dup_tokens) AS BIGINT) AS total_dup_tokens,
       CAST((2 * CAST(sum(p.dup_tokens) AS BIGINT) * 1000000
             + CAST(sum(p.n_tokens) AS BIGINT))
            // (2 * CAST(sum(p.n_tokens) AS BIGINT)) AS BIGINT) AS dup_rate_ppm
FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
GROUP BY d.source
"""


QUERIES: dict[str, tuple] = {
    "substr_dup_spans": (q_substr_dup_spans, SQL_SUBSTR_DUP_SPANS),
    "substr_dup_rate": (q_substr_dup_rate, _substr_dup_rate_sql()),
    "bloom_prefilter_stats": (q_bloom_prefilter_stats, SQL_BLOOM_PREFILTER_STATS),
    "paragraph_dedup": (q_paragraph_dedup, SQL_PARAGRAPH_DEDUP),
    "para_freq_filter": (q_para_freq_filter, SQL_PARA_FREQ_FILTER),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "dedup_substrings": (q_dedup_substrings, SQL_DEDUP_SUBSTRINGS),
    "substr_removal_spans": (q_substr_removal_spans, SQL_SUBSTR_REMOVAL_SPANS),
    "dedup_substr_keep_first": (
        q_dedup_substr_keep_first,
        SQL_DEDUP_SUBSTR_KEEP_FIRST,
    ),
    "dedup_substr_apply": (q_dedup_substr_apply, SQL_DEDUP_SUBSTR_APPLY),
    "corpus_prep_substr": (q_corpus_prep_substr, _corpus_prep_substr_sql()),
    # the ship form: same composed deliverable carrying each survivor's
    # post-removal text (Spark: the _apply_removals passenger; oracle:
    # the independent position-expansion statement over the survivors)
    "corpus_prep_substr_text": (
        lambda spark, sf_dir: q_corpus_prep_substr(spark, sf_dir, emit_text=True),
        _corpus_prep_substr_sql(emit_text=True),
    ),
}
