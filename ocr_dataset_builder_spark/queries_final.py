"""corpus_prep_final — the single composed training-ready-corpus
deliverable.

Every rung exists solo and is oracle-proven (decontaminate, exact
dedup, substring keep-first removal + text apply, SemDeDup/prototype
semantic keep, per-source token-budget fill, mixture-epochs expansion,
deterministic shuffle order, pack offsets) — but cross-stage drift (a
budget counting tokens the substring pass removed, a fill candidate the
semantic pass dropped, an epoch plan sized on raw instead of surviving
tokens) can only hide BETWEEN piecewise proofs. This module threads the
whole chain into ONE plan with ONE DuckDB oracle, so the driver's
value-level gate covers the composition itself.

Reference end-product analogue: the fully-assembled per-sample output
of data/pytorch_dataset.py:493-625 — the reference's __getitem__ also
composes every cleaning/dedup/ordering stage into the one record a
trainer consumes.

Stage order (the modern LLM-data pipeline, per round-5 verdict #1):

1. decontaminate     — drop eval-probe docs and anything sharing a
                       probe 3-gram (broadcast probe set).
2. exact dedup       — min-struct canonical per normalized-text md5
                       (skew-safe partial agg, never a window over fp).
3. substring dedup   — keep-first removal spans over the CANONICAL
   APPLIED TO TEXT    survivors, interval-union merged, then the
                       linear in-row between-spans fold emits each
                       doc's post-removal kept_text; emptied docs
                       leave the corpus.
4. semantic keep     — SemDeDup AND prototype verdicts (q_semantic_prep
                       over the embedding store) filter the survivors;
                       docs without an embedding pass (verdict-less).
5. budget fill       — per-source greedy quality fill where BOTH the
                       budget and the greedy accounting run over
                       POST-REMOVAL token counts (re-budgeted over what
                       actually survives, the DCLM discipline).
6. epochs + shuffle  — mixture-epochs integer plan sized on the KEPT
                       corpus expands each doc per epoch; the expanded
                       stream gets a deterministic md5(seed:epoch:doc)
                       training order via the two-phase 256-bucket
                       prefix (no global sort).
7. pack offsets      — global token offset + block span per stream row.

Output: (doc_id, source, epoch, n_tok, shuffle_pos, start_off,
first_block, n_blocks, kept_text) — one row per training-stream
occurrence, text attached.

Scale shape: stages 1-5 shuffle only on doc_id / fp / (source,quality)
partial-agg keys (every skew-prone election is a min/max-struct partial
agg); stage 6's plan relation is O(sources) broadcast and the expansion
is a bounded scan-local explode; stage 7 is the pack_offsets two-phase
prefix — no window anywhere touches an unbounded partition. kept_text
never rides through the shuffle/window machinery: the stream skeleton
is (doc_id, source, n_tok, epoch) and text joins back once at the end
on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_corpus import (
    _HEX15_SQL,
    _NORM_CTE,
    _NORM_SPARK,
    _QUAL_BASE_CTE,
    _QUAL_EXPR_SQL,
    _SEM_PROTO_CTES,
    _SHINGLE_CTE,
    _barrier,
    _hex15,
    q_quality_score,
    q_semantic_prep,
)
from .queries_quality import (
    _MAX_EPOCHS,
    _PACK_CAP,
    _PROBE_MOD,
    _SHUF_SEED,
    _TBS_FRAC,
    _decontaminated,
    budget_fill,
)
from .queries_substr import (
    _apply_removals,
    _kept_text_ctes,
    _removal_starts,
    _spans_cte_sql,
    _spans_from_starts,
    _wins_cte_sql,
)


def _final_survivors(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame | None = None,
    backend: str = "fold",
) -> DataFrame:
    """Stages 1-4: (doc_id, source, n_kept, kept_text) — decontaminated,
    exact-canonical, substring-cleaned (text applied, emptied docs
    dropped), semantic-kept survivors.

    The canonical set and the survivor set pass through _barrier — the
    two relations the downstream chain references 3+ and 7+ times.
    Without a barrier the COMPOSED plan replays the entire stage-1..4
    chain once per reference (measured: 6,586 Exchange nodes / 3,051
    scans / 47 s of planning at sf0.001 — runtime exchange reuse does
    not rescue a plan this degenerate).
    These are exactly the stage boundaries a production pipeline
    persists to a table anyway (the survivor set IS the cleaned-corpus
    ship artifact); the checkpoint is the in-session stand-in. Same
    precedent as the k-means trainer's per-iteration barrier."""
    clean = _decontaminated(spark, sf_dir)
    fp = clean.select(
        F.md5(_NORM_SPARK(F.col("text"))).alias("fp"),
        "doc_id",
        "source",
        _NORM_SPARK(F.col("text")).alias("norm"),
    )
    # doc_id leads the struct (unique), so the lexicographic min never
    # compares the payload fields — same skew-safe election as
    # corpus_prep_substr
    canon = _barrier(
        fp.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "source", "norm")).alias("c"))
        .select("c.doc_id", "c.source", "c.norm")
    )
    rspans = _spans_from_starts(
        _removal_starts(spark, sf_dir, nd=canon.select("doc_id", "norm"))
    )
    applied = _apply_removals(canon.select("doc_id", "norm"), rspans)
    survivors = (
        canon.select("doc_id", "source")
        .join(applied.select("doc_id", "n_kept", "kept_text"), "doc_id")
        .where(F.col("n_kept") > 0)
    )
    # semantic verdicts come from the embedding STORE (the registered
    # q_semantic_prep relation — one trainer job per pipeline, shareable
    # via centroids=), applied as a filter: a survivor with an embedding
    # must carry keep=true; a survivor without one passes
    sem = q_semantic_prep(
        spark, sf_dir, centroids=centroids, backend=backend
    ).select(
        F.col("vec_id").alias("doc_id"), F.col("keep").alias("_sem_keep")
    )
    return _barrier(
        survivors.join(sem, "doc_id", "left")
        .where(F.coalesce("_sem_keep", F.lit(True)))
        .drop("_sem_keep")
    )


def q_corpus_prep_final(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame | None = None,
    backend: str = "fold",
) -> DataFrame:
    """The composed training-ready corpus (see module docstring).

    MATERIALIZES (_barrier) the three stage boundaries the downstream
    chain fans out over (canonical set, survivor set, budget keep set)
    — see _final_survivors for the measured plan-explosion numbers that
    make the fully-pure form untenable (unlike corpus_prep_budget,
    whose single fan-out exchange reuse absorbs). ``centroids=`` shares
    an already-trained k-means relation with the rest of the semantic
    family (one trainer job per pipeline run); ``backend="arrow"``
    routes stage 4's cosine kernels (trainer, assignment, member fold)
    through the GEMM path."""
    surv = _final_survivors(spark, sf_dir, centroids, backend)
    # ---- stage 5: budget fill over POST-REMOVAL tokens ----------------
    qsc = q_quality_score(spark, sf_dir).select("doc_id", "quality")
    cand = (
        surv.join(qsc, "doc_id")
        .where(F.col("quality").isNotNull())
        .select(
            "doc_id",
            "source",
            F.col("n_kept").cast("bigint").alias("n_tokens"),
            "quality",
        )
    )
    kept = _barrier(budget_fill(cand).withColumnRenamed("n_tokens", "n_tok"))
    # ---- stage 6: mixture-epochs plan over the KEPT corpus ------------
    # integer `div` end to end (tt*weight_bp passes 2^53 at the
    # 10^12-token scale this targets) — same derivation as
    # q_mixture_epochs, sized on surviving tokens. The corpus totals are
    # a window over the O(sources) relation, and the plan is read by ONE
    # projection: each doc explodes its whole epoch list (the full
    # epochs, then the residual one when its hash falls under
    # residual_ppm), so the plan relation is derived once and both
    # readers of the stream share it.
    per_src = (
        kept.groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("avail_tok"))
        .withColumn(
            "weight_bp", (_hex15(F.col("source")) % 9000 + 1000).cast("bigint")
        )
    )
    every = Window.partitionBy()
    j = per_src.select(
        "source",
        "avail_tok",
        "weight_bp",
        F.sum("avail_tok").over(every).alias("_tt"),
        F.sum("weight_bp").over(every).alias("_tw"),
    )
    j = j.withColumn("target_tok", F.expr("_tt * weight_bp div _tw"))
    full = F.least(
        F.expr("target_tok div avail_tok"),
        F.lit(_MAX_EPOCHS).cast("bigint"),
    ).cast("bigint")
    j = j.withColumn("full_epochs", full)
    capped = F.expr("target_tok div avail_tok") >= _MAX_EPOCHS
    residual = (
        F.when(capped, F.lit(0))
        .otherwise(
            F.expr("(target_tok - full_epochs * avail_tok) * 1000000 div avail_tok")
        )
        .cast("bigint")
    )
    plan = j.select("source", "full_epochs", residual.alias("residual_ppm"))
    no_epochs = F.array().cast("array<bigint>")
    epochs = F.concat(
        F.when(
            F.col("full_epochs") > 0,
            F.sequence(F.lit(0).cast("bigint"), F.col("full_epochs") - 1),
        ).otherwise(no_epochs),
        F.when(
            _hex15(F.col("doc_id").cast("string")) % 1000000
            < F.col("residual_ppm"),
            F.array("full_epochs"),
        ).otherwise(no_epochs),
    )
    stream = kept.join(F.broadcast(plan), "source").select(
        "doc_id", "source", "n_tok", F.explode(epochs).alias("epoch")
    )
    # ---- stage 6b/7: deterministic order + offsets (two-phase) --------
    key = F.md5(
        F.concat(
            F.lit(_SHUF_SEED + ":"),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    s = stream.withColumn("_k", key).withColumn("_b", F.substring("_k", 1, 2))
    counts = s.groupBy("_b").agg(
        F.count("*").alias("_nd"), F.sum("n_tok").alias("_nt")
    )
    w_b = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "_b",
        F.coalesce(F.sum("_nd").over(w_b), F.lit(0)).alias("_docs_before"),
        F.coalesce(F.sum("_nt").over(w_b), F.lit(0)).alias("_toks_before"),
    )
    w_local = Window.partitionBy("_b").orderBy("_k", "doc_id", "epoch")
    placed = s.join(F.broadcast(offs), "_b").select(
        "doc_id",
        "source",
        "epoch",
        "n_tok",
        (F.col("_docs_before") + F.row_number().over(w_local) - 1).alias(
            "shuffle_pos"
        ),
        (
            F.col("_toks_before")
            + F.coalesce(
                F.sum("n_tok").over(
                    w_local.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias("start_off"),
    )
    first = F.floor(F.col("start_off") / _PACK_CAP)
    last = F.floor((F.col("start_off") + F.col("n_tok") - 1) / _PACK_CAP)
    placed = placed.select(
        "doc_id",
        "source",
        "epoch",
        "n_tok",
        "shuffle_pos",
        "start_off",
        first.alias("first_block"),
        (last - first + 1).alias("n_blocks"),
    )
    # text joins back ONCE on doc_id — never rides the window machinery
    return placed.join(surv.select("doc_id", "kept_text"), "doc_id")


def _corpus_prep_final_sql() -> str:
    """One DuckDB statement for the whole chain, reusing the
    single-definition CTE helpers every solo oracle uses (_NORM_CTE /
    _SHINGLE_CTE / _wins_cte_sql / _spans_cte_sql / _kept_text_ctes /
    the semantic _SEM_PROTO_CTES / _QUAL_BASE_CTE)."""
    return f"""WITH {_NORM_CTE}{_SHINGLE_CTE},
probe AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {_PROBE_MOD} = 0
),
contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM sh s JOIN probe p ON s.shingle = p.shingle
  WHERE s.doc_id % {_PROBE_MOD} <> 0
),
cleaned AS (
  SELECT d.doc_id, d.source, n.norm
  FROM documents d JOIN norm_docs n ON n.doc_id = d.doc_id
  WHERE d.doc_id % {_PROBE_MOD} <> 0
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
canon_docs AS (
  SELECT doc_id, source, norm FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY md5(norm)) AS canon_id
    FROM cleaned
  ) WHERE doc_id = canon_id
),
{_wins_cte_sql("canon_docs")}{_spans_cte_sql("removal", "rspans")},
{_kept_text_ctes("canon_docs", "toksf")},
{_SEM_PROTO_CTES},
sem AS (
  SELECT f.vec_id AS doc_id, f.keep AND p.keep_proto AS sem_keep
  FROM sd_flags f JOIN sp_flags p ON p.vec_id = f.vec_id
),
surv AS (
  SELECT c.doc_id, c.source,
         CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
         coalesce(ka.kept_text, '') AS kept_text
  FROM canon_docs c
  LEFT JOIN kept_agg ka ON ka.doc_id = c.doc_id
  LEFT JOIN sem ON sem.doc_id = c.doc_id
  WHERE coalesce(ka.n_kept, 0) > 0 AND coalesce(sem.sem_keep, TRUE)
),
{_QUAL_BASE_CTE},
qq AS (
  SELECT doc_id, {_QUAL_EXPR_SQL} AS quality FROM qbase
),
cand AS (
  SELECT s.doc_id, s.source, s.n_kept AS n_tokens, qq.quality
  FROM surv s JOIN qq ON qq.doc_id = s.doc_id
  WHERE qq.quality IS NOT NULL
),
b AS (
  SELECT source, CAST(floor(sum(n_tokens) * {_TBS_FRAC}) AS BIGINT) AS budget
  FROM cand GROUP BY source
),
o AS (
  SELECT cand.*,
         coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY quality DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM cand
),
kept AS (
  SELECT o.doc_id, o.source, CAST(o.n_tokens AS BIGINT) AS n_tok
  FROM o JOIN b ON b.source = o.source
  WHERE o.cum_before < b.budget
),
per_src AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS avail_tok,
         CAST({_HEX15_SQL('source')} % 9000 + 1000 AS BIGINT) AS weight_bp
  FROM kept GROUP BY source
),
tot AS (
  SELECT CAST(sum(avail_tok) AS BIGINT) AS tt,
         CAST(sum(weight_bp) AS BIGINT) AS tw
  FROM per_src
),
eplan AS (
  SELECT source, avail_tok,
         CAST((tt * weight_bp) // tw AS BIGINT) AS target_tok,
         ((tt * weight_bp) // tw) // avail_tok >= {_MAX_EPOCHS} AS capped
  FROM per_src, tot
),
ep AS (
  SELECT source,
         CAST(least(target_tok // avail_tok, {_MAX_EPOCHS}) AS BIGINT)
           AS full_epochs,
         CAST(CASE WHEN capped THEN 0
              ELSE ((target_tok
                     - least(target_tok // avail_tok,
                             {_MAX_EPOCHS}) * avail_tok) * 1000000)
                   // avail_tok END AS BIGINT) AS residual_ppm
  FROM eplan
),
fulls AS (
  SELECT k.doc_id, k.source, k.n_tok,
         CAST(unnest(range(e.full_epochs)) AS BIGINT) AS epoch
  FROM kept k JOIN ep e ON e.source = k.source
),
resid AS (
  SELECT k.doc_id, k.source, k.n_tok, e.full_epochs AS epoch
  FROM kept k JOIN ep e ON e.source = k.source
  WHERE {_HEX15_SQL('CAST(k.doc_id AS VARCHAR)')} % 1000000 < e.residual_ppm
),
stream AS (
  SELECT *, md5('{_SHUF_SEED}:' || CAST(epoch AS VARCHAR)
                || ':' || CAST(doc_id AS VARCHAR)) AS k
  FROM (SELECT * FROM fulls UNION ALL SELECT * FROM resid)
),
ordered AS (
  SELECT doc_id, source, epoch, n_tok,
         CAST(row_number() OVER (ORDER BY k, doc_id, epoch) - 1 AS BIGINT)
           AS shuffle_pos,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY k, doc_id, epoch
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_off
  FROM stream
)
SELECT o.doc_id, o.source, o.epoch, o.n_tok, o.shuffle_pos, o.start_off,
       CAST(floor(o.start_off / {_PACK_CAP}) AS BIGINT) AS first_block,
       CAST(floor((o.start_off + o.n_tok - 1) / {_PACK_CAP})
            - floor(o.start_off / {_PACK_CAP}) + 1 AS BIGINT) AS n_blocks,
       s.kept_text
FROM ordered o JOIN surv s ON s.doc_id = o.doc_id
"""


QUERIES: dict[str, tuple] = {
    "corpus_prep_final": (q_corpus_prep_final, _corpus_prep_final_sql()),
}
