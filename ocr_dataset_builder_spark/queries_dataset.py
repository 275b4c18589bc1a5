"""The composed end-to-end dataset-sample query — the reference's actual
user-facing deliverable.

Reproduces the full ``OcrMultimodalDataset`` loader + ``__getitem__``
composition (reference data/pytorch_dataset.py:280-625, field list
:526-536) over the synthetic span corpus, as ONE DataFrame plan:

    frames (W4 sequencing)
      ⋈ LLM task lists   — J2 positional join over batch-validated (F10)
                           compacted lists, batch summaries riding along (J3)
      ⋈ tesseract        — J1 strict filename join with extension fallback
                           (stem + {.png,.jpg,.jpeg}, reference :448-457)
      → re-sequence kept frames (the loader's frame_idx_in_video_for_storage)
      → W1 ``F:i`` reconstruction over the KEPT positions (reference
        reconstructs against the filtered per-video lists, :585-607 — the
        post-filter misalignment is reproduced, not "fixed")
      → W2 SAME_AS_PREVIOUS forward fill on the markdown list
      → T1 clean_tesseract_ocr
      → U8 key-priority coalesce for llm_clean_ocr (absent task1 key for
        doc_key%5==0 docs falls back to the alternate list, :596-607)
      ⋈ aux metadata     — J4 left join (missing => NULL, :179-187)
      → U6 deterministic profile assignment + U4/U5 seeded augmentation

and feeds ``sources/jsonl.export_standard`` (S12).

Oracle strategy: every field except the augmented text is engine-portable
(the W1 decode is a recursive CTE carrying the per-doc decoded list — doc
groups are bounded by frames-per-video, so the recursion depth is tiny);
the Mersenne-RNG rewrite itself is pinned byte-identical to reference
data/ocr_augmentations.py by tests/test_dataset_sample.py +
tests/test_augment.py, and its deterministic inputs (setting_id, aug_seed,
llm_clean_ocr) ARE oracle-checked here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.cleanup import clean_ocr_col, duckdb_clean_sql
from .operators import sequencing as seqops
from .operators.augment import augment_stage, duckdb_assign_sql
from .operators.frame_dedup import (
    SAME_AS_PREVIOUS,
    decode_fref_in_row,
    encode_redundancy,
    fill_same_as_previous,
)
from .queries_joins import _MEDIA_CTE, _OCR_ROWS_CTE, _media_seq, _ocr_rows
from .synth import DUCKDB_SPANS_CTE, span_rows

_FPB = 4  # frames per LLM batch, as in queries_joins

_STEM_RE = r"\.(jpg|jpeg|png)$"


def _stem(c: F.Column) -> F.Column:
    return F.regexp_replace(c, _STEM_RE, "")


def _llm_side(frames: DataFrame) -> DataFrame:
    """The synthetic LLM-output relation: batch-validated (F10) frames of
    each doc, compacted to dense positions (the loader concatenates valid
    batches in order, so a dropped middle batch SHIFTS later entries —
    J2's positional drift, reference :433-436), carrying

    * ``enc``     — the F:i-encoded task1 list entry (W3 as producer:
      runs of 3 identical values, with an appended-tail case),
    * ``md_raw``  — the markdown entry, SAME_AS_PREVIOUS at a
      deterministic subset of positions,
    * ``summary`` — the batch summary, repeated per frame (J3 semantics).
    """
    vb = seqops.with_batch_id(frames, _FPB)
    valid = vb.where(
        ((F.col("doc_key") + F.col("batch_id")) % 7 != 0)
        & ((F.col("doc_key") + F.col("batch_id")) % 11 != 0)
    )
    w = Window.partitionBy("doc_id").orderBy("frame_seq")
    llm = valid.withColumn("llm_pos", (F.row_number().over(w) - 1).cast("int"))
    base = F.concat(
        F.lit("content "),
        F.col("doc_id"),
        F.lit(" "),
        F.floor(F.col("llm_pos") / 3).cast("int").cast("string"),
    )
    task1_val = F.concat(
        base,
        F.when(
            (F.col("llm_pos") % 7 == 5) & (F.col("llm_pos") % 3 != 0),
            F.lit("\nextra"),
        ).otherwise(F.lit("")),
    )
    md_raw = F.when(
        (F.col("doc_key") + F.col("llm_pos")) % 6 == 0, F.lit(SAME_AS_PREVIOUS)
    ).otherwise(
        F.concat(F.lit("md "), F.col("doc_id"), F.lit(" "), F.col("llm_pos").cast("string"))
    )
    summary = F.concat(
        F.lit("summary "), F.col("doc_id"), F.lit(" b"), F.col("batch_id").cast("string")
    )
    llm = llm.withColumn("task1_val", task1_val)
    llm = encode_redundancy(llm, text_col="task1_val", seq_col="llm_pos", out_col="enc")
    return llm.select(
        F.col("doc_id").alias("l_doc_id"),
        "llm_pos",
        F.col("batch_id").alias("l_batch_id"),
        "enc",
        md_raw.alias("md_raw"),
        summary.alias("summary"),
    )


def _ocr_keyed(spark: SparkSession, sf_dir: str, frames: DataFrame) -> DataFrame:
    """Tesseract rows under their on-disk key: half the entries are keyed
    by the ``.png`` sibling name (the reference's mixed-extension reality
    that forces the stem fallback, data/pytorch_dataset.py:448-457)."""
    ocr = _ocr_rows(spark, sf_dir).join(
        frames.select(
            "doc_id", F.col("media_ref").alias("frame_name"), "doc_key", "span_offset"
        ),
        ["doc_id", "frame_name"],
    )
    return ocr.select(
        "doc_id",
        F.when(
            (F.col("doc_key") + F.col("span_offset")) % 2 == 0,
            F.regexp_replace("frame_name", r"\.jpg$", ".png"),
        )
        .otherwise(F.col("frame_name"))
        .alias("ocr_key"),
        "ocr_text",
    )


def dataset_samples(
    spark: SparkSession, sf_dir: str, with_augment: bool = True
) -> DataFrame:
    """One row per validated dataset sample, with the reference
    ``__getitem__`` field set. ``with_augment=False`` stops after the
    deterministic profile assignment (U6) — no Python stage at all.

    All three big sides (the positional-join spine, the synthetic LLM
    lists, and the tesseract keying) re-derive the sequenced frame
    relation from the corpus — in production these sides come from
    SEPARATE stored tables, so the multi-scan is an artifact of the
    synthetic single-source derivation."""
    frames = _media_seq(spark, sf_dir)
    llm = _llm_side(frames)

    # J2 positional join: frame i ⋈ compacted LLM entry i, min-truncated
    # by the inner join (reference num_potential_samples, :433-436)
    j = frames.join(
        llm,
        (frames["doc_id"] == llm["l_doc_id"]) & (frames["frame_seq"] == llm["llm_pos"]),
        "inner",
    ).drop("l_doc_id")

    # J1 strict tesseract join with extension fallback on the stem;
    # frames without tesseract data are dropped (reference :437-456)
    ocr = _ocr_keyed(spark, sf_dir, frames)
    j = j.withColumn("frame_stem", _stem(F.col("media_ref"))).join(
        ocr.select(
            "doc_id", _stem(F.col("ocr_key")).alias("frame_stem"), "ocr_text"
        ),
        ["doc_id", "frame_stem"],
        "inner",
    )

    # the loader's per-video storage index over surviving frames (:457-460)
    w = Window.partitionBy("doc_id").orderBy("frame_seq")
    kept = j.withColumn("sample_idx", (F.row_number().over(w) - 1).cast("int"))

    # W1: F:i reconstruction against the FILTERED list positions; the
    # task1 key is absent for doc_key%5==0 docs (U8 fallback exercised)
    kept = kept.withColumn(
        "enc2",
        F.when(F.col("doc_key") % 5 == 0, F.lit("")).otherwise(F.col("enc")),
    )
    # in-row JVM decode: kept is already hash-partitioned on doc_id by the
    # sample_idx window, so the group-collect adds no Exchange, and no
    # join-back re-derives the upstream (the mapInPandas+join form cost
    # two extra scans of every side relation here)
    kept = decode_fref_in_row(
        kept, text_col="enc2", seq_col="sample_idx", out_col="task1_dec"
    )

    # W2: SAME_AS_PREVIOUS forward fill on the markdown list
    kept = fill_same_as_previous(
        kept, text_col="md_raw", seq_col="sample_idx", out_col="markdown"
    )

    # U8 key-priority coalesce (reference :596-607): task1_cleaned_ocr if
    # the doc's batches carry it, else the alternate cleaned list
    alt = F.concat(
        F.lit("alt "), F.col("doc_id"), F.lit(":"), F.col("frame_seq").cast("string")
    )
    llm_clean = F.when(F.col("doc_key") % 5 == 0, alt).otherwise(F.col("task1_dec"))

    # J4 aux metadata left join (missing => NULL, :179-187); subtitle list
    # is always present (possibly empty), emitted portably as sorted '|' join
    aux = (
        span_rows(spark, sf_dir)
        .where(F.col("doc_key") % 3 != 1)
        .select("doc_id")
        .distinct()
        .select(
            "doc_id",
            F.concat(F.lit("meta/"), F.col("doc_id"), F.lit(".info.json")).alias(
                "metadata_path"
            ),
        )
    )
    n_subs = (F.col("doc_key") % 3).cast("int")
    sub_paths = F.array_sort(
        F.transform(
            F.slice(F.array(F.lit("en"), F.lit("es")), 1, n_subs),
            lambda lang: F.concat(
                F.lit("subs/"), F.col("doc_id"), F.lit("."), lang, F.lit(".vtt")
            ),
        )
    )
    out = kept.join(aux, "doc_id", "left").select(
        F.col("doc_id"),
        F.col("doc_id").alias("video_id"),
        "span_offset",
        "sample_idx",
        F.col("media_ref").alias("frame_name"),
        "frame_stem",
        F.concat(F.lit("frames/"), F.col("doc_id"), F.lit("/"), F.col("media_ref")).alias(
            "frame_path"
        ),
        F.col("l_batch_id").alias("batch_id"),
        clean_ocr_col(F.col("ocr_text")).alias("tesseract_ocr"),
        llm_clean.alias("llm_clean_ocr"),
        "markdown",
        "summary",
        "metadata_path",
        F.array_join(sub_paths, "|").alias("subtitle_paths"),
    )

    # doc_id is kept (alongside its video_id alias) for the S12 export
    # path, which keys records by doc_id
    if not with_augment:
        from .operators.augment import assign_settings

        return assign_settings(out).drop("span_offset")
    aug = augment_stage(out, text_col="llm_clean_ocr")
    return aug.withColumnRenamed("augmented", "augmented_llm_clean_ocr").drop(
        "span_offset"
    )


DATASET_SAMPLE_COLS = [
    "video_id",
    "sample_idx",
    "frame_name",
    "frame_stem",
    "frame_path",
    "batch_id",
    "tesseract_ocr",
    "llm_clean_ocr",
    "markdown",
    "summary",
    "metadata_path",
    "subtitle_paths",
    "setting_id",
    "aug_seed",
]


def q_dataset_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the FULL composition including the augmentation
    stage; the Mersenne-rewritten text column is dropped from the compare
    (not SQL-expressible) but its deterministic inputs (setting_id,
    aug_seed, llm_clean_ocr) are value-checked, and the rewrite itself is
    byte-parity-pinned in tests/test_dataset_sample.py."""
    return dataset_samples(spark, sf_dir, with_augment=True).select(
        *DATASET_SAMPLE_COLS
    )


_SIM_VAL_POS = (
    "('content ' || doc_id || ' ' || CAST(CAST((llm_pos - (llm_pos % 3)) / 3 AS INT) AS VARCHAR))"
    " || CASE WHEN llm_pos % 7 = 5 AND llm_pos % 3 <> 0 THEN chr(10) || 'extra' ELSE '' END"
)

SQL_DATASET_SAMPLE = f"""WITH RECURSIVE {DUCKDB_SPANS_CTE}{_MEDIA_CTE}{_OCR_ROWS_CTE},
ocr_keyed AS (
  SELECT o.doc_id,
         CASE WHEN (m.doc_key + m.span_offset) % 2 = 0
              THEN regexp_replace(o.frame_name, '\\.jpg$', '.png')
              ELSE o.frame_name END AS ocr_key,
         o.ocr_text
  FROM ocr_rows o JOIN media_rows m
    ON m.doc_id = o.doc_id AND m.media_ref = o.frame_name
),
vbatch AS (
  SELECT doc_id, doc_key, frame_seq,
         CAST((frame_seq - (frame_seq % {_FPB})) / {_FPB} AS INT) AS batch_id
  FROM media_rows
),
llm AS (
  SELECT doc_id, doc_key, batch_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY frame_seq) - 1 AS INT) AS llm_pos
  FROM vbatch
  WHERE (doc_key + batch_id) % 7 <> 0 AND (doc_key + batch_id) % 11 <> 0
),
task AS (
  SELECT doc_id, doc_key, batch_id, llm_pos,
         {_SIM_VAL_POS} AS task1_val,
         CASE WHEN (doc_key + llm_pos) % 6 = 0 THEN '<<< SAME_AS_PREVIOUS >>>'
              ELSE 'md ' || doc_id || ' ' || CAST(llm_pos AS VARCHAR) END AS md_raw,
         'summary ' || doc_id || ' b' || CAST(batch_id AS VARCHAR) AS summary
  FROM llm
),
enc0 AS (
  SELECT *, lag(task1_val) OVER (PARTITION BY doc_id ORDER BY llm_pos) AS prev FROM task
),
enc2 AS (
  SELECT doc_id, doc_key, batch_id, llm_pos, md_raw, summary,
         CASE WHEN prev IS NULL THEN task1_val
              WHEN task1_val = prev THEN 'F:' || CAST(llm_pos - 1 AS VARCHAR)
              WHEN starts_with(task1_val, prev || chr(10))
                THEN 'F:' || CAST(llm_pos - 1 AS VARCHAR) || substr(task1_val, length(prev) + 1)
              ELSE task1_val END AS enc
  FROM enc0
),
joined AS (
  SELECT m.doc_id, m.doc_key, m.media_ref, m.span_offset, m.frame_seq,
         e.batch_id, e.enc, e.md_raw, e.summary, k.ocr_text
  FROM media_rows m
  JOIN enc2 e ON e.doc_id = m.doc_id AND e.llm_pos = m.frame_seq
  JOIN ocr_keyed k ON k.doc_id = m.doc_id
   AND regexp_replace(k.ocr_key, '{_STEM_RE}', '') =
       regexp_replace(m.media_ref, '{_STEM_RE}', '')
),
kept AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY frame_seq) - 1 AS INT) AS sample_idx
  FROM joined
),
lists AS (
  SELECT doc_id,
         list(CASE WHEN doc_key % 5 = 0 THEN '' ELSE enc END ORDER BY sample_idx) AS encs
  FROM kept GROUP BY doc_id
),
dec AS (
  SELECT doc_id, encs, 0 AS i, CAST([] AS VARCHAR[]) AS outs FROM lists
  UNION ALL
  SELECT doc_id, encs, i + 1,
         list_append(outs, CASE
           WHEN regexp_extract(encs[i+1], '^F:(\\d+)', 1) = '' THEN encs[i+1]
           WHEN CAST(regexp_extract(encs[i+1], '^F:(\\d+)', 1) AS INT) >= i THEN encs[i+1]
           ELSE outs[CAST(regexp_extract(encs[i+1], '^F:(\\d+)', 1) AS INT) + 1]
                || regexp_replace(encs[i+1], '^F:\\d+', '')
         END)
  FROM dec WHERE i < len(encs)
),
done AS (SELECT doc_id, outs FROM dec WHERE i = len(encs)),
decoded AS (
  SELECT doc_id,
         CAST(unnest(range(0, len(outs))) AS INT) AS sample_idx,
         unnest(outs) AS task1_dec
  FROM done
),
fin AS (
  SELECT k.doc_id, k.doc_key, k.span_offset, k.frame_seq, k.sample_idx,
         k.media_ref, k.batch_id, k.ocr_text, k.summary, d.task1_dec,
         CASE WHEN k.md_raw = '<<< SAME_AS_PREVIOUS >>>'
              THEN coalesce(last_value(CASE WHEN k.md_raw <> '<<< SAME_AS_PREVIOUS >>>' THEN k.md_raw END IGNORE NULLS)
                   OVER (PARTITION BY k.doc_id ORDER BY k.sample_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '')
              ELSE k.md_raw END AS markdown
  FROM kept k JOIN decoded d ON d.doc_id = k.doc_id AND d.sample_idx = k.sample_idx
),
aux AS (
  SELECT DISTINCT doc_id, 'meta/' || doc_id || '.info.json' AS metadata_path
  FROM span_rows WHERE doc_key % 3 <> 1
),
pre AS (
  SELECT doc_id AS video_id, sample_idx,
         media_ref AS frame_name,
         regexp_replace(media_ref, '{_STEM_RE}', '') AS frame_stem,
         'frames/' || doc_id || '/' || media_ref AS frame_path,
         batch_id,
         {duckdb_clean_sql('ocr_text')} AS tesseract_ocr,
         CASE WHEN doc_key % 5 = 0 THEN 'alt ' || doc_id || ':' || CAST(frame_seq AS VARCHAR)
              ELSE task1_dec END AS llm_clean_ocr,
         markdown, summary,
         coalesce(array_to_string(
           list_sort(list_transform((['en', 'es'])[1:CAST(doc_key % 3 AS INT)],
                                    lang -> 'subs/' || doc_id || '.' || lang || '.vtt')),
           '|'), '') AS subtitle_paths,
         {duckdb_assign_sql()},
         doc_id
  FROM fin
)
SELECT p.video_id, p.sample_idx, p.frame_name, p.frame_stem, p.frame_path,
       p.batch_id, p.tesseract_ocr, p.llm_clean_ocr, p.markdown, p.summary,
       a.metadata_path, p.subtitle_paths, p.setting_id, p.aug_seed
FROM pre p LEFT JOIN aux a ON a.doc_id = p.doc_id
"""


QUERIES: dict[str, tuple] = {
    "dataset_sample": (q_dataset_sample, SQL_DATASET_SAMPLE),
}
