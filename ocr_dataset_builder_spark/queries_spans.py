"""Driver-contract queries over the interleaved span corpus + DuckDB oracles.

Each entry: name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
The oracle re-derives the identical span corpus inside DuckDB via
synth.DUCKDB_SPANS_CTE; column names/types match the Spark output exactly
(the driver sorts columns by name before value-hashing).

SURVEY.md §2 operator ids are noted per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.cleanup import clean_ocr_col, duckdb_clean_sql
from .operators import sequencing as seqops
from .operators.frame_dedup import decode_fref, encode_redundancy, fill_same_as_previous
from .operators.ocr import ocr_media
from .pipeline import extract_spans
from .synth import (
    DUCKDB_SPANS_CTE,
    documents_spans,
    duckdb_ocr_sql,
    span_rows,
    synthetic_ocr_col,
)

NL = "\n"


def _with(cte_extra: str = "") -> str:
    return f"WITH {DUCKDB_SPANS_CTE}{cte_extra} "


def _flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_rows(spark, sf_dir)


# a dense 0-based sequence over all spans per doc, ordered by offset —
# offsets are unique per doc in the derivation, so this is deterministic
_SEQ_SQL = (
    "CAST(row_number() OVER (PARTITION BY doc_id ORDER BY span_offset) - 1 AS INT)"
)


def _with_seq(df: DataFrame) -> DataFrame:
    w = Window.partitionBy("doc_id").orderBy("span_offset")
    return df.withColumn("seq", (F.row_number().over(w) - 1).cast("int"))


# media-only dense frame sequence
_MEDIA_SEQ_CTE = f""",
media_rows AS (
  SELECT doc_id, doc_key, span_offset, media_ref,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY span_offset) - 1 AS INT) AS frame_seq
  FROM span_rows WHERE kind = 'media'
)"""


def _media_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _flat(spark, sf_dir).where("kind = 'media'")
    return seqops.with_frame_seq(
        media, order_cols=["span_offset"]
    ).select("doc_id", "doc_key", "span_offset", "media_ref", "frame_seq")


# ---------------------------------------------------------------------------
# Q: flagship — full extraction, exploded ordered rows (W6 + T1 + U1)
# ---------------------------------------------------------------------------


def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    nested = documents_spans(spark, sf_dir)
    return extract_spans(nested).select("doc_id", "ord", "kind", "text", "media_ref")


SQL_FLAGSHIP = _with() + f"""
SELECT doc_id,
       {_SEQ_SQL} AS ord,
       kind,
       CASE WHEN kind = 'media'
            THEN {duckdb_clean_sql(duckdb_ocr_sql('doc_id', 'media_ref', 'span_offset'))}
            ELSE {duckdb_clean_sql('text')} END AS text,
       media_ref
FROM span_rows
"""


# ---------------------------------------------------------------------------
# Q: span_seq (W4) — explode + per-doc dense sequencing
# ---------------------------------------------------------------------------


def q_span_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_seq(_flat(spark, sf_dir)).select("doc_id", "span_offset", "kind", "seq")


SQL_SPAN_SEQ = _with() + f"SELECT doc_id, span_offset, kind, {_SEQ_SQL} AS seq FROM span_rows"


# ---------------------------------------------------------------------------
# Q: ocr_clean (T1) — cleanup of dirty text spans
# ---------------------------------------------------------------------------


def q_ocr_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _flat(spark, sf_dir)
        .where("kind = 'text'")
        .select("doc_id", "span_offset", clean_ocr_col(F.col("text")).alias("clean_text"))
    )


SQL_OCR_CLEAN = _with() + (
    f"SELECT doc_id, span_offset, {duckdb_clean_sql('text')} AS clean_text "
    "FROM span_rows WHERE kind = 'text'"
)


# ---------------------------------------------------------------------------
# Q: media_frames (U1 + T2 + T3 + T7) — OCR stage + scalar frame functions
# ---------------------------------------------------------------------------


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _flat(spark, sf_dir).where("kind = 'media'")
    return ocr_media(media, use_arrow=True).select(
        "doc_id",
        F.col("media_ref").alias("frame_name"),
        F.regexp_extract("media_ref", r"frame_(\d+)\.", 1).cast("int").alias("frame_no"),
        F.when(F.lower(F.substring_index("media_ref", ".", -1)).isin("jpg", "jpeg"), "image/jpeg")
        .when(F.lower(F.substring_index("media_ref", ".", -1)) == "png", "image/png")
        .otherwise(F.lit(None).cast("string"))
        .alias("mime"),
        F.col("ocr_text"),
    )


SQL_MEDIA_FRAMES = _with() + f"""
SELECT doc_id,
       media_ref AS frame_name,
       CAST(regexp_extract(media_ref, 'frame_(\\d+)\\.', 1) AS INT) AS frame_no,
       CASE WHEN lower(string_split(media_ref, '.')[-1]) IN ('jpg','jpeg') THEN 'image/jpeg'
            WHEN lower(string_split(media_ref, '.')[-1]) = 'png' THEN 'image/png'
            ELSE NULL END AS mime,
       {duckdb_ocr_sql('doc_id', 'media_ref', 'span_offset')} AS ocr_text
FROM span_rows WHERE kind = 'media'
"""


# ---------------------------------------------------------------------------
# Q: fps_filter (F1) — per-doc interval downsample
# ---------------------------------------------------------------------------

_FPS_NATIVE = "10 + doc_key % 21"  # synthetic per-doc native fps
_FPS_TARGET = 2.0


def q_fps_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = _flat(spark, sf_dir).withColumn(
        "native_fps", (F.lit(10) + F.col("doc_key") % 21).cast("double")
    )
    out = seqops.fps_filter(flat, F.col("native_fps"), _FPS_TARGET)
    return out.select(
        "doc_id",
        "span_offset",
        seqops.fps_interval(F.col("native_fps"), _FPS_TARGET).alias("interval"),
    )


SQL_FPS_FILTER = _with() + f"""
SELECT doc_id, span_offset,
       CAST(greatest(1, floor(({_FPS_NATIVE}) / {_FPS_TARGET} + 0.5)) AS INT) AS interval
FROM span_rows
WHERE span_offset % CAST(greatest(1, floor(({_FPS_NATIVE}) / {_FPS_TARGET} + 0.5)) AS INT) = 0
"""


# ---------------------------------------------------------------------------
# Q: sample_k (F4) — deterministic per-doc cap, temporal order preserved
# ---------------------------------------------------------------------------

_SAMPLE_K = 3


def q_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = _flat(spark, sf_dir)
    rk = seqops.rank_hash(F.col("doc_key"), F.col("span_offset"))
    return seqops.sample_k(flat, _SAMPLE_K, rk).select("doc_id", "span_offset", "kind")


SQL_SAMPLE_K = _with() + f""",
ranked AS (
  SELECT doc_id, span_offset, kind,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY {seqops.rank_hash_sql('doc_key', 'span_offset')} ASC, span_offset ASC
         ) AS rk
  FROM span_rows
)
SELECT doc_id, span_offset, kind FROM ranked WHERE rk <= {_SAMPLE_K}
"""


# ---------------------------------------------------------------------------
# Q: slice_window (F7) — global offset/limit slice
# ---------------------------------------------------------------------------

_SLICE_START, _SLICE_END = 50, 150


def q_slice_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = _flat(spark, sf_dir)
    return seqops.slice_window(
        flat, _SLICE_START, _SLICE_END, ["doc_id", "span_offset"]
    ).select("doc_id", "span_offset", "kind")


SQL_SLICE_WINDOW = _with() + f"""
SELECT doc_id, span_offset, kind FROM (
  SELECT doc_id, span_offset, kind,
         row_number() OVER (ORDER BY doc_id, span_offset) - 1 AS rn
  FROM span_rows
) WHERE rn >= {_SLICE_START} AND rn < {_SLICE_END}
"""


# ---------------------------------------------------------------------------
# Q: batch_stats (A2) — contiguous 4-frame batches over media frames
# ---------------------------------------------------------------------------

_FPB = 4


def q_batch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_seq(spark, sf_dir)
    return (
        seqops.with_batch_id(media, _FPB)
        .groupBy("doc_id", "batch_id")
        .agg(
            F.count("*").cast("bigint").alias("n_frames"),
            F.min("frame_seq").alias("first_seq"),
            F.max("frame_seq").alias("last_seq"),
        )
    )


SQL_BATCH_STATS = _with(_MEDIA_SEQ_CTE) + f"""
SELECT doc_id,
       CAST((frame_seq - (frame_seq % {_FPB})) / {_FPB} AS INT) AS batch_id,
       count(*) AS n_frames,
       min(frame_seq) AS first_seq,
       max(frame_seq) AS last_seq
FROM media_rows
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Q: batch_assemble (A3) — '--- Frame i ---' concatenation per batch
# ---------------------------------------------------------------------------


def q_batch_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_seq(spark, sf_dir)
    ocr = ocr_media(media, use_arrow=False)
    batched = seqops.with_batch_id(ocr, _FPB)
    part = F.concat(
        F.lit("--- Frame "),
        F.col("frame_seq").cast("string"),
        F.lit(" ---\n"),
        F.col("ocr_text"),
        F.lit("\n\n"),
    )
    assembled = (
        batched.withColumn("_part", part)
        .groupBy("doc_id", "batch_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("frame_seq"), F.col("_part")))
                    ),
                    lambda s: s["_part"],
                ),
                "",
            ).alias("_joined")
        )
    )
    return assembled.select(
        "doc_id",
        "batch_id",
        F.regexp_replace(F.regexp_replace("_joined", r"^\s+", ""), r"\s+$", "").alias(
            "batch_text"
        ),
    )


SQL_BATCH_ASSEMBLE = _with(_MEDIA_SEQ_CTE) + f"""
SELECT doc_id,
       CAST((frame_seq - (frame_seq % {_FPB})) / {_FPB} AS INT) AS batch_id,
       regexp_replace(regexp_replace(
         string_agg('--- Frame ' || CAST(frame_seq AS VARCHAR) || ' ---' || chr(10)
                    || {duckdb_ocr_sql('doc_id', 'media_ref', 'span_offset')}
                    || chr(10) || chr(10), '' ORDER BY frame_seq),
         '^\\s+', ''), '\\s+$', '') AS batch_text
FROM media_rows
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Q: dedup_encode (W3) + fref_decode (W1): encode emits F:i refs; decode
# reconstructs — oracle for decode is the pre-encode value (roundtrip).
# ---------------------------------------------------------------------------

# deterministic task values with duplicate runs and appended-tail cases
_SIM_BASE_SQL = (
    "('content ' || doc_id || ' ' || CAST(CAST((frame_seq - (frame_seq % 3)) / 3 AS INT) AS VARCHAR))"
)
_SIM_VAL_SQL = (
    f"({_SIM_BASE_SQL} || CASE WHEN frame_seq % 7 = 5 AND frame_seq % 3 <> 0 "
    "THEN chr(10) || 'extra' ELSE '' END)"
)


def _sim_task(media_seq: DataFrame) -> DataFrame:
    base = F.concat(
        F.lit("content "),
        F.col("doc_id"),
        F.lit(" "),
        F.floor(F.col("frame_seq") / 3).cast("int").cast("string"),
    )
    val = F.concat(
        base,
        F.when(
            (F.col("frame_seq") % 7 == 5) & (F.col("frame_seq") % 3 != 0),
            F.lit("\nextra"),
        ).otherwise(F.lit("")),
    )
    return media_seq.withColumn("task_val", val)


def q_dedup_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    sim = _sim_task(_media_seq(spark, sf_dir))
    return encode_redundancy(sim, "task_val", "frame_seq").select(
        "doc_id", "frame_seq", "encoded"
    )


SQL_DEDUP_ENCODE = _with(_MEDIA_SEQ_CTE) + f""",
sim AS (
  SELECT doc_id, frame_seq, {_SIM_VAL_SQL} AS task_val FROM media_rows
),
enc AS (
  SELECT doc_id, frame_seq, task_val,
         lag(task_val) OVER (PARTITION BY doc_id ORDER BY frame_seq) AS prev
  FROM sim
)
SELECT doc_id, frame_seq,
       CASE WHEN prev IS NULL THEN task_val
            WHEN task_val = prev THEN 'F:' || CAST(frame_seq - 1 AS VARCHAR)
            WHEN starts_with(task_val, prev || chr(10))
              THEN 'F:' || CAST(frame_seq - 1 AS VARCHAR) || substr(task_val, length(prev) + 1)
            ELSE task_val END AS encoded
FROM enc
"""


def q_fref_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = q_dedup_encode(spark, sf_dir)
    return decode_fref(enc, text_col="encoded", seq_col="frame_seq").select(
        "doc_id", "frame_seq", "decoded"
    )


# roundtrip identity: decode(encode(x)) == x
SQL_FREF_DECODE = _with(_MEDIA_SEQ_CTE) + f"""
SELECT doc_id, frame_seq, {_SIM_VAL_SQL} AS decoded FROM media_rows
"""


# ---------------------------------------------------------------------------
# Q: same_as_prev (W2) — placeholder forward fill
# ---------------------------------------------------------------------------

def q_same_as_prev(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _sim_task(_media_seq(spark, sf_dir))
    with_ph = media.withColumn(
        "val",
        F.when(
            (F.col("doc_key") + F.col("frame_seq")) % 5 == 0,
            F.lit("<<< SAME_AS_PREVIOUS >>>"),
        ).otherwise(F.col("task_val")),
    )
    return fill_same_as_previous(
        with_ph, text_col="val", seq_col="frame_seq"
    ).select("doc_id", "frame_seq", "filled")


SQL_SAME_AS_PREV = _with(_MEDIA_SEQ_CTE) + f""",
sim AS (
  SELECT doc_id, doc_key, frame_seq,
         CASE WHEN (doc_key + frame_seq) % 5 = 0 THEN '<<< SAME_AS_PREVIOUS >>>'
              ELSE {_SIM_VAL_SQL} END AS val
  FROM media_rows
)
SELECT doc_id, frame_seq,
       CASE WHEN val = '<<< SAME_AS_PREVIOUS >>>'
            THEN coalesce(last_value(CASE WHEN val <> '<<< SAME_AS_PREVIOUS >>>' THEN val END IGNORE NULLS)
                          OVER (PARTITION BY doc_id ORDER BY frame_seq
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '')
            ELSE val END AS filled
FROM sim
"""

QUERIES: dict[str, tuple] = {
    "flagship_extract": (q_flagship, SQL_FLAGSHIP),
    "span_seq": (q_span_seq, SQL_SPAN_SEQ),
    "ocr_clean": (q_ocr_clean, SQL_OCR_CLEAN),
    "media_frames": (q_media_frames, SQL_MEDIA_FRAMES),
    "fps_filter": (q_fps_filter, SQL_FPS_FILTER),
    "sample_k": (q_sample_k, SQL_SAMPLE_K),
    "slice_window": (q_slice_window, SQL_SLICE_WINDOW),
    "batch_stats": (q_batch_stats, SQL_BATCH_STATS),
    "batch_assemble": (q_batch_assemble, SQL_BATCH_ASSEMBLE),
    "dedup_encode": (q_dedup_encode, SQL_DEDUP_ENCODE),
    "fref_decode": (q_fref_decode, SQL_FREF_DECODE),
    "same_as_prev": (q_same_as_prev, SQL_SAME_AS_PREV),
}
