"""Driver-contract queries: refinement stage (U2/U3 + A3<->T6 round trip)
and multimodal binary plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.cleanup import duckdb_clean_sql
from .operators import sequencing as seqops
from .operators.multimodal import decode_features, with_payload
from .operators.ocr import ocr_media
from .operators.refinement import SUMMARY_LEN, refine_batches
from .synth import DUCKDB_SPANS_CTE, duckdb_ocr_sql, span_rows

_FPB = 4

_MEDIA_CTE = """,
media_rows AS (
  SELECT doc_id, doc_key, span_offset, media_ref,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY span_offset) - 1 AS INT) AS frame_seq
  FROM span_rows WHERE kind = 'media'
)"""

_OCR_EXPR = duckdb_ocr_sql("doc_id", "media_ref", "span_offset")

_REFINED_CTE = f""",
refined AS (
  SELECT doc_id, frame_seq,
         CAST((frame_seq - (frame_seq % {_FPB})) / {_FPB} AS INT) AS batch_id,
         {duckdb_clean_sql(_OCR_EXPR)} AS cleaned
  FROM media_rows
)"""


def _ocr_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = span_rows(spark, sf_dir).where("kind = 'media'")
    media = seqops.with_frame_seq(media, order_cols=["span_offset"])
    ocr = ocr_media(media, use_arrow=False).select(
        "doc_id", "frame_seq", F.col("ocr_text").alias("text")
    )
    return seqops.with_batch_id(ocr, _FPB)


def q_refine_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full assemble -> deterministic-refine -> header-parse round trip per
    batch; per-frame cleaned + markdown out. Oracle computes the closed
    form directly (cleanup + markdown concat)."""
    refined = refine_batches(_ocr_batched(spark, sf_dir))
    return refined.select("doc_id", "batch_id", "frame_seq", "cleaned", "markdown")


SQL_REFINE_FRAMES = f"""WITH {DUCKDB_SPANS_CTE}{_MEDIA_CTE}{_REFINED_CTE}
SELECT doc_id, batch_id, frame_seq, cleaned,
       '## Frame ' || CAST(frame_seq AS VARCHAR) || chr(10) || cleaned AS markdown
FROM refined
"""


def q_refine_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    refined = refine_batches(_ocr_batched(spark, sf_dir))
    return refined.select("doc_id", "batch_id", "summary").distinct()


SQL_REFINE_SUMMARY = f"""WITH {DUCKDB_SPANS_CTE}{_MEDIA_CTE}{_REFINED_CTE}
SELECT doc_id, batch_id,
       regexp_replace(regexp_replace(
         substr(string_agg(cleaned, ' ' ORDER BY frame_seq), 1, {SUMMARY_LEN}),
         '^\\s+', ''), '\\s+$', '') AS summary
FROM refined
GROUP BY doc_id, batch_id
"""


def q_parse_image_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 full round trip at the driver-contract tier: per (doc, batch),
    BUILD the five-block ``==== TASK n ====`` / ``-- Frame i --`` response
    JVM-side (deterministic values with a SAME_AS_PREVIOUS class in task 1
    and frame GAPS in task 2), then parse it back with the reference-parity
    parser (operators/image_parse.py, reference llm/image_processing.py:
    242-347) — redundancy fill (W2) and gap densification (W5) happen
    INSIDE the parse. Oracle = the closed pre-build forms: W2 as an
    IGNORE NULLS window, W5 as the max-present-index spine."""
    frames = span_rows(spark, sf_dir).where("kind = 'media'")
    frames = seqops.with_frame_seq(frames, order_cols=["span_offset"])
    frames = seqops.with_batch_id(frames, _FPB).withColumn(
        "bpos", (F.col("frame_seq") % _FPB).cast("int")
    )
    is_ph = (F.col("doc_key") + F.col("frame_seq")) % 5 == 0
    t1 = F.when(is_ph, F.lit("<<< SAME_AS_PREVIOUS >>>")).otherwise(
        F.concat(F.lit("t1 "), F.col("doc_id"), F.lit(" "), F.col("frame_seq").cast("string"))
    )
    gap2 = (F.col("doc_key") + F.col("frame_seq")) % 9 == 0
    t2 = F.when(gap2, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("t2 "), F.col("doc_id"), F.lit(" "), F.col("frame_seq").cast("string"))
    )
    t3 = F.concat(
        F.lit("t3 "), F.col("doc_id"), F.lit(" "), F.col("frame_seq").cast("string"),
        F.lit("\ncont"),
    )
    t4 = F.concat(F.lit("md **"), F.col("frame_seq").cast("string"), F.lit("**"))

    def entry(val: F.Column) -> F.Column:
        return F.concat(F.lit("-- Frame "), F.col("bpos").cast("string"), F.lit(" --\n"), val)

    per_frame = frames.select(
        "doc_id",
        "batch_id",
        F.struct(
            F.col("bpos"),
            entry(t1).alias("e1"),
            F.when(gap2, F.lit(None).cast("string")).otherwise(entry(t2)).alias("e2"),
            entry(t3).alias("e3"),
            entry(t4).alias("e4"),
        ).alias("s"),
    )

    def block(title: str, field: str) -> list[F.Column]:
        entries = F.filter(
            F.transform(F.col("_sorted"), lambda s: s[field]), lambda e: e.isNotNull()
        )
        return [F.lit(f"==== {title} ===="), F.array_join(entries, "\n")]

    assembled = per_frame.groupBy("doc_id", "batch_id").agg(
        F.array_sort(F.collect_list("s")).alias("_sorted")
    )
    response = F.concat_ws(
        "\n",
        *block("TASK 1: RAW OCR", "e1"),
        *block("TASK 2: AUGMENTED OCR", "e2"),
        *block("TASK 3: CLEANED OCR", "e3"),
        *block("TASK 4: MARKDOWN", "e4"),
        F.lit("==== TASK 5: SUMMARY ===="),
        F.concat(F.lit("sum "), F.col("doc_id"), F.lit(" b"), F.col("batch_id").cast("string")),
    )
    built = assembled.select("doc_id", "batch_id", response.alias("response"))

    from .operators.image_parse import parse_batches

    return parse_batches(built)


SQL_PARSE_IMAGE_BATCHES = f"""WITH {DUCKDB_SPANS_CTE}{_MEDIA_CTE},
fb AS (
  SELECT doc_id, doc_key, frame_seq,
         CAST((frame_seq - (frame_seq % {_FPB})) / {_FPB} AS INT) AS batch_id,
         CAST(frame_seq % {_FPB} AS INT) AS bpos
  FROM media_rows
),
t1 AS (
  SELECT doc_id, batch_id, 'task1_raw_ocr' AS task, bpos AS frame_idx,
         CASE WHEN (doc_key + frame_seq) % 5 = 0
              THEN coalesce(last_value(CASE WHEN (doc_key + frame_seq) % 5 <> 0
                                            THEN 't1 ' || doc_id || ' ' || CAST(frame_seq AS VARCHAR) END IGNORE NULLS)
                   OVER (PARTITION BY doc_id, batch_id ORDER BY bpos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '')
              ELSE 't1 ' || doc_id || ' ' || CAST(frame_seq AS VARCHAR) END AS value
  FROM fb
),
t2p AS (
  SELECT doc_id, batch_id, bpos, frame_seq,
         (doc_key + frame_seq) % 9 = 0 AS gap,
         max(CASE WHEN (doc_key + frame_seq) % 9 <> 0 THEN bpos END)
           OVER (PARTITION BY doc_id, batch_id) AS maxp
  FROM fb
),
t2 AS (
  SELECT doc_id, batch_id, 'task2_augmented' AS task, bpos AS frame_idx,
         CASE WHEN gap THEN '' ELSE 't2 ' || doc_id || ' ' || CAST(frame_seq AS VARCHAR) END AS value
  FROM t2p WHERE maxp IS NOT NULL AND bpos <= maxp
),
t34 AS (
  SELECT doc_id, batch_id, 'task3_cleaned' AS task, bpos AS frame_idx,
         't3 ' || doc_id || ' ' || CAST(frame_seq AS VARCHAR) || chr(10) || 'cont' AS value
  FROM fb
  UNION ALL
  SELECT doc_id, batch_id, 'task4_markdown' AS task, bpos AS frame_idx,
         'md **' || CAST(frame_seq AS VARCHAR) || '**' AS value
  FROM fb
),
t5 AS (
  SELECT DISTINCT doc_id, batch_id, 'task5_summary' AS task, -1 AS frame_idx,
         'sum ' || doc_id || ' b' || CAST(batch_id AS VARCHAR) AS value
  FROM fb
)
SELECT * FROM t1
UNION ALL SELECT * FROM t2
UNION ALL SELECT * FROM t34
UNION ALL SELECT * FROM t5
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column -> Arrow-batched decode stand-in
    (n_bytes + md5). Oracle: DuckDB md5/encode over the same derivation."""
    media = span_rows(spark, sf_dir).where("kind = 'media'").select(
        "doc_id", "media_ref"
    )
    feats = decode_features(with_payload(media))
    return feats.select("doc_id", "media_ref", "n_bytes", "payload_md5")


SQL_MULTIMODAL_META = f"""WITH {DUCKDB_SPANS_CTE}
SELECT doc_id, media_ref,
       CAST(octet_length(encode(doc_id || '/' || media_ref)) AS INT) AS n_bytes,
       md5(doc_id || '/' || media_ref) AS payload_md5
FROM span_rows WHERE kind = 'media'
"""


_MAX_DIM = 1024


def q_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: the resize decision (output dims + interpolation mode) per
    frame, reference video/processing.py:163-185. Source dimensions are
    derived deterministically per frame (the parquet corpus stores no
    real pixels); the arithmetic under test is the reference's:
    bounded max-dim, aspect-preserving int() truncation, INTER_AREA for
    downscale / INTER_LINEAR otherwise."""
    from .operators.multimodal import resize_dims

    media = span_rows(spark, sf_dir).where("kind = 'media'")
    dims = media.select(
        "doc_id",
        "media_ref",
        (480 + (F.col("doc_key") * 7 + F.col("span_offset") * 13) % 1200)
        .cast("int")
        .alias("src_h"),
        (640 + (F.col("doc_key") * 11 + F.col("span_offset") * 17) % 1600)
        .cast("int")
        .alias("src_w"),
    )
    out_h, out_w, interp = resize_dims(F.col("src_h"), F.col("src_w"), _MAX_DIM)
    return dims.select(
        "doc_id", "media_ref", "src_h", "src_w",
        out_h.alias("out_h"), out_w.alias("out_w"), interp.alias("interp"),
    )


def _resize_sql() -> str:
    from .operators.multimodal import resize_dims_sql

    out_h, out_w, interp = resize_dims_sql("src_h", "src_w", _MAX_DIM)
    return f"""WITH {DUCKDB_SPANS_CTE},
dims AS (
  SELECT doc_id, media_ref,
         CAST(480 + (doc_key * 7 + span_offset * 13) % 1200 AS INT) AS src_h,
         CAST(640 + (doc_key * 11 + span_offset * 17) % 1600 AS INT) AS src_w
  FROM span_rows WHERE kind = 'media'
)
SELECT doc_id, media_ref, src_h, src_w,
       {out_h} AS out_h, {out_w} AS out_w, {interp} AS interp
FROM dims
"""


SQL_RESIZE_DIMS = _resize_sql()


def q_resize_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-level resize verification (closing the round-3 'resize is
    decision-only' gap): per frame, synthesize a deterministic grayscale
    image from (doc_key, span_offset) arithmetic, downscale it by an
    exact factor 2 with the pure-numpy INTER_AREA kernel inside
    mapInPandas (the real multimodal batch plumbing — Arrow transfer,
    per-batch numpy work, exactly where cv2 would run), and emit the
    resized-pixel checksum. Factor-2 INTER_AREA is the exact block mean
    in quarter-integer arithmetic, so the DuckDB oracle recomputes every
    output pixel independently and the match verifies BOTH the kernel's
    integer-factor path and the Spark plumbing end-to-end. The
    general-scale kernel paths are pinned by tests/test_resize_kernel.py."""
    from collections.abc import Iterator

    import pandas as pd

    from .operators.multimodal import INTER_AREA, resize_pixels

    media = span_rows(spark, sf_dir).where("kind = 'media'").select(
        "doc_id",
        "media_ref",
        (8 + 2 * ((F.col("doc_key") * 7 + F.col("span_offset") * 13) % 13))
        .cast("int")
        .alias("src_h"),
        (8 + 2 * ((F.col("doc_key") * 11 + F.col("span_offset") * 17) % 17))
        .cast("int")
        .alias("src_w"),
        (F.col("doc_key") * 31 + F.col("span_offset") * 57)
        .cast("bigint")
        .alias("seed"),
    )

    schema = (
        "doc_id string, media_ref string, src_h int, src_w int, "
        "out_h int, out_w int, checksum bigint"
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, mref, h, w, seed in zip(
                pdf["doc_id"], pdf["media_ref"], pdf["src_h"], pdf["src_w"], pdf["seed"]
            ):
                r = np.arange(h, dtype=np.int64)[:, None]
                c = np.arange(w, dtype=np.int64)[None, :]
                img = (int(seed) + 101 * r + 67 * c) % 256
                out = resize_pixels(img, h // 2, w // 2, INTER_AREA)
                rows.append(
                    (doc_id, mref, int(h), int(w), h // 2, w // 2, int(out.sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "media_ref", "src_h", "src_w",
                    "out_h", "out_w", "checksum",
                ],
            )

    return media.mapInPandas(_run, schema)


SQL_RESIZE_CHECKSUM = f"""WITH {DUCKDB_SPANS_CTE},
dims AS (
  SELECT doc_id, media_ref,
         CAST(8 + 2 * ((doc_key * 7 + span_offset * 13) % 13) AS INT) AS src_h,
         CAST(8 + 2 * ((doc_key * 11 + span_offset * 17) % 17) AS INT) AS src_w,
         CAST(doc_key * 31 + span_offset * 57 AS BIGINT) AS seed
  FROM span_rows WHERE kind = 'media'
),
out_px AS (
  SELECT doc_id, media_ref, src_h, src_w, seed,
         unnest(list_transform(range(0, (src_h // 2) * (src_w // 2)),
                i -> {{'oy': i // (src_w // 2), 'ox': i % (src_w // 2)}})) AS u
  FROM dims
),
vals AS (
  SELECT doc_id, media_ref, src_h, src_w,
         floor((  (seed + 101 * (2 * u.oy)     + 67 * (2 * u.ox))     % 256
                + (seed + 101 * (2 * u.oy)     + 67 * (2 * u.ox + 1)) % 256
                + (seed + 101 * (2 * u.oy + 1) + 67 * (2 * u.ox))     % 256
                + (seed + 101 * (2 * u.oy + 1) + 67 * (2 * u.ox + 1)) % 256
               ) / 4.0 + 0.5) AS v
  FROM out_px
)
SELECT doc_id, media_ref, src_h, src_w,
       CAST(src_h // 2 AS INT) AS out_h, CAST(src_w // 2 AS INT) AS out_w,
       CAST(sum(v) AS BIGINT) AS checksum
FROM vals
GROUP BY 1, 2, 3, 4, 5, 6
"""


def q_media_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: human-readable size formatting (reference
    video/processing.py:258-273) over deterministic per-frame byte
    counts spanning B..GB (plus an exact-zero row class)."""
    from .functions.costing import human_size_col

    media = span_rows(spark, sf_dir).where("kind = 'media'")
    size = F.when((F.col("doc_key") + F.col("span_offset")) % 19 == 0, F.lit(0)).otherwise(
        (
            (F.col("doc_key") * 104729 + F.col("span_offset") * 7919 + 1)
            * F.pow(F.lit(32.0), ((F.col("doc_key") + F.col("span_offset")) % 5).cast("double"))
        ).cast("bigint")
    )
    sized = media.select("doc_id", "media_ref", size.alias("size_bytes"))
    return sized.select(
        "doc_id", "media_ref", "size_bytes",
        human_size_col(F.col("size_bytes")).alias("human_size"),
    )


def _media_sizes_sql() -> str:
    from .functions.costing import human_size_sql

    return f"""WITH {DUCKDB_SPANS_CTE},
sized AS (
  SELECT doc_id, media_ref,
         CASE WHEN (doc_key + span_offset) % 19 = 0 THEN 0
              ELSE CAST((doc_key * 104729 + span_offset * 7919 + 1)
                        * pow(32.0, CAST((doc_key + span_offset) % 5 AS DOUBLE)) AS BIGINT)
         END AS size_bytes
  FROM span_rows WHERE kind = 'media'
)
SELECT doc_id, media_ref, size_bytes, {human_size_sql('size_bytes')} AS human_size
FROM sized
"""


SQL_MEDIA_SIZES = _media_sizes_sql()


def q_augment_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6: deterministic profile assignment for augmentation — the
    engine-portable hash half of the augment stage, fully SQL-oracle-able.
    The seeded text rewrite itself (U4/U5) is CPython-Mersenne RNG, pinned
    byte-identical to reference data/ocr_augmentations.py:36-420 by
    tests/test_augment.py (executes the reference module directly)."""
    from .operators.augment import assign_settings

    text_spans = (
        span_rows(spark, sf_dir)
        .where("kind = 'text'")
        .select("doc_id", "span_offset")
    )
    return assign_settings(text_spans).select(
        "doc_id", "span_offset", "setting_id", "aug_seed"
    )


def _augment_assign_sql() -> str:
    from .operators.augment import duckdb_assign_sql

    return f"""WITH {DUCKDB_SPANS_CTE}
SELECT doc_id, span_offset, {duckdb_assign_sql()}
FROM span_rows WHERE kind = 'text'
"""


SQL_AUGMENT_ASSIGN = _augment_assign_sql()


QUERIES: dict[str, tuple] = {
    "parse_image_batches": (q_parse_image_batches, SQL_PARSE_IMAGE_BATCHES),
    "refine_frames": (q_refine_frames, SQL_REFINE_FRAMES),
    "refine_summary": (q_refine_summary, SQL_REFINE_SUMMARY),
    "multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL_META),
    "augment_assign": (q_augment_assign, SQL_AUGMENT_ASSIGN),
    "resize_dims": (q_resize_dims, SQL_RESIZE_DIMS),
    "resize_checksum": (q_resize_checksum, SQL_RESIZE_CHECKSUM),
    "media_sizes": (q_media_sizes, SQL_MEDIA_SIZES),
}
