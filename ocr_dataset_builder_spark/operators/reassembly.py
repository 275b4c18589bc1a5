"""W6 — span reassembly: reconstruct each document's ordered span sequence.

The invariant checked against the reference is span-sequence equality
(kind, text, media_ref, order) — reference analogue is the sorted merge of
per-frame records back into per-video order (data/pytorch_dataset.py:472-478).
The flagship orders spans in-row (``array_sort`` + ``posexplode`` in
``pipeline.extract_spans``); this module rebuilds the nested shape.

:func:`reassemble_nested` — the contract-shaped nested array. For skewed
docs (one video, thousands of frames) it uses a **salted two-phase
collect_list**: partial collect per (doc_id, salt bucket), then flatten +
sort in a final per-doc pass — the shuffle fan-in per reducer key is
bounded by n_frames/SALT instead of n_frames (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def reassemble_nested(
    flat: DataFrame,
    text_col: str = "text",
    salt_buckets: int = 8,
) -> DataFrame:
    """Contract-shaped output with salted two-phase aggregation."""
    span = F.struct(
        F.col("span_offset").alias("offset"),
        F.col("span_pos").alias("span_pos"),
        F.col("kind").alias("kind"),
        F.col(text_col).alias("text"),
        F.col("media_ref").alias("media_ref"),
    )
    if salt_buckets <= 1:
        agg = flat.groupBy("doc_id").agg(
            F.sort_array(F.collect_list(span)).alias("_sorted")
        )
    else:
        salt = F.pmod(F.xxhash64("span_offset", "span_pos"), F.lit(salt_buckets))
        partial = (
            flat.withColumn("_salt", salt)
            .groupBy("doc_id", "_salt")
            .agg(F.collect_list(span).alias("_part"))
        )
        agg = partial.groupBy("doc_id").agg(
            F.sort_array(F.flatten(F.collect_list("_part"))).alias("_sorted")
        )
    return agg.select(
        "doc_id",
        F.transform(
            "_sorted",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )
