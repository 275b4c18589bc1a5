"""Sequencing / filtering operators over the flat span relation.

SURVEY.md §2 refs: W4 frame sequencing, F1 FPS downsample, F4 deterministic
sample-k, F7 slice window, A2 batch bucketing, O5/O6 ordering picks.

All pure DataFrame expressions — whole-stage codegen, no Python boundary.
Window partitions are per-doc; at 100 TB the per-doc cardinality is bounded
(≤ frames per video), so these windows never spill a whole partition — the
shuffle key is doc_id and AQE handles residual skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Portable deterministic pseudo-hash (same arithmetic is used in oracle SQL;
# replaces the reference's unseeded random.sample, video/processing.py:208-211,
# so retries/speculative tasks are idempotent).
KNUTH = 2654435761
SALT2 = 40503
HASH_MOD = 1000003


def rank_hash(doc_key: Column, off: Column) -> Column:
    return (off.cast("bigint") * KNUTH + doc_key.cast("bigint") * SALT2) % HASH_MOD


def rank_hash_sql(doc_key: str, off: str) -> str:
    return f"(({off}*{KNUTH} + {doc_key}*{SALT2}) % {HASH_MOD})"


def with_frame_seq(
    df: DataFrame,
    part_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    out_col: str = "frame_seq",
) -> DataFrame:
    """W4: dense 0-based index per doc in offset order
    (reference data/pytorch_dataset.py:443-462)."""
    part_cols = part_cols or ["doc_id"]
    order_cols = order_cols or ["span_offset", "span_pos"]
    w = Window.partitionBy(*part_cols).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(out_col, (F.row_number().over(w) - 1).cast("int"))


def fps_interval(native_fps: Column, target_fps: float) -> Column:
    """F1 interval: round(native/target), 1 if target <= 0 or >= native
    (reference video/processing.py:121-130). HALF-UP via floor(x+0.5) so
    Spark and DuckDB agree (Python's round is banker's; avoided)."""
    interval = F.floor(native_fps / F.lit(target_fps) + F.lit(0.5)).cast("int")
    return (
        F.when((F.lit(target_fps) <= 0) | (F.lit(target_fps) >= native_fps), F.lit(1))
        .otherwise(F.greatest(F.lit(1), interval))
    )


def fps_filter(df: DataFrame, native_fps: Column, target_fps: float) -> DataFrame:
    """F1: keep frame iff offset % interval == 0."""
    return df.where(F.col("span_offset") % fps_interval(native_fps, target_fps) == 0)


def sample_k(
    df: DataFrame,
    k: int,
    rank_col: Column,
    part_col: str = "doc_id",
) -> DataFrame:
    """F4: per-doc uniform-without-replacement cap, then temporal re-sort
    (reference video/processing.py:198-221). ``rank_col`` must be a pure
    deterministic function of stable keys (rank_hash or xxhash64)."""
    w = Window.partitionBy(part_col).orderBy(rank_col.asc(), F.col("span_offset").asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def slice_window(df: DataFrame, start: int, end: int, order_cols: list[str]) -> DataFrame:
    """F7: global slice remaining[start:end] (reference
    video/frame_pipeline.py:251-275). 0-based, end exclusive.

    Two-phase global index (scale-safe — no single-partition window over
    the full relation):

    1. bucket = the leading order column; per-bucket counts are one
       parallel aggregation, and the cumulative-offset window runs over
       the tiny (bucket, count) relation only — O(distinct buckets) rows
       of two longs, never the data itself;
    2. per-bucket local ``row_number`` (parallel, partitioned window)
       plus the broadcast bucket offset gives the exact global index.

    Buckets wholly outside [start, end) are pruned before the join, so
    the expensive side of the broadcast join drops out of the slice
    range early.
    """
    head, *rest = order_cols
    counts = df.groupBy(head).agg(F.count("*").alias("_n"))
    w_off = Window.orderBy(head).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        F.col(head),
        F.col("_n"),
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
    ).where((F.col("_off") < end) & (F.col("_off") + F.col("_n") > start))
    w_local = Window.partitionBy(head).orderBy(*[F.col(c) for c in (rest or [head])])
    return (
        df.join(F.broadcast(offsets.drop("_n")), head)
        .withColumn("_gidx", F.col("_off") + F.row_number().over(w_local) - 1)
        .where((F.col("_gidx") >= start) & (F.col("_gidx") < end))
        .select(*df.columns)
    )


def with_batch_id(df: DataFrame, frames_per_batch: int, seq_col: str = "frame_seq") -> DataFrame:
    """A2: contiguous batches of N frames per doc
    (reference llm/image_pipeline.py:183-209)."""
    return df.withColumn(
        "batch_id", F.floor(F.col(seq_col) / F.lit(frames_per_batch)).cast("int")
    )
