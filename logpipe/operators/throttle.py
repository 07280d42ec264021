"""F1 throttle — sliding-window rate control (SURVEY.md §2.3).

The reference's patched C filter (filter_throttle_patch/throttle.c)
keeps a ring of `Window` buckets advanced every `Interval`; a record is
over-rate when the window average exceeds `Rate`
(throttle.c:98-107). Two modes:

- Retain=true (default, the patch, throttle.c:274-281): sleep-and-keep
  — BACKPRESSURE, not loss. Batch jobs self-pace, so the correctness-
  preserving analog is (a) pacing options on a streaming reader and
  (b) an AUDIT aggregate that reports which (key, window) buckets ran
  over rate.
- Retain=false (upstream behavior): DROP over-rate records — a
  row_number frame per (key, window) keeping the first `rate` rows.

All three shapes are provided; drop/audit are verified against DuckDB
oracles in driver_queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def throttle_drop(
    df: DataFrame,
    rate: int,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    bucket: str = "second",
) -> DataFrame:
    """Retain=false mode: keep the first `rate` rows per (key, bucket).

    Deterministic (ordered by order_col), one shuffle on (key, bucket).
    """
    w = Window.partitionBy(key, F.date_trunc(bucket, F.col("ts"))).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= rate)
        .drop("_rn")
    )


def throttle_audit(
    df: DataFrame,
    rate: int,
    key: str = "conv_id",
    bucket: str = "second",
) -> DataFrame:
    """Retain=true mode audit: (key, window_start, n) for buckets whose
    row count exceeds `rate` — the windows where the reference would
    have slept (pacing), reported instead of enforced."""
    return (
        df.groupBy(key, F.date_trunc(bucket, F.col("ts")).alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > rate)
    )


def pacing_options(max_files_per_trigger: int = 4) -> dict[str, str]:
    """Retain=true mode for the streaming reader: bound ingest per
    micro-batch (the backpressure analog of sleep-and-keep)."""
    return {"maxFilesPerTrigger": str(max_files_per_trigger)}
