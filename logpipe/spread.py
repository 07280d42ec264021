"""Derived round-robin spread for scan-stage per-row compute.

The bench parquet files are single-row-group singles: a narrow chain
(parse regexes, tokenize/shingle lambdas, map building) that follows
the scan with no exchange executes in ONE task no matter how many
cores the session has — `spark.sql.files.minPartitionNum` cannot help
because byte-range splits of a one-row-group parquet hand every row to
the first split. The span/minhash family solved this in round 5 with a
DERIVED round-robin repartition (the "spread"): pay one
parallelism-only exchange when — and only when — the input arrives in
fewer splits than the shuffle parallelism. A naturally-split 100TB
scan derives False and the operator moves zero payload bytes with no
caller flag (the round-5/6 "derive-don't-default" rule).

This module is the shared home of that rule for the OTHER scan-stage
compute chains (flagship parse chain, erda grok, textstats profile,
line dedup — round 11); logpipe.traindata.dedup calls it directly so the
rule cannot fork (its `spread_decision` surfaces the same decision as
run metadata in the bench artifact).

``df.rdd.getNumPartitions()`` compiles the physical plan but runs no
job. Round-robin repartition pays the sort-before-repartition safety
sort (SPARK-23207) — part of the measured trade, and retry-
deterministic, unlike any rand()-derived key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def shuffle_partitions(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def derive_spread(df: DataFrame, n_part: int | None = None) -> bool:
    """True iff ``df`` arrives in fewer splits than the session's
    shuffle parallelism (the single-file bench reality; False on any
    naturally-split production scan)."""
    if n_part is None:
        n_part = shuffle_partitions(df)
    return df.rdd.getNumPartitions() < n_part


def spread_for_compute(df: DataFrame, spread: bool | None = None) -> DataFrame:
    """Round-robin ``df`` across the shuffle parallelism when the
    derived (or explicitly passed) spread decision says the downstream
    per-row compute would otherwise run in fewer tasks than cores.

    Streaming frames pass through untouched: ``.rdd`` cannot compile on
    a streaming source, and micro-batch parallelism is the source's
    (maxFilesPerTrigger et al.), not a scan-split artifact."""
    if df.isStreaming:
        return df
    n_part = shuffle_partitions(df)
    if spread is None:
        spread = derive_spread(df, n_part)
    return df.repartition(n_part) if spread else df
