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

The rule, in one place, read from the frame's own ``executedPlan()``:
a frame whose plan already contains an exchange (an ``AdaptiveSparkPlan``
root; ``logpipe.session`` always enables AQE) never spreads, because its
partition count is the exchange's and AQE only coalesces it when the
data is small; nor does a frame that scans a bucketed table, whose
layout a spread would break; any other frame spreads iff ``execute()``
— which builds the scan RDD without running it — has fewer partitions
than ``spark.sql.shuffle.partitions``. Deriving it runs no Spark job on
any input (``df.rdd`` would run an adaptive plan's shuffle stages to learn
a coalesced count).

Call sites: ``run_pipeline`` (pinned off by ``flagship_route_counts``),
the erda grok gate, the textstats profile and the span family's head
(``dedup._span_frame``); ``spread_decision`` surfaces the decision as
bench run metadata. Round-robin repartition pays the
sort-before-repartition safety sort (SPARK-23207) — part of the
measured trade, and retry-deterministic, unlike any rand()-derived key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def shuffle_partitions(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def spread_decision(df: DataFrame) -> dict:
    """The derived-spread decision for ``df`` with its inputs, surfaced
    as run metadata (an operator sees which plan shape a run took
    without reading PLANS.md). Keys: input_splits (None when the plan
    already contains an exchange, whose partition count is only known
    once it runs), shuffle_partitions, spread. Runs no job."""
    plan = df._jdf.queryExecution().executedPlan()
    splits = (
        None if plan.nodeName() == "AdaptiveSparkPlan"
        else plan.execute().getNumPartitions()
    )
    n_part = shuffle_partitions(df)
    return {
        "input_splits": splits,
        "shuffle_partitions": n_part,
        "spread": splits is not None and splits < n_part and not _scans_bucketed(plan),
    }


def _scans_bucketed(plan) -> bool:
    """True iff a file-scan leaf of ``plan`` reads a bucketed relation.
    Its plan may drop the bucketed read (no consumer needs the layout)
    and report file splits, but a spread would still break the layout
    for a storage-partitioned join built on the same frame."""
    leaves = plan.collectLeaves()
    return any(
        leaf.getClass().getSimpleName() == "FileSourceScanExec"
        and leaf.relation().bucketSpec().isDefined()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
    )


def derive_spread(df: DataFrame) -> bool:
    """True iff ``df`` is a narrow plan with fewer splits than the
    session's shuffle parallelism (the single-file bench reality;
    False on any naturally-split production scan, on any bucketed scan
    and on any frame that already passed an exchange)."""
    return spread_decision(df)["spread"]


def spread_for_compute(df: DataFrame, spread: bool | None = None) -> DataFrame:
    """Round-robin ``df`` across the shuffle parallelism when the
    derived (or explicitly passed) spread decision says the downstream
    per-row compute would otherwise run in fewer tasks than cores.

    Streaming frames pass through untouched: a streaming plan cannot
    execute outside a query, and micro-batch parallelism is the
    source's (maxFilesPerTrigger et al.), not a scan-split artifact."""
    if df.isStreaming:
        return df
    if spread is None:
        spread = derive_spread(df)
    return df.repartition(shuffle_partitions(df)) if spread else df
