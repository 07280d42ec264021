"""The derived round-robin spread (logpipe.spread): one rule, read from
the frame's own executed plan, that runs no Spark job on any input."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import count_jobs
from logpipe.spread import (
    derive_spread,
    shuffle_partitions,
    spread_decision,
    spread_for_compute,
)

SF = "/root/testdata/sf0.01"


def test_exchange_input_never_spreads_and_runs_no_job(spark):
    """A frame that already passed an exchange keeps the exchange's
    partitioning: no spread, and no job to find that out. The grouped
    frame is the rejoin's shape — AQE coalesces its small shuffle to
    fewer partitions than the shuffle parallelism, which reading the
    count through ``.rdd`` mistook for a few-split scan (after running
    the shuffle to learn it)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = shuffle_partitions(docs)
    frames = {
        "grouped": docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")),
        "repartition_few": docs.repartition(2, "doc_id"),
        "repartition_many": docs.repartition(4 * n),
        "joined": docs.join(docs.select("doc_id"), "doc_id"),
    }
    for name, df in frames.items():
        got, jobs = count_jobs(spark, lambda: derive_spread(df), f"spread-x-{name}")
        assert (name, got, jobs) == (name, False, 0)


def test_derived_spread_matches_split_rule_at_call_sites(spark):
    """On every input the call sites hand the rule today — the
    single-file events and documents scans, bench's ten-way union,
    materialized frames — the decision is still "fewer splits than the
    shuffle parallelism" (the answer ``.rdd.getNumPartitions()`` gives
    on a plan with no exchange), and deriving it runs no job."""
    import bench
    from logpipe.materialize import materialize, release

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = shuffle_partitions(docs)
    held = [materialize(docs.select("doc_id", "text")),
            materialize(docs.repartition(4 * n))]
    try:
        frames = {
            "events": spark.read.parquet(f"{SF}/events.parquet"),
            "documents": docs,
            "documents_10x": bench._docs_10x(spark, SF),
            "materialized_1": held[0],
            "materialized_many": held[1],
        }
        got = {}
        for name, df in frames.items():
            got[name], jobs = count_jobs(
                spark, lambda: derive_spread(df), f"spread-{name}"
            )
            assert got[name] == (df.rdd.getNumPartitions() < n), name
            assert jobs == 0, name
        # the single-split inputs spread; the many-split copy does not
        assert got["events"] and got["documents"] and got["materialized_1"]
        assert not got["materialized_many"]
    finally:
        release(*held)


def test_bucketed_scan_never_spreads_and_runs_no_job(spark, transcripts, tmp_path):
    """A bare scan of a bucketed table plans no bucketed read (nothing
    downstream needs the layout), so its own plan reports file splits —
    fewer than the shuffle parallelism here. The rule must still not
    spread it: a round-robin exchange would break the bucket layout for
    any storage-partitioned join built on the same frame. The leaf walk
    runs no job."""
    from logpipe.tableio import write_table

    spark.sql("DROP TABLE IF EXISTS spread_bucketed_t")
    try:
        write_table(
            transcripts,
            str(tmp_path / "bucketed"),
            bucket_by=(8, "conv_id"),
            table_name="spread_bucketed_t",
        )
        b = spark.table("spread_bucketed_t")
        got, jobs = count_jobs(spark, lambda: spread_decision(b), "spread-bucketed")
        assert got["input_splits"] < got["shuffle_partitions"], got
        assert (got["spread"], jobs) == (False, 0)
    finally:
        spark.sql("DROP TABLE IF EXISTS spread_bucketed_t")


def test_streaming_frame_passes_through(spark, transcripts, tmp_path):
    """Streaming frames are never spread: the plan cannot execute
    outside a query, and micro-batch parallelism is the source's."""
    inp = str(tmp_path / "in")
    transcripts.limit(10).write.parquet(inp)
    stream = spark.readStream.schema(transcripts.schema).parquet(inp)
    assert spread_for_compute(stream) is stream
