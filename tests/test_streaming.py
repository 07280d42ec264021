"""Structured Streaming pipeline: incremental run matches the batch run;
stateful stitch closes groups across micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from logpipe.operators.parse import FIRSTLINE_RE
from logpipe.plans.pipeline import run_pipeline
from logpipe.streaming.stream_pipeline import (
    start_stream_pipeline,
    streaming_stitch,
)


def drain_stitch_query(spark, q, out, n_rows, timeout_s=120):
    """Drive a started stateful query until the parquet sink at ``out``
    holds >= ``n_rows`` rows, then stop it. A stateful query with
    pending processing-time timeouts stays active after an availableNow
    trigger exhausts the source, so termination must be explicit."""
    import time

    deadline = time.time() + timeout_s
    while time.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= n_rows:
                break
        except Exception:
            pass
        time.sleep(1)
    q.stop()
    q.awaitTermination(60)


def test_stream_matches_batch(spark, transcripts, k8s_meta, tool_meta, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # several input files => several micro-batches under maxFilesPerTrigger
    # (subsampled: micro-batch overhead dominates, data size doesn't)
    transcripts = transcripts.filter(F.col("turn_idx") <= 40)
    transcripts.repartition(4).write.parquet(inp)

    q = start_stream_pipeline(
        spark, inp, k8s_meta, tool_meta, out, ckpt, max_files_per_trigger=2
    )
    q.awaitTermination(300)

    got = spark.read.option("basePath", out).parquet(f"{out}/batch=*")
    expected = run_pipeline(spark.read.parquet(inp), k8s_meta, tool_meta)
    a = {r["sink"]: r["count"] for r in got.groupBy("sink").count().collect()}
    b = {r["sink"]: r["count"] for r in expected.groupBy("sink").count().collect()}
    assert a == b
    cols = ["sink", "source", "id", "stream", "content", "timestamp"]
    assert expected.select(cols).exceptAll(got.select(cols)).count() == 0
    assert got.select(cols).exceptAll(expected.select(cols)).count() == 0

    # resume: restarting on the same checkpoint reprocesses nothing
    q2 = start_stream_pipeline(
        spark, inp, k8s_meta, tool_meta, out, ckpt, max_files_per_trigger=2
    )
    q2.awaitTermination(120)
    again = {r["sink"]: r["count"] for r in spark.read.option("basePath", out).parquet(f"{out}/batch=*").groupBy("sink").count().collect()}
    assert again == a


def test_streaming_stitch_across_batches(spark, tmp_path):
    """A group left open at the end of batch 1 closes when batch 2's
    firstline arrives — state survives the micro-batch boundary."""
    rows_b1 = [
        ("c1", 0, "user", "2024-01-01 00:00:00 ERROR boom", None, None),
        ("c1", 1, "user", "\tat Frame.one", None, None),
    ]
    rows_b2 = [
        ("c1", 2, "user", "\tat Frame.two", None, None),
        ("c1", 3, "user", "2024-01-01 00:00:05 INFO next", None, None),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows_b1, schema).coalesce(1).write.mode("append").parquet(inp)
    spark.createDataFrame(rows_b2, schema).coalesce(1).write.mode("append").parquet(inp)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inp)
    )
    out = str(tmp_path / "stitched")
    q = (
        streaming_stitch(stream, FIRSTLINE_RE)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_stitch_query(spark, q, out, 1)

    got = {
        r["turn_idx"]: (r["text"], r["n_lines"])
        for r in spark.read.parquet(out).collect()
    }
    # the 3-line trace group must be emitted closed, exactly once
    assert got.get(0) == (
        "2024-01-01 00:00:00 ERROR boom\n\tat Frame.one\n\tat Frame.two",
        3,
    )


def test_streaming_stitch_multi_chunk_batch(spark, tmp_path):
    """A group whose micro-batch arrives as MANY Arrow chunks (forced
    via maxRecordsPerBatch=1) must still stitch in turn order — the
    sort has to span the whole batch, not each chunk."""
    rows = [
        ("c1", 5, "user", "2024-01-01 00:00:05 ERROR later", None, None),
        ("c1", 1, "user", "2024-01-01 00:00:01 ERROR first", None, None),
        ("c1", 2, "user", "\tat Frame.cont", None, None),
        ("c1", 9, "user", "2024-01-01 00:00:09 INFO done", None, None),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(inp)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        stream = spark.readStream.schema(schema).parquet(inp)
        out = str(tmp_path / "stitched")
        q = (
            streaming_stitch(stream, FIRSTLINE_RE)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain_stitch_query(spark, q, out, 2)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {r["turn_idx"]: r["text"] for r in spark.read.parquet(out).collect()}
    # turn 1 + its continuation close when turn 5 starts; turn 5 closes
    # when turn 9 starts — regardless of chunking
    assert got.get(1) == "2024-01-01 00:00:01 ERROR first\n\tat Frame.cont"
    assert got.get(5) == "2024-01-01 00:00:05 ERROR later"


def test_streaming_windowed_sink_counts(spark, transcripts, k8s_meta, tool_meta, tmp_path):
    """Watermarked windowed aggregation over the routed stream: window
    totals must equal the batch sink_counts on the same input, and
    every (window, sink) cell must equal the batch windowed aggregate."""
    from logpipe.streaming.stream_pipeline import streaming_sink_counts

    inp = str(tmp_path / "in")
    src = transcripts  # full fixture: ts spans a day -> many windows
    src.repartition(3).write.parquet(inp)

    stream = spark.readStream.schema(src.schema).option("maxFilesPerTrigger", "1").parquet(inp)
    routed = run_pipeline(stream, k8s_meta, tool_meta)
    q = (
        streaming_sink_counts(routed, watermark="10 minutes", window="1 hour")
        .writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["window_start"], r["sink"]): (r["rows"], r["content_bytes"])
        for r in spark.sql("select * from wincounts").collect()
    }
    batch = run_pipeline(spark.read.parquet(inp), k8s_meta, tool_meta)
    ts = F.timestamp_micros(F.expr("timestamp div 1000"))
    exp = {
        (r["window_start"], r["sink"]): (r["rows"], r["content_bytes"])
        for r in batch.withColumn("_ts", ts)
        .groupBy(F.window("_ts", "1 hour"), "sink")
        .agg(F.count(F.lit(1)).alias("rows"), F.sum(F.length("content")).alias("content_bytes"))
        .select(F.col("window.start").alias("window_start"), "sink", "rows", "content_bytes")
        .collect()
    }
    assert got == exp
    assert len({k[0] for k in got}) > 1  # multiple event-time windows exercised


def test_streaming_throttle_drop_across_batches(spark, tmp_path):
    """F1 retain=false, stateful: bucket counts carry across
    micro-batches (rows over rate in a LATER batch still drop), and the
    kept set equals the batch throttle_drop on the same input."""
    from logpipe.operators.throttle import throttle_drop
    from logpipe.streaming.stream_pipeline import streaming_throttle_drop

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    rows_b1 = [
        ("c1", i, "user", f"line {i}", None, f"2024-01-01 00:00:0{i}")
        for i in range(4)  # day-1 bucket: 4 rows, rate 3 -> keep 0,1,2
    ]
    rows_b2 = [
        ("c1", 4, "user", "line 4", None, "2024-01-01 00:01:00"),  # over rate
        ("c1", 5, "user", "line 5", None, "2024-01-01 00:02:00"),  # over rate
        ("c1", 6, "user", "line 6", None, "2024-01-02 00:00:00"),  # new bucket
        ("c2", 7, "user", "line 7", None, "2024-01-01 00:00:00"),  # other key
    ]

    import datetime as dt

    def parse(rows):
        return [
            (c, t, r, x, tool, dt.datetime.fromisoformat(s))
            for c, t, r, x, tool, s in rows
        ]

    inp = str(tmp_path / "in")
    spark.createDataFrame(parse(rows_b1), schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    spark.createDataFrame(parse(rows_b2), schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(inp)
    )
    out = str(tmp_path / "kept")
    q = (
        streaming_throttle_drop(stream, rate=3, bucket="day")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {r["turn_idx"] for r in spark.read.parquet(out).collect()}
    assert got == {0, 1, 2, 6, 7}
    # equality with the batch operator over the full input
    batch_kept = {
        r["turn_idx"]
        for r in throttle_drop(
            spark.read.parquet(inp), rate=3, key="conv_id",
            order_col="turn_idx", bucket="day",
        ).collect()
    }
    assert got == batch_kept


def test_pacing_bounds_batch_size(spark, tmp_path):
    """F1 retain=true (backpressure, not loss): maxFilesPerTrigger
    paces ingest — with 6 input files and a 2-file cap the stream
    takes >= 3 micro-batches and still delivers every row exactly once."""
    from logpipe.operators.throttle import pacing_options

    schema = "conv_id string, turn_idx int, text string"
    inp = str(tmp_path / "in")
    rows = [(f"c{i}", i, f"line {i}") for i in range(60)]
    spark.createDataFrame(rows, schema).repartition(6).write.parquet(inp)

    reader = spark.readStream.schema(schema)
    for k, v in pacing_options(max_files_per_trigger=2).items():
        reader = reader.option(k, v)
    batch_sizes = []

    def record(df, bid):
        batch_sizes.append(df.count())

    q = (
        reader.parquet(inp)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(batch_sizes) == 60  # nothing dropped (retain semantics)
    assert len(batch_sizes) >= 3  # ingest actually paced
    assert max(batch_sizes) <= 2 * 60 // 6 + 20  # bounded per trigger


def test_streaming_stitch_java_grammar(spark, tmp_path):
    """continuation_re mode: a datetime-less exception header anchors
    its own group and its frames/Caused-by glue to it across the
    micro-batch boundary — same grammar as the batch java_group_start."""
    from logpipe.operators.parse import JAVA_CONT_RE
    from logpipe.streaming.stream_pipeline import streaming_stitch

    rows_b1 = [
        ("c1", 0, "user", 'Exception in thread "main" boom', None, None),
        ("c1", 1, "user", "\tat Frame.one", None, None),
    ]
    rows_b2 = [
        ("c1", 2, "user", "Caused by: java.io.IOException", None, None),
        ("c1", 3, "user", "plain new record", None, None),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows_b1, schema).coalesce(1).write.mode("append").parquet(inp)
    spark.createDataFrame(rows_b2, schema).coalesce(1).write.mode("append").parquet(inp)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inp)
    )
    out = str(tmp_path / "stitched")
    q = (
        streaming_stitch(stream, "", continuation_re=JAVA_CONT_RE)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_stitch_query(spark, q, out, 1)

    got = {
        r["turn_idx"]: (r["text"], r["n_lines"])
        for r in spark.read.parquet(out).collect()
    }
    assert got.get(0) == (
        'Exception in thread "main" boom\n\tat Frame.one\nCaused by: java.io.IOException',
        3,
    )


def test_streaming_stitch_state_survives_query_restart(spark, tmp_path):
    """The north rule's resumability clause, streaming side: a query
    stopped BETWEEN micro-batches leaves an OPEN stitch group in the
    state store; a NEW query on the same checkpoint must recover it —
    the group closes with lines from BOTH sides of the restart and
    nothing is reprocessed. ``flush_ms`` is raised far above the
    stop/restart wall so recovered state is the ONLY way the group can
    close correctly: a timeout flush (or lost state) would emit
    fragments and fail the text assert below."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    inp = str(tmp_path / "in")
    out = str(tmp_path / "stitched")
    ckpt = str(tmp_path / "ckpt")

    def run_until(n_rows):
        q = (
            streaming_stitch(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(inp),
                FIRSTLINE_RE,
                flush_ms=600_000,
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain_stitch_query(spark, q, out, n_rows)

    # file 1: group A (turns 0-1) closed by B's firstline; B left OPEN
    f1 = [
        ("c1", 0, "user", "2024-01-01 00:00:00 ERROR boom", None, None),
        ("c1", 1, "user", "\tat Frame.one", None, None),
        ("c1", 2, "user", "2024-01-01 00:00:05 WARN open-group", None, None),
    ]
    spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(inp)
    run_until(1)  # A emitted; B open in the checkpointed state

    # across the restart boundary: B's continuation, then C closing B
    f2 = [
        ("c1", 3, "user", "\tat Frame.resumed", None, None),
        ("c1", 4, "user", "2024-01-01 00:00:09 INFO closer", None, None),
    ]
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(inp)
    run_until(2)  # a FRESH query on the same checkpoint closes B

    rows = spark.read.parquet(out).collect()
    got = {r["turn_idx"]: (r["text"], r["n_lines"]) for r in rows}
    assert got[0] == ("2024-01-01 00:00:00 ERROR boom\n\tat Frame.one", 2)
    # the group that was open across the restart: one group, both sides
    assert got[2] == (
        "2024-01-01 00:00:05 WARN open-group\n\tat Frame.resumed", 2
    )
    # exactly-once, on the RAW row count (the dict above would collapse
    # a re-emitted duplicate onto its key): A not re-emitted, no orphan
    # fragment from turn 3, nothing else
    assert len(rows) == 2 and set(got) == {0, 2}


_XPROC_STREAM_SCRIPT = """
import sys
import time

from logpipe.operators.parse import FIRSTLINE_RE
from logpipe.session import get_spark
from logpipe.streaming.stream_pipeline import streaming_stitch

inp, out, ckpt, target = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
spark = get_spark(app_name="xproc-stream", master="local[4]",
                  shuffle_partitions=8)
schema = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp")
q = (
    streaming_stitch(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inp),
        FIRSTLINE_RE,
        flush_ms=600_000,
    )
    .writeStream.format("parquet")
    .option("path", out)
    .option("checkpointLocation", ckpt)
    .outputMode("append")
    .trigger(availableNow=True)
    .start()
)
deadline = time.time() + 120
while time.time() < deadline:
    try:
        if spark.read.parquet(out).count() >= target:
            break
    except Exception:
        pass
    time.sleep(1)
q.stop()
q.awaitTermination(60)
print("XPROC_DONE " + str(spark.read.parquet(out).count()))
spark.stop()
"""


def test_streaming_stitch_state_survives_process_boundary(spark, tmp_path):
    """The in-JVM restart test above has a loophole this one closes:
    Spark caches loaded StateStoreProviders per (checkpoint, operator,
    partition) WITHIN a JVM, so a same-session restart could in
    principle serve the open group from that cache without ever
    re-reading the checkpoint files. Here each query runs in its OWN
    interpreter+JVM (the boundary a production restart actually
    crosses — the streaming analog of the reference's SQLite position
    DB surviving a tail restart, docker-runtime.conf:5,13-14): process
    A checkpoints with group B open and EXITS; process B can only
    recover that group from the on-disk state store. Same oracle as
    the in-process test: B closes with lines from both sides, exactly
    once on the raw row count."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo)
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    inp = str(tmp_path / "in")
    out = str(tmp_path / "stitched")
    ckpt = str(tmp_path / "ckpt")

    def run_process(target, log_name):
        # subprocess output goes to a FILE, not a pipe: JVM log volume
        # against a full pipe buffer can deadlock the poll loop (same
        # rule as test_manifest_crash's writer)
        log = tmp_path / log_name
        with open(log, "w") as fh:
            p = subprocess.run(
                [sys.executable, "-c", _XPROC_STREAM_SCRIPT,
                 inp, out, ckpt, str(target)],
                stdout=fh, stderr=subprocess.STDOUT,
                timeout=600, env=env, cwd=repo,
            )
        text = log.read_text()
        assert p.returncode == 0, text[-3000:]
        assert f"XPROC_DONE {target}" in text, text[-2000:]

    f1 = [
        ("c1", 0, "user", "2024-01-01 00:00:00 ERROR boom", None, None),
        ("c1", 1, "user", "\tat Frame.one", None, None),
        ("c1", 2, "user", "2024-01-01 00:00:05 WARN open-group", None, None),
    ]
    spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(inp)
    run_process(1, "proc_a.log")  # A emitted; B open, JVM GONE

    f2 = [
        ("c1", 3, "user", "\tat Frame.resumed", None, None),
        ("c1", 4, "user", "2024-01-01 00:00:09 INFO closer", None, None),
    ]
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(inp)
    run_process(2, "proc_b.log")  # fresh JVM recovers B from disk

    rows = spark.read.parquet(out).collect()
    got = {r["turn_idx"]: (r["text"], r["n_lines"]) for r in rows}
    assert got[0] == ("2024-01-01 00:00:00 ERROR boom\n\tat Frame.one", 2)
    assert got[2] == (
        "2024-01-01 00:00:05 WARN open-group\n\tat Frame.resumed", 2
    )
    assert len(rows) == 2 and set(got) == {0, 2}
