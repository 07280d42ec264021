"""Structured Streaming variant of the pipeline (SURVEY.md §2.5).

The reference IS a stream (0.5s flush, conf/ds/fluent-bit.conf:2);
this module runs the same DAG incrementally:

- readStream over the transcripts directory (new files = new chunks;
  maxFilesPerTrigger = the throttle's retain-mode pacing);
- the whole parse -> enrich -> reshape -> route chain is stateless, so
  run_pipeline applies unchanged to the streaming frame;
- fan-out via foreachBatch -> sinks.write_sinks into one directory
  per micro-batch (batch=<id>): each micro-batch commit is the analog of a fluent-bit chunk flush, with
  the checkpoint directory playing the tail-position-DB role
  (resume-exactly-once over at-least-once retries);
- multiline stitch needs state: streaming_stitch uses
  applyInPandasWithState with a processing-time timeout as the
  Multiline_Flush=3s group-closure timer (conf/ds/cri-runtime.conf:18).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from logpipe import schema as S
from logpipe.operators.throttle import pacing_options
from logpipe.plans.pipeline import run_pipeline
from logpipe.sinks import write_sinks


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 4
) -> DataFrame:
    r = spark.readStream.schema(S.TRANSCRIPT)
    if max_files_per_trigger:
        r = r.options(**pacing_options(max_files_per_trigger))
    return r.parquet(path)


def start_stream_pipeline(
    spark: SparkSession,
    input_path: str,
    k8s_meta: DataFrame,
    tool_meta: DataFrame,
    out_base: str,
    checkpoint: str,
    max_files_per_trigger: int | None = 4,
):
    """Run the flagship DAG incrementally; returns the StreamingQuery."""
    stream = read_transcript_stream(spark, input_path, max_files_per_trigger)
    routed = run_pipeline(stream, k8s_meta, tool_meta)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_sinks(batch_df, f"{out_base}/batch={batch_id}", n_partitions=8)

    return (
        routed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_sink_counts(
    routed: DataFrame, watermark: str = "10 minutes", window: str = "1 minute"
) -> DataFrame:
    """Event-time windowed per-sink counts over the routed LogEvent
    stream — the incremental form of plans.pipeline.sink_counts (the
    reference's per-flush metrics). Watermark bounds state: windows
    older than max(event time) - watermark are finalized and their
    state dropped, so late rows inside the bound still count and the
    state store stays O(active windows), not O(stream length).

    LogEvent carries `timestamp` as UnixNano; converted back to a
    timestamp column for the window (micros precision, same as O4's
    projection input).
    """
    # integer division: a double roundtrip (ts/1000).cast(long) loses
    # precision above 2^53 ns and can shift boundary-aligned events one
    # window back
    ts = F.timestamp_micros(F.expr("timestamp div 1000"))
    return (
        routed.withColumn("_ts", ts)
        .withWatermark("_ts", watermark)
        .groupBy(F.window("_ts", window), "sink")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.length("content")).alias("content_bytes"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "sink", "rows", "content_bytes",
        )
    )


THROTTLE_STATE_SCHEMA = "buckets array<long>, counts array<long>"

#: Event-time buckets of throttle state kept per conv_id (the
#: reference's `Window` ring, throttle.c).
THROTTLE_RING = 16


def streaming_throttle_drop(stream: DataFrame, rate: int, bucket: str = "day"):
    """F1 retain=false as a STATEFUL streaming operator: drop records
    once their (conv_id, event-time bucket) count exceeds `rate`.

    State mirrors the reference's bucket ring (throttle.c keeps a ring
    of `Window` counters advanced per `Interval`): per conv_id, the
    counts of the last THROTTLE_RING buckets; older buckets are
    pruned, bounding the state size no matter how long the stream
    runs. Counting is exact under in-order per-key delivery (the tail
    position-DB guarantee — same caveat as streaming_stitch);
    cross-micro-batch equality with the batch throttle_drop is pinned
    by tests.
    """
    import pandas as pd

    out_schema = stream.schema
    cols = [f.name for f in out_schema.fields]
    freq = {"day": "D", "hour": "h", "minute": "min", "second": "s"}[bucket]

    def fn(key_, pdfs, state: GroupState):
        if state.hasTimedOut:  # NoTimeout — defensive only
            return
        buckets, counts = (state.get if state.exists else ([], []))
        m: dict[int, int] = dict(zip(buckets, counts))
        batch = pd.concat(list(pdfs)) if pdfs is not None else pd.DataFrame()
        if not len(batch):
            return
        batch = batch.sort_values("turn_idx")
        b = batch["ts"].dt.floor(freq).astype("int64")
        rank = b.groupby(b).cumcount()
        prior = b.map(m).fillna(0).astype("int64")
        keep = (prior + rank) < rate
        for bk, n in b.value_counts().items():
            m[int(bk)] = m.get(int(bk), 0) + int(n)
        pruned = sorted(m.items())[-THROTTLE_RING:]  # keep the newest buckets
        state.update(([int(k) for k, _ in pruned], [int(v) for _, v in pruned]))
        kept = batch.loc[keep, cols]
        if len(kept):
            yield kept

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=THROTTLE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


STITCH_OUT_SCHEMA = (
    "conv_id string, turn_idx int, text string, n_lines int"
)
STITCH_STATE_SCHEMA = "turn_idx int, lines array<string>"


def streaming_stitch(
    stream: DataFrame,
    firstline_re: str,
    continuation_re: str | None = None,
    flush_ms: int = 3000,
):
    """Stateful multiline stitch: per conv_id, buffer lines until the
    next firstline arrives, then emit the closed group. A processing-
    time timeout (``flush_ms``, default 3s mirroring the reference's
    Multiline_Flush — itself a conf knob, cri-runtime.conf:18) flushes
    a group that never sees a successor — fluent-bit's emitter timer.

    ``continuation_re``: alternative grammar — a line STARTS a group
    iff it does NOT match this regex (fluent-bit's built-in `java`
    multiline parser shape; pass parse.JAVA_CONT_RE for parity with
    the batch stitch_multiline(is_start=java_group_start())). When
    set, firstline_re is ignored.

    Within a micro-batch, rows are ordered by turn_idx; ACROSS batches
    state carries the open group. (Late/out-of-order turns are the
    caller's watermark concern, as in the reference's tail semantics.)
    """
    import re

    import pandas as pd

    pat = re.compile(continuation_re if continuation_re else firstline_re)
    invert = continuation_re is not None

    def stitch(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            if state.exists:
                turn_idx, lines = state.get
                state.remove()
                yield pd.DataFrame(
                    [
                        {
                            "conv_id": conv_id,
                            "turn_idx": int(turn_idx),
                            "text": "\n".join(lines),
                            "n_lines": len(lines),
                        }
                    ]
                )
            return

        # one sort over the WHOLE micro-batch group: Arrow may deliver a
        # group as several chunks, and per-chunk sorting would stitch
        # later-chunk turns into whatever group the last chunk left open
        batch = pd.concat(list(pdfs)) if pdfs is not None else pd.DataFrame()
        if not len(batch):
            # processing-time timeouts must be RE-ARMED on every
            # invocation: if Arrow delivers an empty group while a
            # group is open, dropping the timer would leave that group
            # un-flushed forever
            if state.exists:
                state.setTimeoutDuration(flush_ms)
            return
        # vectorized segmentation, same shape as the batch stitcher
        # (operators/stitch.py): a group starts at each firstline, so
        # segment id = cumsum(is_firstline); seg 0 = leading
        # continuation rows, which extend the carried open group
        batch = batch.sort_values("turn_idx", kind="mergesort")
        texts = batch["text"].fillna("").astype(str)
        is_start = ~texts.str.match(pat) if invert else texts.str.match(pat)
        seg = is_start.cumsum()
        agg = (
            pd.DataFrame(
                {
                    "turn_idx": batch["turn_idx"].astype("int64"),
                    "text": texts,
                    "seg": seg,
                }
            )
            .groupby("seg", sort=True)
            .agg(turn_idx=("turn_idx", "first"), lines=("text", list))
        )
        groups = [(int(t), list(l)) for t, l in zip(agg["turn_idx"], agg["lines"])]
        # the only imperative bit: splice the carried open group onto
        # the batch's leading continuation segment (or ahead of the
        # first firstline segment if there is none)
        if state.exists:
            open_turn, open_lines = state.get
            if agg.index[0] == 0:
                groups[0] = (int(open_turn), list(open_lines) + groups[0][1])
            else:
                groups.insert(0, (int(open_turn), list(open_lines)))
        closed, (open_turn, open_lines) = groups[:-1], groups[-1]
        state.update((int(open_turn), [str(x) for x in open_lines]))
        state.setTimeoutDuration(flush_ms)  # Multiline_Flush
        if closed:
            yield pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "turn_idx": [t for t, _ in closed],
                    "text": ["\n".join(l) for _, l in closed],
                    "n_lines": [len(l) for _, l in closed],
                }
            )

    return stream.groupBy("conv_id").applyInPandasWithState(
        stitch,
        outputStructType=STITCH_OUT_SCHEMA,
        stateStructType=STITCH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
