"""Final LogEvent projection (SURVEY.md §2.4 O4).

Reimplements out_erda's `Process` (out_erda/outerda.go:73-118) as one
columnar select:

- id: required, default ''  (outerda.go:78-82); for job-sink rows the
  define_tag overwrites it (hard_copy, conf/ds/fluent-bit.conf:195-199)
- stream: default 'stdout'  (outerda.go:84-88)
- source: 'container', overwritten 'job' on the job sink
  (outerda.go:110; conf/ds/fluent-bit.conf:199)
- timestamp: event time as UnixNano, preferring the record time over the
  chunk time (outerda.go:91-96,113; helps.go:52-63)
- offset: deprecated, kept 0 for schema parity (sender.go:18-19)
- tags/labels: map<string,string>, default empty (outerda.go:98-108)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logpipe.operators.rewrite import SINK_JOB


def project_log_event(df: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Project routed+reshaped rows into the LogEvent output schema.

    Expects columns: content, id, stream, ts, tags, labels, sink,
    define_tag (nullable). ``passthrough`` appends extra lineage
    columns (e.g. a manifest bucket id) to the otherwise-fixed schema.
    """
    is_job = F.col("sink") == SINK_JOB
    return df.select(
        F.when(is_job, F.lit("job")).otherwise(F.lit("container")).alias("source"),
        F.coalesce(
            F.when(is_job, F.col("define_tag")).otherwise(F.col("id")), F.lit("")
        ).alias("id"),
        F.coalesce(F.col("stream"), F.lit("stdout")).alias("stream"),
        F.coalesce(F.col("content"), F.lit("")).alias("content"),
        F.lit(0).cast("long").alias("offset"),
        # UnixNano: micros*1000 (timestamps carry micros precision).
        # cast handles TIMESTAMP_NTZ parquet columns (session TZ is UTC,
        # so the reinterpretation is identity).
        (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).alias("timestamp"),
        F.coalesce(F.col("tags"), F.from_json(F.lit("{}"), "map<string,string>")).alias("tags"),
        F.coalesce(F.col("labels"), F.from_json(F.lit("{}"), "map<string,string>")).alias("labels"),
        F.col("sink"),
        *[F.col(c) for c in passthrough],
    )


def event_size(df: DataFrame) -> DataFrame:
    """O5 Size() accounting (out_erda/sender.go:26-32): per-event byte
    size = len(content)+len(id)+len(source)+len(stream)+Σ(len(k)+len(v))
    over tags."""
    # octet_length: Go len() counts BYTES; length() counts chars and
    # undercounts multibyte UTF-8
    tag_bytes = F.coalesce(
        F.aggregate(
            F.map_entries(F.col("tags")),
            F.lit(0),
            lambda acc, e: acc + F.octet_length(e.key) + F.octet_length(e.value),
        ),
        F.lit(0),
    )
    return df.withColumn(
        "event_bytes",
        F.octet_length("content")
        + F.octet_length("id")
        + F.octet_length("source")
        + F.octet_length("stream")
        + tag_bytes,
    )
