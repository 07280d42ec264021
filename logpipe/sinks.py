"""Per-sink fan-out writers (SURVEY.md §2.4 O1-O3).

The reference's three outputs (http container/job, out_erda export with
per-collector dynamic URL) become partitioned table writes:

- routed rows land in ONE write partitioned by `sink` (and by
  `collector` inside the export sink) — the Match-glob dispatch (F13)
  becomes partition pruning for downstream readers;
- out_erda's one-URL-per-chunk invariant (sender.go:71-77: every
  chunk carries a single collector) is reproduced by repartitioning on
  the collector key so each task writes one collector's files;
- conv_id hot-key skew is defused by SALTING the repartition key: we
  never need conv-locality at write time (only the stitcher does,
  upstream), so the writer spreads each hot key over `n_salts`
  buckets (pmod(hash(turn-identity), n_salts)). Batching + gzip in
  the reference (BatchSender/remote.go) are replaced by columnar
  parquet+snappy row groups — the same bytes-on-the-wire economics.

At-least-once chunk retry (main.go:117-122) -> Spark task retry with
an atomic rename-based commit protocol; per-batch atomicity -> the
(Iceberg-style) _SUCCESS-guarded directory commit of the v2 committer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def salted_repartition(
    df: DataFrame, key: str, n_partitions: int, n_salts: int = DEFAULT_SALTS
) -> DataFrame:
    """Repartition by (key, salt): co-locates by key at partition-count
    granularity while splitting any hot key across n_salts buckets.

    The salt is derived from the row's full content hash — stable
    across retries (no rand(), which breaks task-retry determinism).
    """
    hashable = [
        f.name for f in df.schema.fields
        if f.dataType.typeName() not in ("map",)  # maps are unhashable in Spark
    ]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(n_salts))
    return df.repartition(n_partitions, F.col(key), salt)


def write_sinks(
    log_events: DataFrame,
    base_path: str,
    n_partitions: int = 32,
    n_salts: int = DEFAULT_SALTS,
) -> None:
    """One pass, one shuffle: fan all routed rows out to
    {base_path}/sink=<container|job|export>/... parquet.

    Export rows additionally partition by collector (the dynamic-URL
    key, labels['monitor_log_collector']) so each downstream exporter
    reads exactly its files — mirroring out_erda's per-collector POST.
    """
    with_collector = log_events.withColumn(
        "collector",
        F.when(F.col("sink") == "export", _collector()).otherwise(F.lit("-")),
    )
    salted = salted_repartition(with_collector, "sink", n_partitions, n_salts)
    # tableio: a path ref writes a parquet dir (every committed test);
    # a table:NAME ref would commit an Iceberg snapshot
    from logpipe.tableio import write_table

    write_table(salted, base_path, mode="overwrite", partition_by=("sink", "collector"))


def read_sink(spark, base_path: str, sink: str) -> DataFrame:
    """Partition-pruned reader for one sink (F13 Match dispatch)."""
    from logpipe.tableio import read_table

    return read_table(spark, base_path).filter(F.col("sink") == sink)


PAYLOAD_SCHEMA = (
    "collector string, bucket int, chunk_idx int, url string, content_type string, "
    "content_encoding string, n_events int, body binary"
)

HTTP_PAYLOAD_SCHEMA = (
    "sink string, bucket int, chunk_idx int, uri string, content_type string, "
    "content_encoding string, retry_limit int, n_events int, body binary"
)

#: O1/O2 output blocks (conf/ds/fluent-bit.conf:207-237): Match glob ->
#: (uri, Retry_Limit). json_date_key=false in both blocks, so fluent-bit
#: injects NO date field — the body is exactly the JSON array of records.
HTTP_SINKS: dict[str, tuple[str, int]] = {
    "container": ("/collect/logs/container", 1000),
    "job": ("/collect/logs/job", 100),
}

#: GzipLevel 3 (out_erda main.go:32), used for every wire payload.
GZIP_LEVEL = 3
#: content-hash buckets per sink/collector in the payload builders: a
#: hot sink or collector is split over this many tasks.
PAYLOAD_BUCKETS = 8
#: the label whose value is an export chunk's URL (URLFromLogLabel,
#: out_erda/sender.go:74-77).
URL_LABEL = "monitor_log_collector"


def _collector() -> Column:
    """An export row's collector: its URL label, 'unknown' when unset."""
    return F.coalesce(F.col("labels")[URL_LABEL], F.lit("unknown"))


def _event_dicts(chunk) -> list[dict]:
    """LogEvent rows -> JSON-ready dicts, field order = the collector's
    Go struct tags (sender.go:13-24), map keys sorted, null timestamps
    as 0 (the deterministic stand-in for the reference's
    collection-time fallback, outerda.go:91-96)."""
    import pandas as pd

    return [
        {
            "source": r["source"],
            "id": r["id"],
            "stream": r["stream"],
            "content": r["content"],
            "offset": int(r["offset"]) if pd.notna(r["offset"]) else 0,
            "timestamp": int(r["timestamp"]) if pd.notna(r["timestamp"]) else 0,
            "tags": dict(sorted((r["tags"] or {}).items())),
            "labels": dict(sorted((r["labels"] or {}).items())),
        }
        for r in chunk.to_dict("records")
    ]


def _chunk_bodies(pdf, chunk_rows: int, gzip_level: int):
    """Sort a payload group deterministically, chunk it, and yield
    (start, chunk, gzip_body) with mtime=0 (retry-safe bytes)."""
    import gzip as _gzip
    import io
    import json as _json

    pdf = pdf.sort_values(
        ["timestamp", "id", "content"], kind="mergesort", na_position="first"
    )
    for start in range(0, len(pdf), chunk_rows):
        chunk = pdf.iloc[start : start + chunk_rows]
        body = _json.dumps(_event_dicts(chunk), separators=(",", ":")).encode("utf-8")
        buf = io.BytesIO()
        with _gzip.GzipFile(
            fileobj=buf, mode="wb", compresslevel=gzip_level, mtime=0
        ) as gz:
            gz.write(body)
        yield start, chunk, buf.getvalue()


def _payloads(
    rows: DataFrame, key: str, schema: str, header, chunk_rows: int
) -> DataFrame:
    """The wire-payload encoder both builders share: one shuffle on
    (key, content-hash bucket), then per group sorted, chunked, gzipped
    bodies (_chunk_bodies). ``header(first_row)`` returns the per-chunk
    header fields a sink adds (uri/url, retry_limit) from the chunk's
    first row."""
    import pandas as pd

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for start, chunk, body in _chunk_bodies(pdf, chunk_rows, GZIP_LEVEL):
            first = chunk.iloc[0]
            out.append(
                {
                    key: first[key],
                    "bucket": int(first["bucket"]),
                    "chunk_idx": start // chunk_rows,
                    "content_type": "application/json; charset=UTF-8",
                    "content_encoding": "gzip",
                    "n_events": len(chunk),
                    "body": body,
                    **header(first),
                }
            )
        return pd.DataFrame(out)

    bucketed = rows.withColumn(
        "bucket",
        F.pmod(F.xxhash64("id", "content"), F.lit(PAYLOAD_BUCKETS)).cast("int"),
    )
    return bucketed.groupBy(key, "bucket").applyInPandas(build, schema=schema)


def build_http_payloads(log_events: DataFrame, chunk_rows: int = 1000) -> DataFrame:
    """O1/O2 wire payloads — the http outputs
    (conf/ds/fluent-bit.conf:207-237): per sink, chunked JSON-array
    bodies (`format json`; `json_date_key false` means NO injected date
    field, so `json_date_format iso8601` never materializes a key),
    gzip-compressed (`compress gzip`, mtime=0 for retry-stable bytes),
    POSTed to the block's fixed `uri`. Retry_Limit rides along as chunk
    metadata (container 1000, job 100) for the sender's backoff loop —
    Spark task retry covers the build; delivery retry is the sender's.

    Same scale shape as build_export_payloads: one shuffle on
    (sink, content-hash bucket), per-task memory bounded by
    |sink| / PAYLOAD_BUCKETS, bytes deterministic across retries.
    """

    def header(first) -> dict:
        uri, retry_limit = HTTP_SINKS[first["sink"]]
        return {"uri": uri, "retry_limit": retry_limit}

    http = log_events.filter(F.col("sink").isin(list(HTTP_SINKS)))
    return _payloads(http, "sink", HTTP_PAYLOAD_SCHEMA, header, chunk_rows)


def build_export_payloads(log_events: DataFrame, chunk_rows: int = 1000) -> DataFrame:
    """O3 wire payloads (out_erda/sender.go:13-24,66-82,
    remote.go:116-141): chunk export rows per collector, serialize each
    chunk as the JSON array of LogEvents — field order = the Go struct
    tags (source, id, stream, content, offset, timestamp, tags, labels),
    map keys sorted, compact separators (jsoniter
    ConfigCompatibleWithStandardLibrary) — then gzip (GzipLevel 3,
    main.go:32) with mtime=0 so output bytes are DETERMINISTIC across
    retries. The chunk's URL comes from its first record's label
    (URLFromLogLabel, sender.go:74-77); every chunk carries exactly one
    collector (the fluent-bit same-target-same-chunk invariant).

    DEFLATE bitstreams are implementation-specific, so Go-vs-Python
    byte equality is not meaningful; tests verify gunzip->JSON
    roundtrip equality, header values, and run-to-run determinism.

    Scale shape: one shuffle on (collector, bucket) where bucket is a
    content-hash mod PAYLOAD_BUCKETS — a hot collector is split across
    PAYLOAD_BUCKETS tasks instead of materializing as ONE pandas frame
    in one task, so per-task memory is bounded by |collector| /
    PAYLOAD_BUCKETS. A chunk is identified by (collector, bucket,
    chunk_idx); every chunk still carries exactly one collector (the
    fluent-bit invariant) and bytes stay deterministic (the bucket hash
    is content-derived, not rand()). Size PAYLOAD_BUCKETS ~
    ceil(hottest-collector-bytes / executor-task-budget) at the target
    scale.
    """

    def header(first) -> dict:
        return {"url": (first["labels"] or {}).get(URL_LABEL, "")}

    export = log_events.filter(F.col("sink") == "export").withColumn(
        "collector", _collector()
    )
    return _payloads(export, "collector", PAYLOAD_SCHEMA, header, chunk_rows)
