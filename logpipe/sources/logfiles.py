"""Raw container-log file sources (SURVEY.md §2.1 S1-S3).

Replays fluent-bit's tail inputs as batch scans that produce the
canonical transcripts shape (conv_id, turn_idx, role, text, tool, ts):

- read_docker_logs: docker runtime — one JSON object per line
  {"log","stream","time"} (parser `docker`, conf/ds/parsers.conf:12-16;
  tail config conf/ds/docker-runtime.conf:1-21).
- read_cri_logs: containerd/CRI runtime — `time stream logtag log`
  text lines (parser `cri`, conf/ds/parsers.conf:25-30;
  conf/ds/cri-runtime.conf:1-21).

Line order: files are read wholetext and split with posexplode, so
turn_idx is the exact in-file line number — the offset/ordering key the
tail position DB provides in the reference. Log files are bounded by
rotation (reference caps chunks at 10MB, docker-runtime.conf:7-8), so
one file per row is safe; at scale the file list is partitioned across
executors by Spark's file scan.

Identity: fluent-bit encodes the source file path into the tag
(`Tag kube.*` + path, conf/ds/cri-runtime.conf:6) and the kubernetes
filter parses pod/namespace/container/docker_id back out of it
(Kube_Tag_Prefix, conf/ds/fluent-bit.conf:51). parse_kube_filename
replicates that: `<pod>_<namespace>_<container>-<64hex>.log`.
"""

from __future__ import annotations

import fnmatch

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logpipe.operators.parse import CRI_RE, _java

KUBE_FILENAME_RE = r"([a-z0-9\-.]+)_([a-z0-9\-.]+)_(.+)-([a-f0-9]{64})\.log$"

# Buffer_Max_Size 10MB + Skip_Long_Lines On (docker-runtime.conf:8-9):
# a line that exceeds the tail buffer is DROPPED, not truncated
DEFAULT_MAX_LINE_BYTES = 10 * 1024 * 1024


def _resolve_paths(
    spark: SparkSession, path: str, exclude_path: tuple[str, ...]
) -> list[str]:
    """Expand the input glob and drop Exclude_Path matches AT LISTING
    TIME (docker-runtime.conf:4; default '*fluent-bit*.log',
    entrypoint.sh:19-21 — the collector must not ingest its own logs).

    Exclusion happens before the scan is planned, so excluded files are
    never opened — the batch analog of the tail input never watching
    them (a post-scan input_file_name() filter would still read every
    byte). Uses the Hadoop FileSystem API, so it works on any FS the
    cluster mounts (hdfs/s3a/file).
    """
    if not exclude_path:
        return [path]
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = fs.globStatus(hpath)
    if statuses is None:
        return [path]  # let the reader raise its usual path-not-found
    kept = []
    for st in statuses:
        # a directory input (or a glob matching directories) must be
        # expanded so exclusion tests FILE paths — matching the glob
        # against the directory itself would silently keep everything
        # inside it (the self-ingestion loop Exclude_Path exists to stop)
        children = fs.listStatus(st.getPath()) if st.isDirectory() else [st]
        for c in children:
            if c.isDirectory():
                continue  # tail does not recurse
            p = c.getPath().toUri().getPath()  # scheme-less path for globbing
            if not any(fnmatch.fnmatch(p, pat) for pat in exclude_path):
                kept.append(c.getPath().toString())
    return kept


def _lines(
    spark: SparkSession,
    path: str,
    exclude_path: tuple[str, ...] = (),
    skip_long_lines: int | None = None,
) -> DataFrame:
    """(file, line_no, line) with exact in-file ordering.

    ``skip_long_lines``: byte cap above which a line is dropped
    (Skip_Long_Lines On, docker-runtime.conf:9) — distinct from P2
    truncation, which caps records the tail DID accept.
    """
    paths = _resolve_paths(spark, path, exclude_path)
    if not paths:
        return spark.createDataFrame([], "file string, line_no int, line string")
    raw = spark.read.text(paths, wholetext=True).select(
        F.input_file_name().alias("file"), F.col("value")
    )
    out = raw.select(
        "file",
        F.posexplode(F.split(F.col("value"), "\n")).alias("line_no", "line"),
    ).filter(F.length("line") > 0)  # Skip_Empty_Lines (docker-runtime.conf:10)
    if skip_long_lines is not None:
        out = out.filter(F.octet_length("line") <= skip_long_lines)
    return out


def parse_kube_filename(file_col) -> dict:
    """pod/namespace/container identity from the tag-encoded path."""
    name = F.element_at(F.split(file_col, "/"), -1)
    # _java for uniformity with every other Java consumption site
    # (round-9 ADVICE): the `.+` in group 3 would otherwise keep
    # Java's default-dot semantics (excluding \r/NEL/LS) while CRI_RE
    # in this same module is (?d)-aligned. Filenames realistically
    # never carry those chars, but one rule for all sites beats a
    # documented scope carve-out.
    return {
        "pod_name": F.regexp_extract(name, _java(KUBE_FILENAME_RE), 1),
        "namespace_name": F.regexp_extract(name, _java(KUBE_FILENAME_RE), 2),
        "container_name": F.regexp_extract(name, _java(KUBE_FILENAME_RE), 3),
        "docker_id": F.regexp_extract(name, _java(KUBE_FILENAME_RE), 4),
    }


def read_docker_logs(
    spark: SparkSession,
    path: str,
    exclude_path: tuple[str, ...] = (),
    skip_long_lines: int | None = None,
) -> DataFrame:
    """Docker-runtime tail: JSON lines -> transcripts shape.

    text = the `log` payload with its trailing newline stripped (the
    stitcher re-joins lines with '\\n', reproducing the concatenated
    docker-mode record); role = `stream`; ts = the record `time`
    (RFC3339 nanos; Spark timestamps keep micros).

    ``exclude_path``/``skip_long_lines``: see _resolve_paths/_lines
    (Exclude_Path + Skip_Long_Lines, docker-runtime.conf:4,9). Pass
    skip_long_lines=DEFAULT_MAX_LINE_BYTES for the reference's 10MB cap.
    """
    lines = _lines(spark, path, exclude_path, skip_long_lines)
    parsed = lines.withColumn(
        "j", F.from_json("line", "log string, stream string, time string")
    ).filter(F.col("j.log").isNotNull())
    ident = parse_kube_filename(F.col("file"))
    return parsed.select(
        F.concat_ws(
            "_", ident["pod_name"], ident["namespace_name"], ident["container_name"]
        ).alias("conv_id"),
        F.col("line_no").cast("int").alias("turn_idx"),
        F.col("j.stream").alias("role"),
        F.regexp_replace(F.col("j.log"), r"\n$", "").alias("text"),
        ident["container_name"].alias("tool"),
        F.to_timestamp(
            # truncate RFC3339 nanos to micros for TimestampType
            F.regexp_replace(F.col("j.time"), r"(\.\d{6})\d*", "$1"),
            "yyyy-MM-dd'T'HH:mm:ss.SSSSSSX",
        ).alias("ts"),
        F.col("file"),
        ident["docker_id"].alias("docker_id"),
        # Docker_Mode continuation marker: docker splits >16KB app lines
        # into consecutive records; only the LAST fragment carries the
        # trailing newline (docker-runtime.conf:17-19)
        (~F.col("j.log").endswith("\n")).alias("partial"),
    )


def fragment_join(
    df: DataFrame,
    partial_col: str = "partial",
    order_col: str = "turn_idx",
    carry: tuple[str, ...] = ("role", "tool", "ts", "file"),
) -> DataFrame:
    """Rejoin records the runtime split out of ONE over-long app line:
    a record marked partial continues into the next record.

    Fragments concatenate with NO separator (they are pieces of one
    line, unlike the multiline filter which joins distinct lines with
    '\\n'; fragment rejoin runs FIRST, then the firstline stitcher).
    Group assignment is the same running-sum-over-window shape as
    stitch_multiline: a record starts a group iff its predecessor was
    not partial. Output keeps the first fragment's identity columns;
    a trailing unterminated fragment is flushed as-is (the tail's
    Docker_Mode_Flush timeout analog).

    Used for Docker_Mode On (docker-runtime.conf:17-19: `log` without
    a trailing newline continues) and CRI logtag P/F (cri partial
    records continue until the next F record).
    """
    w = Window.partitionBy("conv_id").orderBy(order_col)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_start = (~F.coalesce(F.lag(partial_col, 1).over(w), F.lit(False))).cast("int")
    marked = df.withColumn("_grp", F.sum(is_start).over(wrun))
    ordered = F.array_sort(
        F.collect_list(F.struct(order_col, "text", *carry))
    )
    first = F.element_at("_lines", 1)
    return (
        marked.groupBy("conv_id", "_grp")
        .agg(ordered.alias("_lines"))
        .select(
            "conv_id",
            first[order_col].alias(order_col),
            F.concat_ws("", F.transform("_lines", lambda x: x["text"])).alias("text"),
            *[first[c].alias(c) for c in carry],
        )
    )


def docker_mode_join(df: DataFrame, order_col: str = "turn_idx") -> DataFrame:
    """Docker_Mode On: see fragment_join (the `partial` marker comes
    from read_docker_logs — log without the trailing newline)."""
    return fragment_join(
        df, "partial", order_col, carry=("role", "tool", "ts", "file", "docker_id")
    )


def cri_mode_join(df: DataFrame, order_col: str = "turn_idx") -> DataFrame:
    """CRI partial-record rejoin: logtag 'P' continues into the next
    record, 'F' closes it (conf/ds/parsers.conf:25-30 cri format;
    cri-runtime.conf Multiline handling)."""
    return fragment_join(
        df.withColumn("partial", F.col("logtag") == "P"),
        "partial", order_col, carry=("role", "tool", "ts", "file", "logtag"),
    )


def read_cri_logs(
    spark: SparkSession,
    path: str,
    conv_from_file: bool = True,
    exclude_path: tuple[str, ...] = (),
    skip_long_lines: int | None = None,
) -> DataFrame:
    """CRI-runtime tail: `time stream logtag log` lines -> transcripts
    (Exclude_Path / Skip_Long_Lines as in read_docker_logs;
    cri-runtime.conf:4,9)."""
    lines = _lines(spark, path, exclude_path, skip_long_lines)
    t = F.regexp_extract("line", _java(CRI_RE), 1)
    return lines.select(
        (
            F.element_at(F.split("file", "/"), -1)
            if conv_from_file
            else F.lit("cri")
        ).alias("conv_id"),
        F.col("line_no").cast("int").alias("turn_idx"),
        F.regexp_extract("line", _java(CRI_RE), 2).alias("role"),
        F.regexp_extract("line", _java(CRI_RE), 4).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(
            F.regexp_replace(t, r"(\.\d{6})\d*", "$1"),
            "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
        ).alias("ts"),
        F.col("file"),
        F.regexp_extract("line", _java(CRI_RE), 3).alias("logtag"),
    )


def ignore_older(df: DataFrame, cutoff, ts_col: str = "ts") -> DataFrame:
    """`ignore_older 5m` (conf/eci/fluent-bit.conf:18): drop records
    older than the cutoff. The reference skips stale files at tail
    start; the batch analog is an event-time predicate, which Catalyst
    pushes into the scan (partition pruning on ts-partitioned tables).
    """
    return df.filter(F.col(ts_col) >= F.lit(cutoff))
