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

from logpipe.functions import rfc3339_timestamp
from logpipe.operators.parse import _java, parse_cri
from logpipe.operators.stitch import collapse_runs

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
) -> DataFrame:
    """(file, line_no, line) with exact in-file ordering.

    A line over ``DEFAULT_MAX_LINE_BYTES`` is dropped (Skip_Long_Lines
    On in both reference tails, docker-runtime.conf:8-9,
    cri-runtime.conf:9) — distinct from P2 truncation, which caps
    records the tail DID accept. The cap is read at call time.
    """
    paths = _resolve_paths(spark, path, exclude_path)
    if not paths:
        return spark.createDataFrame([], "file string, line_no int, line string")
    raw = spark.read.text(paths, wholetext=True).select(
        F.input_file_name().alias("file"), F.col("value")
    )
    return (
        raw.select(
            "file",
            F.posexplode(F.split(F.col("value"), "\n")).alias("line_no", "line"),
        )
        .filter(F.length("line") > 0)  # Skip_Empty_Lines (docker-runtime.conf:10)
        .filter(F.octet_length("line") <= DEFAULT_MAX_LINE_BYTES)
    )


def parse_kube_filename(file_col) -> dict:
    """pod/namespace/container identity from the tag-encoded path."""
    name = F.element_at(F.split(file_col, "/"), -1)
    # _java for uniformity with every other Java consumption site
    # (round-9 ADVICE): the `.+` in group 3 would otherwise keep
    # Java's default-dot semantics (excluding \r/NEL/LS) while the CRI
    # grammar (parse.parse_cri) is (?d)-aligned. Filenames realistically
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
) -> DataFrame:
    """Docker-runtime tail: JSON lines -> transcripts shape.

    text = the `log` payload with its trailing newline stripped (the
    stitcher re-joins lines with '\\n', reproducing the concatenated
    docker-mode record); role = `stream`; ts = the record `time`
    (RFC3339 nanos; Spark timestamps keep micros). A record whose time
    does not parse is kept with a NULL ts, as fluent-bit keeps it.

    ``exclude_path``: see _resolve_paths; Skip_Long_Lines always
    applies (_lines; docker-runtime.conf:4,9).
    """
    lines = _lines(spark, path, exclude_path)
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
        rfc3339_timestamp(F.col("j.time")).alias("ts"),
        F.col("file"),
        ident["docker_id"].alias("docker_id"),
        # Docker_Mode continuation marker: docker splits >16KB app lines
        # into consecutive records; only the LAST fragment carries the
        # trailing newline (docker-runtime.conf:17-19)
        (~F.col("j.log").endswith("\n")).alias("partial"),
    )


def fragment_join(
    df: DataFrame,
    carry: tuple[str, ...] = ("role", "tool", "ts", "file"),
) -> DataFrame:
    """Rejoin records the runtime split out of ONE over-long app line:
    a record whose `partial` flag is set continues into the next record.

    Fragments concatenate with NO separator (they are pieces of one
    line, unlike the multiline filter which joins distinct lines with
    '\\n'; fragment rejoin runs FIRST, then the firstline stitcher).
    operators.stitch.collapse_runs folds the runs: a record starts a
    run iff its predecessor was not partial. Output keeps the first
    fragment's identity columns; a trailing unterminated fragment is
    flushed as-is (the tail's Docker_Mode_Flush timeout analog).

    Used for Docker_Mode On (docker-runtime.conf:17-19: `log` without
    a trailing newline continues) and CRI logtag P/F (cri partial
    records continue until the next F record).
    """
    prev = F.lag("partial").over(Window.partitionBy("conv_id").orderBy("turn_idx"))
    is_start = ~F.coalesce(prev, F.lit(False))
    runs = collapse_runs(df, is_start, "", carry=carry)
    return runs.drop("grp", "n_lines")


def docker_mode_join(df: DataFrame) -> DataFrame:
    """Docker_Mode On: see fragment_join (the `partial` marker comes
    from read_docker_logs — log without the trailing newline)."""
    return fragment_join(df, carry=("role", "tool", "ts", "file", "docker_id"))


def cri_mode_join(df: DataFrame) -> DataFrame:
    """CRI partial-record rejoin: logtag 'P' continues into the next
    record, 'F' closes it (conf/ds/parsers.conf:25-30 cri format;
    cri-runtime.conf Multiline handling)."""
    return fragment_join(
        df.withColumn("partial", F.col("logtag") == "P"),
        carry=("role", "tool", "ts", "file", "logtag"),
    )


def read_cri_logs(
    spark: SparkSession,
    path: str,
    exclude_path: tuple[str, ...] = (),
) -> DataFrame:
    """CRI-runtime tail: `time stream logtag log` lines -> transcripts
    (Exclude_Path / Skip_Long_Lines as in read_docker_logs;
    cri-runtime.conf:4,9). conv_id is the file's base name."""
    cri = parse_cri(F.col("line"))
    return _lines(spark, path, exclude_path).select(
        F.element_at(F.split("file", "/"), -1).alias("conv_id"),
        F.col("line_no").cast("int").alias("turn_idx"),
        cri["stream"].alias("role"),
        cri["log"].alias("text"),
        F.lit(None).cast("string").alias("tool"),
        rfc3339_timestamp(cri["time"]).alias("ts"),
        F.col("file"),
        cri["logtag"].alias("logtag"),
    )


def ignore_older(df: DataFrame, cutoff) -> DataFrame:
    """`ignore_older 5m` (conf/eci/fluent-bit.conf:18): drop records
    older than the cutoff. The reference skips stale files at tail
    start; the batch analog is an event-time predicate, which Catalyst
    pushes into the scan (partition pruning on ts-partitioned tables).
    """
    return df.filter(F.col("ts") >= F.lit(cutoff))
