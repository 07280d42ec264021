"""The flagship DAG — DaemonSet container-log path (SURVEY.md §3.1).

Re-expresses conf/ds/fluent-bit.conf's declared filter chain as one
declarative DataFrame plan. The head is the DaemonSet's own:

  scan -> spread (logpipe.spread, few-split inputs only)
       -> skip empty (S1 Skip_Empty_Lines)
       -> truncate 50KB (P2)
       -> k8s enrich (F2, broadcast left join on conv_id)
       -> K8S-Logging.Exclude filter (opt-in)
       -> tool enrich (F4+P8, broadcast left join on tool)

then ``log_event_tail``, the tail the ECI plan (plans/eci.py) shares:

       -> erda-info grok (P1: level, request_id)
       -> compat: id copy, static cluster tag, dice_* copies (F5-F9)
       -> nest tags/labels maps (F10/F11)
       -> role -> stream
       -> route (F12/F13, the declared rewrite_tag conf: container |
          job | export with keep=true dup)
       -> LogEvent projection (O4)

The whole pre-route chain is narrow (zero shuffles: both joins
broadcast, everything else projections/filters) — at 100TB the only
shuffles in the job are the ones the sinks ask for (repartition by
route key at write time) and any aggregation the caller adds.

Design choices documented for parity:
- stream: roles 'tool'/'system' map to 'stderr', others 'stdout'
  (the reference's stdout/stderr dichotomy, conf/ds/parsers.conf:28).
- id: docker_id from k8s meta, falling back to the cpuset-derived
  container id (ECI path), else '' (outerda.go:78-82).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logpipe.operators import parse
from logpipe.operators.enrich import enrich_k8s, enrich_tool
from logpipe.operators.project import project_log_event
from logpipe.operators.reshape import build_map, dice_compat_pairs
from logpipe.operators.rewrite import route

DEFAULT_CLUSTER = "erda-cluster"

# the k8s platform tags, in the order the DS tags map emits them
PLATFORM_KEYS = [
    "org_id", "org_name", "project_id", "project_name", "application_id",
    "application_name", "service_name", "runtime_id", "runtime_name",
    "workspace",
]


def run_pipeline(
    transcripts: DataFrame,
    k8s_meta: DataFrame,
    tool_meta: DataFrame,
    cluster_name: str = DEFAULT_CLUSTER,
    passthrough: tuple[str, ...] = (),
    honor_k8s_exclude: bool = False,
    broadcast_dims: bool = True,
    spread: bool | None = None,
) -> DataFrame:
    """transcripts + dims -> routed LogEvent rows (schema.LOG_EVENT).

    ``passthrough``: extra transcript columns (e.g. a manifest bucket
    id) carried verbatim onto the output for lineage partitioning.
    ``honor_k8s_exclude``: K8S-Logging.Exclude (conf/ds/fluent-bit.conf:55)
    — pods annotated fluentbit.io/exclude opt out of collection; the
    dim carries that as a boolean ``k8s_exclude`` column and annotated
    rows are dropped right after the enrich join (absent column /
    NULL = collected, like an un-annotated pod).
    ``broadcast_dims``: False drops the hard broadcast hints so AQE
    sizes the dim joins at runtime (see operators.enrich.enrich_k8s) —
    set this when dim cardinality is unbounded.
    ``spread``: round-robin parallelism spread (logpipe.spread): the
    whole pre-route chain is narrow by design, so over a few-split
    input (the single-row-group bench parquet) every parse regex,
    enrich projection and map build otherwise executes in ONE task.
    None derives it; naturally-split scans and inputs that already
    passed an exchange (the docker/CRI rejoin) derive False, so the
    chain adds no exchange and the 100TB plan pins hold (the only exchange a spread ever adds is
    RoundRobinPartitioning — parallelism, not a keyed shuffle). This
    is the one explicit override of the rule: ``flagship_route_counts``
    pins False because its 3-row aggregate pays more for the extra
    exchange than it gains from the wider scan stage.
    """
    from logpipe.spread import spread_for_compute

    df = spread_for_compute(transcripts, spread)

    # S1 Skip_Empty_Lines (conf/ds/docker-runtime.conf:10)
    df = df.filter(F.col("text").isNotNull() & (F.length("text") > 0))

    # P2 truncate (50KB) — first content op, caps row width for all
    # downstream work (same placement as conf/ds/fluent-bit.conf:23-29)
    df = df.withColumn("content", parse.truncate_log(F.col("text"))).drop("text")

    # F2 kubernetes enrich + F4 tool (Lua) enrich — broadcast left joins
    df = enrich_k8s(df, k8s_meta, use_broadcast=broadcast_dims)
    if honor_k8s_exclude and "k8s_exclude" in df.columns:
        df = df.filter(~F.coalesce(F.col("k8s_exclude"), F.lit(False)))
    df = enrich_tool(df, tool_meta, use_broadcast=broadcast_dims)

    # F6-F9 compat block (conf/ds/fluent-bit.conf:132-161): rename
    # namespace_name->pod_namespace, docker_id->container_id (falling
    # back to the ECI cpuset id); container_hash/container_image are
    # simply never projected. F5 adds the static cluster tag
    # (conf/ds/fluent-bit.conf:127-130); F8 the dice_* copies (148-161).
    container_id = F.coalesce(F.col("docker_id"), F.col("tool_container_id"))
    cluster = F.lit(cluster_name)
    platform = {k: F.col(k) for k in PLATFORM_KEYS}
    tags = {
        "cluster_name": cluster,
        "pod_name": F.col("pod_name"),
        "pod_namespace": F.col("namespace_name"),
        "container_id": container_id,
        **platform,
        **dice_compat_pairs({**platform, "cluster_name": cluster}),
    }
    return log_event_tail(
        df,
        content=F.col("content"),
        container_id=container_id,
        tags=tags,
        collector=F.col("monitor_log_collector"),
        define_tag=F.col("define_tag"),
        passthrough=passthrough,
    )


def log_event_tail(
    df: DataFrame,
    content: Column,
    container_id: Column,
    tags: dict[str, Column],
    collector: Column,
    define_tag: Column,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """The tail both plans share (SURVEY.md §3.1, §3.3 "same compat /
    nest / route / output"): erda-info grok -> id copy -> tags/labels
    nest -> role->stream -> route -> LogEvent projection.

    ``content``, ``container_id``, ``collector`` and ``define_tag`` are
    expressions over ``df``; ``tags`` is the plan's ordered tag pairs,
    appended after ``level`` and ``request_id`` (map entry order is the
    dict's — landed parquet maps and ``to_json(tags)`` keep it).
    Two selects, no withColumn chain: the first projects the grok
    struct once, the second reads it by field.
    """
    # P1 erda-info grok (conf/ds/fluent-bit.conf:61-67, Preserve_Key True)
    df = df.select("*", parse.erda_info_struct(content).alias("_g"))
    tag_pairs = {"level": F.col("_g.level"), "request_id": F.col("_g.request_id"), **tags}
    # the columns projected below replace same-named head columns
    out = ("_g", "content", "id", "tags", "labels", "stream", "define_tag")
    keep = [c for c in df.columns if c not in out]
    df = df.select(
        *keep,
        content.alias("content"),
        # id copy: container id, else '' (outerda.go:78-82)
        F.coalesce(container_id, F.lit("")).alias("id"),
        # F10/F11 nest: tags <- __tags_*, labels <- __tags_monitor_log_*
        # (conf/ds/fluent-bit.conf:163-178); build_map drops '' values
        build_map(tag_pairs).alias("tags"),
        build_map({"monitor_log_collector": collector}).alias("labels"),
        # role -> stream (the stdout/stderr dichotomy)
        F.when(F.col("role").isin("tool", "system"), F.lit("stderr"))
        .otherwise(F.lit("stdout"))
        .alias("stream"),
        define_tag.alias("define_tag"),
    )
    # F12/F13 routing through the declared rewrite_tag conf (export
    # keep=true duplication; job keep=false); O4 LogEvent projection —
    # __pri_* (define_tag et al) die here (F9)
    return project_log_event(route(df), passthrough=passthrough)


def sink_counts(log_events: DataFrame) -> DataFrame:
    """North-rule verification aggregate: per-sink routed-row counts +
    byte sums (SURVEY.md §2.5 'Aggregations')."""
    return log_events.groupBy("sink").agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.length("content")).alias("content_bytes"),
    )
