"""The flagship DAG — DaemonSet container-log path (SURVEY.md §3.1).

Re-expresses conf/ds/fluent-bit.conf's declared filter chain as one
declarative DataFrame plan:

  scan -> skip empty (S1 Skip_Empty_Lines)
       -> truncate 50KB (P2)
       -> erda-info grok (P1: level, request_id)
       -> k8s enrich (F2, broadcast left join on conv_id)
       -> tool enrich (F4+P8, broadcast left join on tool)
       -> static fields (F5: cluster_name)
       -> compat reshape (F6-F9 renames/copies/removes)
       -> nest tags/labels maps (F10/F11)
       -> route (F12/F13: container | job | export with keep=true dup)
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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logpipe.operators import parse
from logpipe.operators.enrich import enrich_k8s, enrich_tool
from logpipe.operators.project import project_log_event
from logpipe.operators.reshape import build_map, dice_compat_pairs, nonempty
from logpipe.operators.route import route

DEFAULT_CLUSTER = "erda-cluster"


def run_pipeline(
    transcripts: DataFrame,
    k8s_meta: DataFrame,
    tool_meta: DataFrame,
    cluster_name: str = DEFAULT_CLUSTER,
    use_pandas_grok: bool = False,
    passthrough: tuple[str, ...] = (),
    honor_k8s_exclude: bool = False,
    broadcast_dims: bool = True,
    router_fn=None,
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
    ``router_fn``: alternative F12/F13 router with route()'s contract
    (df in, df + `sink` out) — e.g. the config-driven
    operators.rewrite.route_with_rules engine. Default: the typed
    two-rule route().
    ``spread``: derived round-robin parallelism spread (logpipe.spread,
    round 11): the whole pre-route chain is narrow by design, so over a
    few-split input (the single-row-group bench parquet) every parse
    regex, enrich projection and map build otherwise executes in ONE
    task. Naturally-split production scans derive False and the chain
    stays exchange-free, preserving the 100TB shape the plan pins
    assert (the only exchange a spread ever adds is
    RoundRobinPartitioning — parallelism, not a keyed shuffle).
    Bucketed-scan caveat: the derivation reads ``.rdd``, which compiles
    with bucketing disabled and under-reports a bucketed scan's splits,
    so it can add a spurious round-robin exchange that breaks a
    storage-partitioned layout downstream. Layout-sensitive callers
    (bucketed transcripts) pass ``spread=False``.
    """
    from logpipe.spread import spread_for_compute

    df = spread_for_compute(transcripts, spread)

    # S1 Skip_Empty_Lines (conf/ds/docker-runtime.conf:10)
    df = df.filter(F.col("text").isNotNull() & (F.length("text") > 0))

    # P2 truncate (50KB) — first content op, caps row width for all
    # downstream work (same placement as conf/ds/fluent-bit.conf:23-29)
    df = df.withColumn("content", parse.truncate_log(F.col("text"))).drop("text")

    # P1 erda-info grok (conf/ds/fluent-bit.conf:61-67, Preserve_Key True)
    if use_pandas_grok:
        ext = parse.erda_info_pandas()(F.col("content"))
        df = df.withColumn("_g", ext).withColumn(
            "level", F.col("_g.level")
        ).withColumn("request_id", F.col("_g.request_id")).drop("_g")
    else:
        g = parse.erda_info_struct(F.col("content"))
        df = df.withColumn("_g", g).withColumn("level", F.col("_g.level")).withColumn(
            "request_id", F.col("_g.request_id")
        ).drop("_g")

    # F2 kubernetes enrich + F4 tool (Lua) enrich — broadcast left joins
    df = enrich_k8s(df, k8s_meta, use_broadcast=broadcast_dims)
    if honor_k8s_exclude and "k8s_exclude" in df.columns:
        df = df.filter(~F.coalesce(F.col("k8s_exclude"), F.lit(False)))
    df = enrich_tool(df, tool_meta, use_broadcast=broadcast_dims)

    # F6-F9 compat block (conf/ds/fluent-bit.conf:132-161):
    # rename namespace_name->pod_namespace, docker_id->container_id,
    # copy container_id -> id (falling back to the ECI cpuset id),
    # remove container_hash/container_image (simply never projected).
    container_id = F.coalesce(F.col("docker_id"), F.col("tool_container_id"))
    df = df.withColumn("container_id", container_id).withColumn(
        "id", F.coalesce(F.col("container_id"), F.lit(""))
    )

    # F5/F6 static cluster tag (conf/ds/fluent-bit.conf:127-130)
    df = df.withColumn("cluster_name", F.lit(cluster_name))

    # F10/F11 nest: labels <- __tags_monitor_log_*, tags <- __tags_*
    # (conf/ds/fluent-bit.conf:163-178). Empty extractions ('') are
    # absent keys — build_map drops them (fluent-bit no-match parity).
    platform_cols = {
        k: F.col(k)
        for k in [
            "org_id", "org_name", "project_id", "project_name",
            "application_id", "application_name", "service_name",
            "runtime_id", "runtime_name", "workspace",
        ]
    }
    tag_pairs: dict = {
        "level": F.col("level"),
        "request_id": F.col("request_id"),
        "cluster_name": F.col("cluster_name"),
        "pod_name": F.col("pod_name"),
        "pod_namespace": F.col("namespace_name"),
        "container_id": F.col("container_id"),
        **platform_cols,
    }
    # F8 dice_* compat copies (conf/ds/fluent-bit.conf:148-161)
    tag_pairs.update(
        dice_compat_pairs({**platform_cols, "cluster_name": F.col("cluster_name")})
    )
    df = df.withColumn("tags", build_map(tag_pairs))
    df = df.withColumn(
        "labels",
        build_map({"monitor_log_collector": F.col("monitor_log_collector")}),
    )

    # role -> stream (stdout/stderr dichotomy)
    df = df.withColumn(
        "stream",
        F.when(F.col("role").isin("tool", "system"), F.lit("stderr")).otherwise(
            F.lit("stdout")
        ),
    )

    # F12/F13 routing (export keep=true duplication; job keep=false)
    df = (router_fn or route)(df)

    # O4 LogEvent projection; __pri_* (define_tag et al) die here (F9)
    return project_log_event(df, passthrough=passthrough)


def sink_counts(log_events: DataFrame) -> DataFrame:
    """North-rule verification aggregate: per-sink routed-row counts +
    byte sums (SURVEY.md §2.5 'Aggregations')."""
    return log_events.groupBy("sink").agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.length("content")).alias("content_bytes"),
    )
