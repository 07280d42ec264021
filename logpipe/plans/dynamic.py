"""Dynamic-record pipeline — the reference's actual data model.

fluent-bit processes a mutable msgpack map per event (SURVEY.md §1.1);
the typed flagship (plans/pipeline.py) is the Spark-first projection of
that chain onto fixed columns. This variant keeps the record AS a
map<string,string> column and replays conf/ds/fluent-bit.conf's filter
chain with the F6-F11 map operators (transform_keys / map_filter /
map_concat) — the same declaration-order mutations the reference runs:

  record{log,stream,time} -> truncate(log) -> erda-info adds __tags_*
  -> kubernetes adds nested k8s map -> lift k8s_* (F10)
  -> platform annotations -> __tags_* (F11 nest + F10 lift)
  -> modify renames/copies (F7/F8, via key rewrites)
  -> nest __tags_monitor_log_* -> labels; __tags_* -> tags (F11)
  -> remove_wildcard __pri_ (F9) -> route -> LogEvent

test_dynamic_equals_typed proves the two implementations produce
IDENTICAL LogEvents on the same input — two independent articulations
of the semantics agreeing (plus pyref makes three).

The typed plan remains the production path: fixed columns let Catalyst
prune/pushdown per field, while a map column is one opaque blob (reads
the whole map for any key). Use this variant when the schema is
genuinely dynamic (per-tenant keys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logpipe.operators import parse
from logpipe.operators.project import project_log_event
from logpipe.operators.reshape import (
    build_map,
    lift_prefixed,
    nest_wildcard,
    remove_wildcard,
)
from logpipe.operators.route import route
from logpipe.plans.pipeline import DEFAULT_CLUSTER


def rename_key(m: Column, old: str, new: str) -> Column:
    """modify `rename` (F7) as a key rewrite."""
    return F.transform_keys(m, lambda k, _: F.when(k == old, F.lit(new)).otherwise(k))


def copy_key(m: Column, src: str, dst: str) -> Column:
    """modify `copy` (F8): only when dst absent."""
    has_dst = m.getItem(dst).isNotNull()
    has_src = m.getItem(src).isNotNull()
    return F.when(
        ~has_dst & has_src, F.map_concat(m, build_map({dst: m.getItem(src)}))
    ).otherwise(m)


def merge_log(rec: Column, log_key: str = "log", merge_key: str = "log_processed") -> Column:
    """F2 Merge_Log On + Merge_Log_Key log_processed
    (conf/ds/fluent-bit.conf:52-53): when the record's log body parses
    as a JSON object, its keys merge into the record under
    ``<merge_key>_<k>`` (the flattened form of fluent-bit nesting the
    parsed map under Merge_Log_Key). A non-JSON / non-object body
    leaves the record untouched (from_json yields NULL for both).

    Scalar JSON values arrive stringified ("87" for 87) — same as
    fluent-bit re-encoding msgpack scalars.
    """
    parsed = F.from_json(rec.getItem(log_key), "map<string,string>")
    lifted = F.transform_keys(
        parsed, lambda k, _: F.concat(F.lit(merge_key + "_"), k)
    )
    return F.when(parsed.isNotNull(), F.map_concat(rec, lifted)).otherwise(rec)


def annotation_parse(rec: Column, parser: Column) -> Column:
    """F2 K8S-Logging.Parser (conf/ds/fluent-bit.conf:54): a pod can
    name its own parser via the fluentbit.io/parser annotation; the
    kubernetes filter applies it to the log body and merges the
    extracted fields into the record (parsed_* here — the flattened
    root-merge with Reserve_Data semantics). Unknown/absent annotation
    leaves the record untouched; no-match extractions are empty and
    build_map drops them (fluent-bit no-keys-on-no-match parity).

    Registered parsers mirror conf/ds/parsers.conf: erda-info and cri.
    """
    log = rec.getItem("log")
    erda = parse.erda_info_struct(log)
    cri = parse.parse_cri(log)
    m_erda = build_map(
        {"parsed_level": erda["level"], "parsed_request_id": erda["request_id"]}
    )
    m_cri = build_map(
        {
            "parsed_stream": cri["stream"],
            "parsed_logtag": cri["logtag"],
            "parsed_log": cri["log"],
        }
    )
    return (
        F.when(parser == "erda-info", F.map_concat(rec, m_erda))
        .when(parser == "cri", F.map_concat(rec, m_cri))
        .otherwise(rec)
    )


def run_dynamic_pipeline(
    transcripts: DataFrame,
    k8s_meta: DataFrame,
    tool_meta: DataFrame,
    cluster_name: str = DEFAULT_CLUSTER,
    honor_k8s_exclude: bool = False,
    passthrough: tuple[str, ...] = (),
    router_fn=None,
) -> DataFrame:
    df = transcripts.filter(F.col("text").isNotNull() & (F.length("text") > 0))

    # the msgpack record: {log, stream} (+ carried event time column)
    stream = F.when(F.col("role").isin("tool", "system"), "stderr").otherwise("stdout")
    df = df.select(
        "conv_id", "turn_idx", "tool", "ts",
        build_map({"log": F.col("text"), "stream": stream}).alias("rec"),
        *passthrough,
    )

    # P2 truncate-log on the record's log key
    df = df.withColumn(
        "rec",
        F.transform_values(
            F.col("rec"),
            lambda k, v: F.when(k == "log", parse.truncate_log(v)).otherwise(v),
        ),
    )

    # P1 erda-info: extracted keys merge into the record as __tags_*
    # (no keys on no-match — build_map drops empties)
    g = parse.erda_info_struct(F.col("rec").getItem("log"))
    df = df.withColumn(
        "rec",
        F.map_concat(
            "rec",
            build_map(
                {"__tags_level": g["level"], "__tags_request_id": g["request_id"]}
            ),
        ),
    )

    # F2 kubernetes filter, part 1: Merge_Log — JSON log bodies merge
    # into the record under log_processed_* (:52-53). The merged keys
    # are plain record keys: not __tags_*, so they survive to the sink
    # payload in the reference's msgpack but are outside the LogEvent
    # scalar projection — same end state here.
    df = df.withColumn("rec", merge_log(F.col("rec")))

    # F2 part 2: broadcast join, then the metadata arrives as
    # a nested map that is LIFTED with the k8s_ prefix (F10,
    # conf/ds/fluent-bit.conf:69-75)
    df = df.join(F.broadcast(k8s_meta), "conv_id", "left")

    # F2 K8S-Logging.Exclude (:55) — same drop point as the typed plan
    if honor_k8s_exclude and "k8s_exclude" in df.columns:
        df = df.filter(~F.coalesce(F.col("k8s_exclude"), F.lit(False)))

    k8s_map = build_map(
        {
            "pod_name": F.col("pod_name"),
            "namespace_name": F.col("namespace_name"),
            "docker_id": F.col("docker_id"),
            "container_hash": F.col("container_hash"),
            "container_image": F.col("container_image"),
            # platform annotations (tags_platform path, :84-91)
            **{
                f"anno_{k}": F.col(k)
                for k in [
                    "org_id", "org_name", "project_id", "project_name",
                    "application_id", "application_name", "service_name",
                    "runtime_id", "runtime_name", "workspace",
                ]
            },
            "monitor_log_collector": F.col("monitor_log_collector"),
            "define_tag": F.col("define_tag"),
        }
    )
    df = df.withColumn("rec", F.map_concat("rec", lift_prefixed(k8s_map, "k8s_")))

    # F2 K8S-Logging.Parser: per-pod parser annotation off the dim (:54)
    if "k8s_parser" in df.columns:
        df = df.withColumn(
            "rec", annotation_parse(F.col("rec"), F.col("k8s_parser"))
        )

    # F4 Lua cpuset lookup -> __pri_cpuset; P8 extracts the id
    df = df.join(F.broadcast(tool_meta), "tool", "left")
    df = df.withColumn(
        "rec",
        F.map_concat(
            "rec",
            build_map(
                {
                    "__pri_cpuset_id": F.when(
                        F.col("cpuset").isNotNull(),
                        parse.container_id_from_cpuset(F.col("cpuset")),
                    )
                }
            ),
        ),
    )

    # F11 nest k8s_anno_* -> __tags_* (annotation lift chain :84-124)
    anno = nest_wildcard(F.col("rec"), "k8s_anno_")
    df = df.withColumn("rec", F.map_concat("rec", lift_prefixed(anno, "__tags_")))
    df = df.withColumn(
        "rec", F.map_filter(F.col("rec"), lambda k, _: ~k.startswith("k8s_anno_"))
    )

    # k8s identity keys -> __tags_* (:98-124)
    for src, dst in [
        ("k8s_pod_name", "__tags_pod_name"),
        ("k8s_namespace_name", "__tags_namespace_name"),
        ("k8s_docker_id", "__tags_docker_id"),
    ]:
        df = df.withColumn("rec", rename_key(F.col("rec"), src, dst))

    # F6 add default cluster tag (:127-130)
    df = df.withColumn(
        "rec",
        F.map_concat("rec", build_map({"__tags_cluster_name": F.lit(cluster_name)})),
    )

    # F7/F8/F9 compat block (:132-161)
    rec = F.col("rec")
    df = df.withColumn("rec", rename_key(rec, "log", "content"))
    df = df.withColumn("rec", rename_key(F.col("rec"), "__tags_docker_id", "__tags_container_id"))
    df = df.withColumn("rec", rename_key(F.col("rec"), "__tags_namespace_name", "__tags_pod_namespace"))
    # cpuset-id fallback then copy container_id -> id
    df = df.withColumn(
        "rec", copy_key(F.col("rec"), "__pri_cpuset_id", "__tags_container_id")
    )
    df = df.withColumn("rec", copy_key(F.col("rec"), "__tags_container_id", "id"))
    df = df.withColumn(
        "rec",
        F.map_filter(
            F.col("rec"),
            lambda k, _: ~k.isin("__tags_container_hash", "__tags_container_image"),
        ),
    )
    for key in [
        "runtime_id", "runtime_name", "application_id", "application_name",
        "service_name", "workspace", "project_id", "project_name",
        "org_id", "org_name", "cluster_name",
    ]:
        df = df.withColumn(
            "rec", copy_key(F.col("rec"), f"__tags_{key}", f"__tags_dice_{key}")
        )
    df = df.withColumn(
        "rec", rename_key(F.col("rec"), "k8s_define_tag", "__pri_terminus_define_tag")
    )
    df = df.withColumn(
        "rec",
        rename_key(F.col("rec"), "k8s_monitor_log_collector", "__tags_monitor_log_collector"),
    )

    # F11 nest: labels <- __tags_monitor_log_*, tags <- __tags_* (:163-178)
    df = df.withColumn("labels", nest_wildcard(F.col("rec"), "__tags_monitor_log_"))
    df = df.withColumn(
        "labels",
        F.transform_keys(
            F.col("labels"), lambda k, _: F.concat(F.lit("monitor_log_"), k)
        ),
    )
    df = df.withColumn(
        "rec",
        F.map_filter(F.col("rec"), lambda k, _: ~k.startswith("__tags_monitor_log_")),
    )
    df = df.withColumn("tags", nest_wildcard(F.col("rec"), "__tags_"))

    # F12 routing inputs come off the record; F9 removes __pri_*
    df = df.withColumn(
        "monitor_log_collector", F.col("labels").getItem("monitor_log_collector")
    ).withColumn("define_tag", F.col("rec").getItem("__pri_terminus_define_tag"))
    df = df.withColumn("rec", remove_wildcard(F.col("rec"), "__pri_"))

    # O4 projection fields from the record
    df = (
        df.withColumn("content", F.col("rec").getItem("content"))
        .withColumn("id", F.coalesce(F.col("rec").getItem("id"), F.lit("")))
        .withColumn("stream", F.col("rec").getItem("stream"))
    )
    # router pluggable like the typed flagship (e.g. the config-driven
    # operators.rewrite.route_with_rules engine)
    df = (router_fn or route)(df)
    return project_log_event(df, passthrough=passthrough)
