"""Enrichment — lookup joins (SURVEY.md §2.3 F2/F4).

Both reference enrichers are per-record lookups against small, slowly
changing dimensions:

- kubernetes filter (conf/ds/fluent-bit.conf:44-59): pod metadata keyed
  by the tag-encoded pod identity, cached 300s. Spark-first shape: a
  **broadcast hash left join** — the dimension (pods per cluster, <<1M
  rows) is broadcast once per job; the 300s cache TTL becomes
  snapshot-of-dimension semantics. No shuffle of the fact side.
- Lua add_cpuset (conf/eci/scripts/enrich-meta.lua:1-21): per-record
  file read keyed on container name == ``tool``. Same broadcast left
  join; a missing key leaves the row unchanged (Lua returns -1), which
  left-join null columns reproduce exactly.

At 100TB these joins never shuffle the fact table: broadcast() pins the
build side, and AQE would pick BHJ anyway under the threshold. Row
count is invariant (left joins on unique dim keys — enforced by tests).

Two more kubernetes-filter options act on a record map<string,string>
rather than on the join: Merge_Log (``merge_log``) and
K8S-Logging.Parser (``annotation_parse``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logpipe.operators.parse import (
    container_id_from_cpuset,
    erda_info_struct,
    parse_cri,
)
from logpipe.operators.reshape import build_map


def enrich_k8s(df: DataFrame, k8s_meta: DataFrame, use_broadcast: bool = True) -> DataFrame:
    """F2: broadcast left join of pod/platform metadata on conv_id.

    ``use_broadcast=False`` drops the hard hint so AQE picks the
    strategy at runtime: broadcast when the built dim is under
    spark.sql.autoBroadcastJoinThreshold (10MB default), shuffled hash
    join otherwise — the production setting for dims of unbounded
    cardinality (the reference caps its kube-meta cache analogously:
    Buffer_Size 5MB / Kube_Meta_Cache_TTL, conf/ds/fluent-bit.conf:47,58-59).
    A hard broadcast() of an oversized dim would OOM the executors.
    """
    dim = F.broadcast(k8s_meta) if use_broadcast else k8s_meta
    return df.join(dim, on="conv_id", how="left")


def merge_log(rec: Column) -> Column:
    """F2 Merge_Log On + Merge_Log_Key log_processed
    (conf/ds/fluent-bit.conf:52-53): when the record's ``log`` body
    parses as a JSON object, its keys merge into the record under
    ``log_processed_<k>`` (the flattened form of fluent-bit nesting the
    parsed map under Merge_Log_Key). A non-JSON / non-object body
    leaves the record untouched (from_json yields NULL for both).

    Scalar JSON values arrive stringified ("87" for 87) — same as
    fluent-bit re-encoding msgpack scalars.
    """
    parsed = F.from_json(rec.getItem("log"), "map<string,string>")
    lifted = F.transform_keys(
        parsed, lambda k, _: F.concat(F.lit("log_processed_"), k)
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
    erda = erda_info_struct(log)
    cri = parse_cri(log)
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


def enrich_tool(df: DataFrame, tool_meta: DataFrame, use_broadcast: bool = True) -> DataFrame:
    """F4 + P8: broadcast left join of tool->cpuset, then extract the
    container id from the cgroup path (conf/eci/parsers.conf:20-23).

    Missing tool or missing dim row => columns null, row unchanged
    (enrich-meta.lua:6-8,14-16: `return -1` keeps the record).
    ``use_broadcast``: see enrich_k8s.
    """
    dim = F.broadcast(tool_meta) if use_broadcast else tool_meta
    out = df.join(dim, on="tool", how="left")
    return out.withColumn(
        "tool_container_id",
        F.when(F.col("cpuset").isNotNull(), container_id_from_cpuset(F.col("cpuset"))),
    )

