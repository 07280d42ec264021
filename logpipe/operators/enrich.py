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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logpipe.operators.parse import container_id_from_cpuset


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

