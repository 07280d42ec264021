"""ECI sidecar pipeline (SURVEY.md §3.3, conf/eci/fluent-bit.conf).

The per-pod variant differs from the DS flagship in its head stages:

  tail /stdlog/*/*.log with Path_Key        (S3: path carried in-record)
  -> truncate 50KB                          (P2)
  -> multiline java stitch                  (F3)
  -> parser log-id ON THE PATH              (P7: container name <- path)
  -> Lua add_cpuset file lookup             (F4: tool_meta broadcast join)
  -> parser cpuset                          (P8: container id <- cgroup path)
  -> parser erda-info                       (P1, first step of the tail)
  -> record_modifier static env tags        (F5)
  -> same compat / nest / route / output    (as §3.1: log_event_tail,
                                             shared with plans/pipeline.py)

Input here is the transcripts shape where `tool` plays the container
name (FIXTURES.md §1); log_path is synthesized from it exactly as the
ECI tail's Path_Key would record it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logpipe.operators import parse
from logpipe.operators.stitch import java_group_start, stitch_multiline
from logpipe.plans.pipeline import log_event_tail

ECI_STATIC_FIELDS = {
    # record_modifier block (conf/eci/fluent-bit.conf:77-99): static
    # env-derived platform tags for the one workload this sidecar serves
    "org_id": "1",
    "org_name": "erda",
    "project_id": "1",
    "project_name": "proj-eci",
    "application_id": "1",
    "application_name": "app-eci",
    "service_name": "svc-eci",
    "runtime_id": "1",
    "runtime_name": "rt-eci",
    "workspace": "PROD",
    "cluster_name": "erda-eci",
}


def run_eci_pipeline(
    transcripts: DataFrame,
    tool_meta: DataFrame,
    collector: str | None = None,
    stitch: bool = True,
    stitch_grammar: str = "datetime",
) -> DataFrame:
    """transcripts (+ tool dim) -> routed LogEvent rows, ECI flavor.

    ``stitch_grammar``: 'datetime' (firstline regex) or 'java' —
    fluent-bit's built-in java multiline parser, the grammar the
    reference's ECI conf actually declares (conf/eci/fluent-bit.conf:45);
    they agree on traces whose first line carries a datetime and
    diverge on datetime-less markers (see stitch.java_group_start).
    """
    df = transcripts.filter(F.col("text").isNotNull() & (F.length("text") > 0))

    # P2 truncate before everything else (conf/eci/fluent-bit.conf:33-39)
    df = df.withColumn("text", parse.truncate_log(F.col("text")))

    # F3 multiline stitch (java traces; conf/eci/fluent-bit.conf:41-45)
    if stitch:
        if stitch_grammar == "java":
            df = stitch_multiline(df, is_start=java_group_start())
        elif stitch_grammar == "datetime":
            df = stitch_multiline(df)
        else:
            raise ValueError(
                f"stitch_grammar must be datetime|java, got {stitch_grammar!r}"
            )

    # S3 Path_Key: the tail records its source path; synthesize it the
    # way the sidecar lays files out (/stdlog/<container>/0.log).
    # Derived AFTER the stitch from the stitcher-preserved `tool` — the
    # path is a pure function of the container name, so recomputing it
    # replaces a full-input shuffle join (the previous plan re-joined
    # the stitched frame against the pre-stitch frame on
    # (conv_id, turn_idx) just to recover this column).
    df = df.withColumn(
        "log_path",
        F.when(
            F.col("tool").isNotNull(),
            F.concat(F.lit("/stdlog/"), F.col("tool"), F.lit("/0.log")),
        ),
    )

    # P7 log-id: container name from the recorded path
    df = df.withColumn("pri_id", parse.log_id_from_path(F.col("log_path")))

    # F4 Lua add_cpuset: file lookup keyed on container name; missing
    # key/file leaves the row unchanged (enrich-meta.lua:6-8,14-16)
    df = df.join(
        F.broadcast(tool_meta.withColumnRenamed("tool", "pri_id")), "pri_id", "left"
    )

    # P8 cpuset -> container id; F5 record_modifier static fields as
    # literal tags, then their dice_* copies in the same order
    container_id = F.when(
        F.col("cpuset").isNotNull(), parse.container_id_from_cpuset(F.col("cpuset"))
    )
    static = {k: F.lit(v) for k, v in ECI_STATIC_FIELDS.items()}
    return log_event_tail(
        df,
        content=F.col("text"),
        container_id=container_id,
        tags={
            "container_id": container_id,
            **static,
            **{f"dice_{k}": v for k, v in static.items()},
        },
        collector=F.lit(collector).cast("string"),
        define_tag=F.lit(None).cast("string"),
    )
