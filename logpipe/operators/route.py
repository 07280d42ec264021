"""Routing — rewrite_tag + Match dispatch (SURVEY.md §2.3 F12/F13).

The reference routes by mutating the event tag:

  Rule 1 (conf/ds/fluent-bit.conf:182-187):
    $labels['monitor_log_collector'] .+  -> erda.log.export, keep=TRUE
    (a COPY goes to export; the original keeps flowing)
  Rule 2 (conf/ds/fluent-bit.conf:189-193):
    $__pri_terminus_define_tag .+        -> erda.log.job, keep=FALSE
    (the original is retagged; it no longer reaches the container sink)

Spark-first shape: routing is data, not control flow — compute an
ARRAY of destination sinks per row and explode it. keep=true duplication
is just a 2-element array; keep=false is replacement of the final
element. This is one narrow projection + one generator — no shuffle, no
self-union, and the per-sink counts fall out of groupBy('sink').

The downstream per-sink `Match` dispatch (F13) becomes
filter(col('sink') == ...) — which Catalyst pushes into the scan when
sinks are written partitioned by `sink`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SINK_CONTAINER = "container"  # http /collect/logs/container (conf/ds/fluent-bit.conf:207-221)
SINK_JOB = "job"              # http /collect/logs/job       (conf/ds/fluent-bit.conf:223-237)
SINK_EXPORT = "export"        # out_erda dynamic-URL sink    (conf/ds/fluent-bit.conf:239-243)


def sink_array(collector_label: Column, define_tag: Column) -> Column:
    """Destination sinks for one row, preserving reference semantics.

    - collector label present       => export copy (keep=true, F12 rule 1)
    - define_tag present            => job replaces container (keep=false,
      F12 rule 2); otherwise the original lands in container.

    'Present' = non-null, non-empty (reshape.nonempty) — semantically
    the reference's `.+` rule test; we deliberately do NOT use a regex
    here (a per-row regex for a presence check, and Onig `.+` would
    technically fail a value of just "\\n" — an impossible label).
    """
    from logpipe.operators.reshape import nonempty

    has_export = nonempty(collector_label)
    has_job = nonempty(define_tag)
    export_part = F.when(has_export, F.array(F.lit(SINK_EXPORT))).otherwise(
        F.array().cast("array<string>")
    )
    final_part = F.array(F.when(has_job, F.lit(SINK_JOB)).otherwise(F.lit(SINK_CONTAINER)))
    return F.concat(export_part, final_part)


def route(df: DataFrame) -> DataFrame:
    """Explode the row to one copy per destination sink (adds `sink`),
    reading `monitor_log_collector` and `define_tag`."""
    return df.withColumn(
        "sink", F.explode(sink_array(F.col("monitor_log_collector"), F.col("define_tag")))
    )
