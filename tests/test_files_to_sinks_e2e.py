"""The full reference user journey on the reference's own fixture:
tail a docker-runtime container log -> multiline stitch -> k8s enrich
-> route -> LogEvents -> per-sink write. A fluent-bit user pointing
this repo at their /var/log/containers files gets routed LogEvents.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from test_logfiles import reference_fixture

from logpipe.operators.stitch import stitch_multiline
from logpipe.plans.pipeline import run_pipeline, sink_counts
from logpipe.sinks import write_sinks
from logpipe.sources.logfiles import read_docker_logs


def test_reference_fixture_to_sinks(spark, tmp_path):
    # S1 tail + P3 docker parse
    raw = read_docker_logs(spark, reference_fixture("admin-*.log"))

    # F3 docker-mode multiline join
    stitched = stitch_multiline(raw.drop("file", "docker_id"))

    # F2 dim: in production this is the k8s API snapshot; here it is
    # built from the tag-encoded identity the scan extracted, with the
    # collector label set so the export branch exercises
    ident = raw.select("conv_id", "docker_id").distinct()
    k8s_meta = ident.select(
        "conv_id",
        F.lit("admin-pod").alias("pod_name"),
        F.lit("project-387-dev").alias("namespace_name"),
        F.col("docker_id"),
        F.lit("hash").alias("container_hash"),
        F.lit("img").alias("container_image"),
        *[F.lit(None).cast("string").alias(c) for c in [
            "org_id", "org_name", "project_id", "project_name",
            "application_id", "application_name", "service_name",
            "runtime_id", "runtime_name", "workspace",
        ]],
        F.lit("collector-x").alias("monitor_log_collector"),
        F.lit(None).cast("string").alias("define_tag"),
    )
    tool_meta = spark.createDataFrame([], "tool string, cpuset string")

    out = run_pipeline(stitched, k8s_meta, tool_meta)
    base = str(tmp_path / "sinks")
    write_sinks(out, base, n_partitions=2, n_salts=2)
    back = spark.read.parquet(base)

    counts = {r["sink"]: r["rows"] for r in sink_counts(back).collect()}
    n_groups = stitched.count()
    # collector label => every record duplicated to export (keep=true)
    assert counts == {"container": n_groups, "export": n_groups}

    rows = back.filter(F.col("sink") == "container").collect()
    # identity flows: id = docker_id from the filename, 64-hex
    assert all(len(r["id"]) == 64 for r in rows)
    assert all(r["tags"]["pod_namespace"] == "project-387-dev" for r in rows)
    assert all(r["labels"]["monitor_log_collector"] == "collector-x" for r in rows)
    # the stitched stack trace is one record whose content holds the
    # exception + both frames, with the erda-info request id extracted
    trace = [r for r in rows if "BusinessException" in r["content"]]
    assert len(trace) == 1
    assert "\tat io.terminus" in trace[0]["content"]
    assert trace[0]["tags"]["level"] == "ERROR"
    assert trace[0]["tags"]["request_id"] == "ec316a26-0889-47d6-a406-4575af70a449"
