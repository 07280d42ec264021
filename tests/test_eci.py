"""ECI sidecar pipeline (§3.3): path-derived identity, Lua-lookup
enrichment, stitch-first ordering, collector routing."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from logpipe.plans.eci import run_eci_pipeline


def test_eci_pipeline(spark, transcripts, tool_meta):
    out = run_eci_pipeline(transcripts, tool_meta, collector=None, stitch=False)
    rows = out.collect()
    assert rows

    # no collector => everything routes to container, nothing to export
    sinks = {r["sink"] for r in rows}
    assert sinks == {"container"}

    # tool rows with a dim entry get the cpuset-derived container id
    tmeta = {r["tool"]: r["cpuset"] for r in tool_meta.collect()}
    for r in rows:
        cid = r["tags"].get("container_id")
        if cid:
            assert re.fullmatch(r"\w+", cid)
            assert any(c.endswith("/" + cid) for c in tmeta.values())
        # static record_modifier tags always present
        assert r["tags"]["cluster_name"] == "erda-eci"
        assert r["tags"]["dice_service_name"] == "svc-eci"

    # rows whose tool is missing from the dim pass through un-enriched
    # (enrich-meta.lua: return -1 keeps the record)
    missing_tools = {
        r["tool"]
        for r in transcripts.select("tool").distinct().collect()
        if r["tool"] is not None and r["tool"] not in tmeta
    }
    assert missing_tools, "synth must include tools absent from the dim"
    n_all = out.count()
    assert n_all == transcripts.filter("text is not null and text <> ''").count()


def test_eci_rows_equal_reference(spark, transcripts, tool_meta):
    """Field by field, unstitched: every ECI row equals the pure-Python
    reference chain fed the record_modifier static fields as each pod's
    platform meta and the collector as its label."""
    from logpipe import pyref
    from logpipe.plans.eci import ECI_STATIC_FIELDS

    def key(d):
        return (d["content"], d["sink"], d["id"], d["timestamp"],
                d["stream"], sorted(d["tags"].items()))

    tools = {r["tool"]: r["cpuset"] for r in tool_meta.collect()}
    src = [r.asDict() for r in transcripts.collect()]
    for collector in (None, "collector-9"):
        meta = {k: v for k, v in ECI_STATIC_FIELDS.items() if k != "cluster_name"}
        meta["monitor_log_collector"] = collector
        k8s = {row["conv_id"]: meta for row in src}
        exp = sorted(
            (ev for row in src
             for ev in pyref.process_row(row, k8s, tools, cluster_name="erda-eci")),
            key=key,
        )
        out = run_eci_pipeline(transcripts, tool_meta, collector=collector, stitch=False)
        got = sorted((r.asDict(recursive=True) for r in out.collect()), key=key)
        assert len(got) == len(exp) > 0, collector
        for g, e in zip(got, exp):
            assert g == e, f"mismatch:\nspark={g}\npyref={e}"


def test_eci_with_collector_duplicates_to_export(spark, transcripts, tool_meta):
    out = run_eci_pipeline(transcripts, tool_meta, collector="collector-9", stitch=False)
    counts = {r["sink"]: r["count"] for r in out.groupBy("sink").count().collect()}
    assert counts["export"] == counts["container"]  # keep=true duplication
    lab = out.filter("sink = 'export'").first()["labels"]
    assert lab["monitor_log_collector"] == "collector-9"


def test_eci_stitch_plan_joins_nothing_big(spark, transcripts, tool_meta):
    """log_path is recomputed from the stitcher-preserved `tool`, so the
    plan must contain NO shuffle join (the old plan re-joined the
    stitched frame against the full pre-stitch input on
    (conv_id, turn_idx) just to recover the path column) — the only
    join left is the broadcast dim lookup."""
    out = run_eci_pipeline(transcripts, tool_meta, stitch=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the F4 tool lookup remains


def test_eci_stitch_path(spark, transcripts, tool_meta):
    """With stitching on, output rows = stitched groups (per conv), and
    continuation lines are folded into their firstline record."""
    from logpipe.operators.stitch import stitch_multiline

    src = transcripts.filter(F.length("text") < 1000)
    expected_groups = stitch_multiline(
        src.withColumn("text", F.substring("text", 1, 51200))
    ).count()
    out = run_eci_pipeline(src, tool_meta, stitch=True)
    assert out.count() == expected_groups
    assert out.filter(F.col("content").contains("\n")).count() > 0


def test_eci_java_grammar_option(spark, transcripts, tool_meta):
    """stitch_grammar='java' routes the ECI plan through the java
    multiline grammar (the grammar conf/eci/fluent-bit.conf:45 actually
    declares); equals composing stitch_multiline with java_group_start
    manually."""
    import pytest
    from pyspark.sql import functions as F

    from logpipe.operators.stitch import java_group_start, stitch_multiline
    from logpipe.operators.parse import truncate_log
    from logpipe.plans.eci import run_eci_pipeline

    got = run_eci_pipeline(transcripts, tool_meta, stitch_grammar="java")
    pre = transcripts.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).withColumn("text", truncate_log(F.col("text")))
    groups = stitch_multiline(pre, is_start=java_group_start())
    # collector=None -> no export copies, define_tag null -> all rows
    # land exactly one sink, so routed rows == java-stitched groups
    assert got.count() == groups.count()
    # grammar divergence on a datetime-less trace is pinned in
    # tests/test_stitch.py::test_java_grammar_stitches_datetime_less_trace

    with pytest.raises(ValueError, match="stitch_grammar"):
        run_eci_pipeline(transcripts, tool_meta, stitch_grammar="nope")
