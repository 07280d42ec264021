"""Config-driven rewrite_tag engine (operators/rewrite.py) vs the
reference's rule semantics (conf/ds/fluent-bit.conf:181-193,
plugins/filter_rewrite_tag): conf parsing, first-match-wins, keep
true/false, static re-injection unroll, cycle refusal, long chains.
The router both plans run is checked end to end against pyref
(test_pipeline_e2e.py::test_e2e_equality)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from logpipe.operators.rewrite import (
    REFERENCE_ROUTER_CONF,
    apply_rewrite_tags,
    glob_to_regex,
    parse_rewrite_tag_conf,
    route,
)


def test_conf_parsing():
    stages = parse_rewrite_tag_conf(REFERENCE_ROUTER_CONF)
    assert len(stages) == 2
    assert stages[0].match == "kube.*"
    r0 = stages[0].rules[0]
    # shlex normalizes $m['k'] to $m[k]; parse_accessor accepts both
    assert (r0.key, r0.regex, r0.new_tag, r0.keep) == (
        "$labels[monitor_log_collector]", ".+", "erda.log.export", True,
    )
    r1 = stages[1].rules[0]
    assert (r1.new_tag, r1.keep) == ("erda.log.job", False)
    # keep takes fluent-bit's boolean spellings, any case
    for word, keep in [("true", True), ("On", True), ("YES", True),
                       ("false", False), ("off", False), ("No", False)]:
        (stage,) = parse_rewrite_tag_conf(
            f"[FILTER]\n name rewrite_tag\n Rule $a .+ t {word}\n"
        )
        assert stage.rules[0].keep is keep, word


def test_conf_rejections():
    with pytest.raises(ValueError, match="malformed"):
        parse_rewrite_tag_conf(
            "[FILTER]\n name rewrite_tag\n Rule $a .+ tag\n"
        )
    with pytest.raises(ValueError, match="capture-group"):
        parse_rewrite_tag_conf(
            "[FILTER]\n name rewrite_tag\n Rule $a (x)(y) new.$1 true\n"
        )
    # a keep value fluent-bit would not read as a boolean is refused,
    # naming the line, instead of silently dropping the original
    for word in ("treu", "1", "keep"):
        with pytest.raises(ValueError, match=f"Rule line .*{word}"):
            parse_rewrite_tag_conf(
                f"[FILTER]\n name rewrite_tag\n Rule $a .+ t {word}\n"
            )


def test_glob_to_regex():
    assert re.match(glob_to_regex("kube.*"), "kube.ns.pod")
    assert not re.match(glob_to_regex("kube.*"), "erda.log.job")
    assert re.match(glob_to_regex("erda.log.job"), "erda.log.job")
    assert not re.match(glob_to_regex("erda.log.job"), "erda.log.job.x")


def test_first_match_wins_and_keep(spark):
    """Within a stage only the FIRST matching rule fires; keep=false
    consumes the original so later stages never see it."""
    conf = """
[FILTER]
    name rewrite_tag
    match in.*
    Rule $a ^hit first.won false
    Rule $a .+ second.never true
[FILTER]
    name rewrite_tag
    match in.*
    Rule $a .+ stage2.saw true
"""
    df = spark.createDataFrame([("hit",), ("miss",)], "a string")
    got = sorted(
        (r["tag"], r["a"])
        for r in apply_rewrite_tags(df, parse_rewrite_tag_conf(conf), "in.1").collect()
    )
    # hit: rule1 fires (not rule2), original dies, stage2 skipped
    # miss: stage1 rule1 misses, rule2 fires keep=true; stage2 also fires
    assert got == [
        ("first.won", "hit"),
        ("in.1", "miss"),
        ("second.never", "miss"),
        ("stage2.saw", "miss"),
    ]


def test_reinjected_copies_traverse_again(spark):
    """keep=false chain a.* -> b.mid -> (matches b.*) -> c.final: the
    emitted copy re-enters the cascade under its new tag."""
    conf = """
[FILTER]
    name rewrite_tag
    match a.*
    Rule $f .+ b.mid false
[FILTER]
    name rewrite_tag
    match b.*
    Rule $f .+ c.final true
"""
    df = spark.createDataFrame([("v",)], "f string")
    stages = parse_rewrite_tag_conf(conf)
    got = sorted(r["tag"] for r in apply_rewrite_tags(df, stages, "a.1").collect())
    assert got == ["b.mid", "c.final"]
    # a tag no stage covers passes through untouched
    got = [r["tag"] for r in apply_rewrite_tags(df, stages, "z.1").collect()]
    assert got == ["z.1"]


def test_cyclic_config_refused(spark):
    """A tag cycle would loop forever in fluent-bit; the engine refuses
    it at plan time, through the public entry point: a self-loop and a
    two-tag loop."""
    df = spark.createDataFrame([("v",)], "f string")
    for rules in ([("a.*", "a.loop")], [("a.*", "b.x"), ("b.*", "a.y")]):
        conf = "".join(
            f"[FILTER]\n name rewrite_tag\n match {m}\n Rule $f .+ {t} true\n"
            for m, t in rules
        )
        with pytest.raises(ValueError, match="cycl"):
            apply_rewrite_tags(df, parse_rewrite_tag_conf(conf), "a.1")


def test_long_acyclic_chain_routes(spark):
    """A 9-stage keep=false chain t0 -> t1 -> ... -> t9 is acyclic, so
    it expands however many re-injection rounds it takes: the row ends
    under t9 alone."""
    conf = "".join(
        f"[FILTER]\n name rewrite_tag\n match t{i}\n Rule $f .+ t{i + 1} false\n"
        for i in range(9)
    )
    df = spark.createDataFrame([("v",)], "f string")
    out = apply_rewrite_tags(df, parse_rewrite_tag_conf(conf), "t0")
    assert [r["tag"] for r in out.collect()] == ["t9"]


def test_null_conv_id_still_routes(spark):
    """A NULL conv_id must not poison the tag cascade: every row starts
    under the literal input tag, so it routes on its fields alone (here:
    define_tag set -> job)."""
    df = spark.createDataFrame(
        [(None, {}, "job-x")],
        "conv_id string, labels map<string,string>, define_tag string",
    )
    got = [r["sink"] for r in route(df).collect()]
    assert got == ["job"]


def test_rule_regexes_use_onig_dot(spark):
    """Rule regexes run with Onig's `.` (every character but \\n), as
    fluent-bit and pyref do: a define_tag of "\\r" routes to job, and a
    collector label of "\\u2028" gets an export copy. Java's default
    `.` excludes both characters."""
    df = spark.createDataFrame(
        [("a", {}, "\r"), ("b", {"monitor_log_collector": "\u2028"}, None)],
        "id string, labels map<string,string>, define_tag string",
    )
    got = sorted((r["id"], r["sink"]) for r in route(df).collect())
    assert got == [("a", "job"), ("b", "container"), ("b", "export")]


def test_route_dispatches_at_plan_time(spark):
    """Final tags resolve to sinks while the plan is built: the
    optimized plan runs one RLIKE per declared Rule, each on an input
    column, and none on the generated `sink`."""
    df = spark.createDataFrame(
        [({"monitor_log_collector": "c"}, "j")],
        "labels map<string,string>, define_tag string",
    )
    plan = route(df)._jdf.queryExecution().optimizedPlan().toString()
    subjects = re.findall(r"RLIKE\((\w+)#", plan)
    assert sorted(subjects) == ["define_tag", "labels"], plan


def test_engine_plan_stays_narrow(spark):
    """The cascade compiles to projections + a generator — no exchange
    (shuffle) may appear in the routed plan before aggregation."""
    df = spark.range(100).select(
        F.when(F.col("id") % 3 == 0, F.lit("c")).alias("collector"),
        F.when(F.col("id") % 5 == 0, F.lit("j")).alias("define_tag"),
    )
    conf = """
[FILTER]
    name rewrite_tag
    match kube.*
    Rule $collector .+ erda.log.export true
[FILTER]
    name rewrite_tag
    match kube.*
    Rule $define_tag .+ erda.log.job false
"""
    out = apply_rewrite_tags(df, parse_rewrite_tag_conf(conf), "kube.1")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # re-injection compiles into the finals expression, not a Union of
    # per-round branches (a Union would re-scan the input per round)
    assert "Union" not in plan
    assert plan.count("Range") == 1
