"""End-to-end pipeline vs. the independent pure-Python reference chain.

Checks (SURVEY.md §5 'Our strategy'):
(a) per-turn content equality under stable (conv_id, turn_idx) order,
(b) per-sink routed-row counts,
(c) full LogEvent field equality (id, source, stream, timestamp,
    tags, labels) including keep=true export duplication.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from logpipe import pyref
from logpipe.plans.pipeline import run_pipeline, sink_counts


def _collect_reference(transcripts, k8s_meta, tool_meta):
    k8s = {r["conv_id"]: r.asDict() for r in k8s_meta.collect()}
    tools = {r["tool"]: r["cpuset"] for r in tool_meta.collect()}
    expected = []
    for r in transcripts.collect():
        row = r.asDict()
        for ev in pyref.process_row(row, k8s, tools):
            ev["_key"] = (row["conv_id"], row["turn_idx"], ev["sink"])
            expected.append(ev)
    return expected


def test_e2e_equality(spark, transcripts, k8s_meta, tool_meta):
    expected = _collect_reference(transcripts, k8s_meta, tool_meta)
    out = run_pipeline(transcripts, k8s_meta, tool_meta)
    assert out.columns == [
        "source", "id", "stream", "content", "offset", "timestamp",
        "tags", "labels", "sink",
    ]

    # map_keys keeps the stored entry order; collect()'s dicts do not
    got = sorted(
        (
            r.asDict(recursive=True)
            for r in out.select("*", F.map_keys("tags").alias("tag_keys")).collect()
        ),
        key=lambda d: (d["content"], d["sink"], d["id"], d["timestamp"]),
    )
    exp = sorted(
        (
            {k: v for k, v in e.items() if k != "_key"}
            for e in expected
        ),
        key=lambda d: (d["content"], d["sink"], d["id"], d["timestamp"]),
    )
    assert len(got) == len(exp)
    for g, e in zip(got, exp):
        # dict equality ignores entry order; pin pyref's tag order too
        assert g.pop("tag_keys") == list(e["tags"])
        assert g == e, f"mismatch:\nspark={g}\npyref={e}"


def test_sink_counts(spark, transcripts, k8s_meta, tool_meta):
    expected = _collect_reference(transcripts, k8s_meta, tool_meta)
    exp_counts: dict[str, int] = {}
    for e in expected:
        exp_counts[e["sink"]] = exp_counts.get(e["sink"], 0) + 1

    out = run_pipeline(transcripts, k8s_meta, tool_meta)
    got = {r["sink"]: r["rows"] for r in sink_counts(out).collect()}
    assert got == exp_counts
    # all three routing branches exercised
    assert set(got) == {"container", "job", "export"}


def test_pandas_grok_parity(spark, transcripts):
    """The Arrow-vectorized grok UDF (the erda_info_vectorized gate's
    parser) extracts exactly what the pipeline's built-in struct grok
    does, row for row, on the text the pipeline feeds it."""
    from logpipe.operators import parse

    content = transcripts.filter(F.length("text") > 0).select(
        parse.truncate_log(F.col("text")).alias("c")
    )
    rows = content.select(
        parse.erda_info_struct(F.col("c")).alias("a"),
        parse.erda_info_pandas()(F.col("c")).alias("b"),
    ).collect()
    assert rows and all(r["a"].asDict() == r["b"].asDict() for r in rows)
    assert any(r["a"]["level"] for r in rows)  # the grok matched something


def test_k8s_exclude_annotation(spark, transcripts, k8s_meta, tool_meta):
    """K8S-Logging.Exclude (conf/ds/fluent-bit.conf:55): with
    honor_k8s_exclude=True, every row of an annotated pod is dropped —
    and exactly those rows (the diff equals a pipeline run over the
    excluded convs alone)."""
    excluded = [
        r["conv_id"] for r in k8s_meta.filter("k8s_exclude").select("conv_id").collect()
    ]
    assert excluded, "synth dim must annotate at least one pod"

    base = run_pipeline(transcripts, k8s_meta, tool_meta)
    out = run_pipeline(transcripts, k8s_meta, tool_meta, honor_k8s_exclude=True)
    dropped = run_pipeline(
        transcripts.filter(F.col("conv_id").isin(excluded)), k8s_meta, tool_meta
    )
    assert base.count() - out.count() == dropped.count()
    assert dropped.count() > 0
    # no surviving row carries an excluded pod's identity
    excluded_pods = {
        r["pod_name"] for r in k8s_meta.filter("k8s_exclude").collect()
    }
    survivors = {r["tags"].get("pod_name") for r in out.collect()}
    assert not (survivors & excluded_pods)
    # default stays collect-everything (flagship semantics unchanged)
    assert base.count() == run_pipeline(transcripts, k8s_meta, tool_meta).count()


def test_merge_log_json_object(spark):
    """F2 Merge_Log + Merge_Log_Key (conf/ds/fluent-bit.conf:52-53):
    JSON-object bodies merge as log_processed_*; scalars stringify;
    non-JSON and non-object JSON leave the record untouched."""
    from logpipe.operators.enrich import merge_log
    from logpipe.operators.reshape import build_map

    df = spark.createDataFrame(
        [
            ("a", '{"k": "v", "n": 3}'),
            ("b", "not json at all"),
            ("c", "[1, 2]"),
            ("d", "87"),
        ],
        "id string, log string",
    )
    rec = build_map({"log": F.col("log")})
    m = {
        r["id"]: r["rec"]
        for r in df.select("id", merge_log(rec).alias("rec")).collect()
    }
    assert m["a"]["log_processed_k"] == "v"
    assert m["a"]["log_processed_n"] == "3"
    assert m["a"]["log"] == '{"k": "v", "n": 3}'  # Preserve the raw body
    for rid in ("b", "c", "d"):
        assert set(m[rid].keys()) == {"log"}


def test_broadcast_guard_oversized_dim(spark, transcripts, k8s_meta, tool_meta):
    """broadcast_dims=False drops the hard hint so an oversized dim
    (300k rows here — past any sane autoBroadcastJoinThreshold at real
    row widths) goes through a runtime-chosen join instead of a forced
    executor-OOM broadcast. Output must be identical: the extra dim
    rows match no transcript (left join)."""
    from logpipe.synth import synth_k8s_meta

    big_dim = synth_k8s_meta(spark, n_convs=300_000)
    out = run_pipeline(transcripts, big_dim, tool_meta, broadcast_dims=False)
    base = run_pipeline(transcripts, k8s_meta, tool_meta)
    got = {r["sink"]: r["rows"] for r in sink_counts(out).collect()}
    exp = {r["sink"]: r["rows"] for r in sink_counts(base).collect()}
    assert got == exp


def test_no_shuffle_before_route(spark, transcripts, k8s_meta, tool_meta, tmp_path):
    """The pipeline plan over a parquet scan must be 100% shuffle-free:
    broadcast joins only (scale guard — at 100TB a shuffle here
    dominates the job). The synth generator's row_number shuffle is
    excluded by materializing the input first."""
    path = str(tmp_path / "transcripts")
    transcripts.write.mode("overwrite").parquet(path)
    out = run_pipeline(spark.read.parquet(path), k8s_meta, tool_meta)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
