"""Pipeline-side driver gates (flagship routing, parsers, stitch,
throttle, enrich, TPC-H-ish relational, sessionization) — section 1 of
the registry; see logpipe.plans.driver_queries for the registry-wide
docs (numeric-parity rules, eager-gate list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logpipe.operators import parse
from logpipe.plans.pipeline import run_pipeline
from logpipe.plans.registry import _docs, register
from logpipe.sources.events import (
    events_as_transcripts,
    events_k8s_meta,
    events_tool_meta,
    load_events,
)

# ---------------------------------------------------------------------------
# 1. Flagship: full pipeline route + per-sink counts (SURVEY §3.1, F12/F13)
# ---------------------------------------------------------------------------

# shared oracle model of sources/events.py's enrichment derivation —
# ONE definition so the routing/identity modulus rules can't drift
# between the flagship / LogEvent / Size() oracles
_EVENTS_BASE_CTE = """
  SELECT user_id, event_id, event_type,
         substring(props, 1, 51200) AS content,
         epoch_ns(ts) AS ts_nanos,
         CASE WHEN user_id % 7 <> 0 THEN md5('docker-' || CAST(user_id AS VARCHAR)) END AS docker_id,
         CASE WHEN event_type = 'purchase' AND (user_id % 16) % 4 <> 3
              THEN md5('cid-tool-' || CAST(user_id % 16 AS VARCHAR)) END AS tool_cid,
         (user_id % 5 = 0 OR user_id % 10 = 7) AS has_export,
         (user_id % 10 IN (3, 7)) AS has_job,
         'job-' || CAST(user_id AS VARCHAR) AS define_tag
  FROM events
  WHERE props IS NOT NULL AND length(props) > 0
"""

_FLAGSHIP_SQL = f"""
WITH t AS ({_EVENTS_BASE_CTE}), s AS (
  SELECT 'export' AS sink, content FROM t WHERE has_export
  UNION ALL
  SELECT CASE WHEN has_job THEN 'job' ELSE 'container' END AS sink, content FROM t
)
SELECT sink,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(length(content)) AS BIGINT) AS content_bytes
FROM s GROUP BY sink
"""


def _per_sink_agg(out: DataFrame) -> DataFrame:
    return out.groupBy("sink").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("content")).alias("content_bytes"),
    )


@register("flagship_route_counts", _FLAGSHIP_SQL)
def flagship_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    # spread=False: this gate consumes the chain into a 3-row
    # aggregate, and the derived parallelism exchange cannot pay for
    # itself (interleaved A/B at sf0.1: 0.89s off vs 1.05s on). The
    # sink/export consumers — whose per-row downstream work is heavy —
    # keep the derived default and measured 4.66s -> 2.8-3.4s with it
    # (round 11; logpipe.spread).
    return _per_sink_agg(run_pipeline(
        events_as_transcripts(ev), events_k8s_meta(ev), events_tool_meta(ev),
        spread=False,
    ))


@register("flagship_rules_route_counts", _FLAGSHIP_SQL)
def flagship_rules_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default pipeline (derived spread, unlike flagship_route_counts)
    routed through the declared rewrite_tag conf, against the same
    oracle — plus the in-run K8S-Logging.Exclude parity assert below."""

    def rows(agg: DataFrame) -> list:
        return sorted(
            (r["sink"], r["n_rows"], r["content_bytes"]) for r in agg.collect()
        )

    ev = load_events(spark, sf_dir)
    rules = rows(_per_sink_agg(run_pipeline(
        events_as_transcripts(ev), events_k8s_meta(ev), events_tool_meta(ev),
    )))
    # folded K8S-Logging.Exclude gate (round 6 — its registry slot went
    # to dup_span_trim): the pipeline's JOIN-based exclusion (annotated
    # pods dropped after the enrich join, honor_k8s_exclude=True) must
    # equal an INDEPENDENT source-predicate replay (the dim's
    # annotation rule, uid%25==0, applied to the transcripts before the
    # ordinary pipeline).
    excluded = rows(_per_sink_agg(run_pipeline(
        events_as_transcripts(ev), events_k8s_meta(ev), events_tool_meta(ev),
        honor_k8s_exclude=True,
    )))
    replay = rows(_per_sink_agg(run_pipeline(
        # coalesce-to-keep matches the join path's semantics for rows
        # whose conv_id can't evaluate the rule (NULL / non-numeric):
        # the join-based exclusion keeps dim misses (~coalesce(excl,
        # False)), so the replay must keep NULL-predicate rows too
        events_as_transcripts(ev).filter(
            F.coalesce(F.col("conv_id").cast("long") % 25 != 0, F.lit(True))
        ),
        events_k8s_meta(ev), events_tool_meta(ev),
    )))
    if excluded != replay:
        raise AssertionError(
            f"k8s-exclude join path diverged from source-predicate replay: "
            f"{excluded} != {replay}"
        )
    if excluded == rules:
        raise AssertionError(
            "k8s-exclude parity is vacuous: exclusion dropped no rows"
        )
    # return the already-collected rows so the driver's collect doesn't
    # re-run the cascade
    return spark.createDataFrame(
        rules, "sink string, n_rows bigint, content_bytes bigint"
    )


# A FOUR-stage config beyond the shipped two rules — proves the
# engine is rule-driven, exercises first-match keep=false short-circuit
# AND a second re-injection round (erda.log.job copies re-enter the
# cascade and may emit job.audited, the in_emitter loop of
# plugins/filter_rewrite_tag).
_REWRITE_ENGINE_CONF = """
[FILTER]
    name rewrite_tag
    match kube.*
    Rule $collector .+ erda.log.export true
[FILTER]
    name rewrite_tag
    match kube.*
    Rule $define_tag .+ erda.log.job false
[FILTER]
    name rewrite_tag
    match kube.*
    Rule $etype ^purch erda.log.audit true
[FILTER]
    name rewrite_tag
    match erda.log.job
    Rule $etype ^purch job.audited true
"""

_REWRITE_ENGINE_SQL = """
WITH t AS (
  SELECT user_id % 5 = 0 AS has_export,
         (user_id % 10) IN (3, 7) AS has_job,
         event_type LIKE 'purch%' AS is_purch
  FROM events
), s AS (
  SELECT 'container' AS route FROM t WHERE NOT has_job
  UNION ALL SELECT 'erda.log.export' FROM t WHERE has_export
  UNION ALL SELECT 'erda.log.job' FROM t WHERE has_job
  UNION ALL SELECT 'erda.log.audit' FROM t WHERE NOT has_job AND is_purch
  UNION ALL SELECT 'job.audited' FROM t WHERE has_job AND is_purch
)
SELECT route, CAST(count(*) AS BIGINT) AS n_rows FROM s GROUP BY route
"""


@register("rewrite_engine_route_counts", _REWRITE_ENGINE_SQL)
def rewrite_engine_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logpipe.operators.rewrite import apply_rewrite_tags, parse_rewrite_tag_conf

    ev = load_events(spark, sf_dir)
    df = ev.select(
        F.when(F.col("user_id") % 5 == 0, F.lit("coll")).alias("collector"),
        F.when((F.col("user_id") % 10).isin(3, 7), F.lit("job")).alias("define_tag"),
        F.col("event_type").alias("etype"),
    )
    out = apply_rewrite_tags(df, parse_rewrite_tag_conf(_REWRITE_ENGINE_CONF), "kube.events")
    return out.select(
        F.when(F.col("tag").startswith("kube."), F.lit("container"))
        .otherwise(F.col("tag"))
        .alias("route")
    ).groupBy("route").agg(F.count(F.lit(1)).alias("n_rows"))


# ECI sidecar chain (plans/eci.py, conf/eci/fluent-bit.conf): truncate ->
# stitch -> path identity -> cpuset lookup -> erda grok -> static fields
# -> route with a collector (export keep=true dup). The stitch=False
# variant's registry slot was folded (round-3 verdict's 50-row driver
# window): its per-row identity path is pytest-gated in tests/test_eci.py
# and nested inside this stitched gate.
# ECI with the stitcher ON: props lines never match the java firstline
# regex, so each conv folds into ONE group (grp=0 orphan) whose
# identity comes from the FIRST turn (the stitcher keeps the firstline
# record's tool -> cpuset lookup -> container id)
_ECI_STITCHED_SQL = """
WITH t AS (
  SELECT user_id, event_id, event_type, substring(props, 1, 51200) AS txt
  FROM events
  WHERE props IS NOT NULL AND length(props) > 0
), g AS (
  SELECT user_id,
         string_agg(txt, chr(10) ORDER BY event_id) AS content,
         arg_min(event_type, event_id) AS first_role
  FROM t GROUP BY user_id
), r AS (
  SELECT content,
         CASE WHEN first_role = 'purchase' AND (user_id % 16) % 4 <> 3
              THEN md5('cid-tool-' || CAST(user_id % 16 AS VARCHAR))
              ELSE '' END AS id
  FROM g
), s AS (
  SELECT 'export' AS sink, content, id FROM r
  UNION ALL
  SELECT 'container' AS sink, content, id FROM r
)
SELECT sink,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(length(content)) AS BIGINT) AS content_bytes,
       CAST(sum(length(id)) AS BIGINT) AS id_bytes
FROM s GROUP BY sink
"""


@register("eci_stitched_route_counts", _ECI_STITCHED_SQL)
def eci_stitched_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """run_eci_pipeline with stitch=True: the stitch -> first-line
    identity -> cpuset lookup -> route composition in one gate."""
    from logpipe.plans.eci import run_eci_pipeline

    ev = load_events(spark, sf_dir)
    out = run_eci_pipeline(
        events_as_transcripts(ev), events_tool_meta(ev),
        collector="collector-9", stitch=True,
    )
    return out.groupBy("sink").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("content")).alias("content_bytes"),
        F.sum(F.length("id")).alias("id_bytes"),
    )


_MERGE_LOG_SQL = """
WITH lines AS (
  SELECT event_id,
         CASE WHEN event_id % 5 <> 0 THEN props
              ELSE 'plain ' || props END AS line
  FROM events
)
SELECT event_id,
       CASE WHEN json_valid(line)
            THEN (CASE WHEN json_type(line) = 'OBJECT'
                       THEN json_extract_string(line, '$.k') END)
       END AS log_processed_k
FROM lines
"""


@register("merge_log_processed", _MERGE_LOG_SQL)
def merge_log_processed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 Merge_Log On + Merge_Log_Key log_processed
    (conf/ds/fluent-bit.conf:52-53): JSON-object log bodies merge into
    the record as log_processed_* keys; non-JSON bodies (every 5th
    event here gets a 'plain ' prefix) leave the record untouched."""
    from logpipe.operators.enrich import merge_log
    from logpipe.operators.reshape import build_map

    ev = load_events(spark, sf_dir)
    line = F.when(F.col("event_id") % 5 != 0, F.col("props")).otherwise(
        F.concat(F.lit("plain "), F.col("props"))
    )
    rec = build_map({"log": line})
    out = ev.select("event_id", merge_log(rec).alias("rec"))
    return out.select(
        "event_id", F.col("rec").getItem("log_processed_k").alias("log_processed_k")
    )


# ---------------------------------------------------------------------------
# 2. LogEvent projection (O4, out_erda/outerda.go:73-118) — scalar fields
# ---------------------------------------------------------------------------

_LOG_EVENT_SQL = f"""
WITH t AS ({_EVENTS_BASE_CTE}), r AS (
  SELECT *, coalesce(docker_id, tool_cid, '') AS rid FROM t
), s AS (
  SELECT 'export' AS sink, * FROM r WHERE has_export
  UNION ALL
  SELECT CASE WHEN has_job THEN 'job' ELSE 'container' END AS sink, * FROM r
), proj AS (
  SELECT CASE WHEN sink = 'job' THEN 'job' ELSE 'container' END AS source,
         CASE WHEN sink = 'job' THEN define_tag ELSE rid END AS id,
         'stdout' AS stream,
         content,
         CAST(0 AS BIGINT) AS "offset",
         ts_nanos AS "timestamp",
         sink
  FROM s
)
SELECT proj.*,
       CAST(strlen(content) + strlen(id) + strlen(source) + strlen(stream)
            AS BIGINT) AS scalar_bytes
FROM proj
"""


@register("log_event_projection", _LOG_EVENT_SQL)
def log_event_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 LogEvent projection + O5 Size() accounting in one gate (fold
    per the round-3 verdict — the 50-row driver window). scalar_bytes
    is the shipped event_size operator (out_erda/sender.go:26-32) over
    the scalar fields; tag bytes are zeroed here because the tag map
    carries md5/collector salts the flagship oracle reproduces instead
    (the Σ(len(k)+len(v)) tag term is pytest-gated,
    tests/test_reshape.py::test_event_size_accounting)."""
    from logpipe.operators.project import event_size

    ev = load_events(spark, sf_dir)
    out = run_pipeline(
        events_as_transcripts(ev), events_k8s_meta(ev), events_tool_meta(ev)
    )
    sized = event_size(
        out.withColumn("tags", F.from_json(F.lit("{}"), "map<string,string>"))
    )
    return sized.select(
        "source", "id", "stream", "content", "offset", "timestamp", "sink",
        F.col("event_bytes").cast("long").alias("scalar_bytes"),
    )


# ---------------------------------------------------------------------------
# 3. P2 truncate-log (conf/ds/parsers.conf:6-10)
# ---------------------------------------------------------------------------

_TRUNCATE_SQL = """
SELECT doc_id,
       substring(text, 1, 120) AS content,
       CAST(length(substring(text, 1, 120)) AS BIGINT) AS content_len
FROM documents
"""


@register("truncate_log", _TRUNCATE_SQL)
def truncate_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    c = parse.truncate_log(F.col("text"), 120)
    return d.select(
        "doc_id", c.alias("content"), F.length(c).cast("long").alias("content_len")
    )


# ---------------------------------------------------------------------------
# 4. P1 erda-info grok (conf/ds/parsers.conf:1-4) over constructed lines
# ---------------------------------------------------------------------------

_ERDA_RE_SQL = (
    "([Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|DEBU|[Ii]nfo|INFO"
    "|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR))"
    "(.*?)\\[([\\w|\\-|_]*?)\\,"
    "(\\{?\\w{8}-?\\w{4}-?\\w{4}-?\\w{4}-?\\w{12}\\}?)?([\\,|\\w|\\-|_|=]*?)\\]"
)

_ERDA_LINE_SQL = """
  SELECT event_id,
         upper(event_type) || ' [svc-' || CAST(user_id % 8 AS VARCHAR) || ',' ||
         CASE WHEN event_id % 3 = 0 THEN
           substring(md5(props),1,8) || '-' || substring(md5(props),9,4) || '-' ||
           substring(md5(props),13,4) || '-' || substring(md5(props),17,4) || '-' ||
           substring(md5(props),21,12)
         ELSE '' END || ',k=v] ' || props AS line
  FROM events
"""

_ERDA_EXTRACT_SQL = f"""
WITH lines AS ({_ERDA_LINE_SQL})
SELECT event_id,
       regexp_extract(line, '{_ERDA_RE_SQL}', 1) AS level,
       regexp_extract(line, '{_ERDA_RE_SQL}', 4) AS request_id
FROM lines
"""

# erda_info_extract also gates the scalar function layer
# (helps.go/remote.go utilities), folded in to keep queries() within the
# driver's 50-row correctness window: basic-auth base64 (helps.go:73-76)
# + URL host/path join with slash normalization (remote.go:164-166,
# remote_test.go:65-91) over the same events rows.
_ERDA_EXTRACT_SCALAR_SQL = f"""
WITH src AS (SELECT * FROM events), lines AS (
  SELECT event_id, user_id, event_type, props,
         upper(event_type) || ' [svc-' || CAST(user_id % 8 AS VARCHAR) || ',' ||
         CASE WHEN event_id % 3 = 0 THEN
           substring(md5(props),1,8) || '-' || substring(md5(props),9,4) || '-' ||
           substring(md5(props),13,4) || '-' || substring(md5(props),17,4) || '-' ||
           substring(md5(props),21,12)
         ELSE '' END || ',k=v] ' || props AS line
  FROM src
)
SELECT event_id,
       regexp_extract(line, '{_ERDA_RE_SQL}', 1) AS level,
       regexp_extract(line, '{_ERDA_RE_SQL}', 4) AS request_id,
       'Basic ' || to_base64(encode('user-' || CAST(user_id AS VARCHAR)
                                    || ':' || md5(props))) AS auth,
       regexp_replace('http://collector-' || CAST(user_id % 4 AS VARCHAR) || '///',
                      '/+$', '') || '/' ||
       regexp_replace('//collect/logs/' || event_type, '^/+', '') AS url
FROM lines
"""


def _erda_line_expr() -> F.Column:
    m = F.md5(F.col("props"))
    uuid = F.concat_ws(
        "-",
        F.substring(m, 1, 8), F.substring(m, 9, 4), F.substring(m, 13, 4),
        F.substring(m, 17, 4), F.substring(m, 21, 12),
    )
    return F.concat(
        F.upper("event_type"), F.lit(" [svc-"), (F.col("user_id") % 8).cast("string"),
        F.lit(","), F.when(F.col("event_id") % 3 == 0, uuid).otherwise(F.lit("")),
        F.lit(",k=v] "), F.col("props"),
    )


def _erda_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return ev.select("event_id", _erda_line_expr().alias("line"))


@register("erda_info_extract", _ERDA_EXTRACT_SCALAR_SQL)
def erda_info_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 grok extraction + the scalar function layer in one gate
    (fold per the round-3 verdict: the driver checks at most 50
    queries, so the scalar layer rides the same rows instead of its
    own registry slot). Scalar assertions stay operator-direct:
    functions.basic_auth_header / host_join_path, pytest-gated in
    tests/test_reshape.py as well.

    The grok runs through ``parse.erda_info_struct`` in
    ``log_event_tail``'s shape: one select projects the struct, the
    next reads ``.level``/``.request_id``. A NULL line would yield ''
    where the oracle's regexp_extract yields NULL; the line is a
    concat of event_type, user_id, event_id and props, none of which
    holds a NULL at sf0.001/0.01/0.1, so the rows match the oracle."""
    from logpipe.functions import basic_auth_header, host_join_path
    from logpipe.spread import spread_for_compute

    # derived spread (round 11): the grok regexes + scalar-layer md5s
    # below otherwise run in ONE task over the single-row-group bench
    # parquet; naturally-split scans derive False (logpipe.spread)
    ev = spread_for_compute(load_events(spark, sf_dir))
    lines = ev.select(
        "event_id", "user_id", "event_type", "props",
        _erda_line_expr().alias("line"),
    )
    grok = lines.select(
        "event_id", "user_id", "event_type", "props",
        parse.erda_info_struct(F.col("line")).alias("_g"),
    )
    return grok.select(
        "event_id",
        F.col("_g.level").alias("level"),
        F.col("_g.request_id").alias("request_id"),
        basic_auth_header(
            F.concat(F.lit("user-"), F.col("user_id").cast("string")),
            F.md5(F.col("props")),
        ).alias("auth"),
        host_join_path(
            F.concat(F.lit("http://collector-"), (F.col("user_id") % 4).cast("string"), F.lit("///")),
            F.concat(F.lit("//collect/logs/"), F.col("event_type")),
        ).alias("url"),
    )


@register("erda_info_vectorized", _ERDA_EXTRACT_SQL)
def erda_info_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same extraction via the Arrow-vectorized pandas UDF (zero
    per-row Python) — identical output, same oracle."""
    lines = _erda_lines(spark, sf_dir)
    g = parse.erda_info_pandas()(F.col("line"))
    return lines.select(
        "event_id", g["level"].alias("level"), g["request_id"].alias("request_id")
    )


# K8S-Logging.Parser (conf/ds/fluent-bit.conf:54): per-pod parser
# annotation off the k8s dim, applied to the log body, extracted keys
# merged as parsed_* (absent on no-match / no annotation)
_ERDA_LINE_EXPR_SQL = """
           upper(event_type) || ' [svc-' || CAST(user_id % 8 AS VARCHAR) || ',' ||
           CASE WHEN event_id % 3 = 0 THEN
             substring(md5(props),1,8) || '-' || substring(md5(props),9,4) || '-' ||
             substring(md5(props),13,4) || '-' || substring(md5(props),17,4) || '-' ||
             substring(md5(props),21,12)
           ELSE '' END || ',k=v] ' || props
"""

_CRI_RE_SQL = "^([^ ]+) (stdout|stderr) ([^ ]*) (.*)$"

_K8S_PARSER_SQL = f"""
WITH base AS (
  SELECT event_id, user_id, event_type, props, ts,
         CASE WHEN user_id % 9 = 1 THEN 'erda-info'
              WHEN user_id % 9 = 2 THEN 'cri' END AS parser
  FROM events
), lines AS (
  SELECT event_id, parser,
         CASE WHEN parser = 'cri' THEN
           strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z ' ||
           CASE WHEN event_id % 2 = 0 THEN 'stdout' ELSE 'stderr' END || ' F ' || props
         ELSE {_ERDA_LINE_EXPR_SQL}
         END AS line
  FROM base
)
SELECT event_id, parser,
  CASE WHEN parser = 'erda-info' THEN nullif(regexp_extract(line, '{_ERDA_RE_SQL}', 1), '') END AS parsed_level,
  CASE WHEN parser = 'erda-info' THEN nullif(regexp_extract(line, '{_ERDA_RE_SQL}', 4), '') END AS parsed_request_id,
  CASE WHEN parser = 'cri' THEN nullif(regexp_extract(line, '{_CRI_RE_SQL}', 2), '') END AS parsed_stream,
  CASE WHEN parser = 'cri' THEN nullif(regexp_extract(line, '{_CRI_RE_SQL}', 4), '') END AS parsed_log
FROM lines
"""


@register("k8s_parser_annotation", _K8S_PARSER_SQL)
def k8s_parser_annotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pod parser annotation: the k8s dim names a parser
    ('erda-info' / 'cri' / none), applied to the record's log body by
    annotation_parse; extracted keys merge as parsed_* map keys.
    Lines are built cri-shaped for cri-annotated pods, erda-shaped
    otherwise, so both parser branches extract real values."""
    from logpipe.operators.enrich import annotation_parse
    from logpipe.operators.reshape import build_map

    ev = load_events(spark, sf_dir)
    dim = events_k8s_meta(ev).select("conv_id", "k8s_parser")
    joined = ev.withColumn("conv_id", F.col("user_id").cast("string")).join(
        F.broadcast(dim), "conv_id", "left"
    )
    cri_line = F.concat(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z "),
        F.when(F.col("event_id") % 2 == 0, "stdout").otherwise("stderr"),
        F.lit(" F "), F.col("props"),
    )
    line = F.when(F.col("k8s_parser") == "cri", cri_line).otherwise(_erda_line_expr())
    rec = build_map({"log": line})
    out = joined.select(
        "event_id",
        F.col("k8s_parser").alias("parser"),
        annotation_parse(rec, F.col("k8s_parser")).alias("rec"),
    )
    return out.select(
        "event_id", "parser",
        F.col("rec").getItem("parsed_level").alias("parsed_level"),
        F.col("rec").getItem("parsed_request_id").alias("parsed_request_id"),
        F.col("rec").getItem("parsed_stream").alias("parsed_stream"),
        F.col("rec").getItem("parsed_log").alias("parsed_log"),
    )


# ---------------------------------------------------------------------------
# 5. P5 CRI parse (conf/ds/parsers.conf:25-30) over constructed lines
# ---------------------------------------------------------------------------

_CRI_SQL = r"""
WITH lines AS (
  SELECT event_id,
         strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z ' ||
         CASE WHEN event_id % 2 = 0 THEN 'stdout' ELSE 'stderr' END ||
         ' F ' || props AS line
  FROM events
)
SELECT event_id,
       regexp_extract(line, '^([^ ]+) (stdout|stderr) ([^ ]*) (.*)$', 1) AS cri_time,
       regexp_extract(line, '^([^ ]+) (stdout|stderr) ([^ ]*) (.*)$', 2) AS stream,
       regexp_extract(line, '^([^ ]+) (stdout|stderr) ([^ ]*) (.*)$', 3) AS logtag,
       regexp_extract(line, '^([^ ]+) (stdout|stderr) ([^ ]*) (.*)$', 4) AS log
FROM lines
"""


@register("cri_parse", _CRI_SQL)
def cri_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    line = F.concat(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z "),
        F.when(F.col("event_id") % 2 == 0, "stdout").otherwise("stderr"),
        F.lit(" F "), F.col("props"),
    )
    lines = ev.select("event_id", line.alias("line"))
    s = parse.parse_cri(F.col("line"))
    return lines.select(
        "event_id",
        s["time"].alias("cri_time"), s["stream"].alias("stream"),
        s["logtag"].alias("logtag"), s["log"].alias("log"),
    )


# ---------------------------------------------------------------------------
# 6. F3 multiline stitch (sessionization; conf/eci/fluent-bit.conf:41-45)
# ---------------------------------------------------------------------------

# half the props lines count as 'firstline' -> real group mixing
_STITCH_OP_RE = '^\\{"k": [0-4]'

_STITCH_SQL = f"""
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         CAST(event_id AS INT) AS turn_idx,
         props AS text
  FROM events
), marked AS (
  SELECT conv_id, turn_idx, text,
         CAST(sum(CASE WHEN regexp_matches(text, '{_STITCH_OP_RE}') THEN 1 ELSE 0 END)
              OVER (PARTITION BY conv_id ORDER BY turn_idx
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
  FROM t
)
SELECT conv_id, grp,
       CAST(min(turn_idx) AS INT) AS turn_idx,
       string_agg(text, chr(10) ORDER BY turn_idx) AS text,
       CAST(count(*) AS INT) AS n_lines
FROM marked GROUP BY conv_id, grp
"""


@register("multiline_stitch", _STITCH_SQL)
def multiline_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 gate, operator-direct: runs the shipped
    operators/stitch.py::stitch_multiline end-to-end (formerly two
    registry slots — an inline-window demo plus this operator gate —
    merged per the round-3 verdict's 50-row driver window)."""
    from logpipe.operators.stitch import stitch_multiline

    ev = load_events(spark, sf_dir)
    t = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("props").alias("text"),
        F.lit("user").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
    )
    out = stitch_multiline(t, firstline_re=_STITCH_OP_RE)
    return out.select("conv_id", "grp", "turn_idx", "text", "n_lines")


# F3 with the java multiline grammar (conf/eci/fluent-bit.conf:41-45,
# flb_ml_parser_java.c): synthetic lines cycle through datetime
# firstlines, frame lines, Caused by, a DATETIME-LESS exception header
# ('Exception in thread', which must anchor its own group — the case
# the datetime grammar mis-splits), and '... N more' markers. The
# oracle replays the continuation regex in DuckDB (RE2 and Java regex
# agree on this alternation) over the same window.
_JAVA_CONT_RE_SQL = (
    "^[\\t ]+at[\\t ]+|^[\\t ]*Caused by:|^[\\t ]*Suppressed:"
    "|^[\\t ]*\\.\\.\\. \\d+ (more|common frames omitted)"
    "|^[\\t ]*nested exception is"
)

_JAVA_LINE_SQL = """
  SELECT user_id, event_id,
         CASE event_id % 5
           WHEN 0 THEN '2024-01-02 03:04:05 INFO ok ' || props
           WHEN 1 THEN chr(9) || 'at com.example.Svc.run(Svc.java:'
                       || CAST(event_id % 100 AS VARCHAR) || ')'
           WHEN 2 THEN 'Caused by: java.io.IOException: ' || substring(props, 1, 20)
           WHEN 3 THEN 'Exception in thread "main" ' || substring(props, 1, 16)
           ELSE chr(9) || '... ' || CAST(event_id % 7 AS VARCHAR) || ' more'
         END AS line
  FROM events
"""

_JAVA_STITCH_SQL = f"""
WITH lines AS ({_JAVA_LINE_SQL}), marked AS (
  SELECT user_id, event_id, line,
         CAST(sum(CASE WHEN NOT regexp_matches(line, '{_JAVA_CONT_RE_SQL}')
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
  FROM lines
)
SELECT user_id, grp,
       string_agg(line, chr(10) ORDER BY event_id) AS stitched,
       CAST(min(event_id) AS BIGINT) AS first_event,
       CAST(count(*) AS BIGINT) AS n_lines
FROM marked GROUP BY user_id, grp
"""


@register("java_multiline_stitch", _JAVA_STITCH_SQL)
def java_multiline_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logpipe.operators.stitch import collapse_runs, java_group_start

    ev = load_events(spark, sf_dir)
    m = F.col("event_id") % 5
    line = (
        F.when(m == 0, F.concat(F.lit("2024-01-02 03:04:05 INFO ok "), F.col("props")))
        .when(m == 1, F.concat(
            F.lit("\tat com.example.Svc.run(Svc.java:"),
            (F.col("event_id") % 100).cast("string"), F.lit(")")))
        .when(m == 2, F.concat(
            F.lit("Caused by: java.io.IOException: "),
            F.substring("props", 1, 20)))
        .when(m == 3, F.concat(
            F.lit('Exception in thread "main" '), F.substring("props", 1, 16)))
        .otherwise(F.concat(
            F.lit("\t... "), (F.col("event_id") % 7).cast("string"), F.lit(" more")))
    )
    lines = ev.select("user_id", "event_id", line.alias("line"))
    runs = collapse_runs(
        lines, java_group_start("line"), "\n",
        key="user_id", order="event_id", text="line",
    )
    return runs.select(
        "user_id",
        F.col("grp").cast("long").alias("grp"),
        F.col("line").alias("stitched"),
        F.col("event_id").alias("first_event"),
        F.col("n_lines").cast("long").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# 7. F1 throttle: drop variant + audit aggregate (throttle.c:98-107)
# ---------------------------------------------------------------------------

_THROTTLE_DROP_SQL = """
WITH numbered AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY event_id) AS rn
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS kept,
       CAST(min(event_id) AS BIGINT) AS first_event
FROM numbered WHERE rn <= 3 GROUP BY user_id
"""


@register("throttle_drop", _THROTTLE_DROP_SQL)
def throttle_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-mode throttle: keep first `rate` records per (key, window).

    The reference's retain=false path (throttle.c:98-107); rate=3/day
    here so the small SFs actually drop. Uses the shipped operator so
    the oracle gates operators/throttle.py itself.
    """
    from logpipe.operators.throttle import throttle_drop as op_drop

    ev = load_events(spark, sf_dir)
    kept = op_drop(
        ev, rate=3, key="user_id", order_col="event_id", bucket="day"
    )
    return kept.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("kept"),
        F.min("event_id").cast("long").alias("first_event"),
    )


_THROTTLE_AUDIT_SQL = """
SELECT user_id,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY date_trunc('day', ts), user_id
HAVING count(*) > 3
"""


@register("throttle_audit", _THROTTLE_AUDIT_SQL)
def throttle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit aggregate: windows exceeding the rate (retain=true mode
    keeps rows, so correctness-wise throttling is an audit metric).
    Uses the shipped operator so the oracle gates it directly."""
    from logpipe.operators.throttle import throttle_audit as op_audit

    ev = load_events(spark, sf_dir)
    return op_audit(ev, rate=3, key="user_id", bucket="day")


# ---------------------------------------------------------------------------
# 8. F2/F4 broadcast enrichment join (relational parity on TPC-H dims)
# ---------------------------------------------------------------------------

_ENRICH_JOIN_SQL = """
SELECT r.r_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@register("broadcast_enrich_join", _ENRICH_JOIN_SQL)
def broadcast_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# 9. TPC-H Q1-style aggregate (map-side partial agg showcase)
# ---------------------------------------------------------------------------

_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1", _Q1_SQL)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# 10. Top-k per group (window sort/limit)
# ---------------------------------------------------------------------------

_TOPK_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
"""


@register("topk_orders", _TOPK_SQL)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


# ---------------------------------------------------------------------------
# 11. Fact-to-fact shuffle join + anti join (SURVEY §2 'Joins' beyond
#     broadcast lookups — the two join shapes the enrich path never uses)
# ---------------------------------------------------------------------------

_SUPPLIED_QTY_SQL = """
SELECT r.r_name,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@register("supplied_qty_per_region", _SUPPLIED_QTY_SQL)
def supplied_qty_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side join with NO broadcast hint on supplier — AQE picks
    the strategy from runtime sizes (broadcast at test SFs, shuffled
    hash at scale); nation/region stay explicit broadcasts."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty"),
        )
    )


_PROMO_SQL = """
SELECT CAST(100.0 * CAST(sum(CASE WHEN p.p_type = 'ECONOMY'
             THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
             ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS DOUBLE) AS economy_revenue_pct,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
"""


@register("promo_revenue_ratio", _PROMO_SQL)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape over part x lineitem: revenue share of one part
    type inside a date window — exact decimal accumulation, one final
    double division (deterministic: both operands are exact)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    econ = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(
        F.lit(0.00).cast("decimal(18,2)")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(econ).cast("double")
                / F.sum(rev).cast("double")
            ).alias("economy_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_ANTI_JOIN_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
GROUP BY o_orderpriority
"""


@register("orders_without_lineitems", _ANTI_JOIN_SQL)
def orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — the incremental-processing shape (skip keys
    already present in another table, e.g. already-emitted chunks in a
    resume). One shuffle on the key; no row widening."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# 12. Time-gap sessionization (F3's time-based complement)
# ---------------------------------------------------------------------------

_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
), sess AS (
  SELECT user_id, event_id, ts,
         CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(min(event_id) AS BIGINT) AS first_turn,
       min(ts) AS start_ts,
       CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 AS BIGINT) AS span_sec
FROM sess GROUP BY user_id, session_id
"""


@register("session_gap_stats", _SESSION_SQL)
def session_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over events (30-min gap): per-session
    turn count, first turn, start, span."""
    from logpipe.operators.stitch import session_stats

    ev = load_events(spark, sf_dir).select(
        F.col("user_id"), F.col("event_id"), F.col("ts")
    )
    out = session_stats(ev, gap_sec=1800, key="user_id", order_col="event_id")
    return out.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "n_turns",
        F.col("first_turn").cast("long").alias("first_turn"),
        "start_ts",
        "span_sec",
    )


