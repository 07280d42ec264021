"""Deterministic synthetic transcripts + enrichment dims (SURVEY.md §7.1).

Everything is derived column-wise from ``spark.range(n)`` via hash
functions — no wall clock, no Python row loops, fully reproducible at
any scale (the same generator that makes 6k rows for pytest would make
10^12 rows on a cluster; it is embarrassingly parallel and shuffle-free
except for the per-conv turn numbering).

Text mix mirrors the reference fixtures (testdata/k8s/*.log):
  - erda-info bracketed lines  -> exercises the level/request-id grok
    (conf/ds/parsers.conf:1-4)
  - java stacktrace first/continuation lines -> multiline stitch case
  - plain lines, empty lines (Skip_Empty_Lines), >50KB outliers
    (truncate case, conf/ds/parsers.conf:6-10)

conv_id sizes are skewed: a deterministic ~15% of rows land on one hot
conv per 64 convs (hot-key/salting test bed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logpipe import schema as S

BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z, fixed (no wall clock)

_LEVELS = ["INFO", "WARN", "ERROR", "DEBUG", "Trace", "Alert", "info", "warn"]


#: Hash seed of every generated column: one fixed dataset per size.
SEED = 42


def _h(salt: int, *cols) -> F.Column:
    """Deterministic non-negative int64 from (SEED + salt, cols)."""
    return F.abs(F.xxhash64(F.lit(SEED + salt), *cols))


def synth_transcripts(
    spark: SparkSession,
    n_rows: int = 10_000,
    n_convs: int = 64,
    oversize_permille: int = 20,
) -> DataFrame:
    """Transcripts table (conv_id, turn_idx, role, text, tool, ts).

    ``oversize_permille``: fraction (per-1000) of >50KB outlier rows;
    2% default for truncation-coverage in tests, ~1 for realistic
    throughput benches (log lines are usually a few hundred bytes)."""
    df = spark.range(n_rows)
    h = _h(0, F.col("id"))

    # skew: ~15% of rows on conv 0 of each 64-conv block, rest uniform
    conv_num = F.when(h % 100 < 15, F.lit(0)).otherwise(_h(1, F.col("id")) % n_convs)
    df = df.withColumn("conv_num", conv_num)

    # per-conv turn numbering: stable order by global id.
    # (synth-only shuffle; the pipeline itself never needs this.)
    from pyspark.sql import Window

    w = Window.partitionBy("conv_num").orderBy("id")
    df = df.withColumn("turn_idx", F.row_number().over(w).cast("int"))

    role = (
        F.when(_h(2, F.col("id")) % 10 < 4, "assistant")
        .when(_h(2, F.col("id")) % 10 < 7, "user")
        .when(_h(2, F.col("id")) % 10 < 9, "tool")
        .otherwise("system")
    )

    level = F.element_at(
        F.array(*[F.lit(x) for x in _LEVELS]),
        (_h(3, F.col("id")) % len(_LEVELS) + 1).cast("int"),
    )
    svc = F.concat(F.lit("svc-"), (_h(4, F.col("id")) % 8).cast("string"))
    uuid_ish = F.lower(
        F.concat_ws(
            "-",
            F.lpad(F.hex(_h(5, F.col("id")) % F.lit(2**32)), 8, "0"),
            F.lpad(F.hex(_h(6, F.col("id")) % F.lit(2**16)), 4, "0"),
            F.lpad(F.hex(_h(7, F.col("id")) % F.lit(2**16)), 4, "0"),
            F.lpad(F.hex(_h(8, F.col("id")) % F.lit(2**16)), 4, "0"),
            F.lpad(F.hex(_h(9, F.col("id")) % F.lit(2**48)), 12, "0"),
        )
    )
    filler = F.concat(F.lit("payload-"), F.hex(_h(10, F.col("id"))))

    kind = _h(11, F.col("id")) % 1000
    dt = F.from_unixtime(F.lit(BASE_EPOCH) + F.col("id") % 86400, "yyyy-MM-dd HH:mm:ss")
    text = (
        # 35%: erda-info bracketed line (grok hit)
        F.when(
            kind < 350,
            F.concat(
                dt, F.lit(" "), level, F.lit(" ["), svc, F.lit(","), uuid_ish,
                F.lit(",key=val] handled request "), filler,
            ),
        )
        # 10%: java stacktrace firstline (starts with datetime, has exception)
        .when(
            kind < 450,
            F.concat(dt, F.lit(" ERROR [" ), svc, F.lit(",,] java.lang.RuntimeException: boom ")),
        )
        # 15%: continuation lines (no leading datetime)
        .when(kind < 600, F.concat(F.lit("\tat com.erda.Handler.run(Handler.java:"), (h % 500).cast("string"), F.lit(")")))
        # 3%: empty (Skip_Empty_Lines case)
        .when(kind < 630, F.lit(""))
        # oversized (> 50KB truncate case), oversize_permille/1000
        .when(kind < 630 + oversize_permille, F.concat(dt, F.lit(" INFO big "), F.repeat(F.lit("x"), 60000)))
        # rest: plain text
        .otherwise(F.concat(dt, F.lit(" plain turn text "), filler))
    )

    tool = F.when(
        role == "tool", F.concat(F.lit("tool-"), (_h(12, F.col("id")) % 16).cast("string"))
    ).otherwise(F.lit(None).cast("string"))

    out = df.select(
        F.concat(F.lit("conv-"), F.lpad(F.col("conv_num").cast("string"), 5, "0")).alias("conv_id"),
        F.col("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.timestamp_seconds(F.lit(BASE_EPOCH) + F.col("id") % 86400).alias("ts"),
    )
    return out


def synth_k8s_meta(spark: SparkSession, n_convs: int = 64) -> DataFrame:
    """Small enrichment dim keyed by conv_id (broadcast side).

    ~20% of convs carry monitor_log_collector (export route),
    ~10% carry define_tag (job route); deterministic by conv number.
    """
    df = spark.range(n_convs)
    cid = F.concat(F.lit("conv-"), F.lpad(F.col("id").cast("string"), 5, "0"))
    h = _h(100, F.col("id"))
    sfx = (F.col("id") % 1000).cast("string")
    # routing coverage is deterministic by conv number so all four
    # cases exist at any n_convs >= 10: collector only (id%5==0),
    # define_tag only (id%10==3), BOTH (id%10==7: export copy + job
    # replace, no container), neither (the rest).
    has_collector = (F.col("id") % 5 == 0) | (F.col("id") % 10 == 7)
    has_define = (F.col("id") % 10).isin(3, 7)
    collector = F.when(has_collector, F.concat(F.lit("collector-"), (h % 4).cast("string")))
    define_tag = F.when(has_define, F.concat(F.lit("job-"), sfx))
    return df.select(
        cid.alias("conv_id"),
        F.concat(F.lit("pod-"), sfx).alias("pod_name"),
        F.concat(F.lit("ns-"), (F.col("id") % 8).cast("string")).alias("namespace_name"),
        F.lower(F.hex(_h(101, F.col("id")))).alias("docker_id"),
        F.lower(F.hex(_h(102, F.col("id")))).alias("container_hash"),
        F.concat(F.lit("registry/app:"), sfx).alias("container_image"),
        (h % 5).cast("string").alias("org_id"),
        F.concat(F.lit("org-"), (h % 5).cast("string")).alias("org_name"),
        (h % 20).cast("string").alias("project_id"),
        F.concat(F.lit("proj-"), (h % 20).cast("string")).alias("project_name"),
        (h % 40).cast("string").alias("application_id"),
        F.concat(F.lit("app-"), (h % 40).cast("string")).alias("application_name"),
        F.concat(F.lit("svc-"), (F.col("id") % 8).cast("string")).alias("service_name"),
        (h % 50).cast("string").alias("runtime_id"),
        F.concat(F.lit("rt-"), (h % 50).cast("string")).alias("runtime_name"),
        F.element_at(
            F.array(F.lit("DEV"), F.lit("TEST"), F.lit("STAGING"), F.lit("PROD")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("workspace"),
        collector.alias("monitor_log_collector"),
        define_tag.alias("define_tag"),
        # K8S-Logging.Exclude annotation (fluentbit.io/exclude,
        # conf/ds/fluent-bit.conf:55): id%25==0 pods opt out
        (F.col("id") % 25 == 0).alias("k8s_exclude"),
        # K8S-Logging.Parser annotation (fluentbit.io/parser, :54)
        F.when(F.col("id") % 9 == 1, "erda-info")
        .when(F.col("id") % 9 == 2, "cri")
        .alias("k8s_parser"),
    )


def synth_tool_meta(spark: SparkSession, n_tools: int = 16) -> DataFrame:
    """Lua-lookup dim: tool -> cgroup cpuset path.

    Shape mirrors the reference fixture
    (testdata/eci/containers/nginx/cpuset):
    /kubepods/besteffort/pod<uuid>/<64-hex>; a deterministic 1/4 of
    tools are missing (row must pass through unchanged — left join,
    enrich-meta.lua:6-8,14-16).
    """
    df = spark.range(n_tools).filter(F.col("id") % 4 != 3)
    return df.select(
        F.concat(F.lit("tool-"), F.col("id").cast("string")).alias("tool"),
        F.concat(
            F.lit("/kubepods/besteffort/pod"),
            F.lower(F.hex(_h(200, F.col("id")))),
            F.lit("/"),
            F.lower(F.concat(F.hex(_h(201, F.col("id"))), F.hex(_h(202, F.col("id"))))),
        ).alias("cpuset"),
    )
