"""F3 multiline stitch: property tests (SURVEY.md §7.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from logpipe.operators.parse import FIRSTLINE_RE
from logpipe.operators.stitch import stitch_multiline


def test_stitch_split_identity(spark, transcripts):
    """Splitting stitched text on \\n reproduces the input lines in
    (conv_id, turn_idx) order — no line lost, reordered, or mutated."""
    src = transcripts.filter(F.length("text") < 1000)  # keep runtime sane
    out = stitch_multiline(src)

    back = out.select(
        "conv_id", "turn_idx", F.explode(F.split("text", "\n", -1)).alias("line")
    )
    n_src = src.count()
    assert back.count() == n_src
    # every (conv_id, line) multiset matches
    a = src.groupBy("conv_id", "text").count()
    b = back.groupBy("conv_id", F.col("line").alias("text")).count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_group_count_equals_firstlines(spark, transcripts):
    src = transcripts.filter(F.length("text") < 1000)
    n_first = src.filter(F.col("text").rlike(FIRSTLINE_RE)).count()
    out = stitch_multiline(src)
    # groups = firstline groups + at most one orphan group (grp=0) per conv
    n_groups_started = out.filter(F.col("grp") > 0).count()
    assert n_groups_started == n_first
    # every group's text starts with a firstline unless it's the orphan
    bad = out.filter(
        (F.col("grp") > 0) & ~F.col("text").rlike(FIRSTLINE_RE)
    ).count()
    assert bad == 0
    assert out.agg(F.sum("n_lines")).first()[0] == src.count()


def test_sessionize_by_gap(spark):
    """Sessions split exactly where the inter-turn gap exceeds the
    threshold; sub-second gaps count (micros comparison, no truncation)."""
    import datetime as dt

    from logpipe.operators.stitch import session_stats, sessionize_by_gap

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 1, t0),
        ("c1", 2, t0 + dt.timedelta(seconds=10)),
        ("c1", 3, t0 + dt.timedelta(seconds=10, microseconds=1) + dt.timedelta(seconds=30)),  # gap 30.000001s > 30
        ("c1", 4, t0 + dt.timedelta(seconds=70)),
        ("c2", 5, t0),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    got = {
        r["turn_idx"]: r["session_id"]
        for r in sessionize_by_gap(df, gap_sec=30).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}

    stats = {
        (r["conv_id"], r["session_id"]): (r["n_turns"], r["first_turn"], r["span_sec"])
        for r in session_stats(df, gap_sec=30).collect()
    }
    assert stats[("c1", 1)] == (2, 1, 10)
    assert stats[("c1", 2)][0] == 2 and stats[("c1", 2)][1] == 3
    assert stats[("c2", 1)] == (1, 5, 0)


def test_java_grammar_stitches_datetime_less_trace(spark):
    """The ECI chain uses fluent-bit's built-in `java` multiline parser
    (conf/eci/fluent-bit.conf:41-45): a trace whose first line has NO
    datetime ('Exception in thread ...') must still anchor its frames
    and Caused-by chain — the datetime-firstline grammar mis-splits
    this (every frame line becomes its own group)."""
    from logpipe.operators.stitch import java_group_start, stitch_multiline

    rows = [
        ("c1", 1, "user", "2024-01-02 03:04:05 INFO boot", None, None),
        ("c1", 2, "tool", 'Exception in thread "main" java.lang.RuntimeException: boom',
         None, None),
        ("c1", 3, "tool", "\tat com.example.App.main(App.java:10)", None, None),
        ("c1", 4, "tool", "Caused by: java.io.IOException: disk", None, None),
        ("c1", 5, "tool", "\tat com.example.IO.read(IO.java:7)", None, None),
        ("c1", 6, "tool", "\t... 3 more", None, None),
        ("c1", 7, "user", "2024-01-02 03:04:09 INFO recovered", None, None),
    ]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    df = spark.createDataFrame(rows, schema)

    j = {
        r["turn_idx"]: r
        for r in stitch_multiline(df, is_start=java_group_start()).collect()
    }
    # three groups: boot line, the whole trace (5 lines), recovered line
    assert sorted(j) == [1, 2, 7]
    assert j[2]["n_lines"] == 5
    assert j[2]["text"].startswith('Exception in thread "main"')
    assert "Caused by: java.io.IOException: disk" in j[2]["text"]
    assert j[2]["text"].endswith("\t... 3 more")

    # the datetime grammar glues the datetime-less trace onto group 1
    d = {r["turn_idx"]: r for r in stitch_multiline(df).collect()}
    assert d[1]["n_lines"] == 6  # boot + the whole trace, mis-attributed


def test_stitch_bucketed_transcripts_no_exchange(spark, tmp_path):
    """The bucketed-layout story applied to the REFERENCE'S OWN domain
    (north rule: transcripts partitioning handled explicitly): the
    stitcher's window and group-by both cluster on conv_id, so over a
    transcripts table bucketed by conv_id (tableio.write_table /
    cli --bucket-out's DEFAULT bucket column) the whole stitch
    compiles with ZERO exchanges — the storage partitioning satisfies
    every required distribution, no conf needed (single-key
    clustering, unlike line_dedup's compound-key case) — vs exactly
    ONE full-payload exchange on plain parquet. Rows identical, so
    the layout is purely a plan property. The same elision applies to
    every conv_id-clustered stage (session_gap_stats' windows, the
    throttle frames)."""
    from logpipe.synth import synth_transcripts
    from logpipe.tableio import write_table

    t = synth_transcripts(spark, n_rows=4000, n_convs=32)
    plain_dir = str(tmp_path / "plain")
    t.write.mode("overwrite").parquet(plain_dir)
    plain = spark.read.parquet(plain_dir)
    spark.sql("DROP TABLE IF EXISTS stitch_bucketed_t")
    try:
        write_table(
            plain,
            str(tmp_path / "bucketed"),
            bucket_by=(int(spark.conf.get("spark.sql.shuffle.partitions")), "conv_id"),
            sort_by=("conv_id", "turn_idx"),
            table_name="stitch_bucketed_t",
        )
        b = spark.table("stitch_bucketed_t")

        out_p = stitch_multiline(plain)
        plan_p = out_p._jdf.queryExecution().executedPlan().toString()
        assert plan_p.count("Exchange") == 1, plan_p

        out_b = stitch_multiline(b)
        plan_b = out_b._jdf.queryExecution().executedPlan().toString()
        assert plan_b.count("Exchange") == 0, plan_b
        assert "Bucketed: true" in plan_b

        rows_p = sorted(tuple(r) for r in out_p.collect())
        rows_b = sorted(tuple(r) for r in out_b.collect())
        assert rows_p == rows_b and rows_p
    finally:
        spark.sql("DROP TABLE IF EXISTS stitch_bucketed_t")


def test_conv_id_bucket_elides_every_stage_exchange(spark, tmp_path):
    """Round-8 verdict task 2: the stitch docstring claims the SAME
    layout elision applies to every conv_id-clustered stage — make the
    generalization a fact. Over one conv_id-bucketed transcripts table
    (no session conf: subset-key clustering satisfies window/aggregate
    ClusteredDistribution by default), each of the four other
    conv_id-keyed stages compiles ZERO exchanges vs exactly ONE on
    plain parquet, with identical rows:
    - sessionize_by_gap / session_stats (windows on conv_id),
    - throttle_drop / throttle_audit (window + aggregate on
      (conv_id, date_trunc(ts)) — conv_id is a PREFIX of the cluster
      keys, so the single-key bucket still satisfies it)."""
    from logpipe.operators.stitch import session_stats, sessionize_by_gap
    from logpipe.operators.throttle import throttle_audit, throttle_drop
    from logpipe.synth import synth_transcripts
    from logpipe.tableio import write_table

    t = synth_transcripts(spark, n_rows=4000, n_convs=32)
    plain_dir = str(tmp_path / "plain")
    t.write.mode("overwrite").parquet(plain_dir)
    plain = spark.read.parquet(plain_dir)
    spark.sql("DROP TABLE IF EXISTS stages_bucketed_t")
    try:
        write_table(
            plain,
            str(tmp_path / "bucketed"),
            bucket_by=(int(spark.conf.get("spark.sql.shuffle.partitions")), "conv_id"),
            table_name="stages_bucketed_t",
        )
        b = spark.table("stages_bucketed_t")

        stages = {
            "sessionize_by_gap": lambda d: sessionize_by_gap(d, gap_sec=60),
            "session_stats": lambda d: session_stats(d, gap_sec=60),
            "throttle_drop": lambda d: throttle_drop(d, rate=2, bucket="day"),
            "throttle_audit": lambda d: throttle_audit(d, rate=2, bucket="day"),
        }
        for name, fn in stages.items():
            out_p, out_b = fn(plain), fn(b)
            plan_p = out_p._jdf.queryExecution().executedPlan().toString()
            plan_b = out_b._jdf.queryExecution().executedPlan().toString()
            assert plan_p.count("Exchange") == 1, (name, plan_p)
            assert plan_b.count("Exchange") == 0, (name, plan_b)
            assert "Bucketed: true" in plan_b, (name, plan_b)
            rows_p = sorted(tuple(r) for r in out_p.collect())
            rows_b = sorted(tuple(r) for r in out_b.collect())
            assert rows_p == rows_b and rows_p, name
    finally:
        spark.sql("DROP TABLE IF EXISTS stages_bucketed_t")


def test_sorted_bucket_elides_window_sort(spark, tmp_path):
    """Round-8 verdict task 5: a bucketed layout SORTED in the stitch
    window's own order — bucketBy(conv_id).sortBy(conv_id, turn_idx),
    one file per bucket (single_file_buckets) — elides the window SORT
    as well as its exchange, under tableio.SORTED_SCAN_CONFS (Spark
    stopped propagating in-bucket order by default, SPARK-28173:
    multi-file buckets would need a per-bucket merge-sort). Pinned in
    all three regimes: sorted layout + conf -> 0 Exchange 0 Sort;
    unsorted layout + conf -> the Sort stays; sorted layout WITHOUT
    the conf -> the Sort stays (conf, not luck, propagates it). Rows
    identical everywhere."""
    import re

    from logpipe.synth import synth_transcripts
    from logpipe.tableio import SORTED_SCAN_CONFS, write_table

    def n_sorts(plan: str) -> int:
        return len(re.findall(r"\bSort\b", plan))

    t = synth_transcripts(spark, n_rows=4000, n_convs=32)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.sql("DROP TABLE IF EXISTS sorted_bucket_t")
    spark.sql("DROP TABLE IF EXISTS unsorted_bucket_t")
    prev = {k: spark.conf.get(k, None) for k in SORTED_SCAN_CONFS}
    try:
        write_table(
            t, str(tmp_path / "sorted"), bucket_by=(n, "conv_id"),
            sort_by=("conv_id", "turn_idx"), table_name="sorted_bucket_t",
            single_file_buckets=True,
        )
        write_table(
            t, str(tmp_path / "unsorted"), bucket_by=(n, "conv_id"),
            table_name="unsorted_bucket_t", single_file_buckets=True,
        )
        # single_file_buckets held: one data file per bucket
        import os

        files = [
            f for f in os.listdir(str(tmp_path / "sorted"))
            if f.startswith("part-")
        ]
        assert len(files) == n, files

        sorted_t, unsorted_t = spark.table("sorted_bucket_t"), spark.table("unsorted_bucket_t")
        baseline = sorted(tuple(r) for r in stitch_multiline(sorted_t).collect())

        # without the conf the order never propagates, sorted or not
        plan_off = stitch_multiline(sorted_t)._jdf.queryExecution().executedPlan().toString()
        assert plan_off.count("Exchange") == 0 and n_sorts(plan_off) == 1, plan_off

        for k, v in SORTED_SCAN_CONFS.items():
            spark.conf.set(k, v)
        plan_sorted = stitch_multiline(sorted_t)._jdf.queryExecution().executedPlan().toString()
        assert plan_sorted.count("Exchange") == 0 and n_sorts(plan_sorted) == 0, plan_sorted
        plan_unsorted = stitch_multiline(unsorted_t)._jdf.queryExecution().executedPlan().toString()
        assert plan_unsorted.count("Exchange") == 0 and n_sorts(plan_unsorted) == 1, plan_unsorted

        rows_sorted = sorted(tuple(r) for r in stitch_multiline(sorted_t).collect())
        rows_unsorted = sorted(tuple(r) for r in stitch_multiline(unsorted_t).collect())
        assert rows_sorted == baseline == rows_unsorted and baseline
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS sorted_bucket_t")
        spark.sql("DROP TABLE IF EXISTS unsorted_bucket_t")
