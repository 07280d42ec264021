"""Run collapse — F3 multiline stitch, fragment rejoin, gap sessions
(SURVEY.md §2.1 S1/S2, §2.3 F3).

The reference joins consecutive records into one in two places: the
`multiline` filter glues continuation lines onto the preceding
firstline record (conf/eci/fluent-bit.conf:41-45), and the tail's
Docker_Mode / CRI partial handling glues the fragments of one
over-long line back together (docker-runtime.conf:17-19). fluent-bit
does both stateful-sequentially per tail-file; the Spark-first shape
is one run rule — a running count of group starts in (key, order)
order — then one aggregation per run:

  grp = sum(is_start) over (partition by key order by order)   run_index
  group by (key, grp) -> concat_ws(sep, lines in order)        collapse_runs

Every run-grouping stage calls these two: stitch_multiline (firstline
or java grammar, sep '\\n'), sources.logfiles.fragment_join (sep ''),
the java_multiline_stitch gate, and sessionize_by_gap (run_index only).
Leading rows before the first start (grp=0) form their own run — same
as fluent-bit flushing orphan continuations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logpipe.operators.parse import FIRSTLINE_RE


def run_index(
    is_start: Column, key: str = "conv_id", order: str = "turn_idx"
) -> Column:
    """Running count of group starts over (key, order): the run number
    of each row. Rows before the first start are run 0."""
    w = (
        Window.partitionBy(key)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return F.sum(is_start.cast("int")).over(w)


def collapse_runs(
    df: DataFrame,
    is_start: Column,
    sep: str,
    key: str = "conv_id",
    order: str = "turn_idx",
    text: str = "text",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """One row per run: (key, grp, order, text, *carry, n_lines).

    ``text`` is the run's lines joined with ``sep`` in ``order``; every
    other column comes from the run's first row (the reference record
    is the first record with `log` extended).

    Scale note: the window and the group-by both cluster on ``key``,
    so the operator moves ONE full-payload shuffle, and storing the
    input bucketed on ``key`` elides it entirely (tableio.write_table
    bucket spec / cli --bucket-out's default column) — zero exchanges,
    no session conf needed, rows identical (pinned:
    tests/test_stitch.py::test_stitch_bucketed_transcripts_no_exchange;
    measured 1.36x on 2M rows, BENCH/r8_stitch_bucketed.json). The
    same elision holds for every conv_id-clustered stage — pinned, not
    just claimed: sessionize_by_gap / session_stats / throttle_drop /
    throttle_audit each compile zero exchanges over the bucket
    (test_conv_id_bucket_elides_every_stage_exchange). Laying the
    buckets out SORTED in this window's own order (sort_by=(conv_id,
    turn_idx), single_file_buckets=True) additionally elides the
    window SORT under tableio.SORTED_SCAN_CONFS
    (test_sorted_bucket_elides_window_sort). With a hot key the stage
    skews: the run rule cannot be salted across row boundaries (it
    must see consecutive rows), but AQE skewed-shuffle splitting
    handles the aggregation side and run CONTENT is bounded (a stack
    trace is tens of lines), so only the window scan is key-serial —
    O(hot key) not O(everything).
    """
    lines = F.array_sort(F.collect_list(F.struct(order, text, *carry)))
    first = F.element_at("_lines", 1)
    return (
        df.withColumn("grp", run_index(is_start, key, order))
        .groupBy(key, "grp")
        .agg(lines.alias("_lines"))
        .select(
            key,
            "grp",
            first[order].alias(order),
            F.concat_ws(sep, F.transform("_lines", lambda x: x[text])).alias(text),
            *[first[c].alias(c) for c in carry],
            F.size("_lines").alias("n_lines"),
        )
    )


def stitch_multiline(
    df: DataFrame, firstline_re: str = FIRSTLINE_RE, is_start=None
) -> DataFrame:
    """F3 stitcher: one (conv_id, grp, turn_idx, role, text, tool, ts,
    n_lines) row per group (collapse_runs with '\\n', keeping the
    firstline's turn_idx, role, tool and ts).

    ``is_start``: optional boolean Column overriding the group-start
    rule (default: text matches ``firstline_re``) — e.g. the java
    grammar's NOT-a-continuation rule, ``is_start=java_group_start()``.
    """
    if is_start is None:
        is_start = F.col("text").rlike(firstline_re)
    runs = collapse_runs(df, is_start, "\n", carry=("role", "tool", "ts"))
    return runs.select(
        "conv_id", "grp", "turn_idx", "role", "text", "tool", "ts", "n_lines"
    )


def java_group_start(text_col: str = "text") -> Column:
    """Group-start rule of fluent-bit's built-in `java` multiline
    parser (conf/eci/fluent-bit.conf:45, flb_ml_parser_java.c): a line
    starts a group iff it is NOT a stack-trace continuation form
    (frame / Caused by / Suppressed / '... N more' / nested exception).
    `at ...` / `Caused by:` lines thus glue to the preceding record
    even when the trace's first line carries no datetime — the case
    the datetime-firstline grammar mis-splits. Null text is a start
    (it can't continue anything)."""
    from logpipe.operators.parse import JAVA_CONT_RE

    return ~F.coalesce(F.col(text_col).rlike(JAVA_CONT_RE), F.lit(False))


def sessionize_by_gap(
    df: DataFrame,
    gap_sec: int = 1800,
    key: str = "conv_id",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Time-gap sessionization: a new session starts when the gap to
    the previous turn exceeds ``gap_sec`` (the time-based complement of
    the marker-based stitcher; the reference's flush timers —
    Docker_Mode_Flush / Multiline_Flush — are the same idea applied to
    record closure). Adds a per-key ``session_id`` (1-based): the
    run_index of the gap rule, one shuffle on `key`.
    """
    # compare in MICROS: a seconds cast truncates and moves session
    # boundaries by up to 1s (TIMESTAMP_NTZ goes via a timestamp cast —
    # identity under the UTC session TZ, same as project_log_event)
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(epoch).over(Window.partitionBy(key).orderBy(order_col))
    is_start = prev.isNull() | (epoch - prev > gap_sec * 1_000_000)
    return df.withColumn("session_id", run_index(is_start, key, order_col))


def session_stats(
    df: DataFrame,
    gap_sec: int = 1800,
    key: str = "conv_id",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Per-session aggregate over sessionize_by_gap: turn count, span,
    first turn — the partial-agg-friendly rollup (map-side combine on
    (key, session_id))."""
    s = sessionize_by_gap(df, gap_sec, key, order_col)
    return s.groupBy(key, "session_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min(order_col).alias("first_turn"),
        F.min("ts").alias("start_ts"),
        F.floor(
            (
                F.max(F.unix_micros(F.col("ts").cast("timestamp")))
                - F.min(F.unix_micros(F.col("ts").cast("timestamp")))
            )
            / F.lit(1_000_000)
        )
        .cast("long")
        .alias("span_sec"),
    )
