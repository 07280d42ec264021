"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value" (total sec), "unit", "queries" (per-query
sec), "sf", plus turns/sec context for the flagship pipeline}.

Row-heavy queries are forced with the noop sink (full computation, no
driver-side collect).

Each query is timed min-of-N (SPARK_GRAFT_BENCH_PASSES, default 3)
with INTERLEAVED passes — pass-major order (q1, q2, ..., qN, q1, q2,
...), not per-query blocks: this VM shows transient host steal and
in-session JVM drift, so back-to-back blocks let one bad window poison
one query's min while its neighbors sample calm windows (observed ±60%
on untouched operators between rounds). Interleaving makes every
entry sample every drift window, the same protocol that fixed the
skew-pair ratio variance (0.72-1.47 -> 1.008 in round 4). min over
passes is the steady-state cost of the PLAN, which is the thing being
graded.

compile_sec isolates plan-compile wall (analysis+optimization+physical
planning, no execution) for the composed curation DAG. Entries
deviating >1.5x from the prior committed round are re-probed min-of-3
in a fresh JVM and the result recorded under "probes" in the output
JSON. The layout pair's standing
regression protocol (plan check, per-pass ratios, auto `--probe-pair`)
is documented at its HEADLINE entry.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Per-entry pass cap for the HEAVY entries: a 20-70s composed query
# amortizes scheduling noise over its own length, so min-of-1/2 is
# already stable there — and without the cap the full sweep's wall
# (3 passes x ~180s of entries + skew extras) risks outliving the
# grading driver's bench window. Light entries keep the full min-of-N.
HEAVY_PASS_CAP = {
    "curated_corpus_v5": 2,
    "simhash_near_dups_10x": 2,
    "dup_span_trim_10x": 2,
}

HEADLINE = [
    # (name, force-mode): 'collect' for small aggregates, 'noop' for row
    # streams
    ("flagship_route_counts", "collect"),
    ("log_event_projection", "noop"),
    ("erda_info_extract", "noop"),
    ("multiline_stitch", "noop"),
    ("tpch_q1", "collect"),
    ("broadcast_enrich_join", "collect"),
    ("topk_orders", "collect"),
    ("throttle_drop", "noop"),
    ("dedup_exact", "noop"),
    ("simhash_near_dups", "noop"),
    ("simhash_near_dups_10x", "noop"),
    ("near_dup_clusters", "noop"),
    ("near_dup_clusters_star", "noop"),
    ("minhash_lsh_dups", "noop"),
    ("minhash_lsh_dups_10x", "noop"),
    ("benchmark_contamination", "noop"),
    ("benchmark_contamination_10x", "noop"),
    ("textstats_profile", "noop"),
    ("line_dedup_words", "noop"),
    ("line_dedup_words_10x", "noop"),
    ("dup_span_stats", "noop"),
    ("dup_span_stats_10x", "noop"),
    ("dup_span_trim", "noop"),
    ("dup_span_trim_10x", "noop"),
    ("embedding_cosine_topk", "collect"),
    ("cosine_lsh_near_dups", "noop"),
    ("cosine_lsh_near_dups_prod", "noop"),
    ("session_gap_stats", "noop"),
    # paired layout datum (round-8 verdict task 4): the SAME 2M-row
    # synth transcripts stitched from plain parquet vs from the
    # conv_id-bucketed table cli --bucket-out produces — adjacent in
    # the pass so both sample the same drift window. One-time
    # materialization happens OUTSIDE the timers (_ensure_stitch_layout
    # in main/_probe_main). Regression protocol (round-9 verdict task
    # 1 — the pair's plain side moved 5.33->8.17s on sweep position
    # alone, so a raw min-over-passes ratio cannot distinguish a real
    # layout regression from late-sweep heap drift): (a) the
    # position-independent signal is a PLAN check — the bucketed
    # stitch must compile zero exchanges (layout_pair.bucketed_
    # exchanges); (b) the timing ratio is quoted PER PASS (the two
    # sides are adjacent, so each pass's ratio is like-for-like) and
    # the health statistic is the BEST per-pass ratio — a real elision
    # regression collapses every pass's ratio to ~1, while drift
    # inflates individual passes; (c) when the best ratio still sits
    # under PAIR_RATIO_BAR or the plan check fails, a fresh-JVM
    # interleaved pair probe (`--probe-pair`) fires automatically and
    # its result lands under layout_pair.pair_probe.
    ("stitch_layout_plain", "noop"),
    ("stitch_layout_bucketed", "noop"),
    ("curated_corpus_v5", "collect"),
    ("ann_lsh_topk", "collect"),
    ("ann_ivf_topk", "collect"),
    # flagship_sinks_uniform / _zipf are timed separately with
    # INTERLEAVED passes (see _skew_walls_interleaved): measuring them
    # as two back-to-back min-of-3 blocks let session drift dominate
    # their ratio (observed 0.72-1.47 on identical code)
]

# entries too heavy to re-probe in a fresh JVM when they deviate from
# the prior round (their in-sweep wall already amortizes noise)
PROBE_SKIP_SEC = 15.0
PROBE_MAX = 6


def _dedup_exact(spark, sf_dir):
    """exact_dedup fp-groups — kept as a BENCH entry for round-over-round
    comparability after its registry slot was folded into
    dedup_survivors (the driver's 50-row correctness window)."""
    from logpipe.traindata.dedup import exact_dedup

    return exact_dedup(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _cosine_lsh_prod(spark, sf_dir):
    """cosine_lsh_near_dups at the PRODUCTION operating point
    (threshold 0.8, r=8, T=16): demonstrates the candidate pruning the
    0.4 synthetic threshold can't show — at θ<=37° vs 90° random, the
    8-bit band passes ~6% of random pairs instead of ~79%, so this
    entry should run a small fraction of the 0.4 entry's wall."""
    from logpipe.traindata.ann import cosine_lsh_near_dups

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_lsh_near_dups(emb, threshold=0.8, n_planes=8, n_tables=16)


def _docs_10x(spark, sf_dir):
    """10x corpus: ten copies of documents with every token salted per
    copy (disjoint token/shingle sets — no artificial cross-copy
    duplicates), so wall-vs-input slope is measurable. Sub-linear
    growth 1x->10x = the 1x number is dominated by fixed
    planning/scheduling cost, not by the algorithm."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(1_000_000 * i)).alias("doc_id"),
            F.regexp_replace(
                F.concat(F.lit(f"c{i}_"), F.col("text")), r"(\s+)", f"$1c{i}_"
            ).alias("text"),
        )
        for i in range(10)
    ]
    d10 = parts[0]
    for p in parts[1:]:
        d10 = d10.union(p)
    return d10


def _minhash_10x(spark, sf_dir):
    from logpipe.traindata.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs_10x(spark, sf_dir), n=2, k=32, bands=8, threshold=0.1
    )


def _contamination_10x(spark, sf_dir):
    """benchmark_contamination scale slope: 10x corpus, same broadcast
    bench-set shape (bench snippets drawn from the 10x table)."""
    from pyspark.sql import functions as F

    from logpipe.traindata.dedup import benchmark_contamination
    from logpipe.traindata.textstats import tokens

    d = _docs_10x(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 31 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 12)).alias("text"),
    )
    return benchmark_contamination(d, bench, n=3, min_overlap=5)


def _line_dedup_words(docs):
    """word-per-line construction shared by BOTH slope points (the
    registered query's ' the '-split construction degenerates on the
    token-salted 10x corpus, so the slope pair uses this instead):
    every token a line + a shared footer line per doc_id%7 class."""
    from pyspark.sql import functions as F

    from logpipe.traindata.dedup import line_dedup

    txt = F.concat(
        F.expr("replace(text, ' ', chr(10))"),
        F.lit("\nfooter-"), (F.col("doc_id") % 7).cast("string"),
    )
    return line_dedup(docs.select("doc_id", txt.alias("text")))


def _dup_span_stats_10x(spark, sf_dir):
    """10x slope for the duplicate-span signal (token-salted copies:
    cross-copy spans are disjoint, within-copy duplicate structure
    replicates — wall should grow sub-linearly in input)."""
    from logpipe.traindata.dedup import duplicate_span_stats

    return duplicate_span_stats(_docs_10x(spark, sf_dir), k=3, min_docs=2)


def _line_dedup_words_1x(spark, sf_dir):
    return _line_dedup_words(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def _line_dedup_words_10x(spark, sf_dir):
    return _line_dedup_words(_docs_10x(spark, sf_dir))


def _hot_conv_transcripts(ev):
    """Zipf hot key: ~10% of ALL rows remapped onto conv '0' — a conv
    the k8s dim gives a collector (user 0: uid%5==0), so hot rows stay
    on the export path. The hot-row pick hashes a salt DIFFERENT from
    the payload-build bucket hash so the two don't correlate. Takes the
    already-loaded events frame so the dims and the transcripts share
    ONE scan subtree."""
    from pyspark.sql import functions as F

    from logpipe.sources.events import events_as_transcripts

    t = events_as_transcripts(ev)
    hot = F.pmod(F.xxhash64(F.lit("zipf"), "conv_id", "turn_idx"), F.lit(10)) == 0
    return t.withColumn(
        "conv_id", F.when(hot, F.lit("0")).otherwise(F.col("conv_id"))
    )


def _flagship_sinks(zipf: bool):
    """flagship + export run end-to-end: pipeline -> salted sink write
    (REAL parquet through the (sink, content-salt) exchange) -> export
    wire payload build ((collector, bucket) shuffle). The zipf variant
    feeds the hot-conv input; the claim under test is that NO stage
    keys un-salted on conv identity, so wall_zipf / wall_uniform stays
    ~1 (the skew budget is <= ~1.3x)."""

    def run(spark, sf_dir):
        import shutil
        import tempfile

        from logpipe.plans.pipeline import run_pipeline
        from logpipe.sinks import build_export_payloads, write_sinks
        from logpipe.sources.events import (
            events_as_transcripts,
            events_k8s_meta,
            events_tool_meta,
            load_events,
        )

        ev = load_events(spark, sf_dir)
        t = _hot_conv_transcripts(ev) if zipf else events_as_transcripts(ev)
        out = run_pipeline(t, events_k8s_meta(ev), events_tool_meta(ev))
        tmp = tempfile.mkdtemp(prefix="logpipe_bench_sinks_")
        try:
            write_sinks(out, tmp, n_partitions=32)
            build_export_payloads(out).write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    return run


def _skew_walls_interleaved(spark, sf_dir, passes: int) -> dict:
    """Wall times for the uniform/zipf flagship+sinks+export runs with
    ALTERNATING passes (u, z, u, z, ...): both variants sample the same
    drift window, so min_u/min_z is a like-for-like ratio — the
    back-to-back block protocol let host-steal drift between the two
    blocks swamp the skew signal."""
    import time as _t

    fu = _flagship_sinks(zipf=False)
    fz = _flagship_sinks(zipf=True)
    best = {"uniform": float("inf"), "zipf": float("inf")}
    for _ in range(passes):
        t0 = _t.perf_counter()
        fu(spark, sf_dir)
        best["uniform"] = min(best["uniform"], _t.perf_counter() - t0)
        t0 = _t.perf_counter()
        fz(spark, sf_dir)
        best["zipf"] = min(best["zipf"], _t.perf_counter() - t0)
    return {k: round(v, 3) for k, v in best.items()}


def _skew_task_stats(spark, sf_dir) -> dict:
    """Per-TASK evidence for the zipf run: time each (collector, bucket)
    export payload-build group (the applyInPandas group IS the task unit)
    with the production salting (n_buckets=8) and unsalted (n_buckets=1),
    reporting max/median task rows and seconds. Salting bounds the max
    task at ~hottest-collector/8; unsalted shows what it prevents."""
    from pyspark.sql import functions as F

    from logpipe.plans.pipeline import run_pipeline
    from logpipe.sinks import _chunk_bodies
    from logpipe.sources.events import (
        events_k8s_meta,
        events_tool_meta,
        load_events,
    )

    ev = load_events(spark, sf_dir)
    out = run_pipeline(
        _hot_conv_transcripts(ev), events_k8s_meta(ev), events_tool_meta(ev)
    )
    # persist: the salted and unsalted passes below would otherwise each
    # re-evaluate the whole pipeline lineage from the parquet scan
    export = (
        out.filter(F.col("sink") == "export")
        .withColumn(
            "collector",
            F.coalesce(F.col("labels")["monitor_log_collector"], F.lit("unknown")),
        )
        .persist()
    )

    def timed(pdf):
        import time as _t

        import pandas as pd

        t0 = _t.perf_counter()
        for _ in _chunk_bodies(pdf, 1000, 3):
            pass
        return pd.DataFrame(
            [
                {
                    "collector": pdf.iloc[0]["collector"],
                    "bucket": int(pdf.iloc[0]["bucket"]),
                    "rows": len(pdf),
                    "secs": _t.perf_counter() - t0,
                }
            ]
        )

    res = {}
    for label, n_buckets in (("salted_8", 8), ("unsalted_1", 1)):
        tagged = export.withColumn(
            "bucket",
            F.pmod(F.xxhash64("id", "content"), F.lit(n_buckets)).cast("int"),
        )
        stats = sorted(
            (r["rows"], r["secs"])
            for r in tagged.groupBy("collector", "bucket")
            .applyInPandas(timed, "collector string, bucket int, rows long, secs double")
            .collect()
        )
        rows = [r for r, _ in stats]
        secs = sorted(s for _, s in stats)
        res[label] = {
            "n_tasks": len(stats),
            "max_task_rows": rows[-1],
            "med_task_rows": rows[len(rows) // 2],
            "max_task_sec": round(secs[-1], 3),
            "med_task_sec": round(secs[len(secs) // 2], 3),
        }
    export.unpersist()
    return res


_LAYOUT_STATE: dict = {}


def _ensure_stitch_layout(spark) -> tuple[str, str]:
    """Materialize the SAME deterministic synth transcripts (2M rows /
    4,096 convs — the BENCH/r8_stitch_bucketed.json shape, so the
    standing pair stays comparable to the one-off artifact) in BOTH
    layouts once per bench process: a plain parquet dir and the
    conv_id-bucketed sorted table the relayout CLI writes. Called from
    main()/_probe_main OUTSIDE the timers — the entries only read.
    Returns (plain_path, table_name)."""
    if "table" in _LAYOUT_STATE:
        return _LAYOUT_STATE["plain"], _LAYOUT_STATE["table"]
    import atexit
    import tempfile

    from logpipe.synth import synth_transcripts
    from logpipe.tableio import write_table

    tmp = tempfile.mkdtemp(prefix="logpipe_bench_layout_")
    # a crashed or interrupted sweep must not leak two copies of a
    # 2M-row dataset in /tmp nor the catalog entry (round-9 ADVICE):
    # the temp path goes into the state BEFORE the long writes below
    # (round-10 review: registering cleanup against an empty state
    # made it a no-op for a crash during the writes — the longest
    # window), cleanup is idempotent (happy-path callers clear the
    # state first) and tolerates an already-dead JVM at exit
    _LAYOUT_STATE["tmp"] = tmp
    atexit.register(_layout_cleanup, spark)
    n_rows = int(os.environ.get("SPARK_GRAFT_STITCH_ROWS", "2000000"))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    plain_path = os.path.join(tmp, "plain")
    synth_transcripts(spark, n_rows=n_rows, n_convs=4096).write.mode(
        "overwrite"
    ).parquet(plain_path)
    spark.sql("DROP TABLE IF EXISTS bench_stitch_bucketed_t")
    write_table(
        spark.read.parquet(plain_path),
        os.path.join(tmp, "bucketed"),
        bucket_by=(n_part, "conv_id"),
        sort_by=("conv_id", "turn_idx"),
        table_name="bench_stitch_bucketed_t",
    )
    _LAYOUT_STATE.update(plain=plain_path, table="bench_stitch_bucketed_t")
    return plain_path, "bench_stitch_bucketed_t"


def _layout_cleanup(spark) -> None:
    import shutil

    if _LAYOUT_STATE:
        try:
            spark.sql("DROP TABLE IF EXISTS bench_stitch_bucketed_t")
        except Exception:
            pass  # atexit path with the JVM already gone: the entry
            # lives in this session's in-memory catalog and dies with
            # it anyway — only the temp dir below outlives the process
        shutil.rmtree(_LAYOUT_STATE["tmp"], ignore_errors=True)
        _LAYOUT_STATE.clear()


def _stitch_layout_plain(spark, sf_dir):
    from logpipe.operators.stitch import stitch_multiline

    plain_path, _ = _ensure_stitch_layout(spark)
    return stitch_multiline(spark.read.parquet(plain_path))


def _stitch_layout_bucketed(spark, sf_dir):
    from logpipe.operators.stitch import stitch_multiline

    _, name = _ensure_stitch_layout(spark)
    return stitch_multiline(spark.table(name))


# Below this, the standing layout pair's per-pass ratio cannot be
# telling the truth about the elision (same rows, one side holds a
# full-payload exchange the other compiled away — healthy rounds read
# 1.36-1.96x) and the fresh-JVM pair probe fires for adjudication.
PAIR_RATIO_BAR = 1.2


def _layout_bucketed_exchanges(spark) -> int:
    """Exchange count in the bucketed stitch's compiled plan — the
    POSITION-INDEPENDENT layout-regression signal (a plan property
    can't drift with sweep position or heap pressure): 0 means the
    conv_id-bucket elision still compiles; >0 is a real regression
    regardless of what the timings say."""
    df = _stitch_layout_bucketed(spark, None)
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def _probe_pair_main() -> None:
    """--probe-pair: the layout pair alone in this fresh JVM —
    interleaved passes (plain, bucketed, plain, ...) min-of-3 each,
    plus the plan check; prints one JSON line. The adjudication the
    sweep fires when the in-sweep pair signal degrades (and runnable
    by hand when reading a committed sweep's pair with suspicion)."""
    from logpipe.plans import driver_queries
    from logpipe.session import get_spark

    spark = get_spark(app_name="logpipe-bench-probe-pair")
    try:
        qs = _bench_queries(spark, driver_queries)
        _ensure_stitch_layout(spark)  # outside the timers
        best = {"stitch_layout_plain": float("inf"),
                "stitch_layout_bucketed": float("inf")}
        for _ in range(3):
            for name in best:
                best[name] = min(
                    best[name], _run_entry(spark, qs, name, "noop", None)
                )
        print(json.dumps({
            "plain_min3_sec": round(best["stitch_layout_plain"], 3),
            "bucketed_min3_sec": round(best["stitch_layout_bucketed"], 3),
            "ratio": round(
                best["stitch_layout_plain"] / best["stitch_layout_bucketed"], 3
            ),
            "bucketed_exchanges": _layout_bucketed_exchanges(spark),
        }))
    finally:
        _layout_cleanup(spark)
        spark.stop()


def _layout_pair_report(pass_times: dict, spark) -> dict:
    """The standing layout-pair block (protocol in the HEADLINE
    comment): plan check + per-pass like-for-like ratios + best-pass
    health statistic + auto-fired fresh-JVM pair probe on degradation."""
    import subprocess

    plain = pass_times.get("stitch_layout_plain", [])
    bucketed = pass_times.get("stitch_layout_bucketed", [])
    per_pass = [
        round(p / b, 3) for p, b in zip(plain, bucketed) if b
    ]
    exchanges = _layout_bucketed_exchanges(spark)
    best_ratio = max(per_pass) if per_pass else None
    rep = {
        "stitch_plain_sec": round(min(plain), 3) if plain else None,
        "stitch_bucketed_sec": round(min(bucketed), 3) if bucketed else None,
        "per_pass_ratio": per_pass,
        # the health statistic: a real elision regression collapses
        # EVERY pass's ratio; drift only inflates individual passes
        "best_pass_ratio": best_ratio,
        "bucketed_exchanges": exchanges,
        "ratio_bar": PAIR_RATIO_BAR,
    }
    if exchanges > 0 or (best_ratio is not None and best_ratio < PAIR_RATIO_BAR):
        try:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--probe-pair"],
                capture_output=True, text=True, timeout=900,
                env=os.environ.copy(),
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")]
            rep["pair_probe"] = json.loads(line[-1]) if line else None
        except (subprocess.TimeoutExpired, ValueError, IndexError):
            rep["pair_probe"] = None
    return rep


def _simhash_10x(spark, sf_dir):
    from logpipe.traindata.dedup import simhash_near_dups

    return simhash_near_dups(_docs_10x(spark, sf_dir), max_hamming=6)


def _dup_span_trim_10x(spark, sf_dir):
    """10x slope for span-TRIM (same token-salted copies as the stats
    slope: cross-copy spans disjoint, within-copy duplicate structure
    replicates)."""
    from logpipe.traindata.dedup import duplicate_span_trim

    return duplicate_span_trim(_docs_10x(spark, sf_dir), k=3, min_docs=2)


def _compile_walls(spark, sf_dir) -> dict:
    """Plan-compile wall (analysis -> optimized -> physical) for the
    composed curation DAG — the tree grows with COMPOSITION, not data,
    so compile cost is a fixed per-query overhead worth tracking
    separately from execution (round-4 verdict task 3). Only the
    executedPlan() materialization is timed; the builder call before
    the timer is NOT free — its eager gate materialization runs the
    span subtree — which is exactly why the timed number is the
    compile cost of the post-cut tree, the cost every downstream
    consumer actually pays."""
    import time as _t

    from logpipe.materialize import persistent_rdd_ids, release_rdd_ids
    from logpipe.plans.driver_queries import curated_corpus_v5

    pre = persistent_rdd_ids(spark)
    df = curated_corpus_v5(spark, sf_dir)
    t0 = _t.perf_counter()
    df._jdf.queryExecution().executedPlan()
    out = {"curated_corpus_v5": round(_t.perf_counter() - t0, 3)}
    release_rdd_ids(spark, persistent_rdd_ids(spark) - pre)
    return out


def _bench_queries(spark, driver_queries) -> dict:
    """Registry queries + bench-local entries (slope points and the
    layout pair)."""
    qs = dict(driver_queries.queries())
    qs["dedup_exact"] = _dedup_exact
    qs["minhash_lsh_dups_10x"] = _minhash_10x
    qs["simhash_near_dups_10x"] = _simhash_10x
    qs["cosine_lsh_near_dups_prod"] = _cosine_lsh_prod
    qs["benchmark_contamination_10x"] = _contamination_10x
    qs["line_dedup_words"] = _line_dedup_words_1x
    qs["line_dedup_words_10x"] = _line_dedup_words_10x
    # dup_span_stats / dup_span_trim come from the registry; only the
    # 10x slope siblings are bench-local
    qs["dup_span_stats_10x"] = _dup_span_stats_10x
    qs["dup_span_trim_10x"] = _dup_span_trim_10x
    qs["stitch_layout_plain"] = _stitch_layout_plain
    qs["stitch_layout_bucketed"] = _stitch_layout_bucketed
    return qs


def _span_spread_decision(spark, sf_dir) -> dict:
    """The derived-spread metadata for BOTH span-family sweep inputs
    (see logpipe.traindata.dedup.spread_decision): the 1x documents
    scan and the 10x union, which arrives in ~10x the splits and can
    legitimately derive the OTHER shape — recording only the 1x
    decision would mislabel half the family's entries (round-7
    review)."""
    from logpipe.traindata.dedup import spread_decision

    return {
        "documents": spread_decision(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ),
        "documents_10x": spread_decision(_docs_10x(spark, sf_dir)),
    }


def _run_entry(spark, qs, name, mode, sf_dir) -> float:
    """One timed pass of one entry; checkpoint blocks the query pinned
    are released afterwards (repeated passes otherwise accumulate dead
    MEMORY_AND_DISK copies — the documented late-sweep heap-pressure
    artifact; round-5 ADVICE)."""
    from logpipe.materialize import persistent_rdd_ids, release_rdd_ids

    pre = persistent_rdd_ids(spark)
    t0 = time.perf_counter()
    df = qs[name](spark, sf_dir)
    if mode == "collect":
        df.collect()
    else:
        df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    release_rdd_ids(spark, persistent_rdd_ids(spark) - pre)
    return wall


def _probe_main(name: str) -> None:
    """--probe NAME: min-of-3 for ONE entry in this fresh JVM; prints
    one JSON line {"name", "fresh_min_sec"}. Called by the parent sweep
    for entries deviating >1.5x from the prior round (round-5 verdict
    task 6: deviation explanations belong in the bench JSON, not in
    prose re-probes)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from logpipe.plans import driver_queries
    from logpipe.session import get_spark

    spark = get_spark(app_name=f"logpipe-bench-probe-{name}")
    qs = _bench_queries(spark, driver_queries)
    mode = dict(HEADLINE).get(name, "collect")
    spark.read.parquet(f"{sf_dir}/events.parquet").count()  # warm caches
    if name.startswith("stitch_layout"):
        _ensure_stitch_layout(spark)  # materialize outside the timers
    best = min(_run_entry(spark, qs, name, mode, sf_dir) for _ in range(3))
    print(json.dumps({"name": name, "fresh_min_sec": round(best, 3)}))
    _layout_cleanup(spark)
    spark.stop()


def _prior_round_timings() -> dict:
    """Per-query timings of the most recent committed BENCH_r*.json
    (the deviation baseline for fresh-session probes)."""
    import glob
    import re

    best: tuple[int, str] | None = None
    here = os.path.dirname(os.path.abspath(__file__))
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            r = int(m.group(1))
            if best is None or r > best[0]:
                best = (r, p)
    if best is None:
        return {}
    try:
        with open(best[1]) as f:
            d = json.load(f)
        # the grading driver wraps bench's JSON line under "parsed"
        d = d.get("parsed", d)
        return d.get("queries", {}) or {}
    except (OSError, ValueError, AttributeError):
        return {}


def _fresh_probes(timings: dict) -> dict:
    """Fresh-JVM min-of-3 re-probes for entries whose in-sweep min
    deviates >1.5x (either direction) from the prior committed round.
    Every deviation is RECORDED; only light, single-query-probeable
    entries spawn a JVM. At most PROBE_MAX probes are spawned (skip
    records don't count toward the budget, so heavy deviators can't
    starve light ones of their probe), heavy entries (in-sweep >
    PROBE_SKIP_SEC) are recorded without a probe, and
    interleave-protocol entries (flagship_sinks_*, not in HEADLINE /
    _bench_queries) are recorded without a probe — a fresh
    back-to-back min-of-3 is exactly the drift-dominated protocol the
    interleave replaced."""
    import subprocess

    prior = _prior_round_timings()
    probeable = set(dict(HEADLINE))
    probes: dict = {}
    spawned = 0
    for name, now in timings.items():
        was = prior.get(name)
        if not was or not now:
            continue
        ratio = now / was
        if 1 / 1.5 <= ratio <= 1.5:
            continue
        rec = {
            "prior_round_sec": was,
            "in_sweep_sec": now,
            "ratio": round(ratio, 3),
            "fresh_session_min3_sec": None,
        }
        if name not in probeable:
            rec["skipped"] = "interleave-protocol entry (no single-query probe)"
        elif now > PROBE_SKIP_SEC:
            # too heavy to re-probe in a fresh JVM, but the deviation
            # still belongs in the artifact (heavy composed entries'
            # min-of-1/2 inherits the full host-steal spread)
            rec["skipped"] = f"in-sweep wall > {PROBE_SKIP_SEC}s probe cap"
        elif spawned >= PROBE_MAX:
            rec["skipped"] = f"probe budget ({PROBE_MAX} spawns) exhausted"
        else:
            spawned += 1
            try:
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--probe", name],
                    capture_output=True, text=True, timeout=600,
                    env=os.environ.copy(),
                )
                line = [l for l in out.stdout.splitlines() if l.startswith("{")]
                rec["fresh_session_min3_sec"] = (
                    json.loads(line[-1])["fresh_min_sec"] if line else None
                )
            except (subprocess.TimeoutExpired, ValueError, KeyError, IndexError):
                pass
        probes[name] = rec
    return probes


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0

    from logpipe.plans import driver_queries
    from logpipe.session import get_spark

    spark = get_spark(app_name="logpipe-bench")
    qs = _bench_queries(spark, driver_queries)
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))

    # warm the JVM + parquet footer caches with one cheap pass
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # warm the Python UDF worker pool (pandas/numpy imports happen once
    # per worker; steady-state queries shouldn't be charged the spawn)
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(x):
        return x

    spark.range(256).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).select(
        _warm(F.col("id"))
    ).write.format("noop").mode("overwrite").save()
    # materialize the layout-pair inputs before any timer starts (the
    # one-time 2M-row write is the RELAYOUT cost, reported separately
    # in BENCH/r8_stitch_bucketed.json — not part of either entry)
    _ensure_stitch_layout(spark)

    # pass-major interleaving: every entry samples every drift window
    # (see module docstring); capped heavy entries run only in the
    # first pass(es). Every pass's wall is kept (not just the min):
    # the layout pair's protocol needs per-pass like-for-like ratios.
    pass_times: dict[str, list[float]] = {name: [] for name, _ in HEADLINE}
    for p in range(passes):
        for name, mode in HEADLINE:
            if p >= min(passes, HEAVY_PASS_CAP.get(name, passes)):
                continue
            pass_times[name].append(_run_entry(spark, qs, name, mode, sf_dir))
    timings = {name: round(min(v), 3) for name, v in pass_times.items() if v}

    walls = _skew_walls_interleaved(spark, sf_dir, passes)
    timings["flagship_sinks_uniform"] = walls["uniform"]
    timings["flagship_sinks_zipf"] = walls["zipf"]
    skew = _skew_task_stats(spark, sf_dir)
    skew["hot_frac"] = 0.1
    skew["walls_interleaved"] = True
    skew["wall_ratio_zipf_over_uniform"] = (
        round(walls["zipf"] / walls["uniform"], 3) if walls["uniform"] else None
    )

    layout_pair = _layout_pair_report(pass_times, spark)

    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    total = round(sum(timings.values()), 3)
    flagship_rate = (
        round(n_events / timings["flagship_route_counts"], 1)
        if timings.get("flagship_route_counts")
        else None
    )
    print(
        json.dumps(
            {
                "metric": "headline query wall time (parse->enrich->route->aggregate)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "passes": passes,
                "events_rows": n_events,
                "flagship_turns_per_sec": flagship_rate,
                "skew_export": skew,
                "compile_sec": _compile_walls(spark, sf_dir),
                # which plan shape the span/dedup family compiled for
                # THIS input (derived spread: round-robin parallelism
                # exchange only when the input arrives in fewer splits
                # than shuffle parallelism) — surfaced so an operator
                # reads the choice off the run artifact, not PLANS.md
                "plan_choices": {
                    "span_family_spread": _span_spread_decision(spark, sf_dir)
                },
                # the standing layout pair: same rows, two layouts —
                # plan check + per-pass ratios + auto pair probe
                # (protocol in the HEADLINE comment; round-9 verdict
                # task 1)
                "layout_pair": layout_pair,
                # fresh-JVM re-probes for entries deviating >1.5x from
                # the prior committed round (deviation evidence lives
                # in this JSON, not in prose)
                "probes": _fresh_probes(timings),
            }
        )
    )
    _layout_cleanup(spark)
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--probe":
        _probe_main(sys.argv[2])
    elif len(sys.argv) == 2 and sys.argv[1] == "--probe-pair":
        _probe_pair_main()
    else:
        main()
