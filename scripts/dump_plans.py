"""Write PLANS.md: `.explain("formatted")` snapshots of the headline
plans, with a one-line reading guide per query (what to look for:
broadcast joins, absence of exchanges, pushed filters).

Volatile tokens (expression IDs `#N`, `plan_id=N`, checkpoint RDD
numbers) are normalized at dump time so regenerating at an unchanged
HEAD is a ZERO diff and a PLANS.md diff shows only real plan changes —
the round-6 commit buried ~300 real lines under 22.7k lines of
expression-ID churn (round-6 verdict). Normalization keeps structure:
`#N` still marks an attribute reference, it just stops encoding the
session-global allocation order.

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")


def _normalize(plan: str) -> str:
    """Strip session-volatile tokens from a formatted plan string.

    - `#123` expression IDs -> `#N` (allocation-order noise; the
      attribute NAME before the # carries the information)
    - `plan_id=123` (formatted-mode subquery/exchange tags) -> `=N`
    - `rdd-123` / `MapPartitionsRDD[123]` RDD numbers -> `-N`/`[N]`
      (checkpoint leaves embed the session-global RDD counter)
    - `lambda x_42` / `y_42` / `z_42` higher-order-function variable
      names -> `x_K`/`y_K`/`z_K` (the suffix is a session-global
      lambda counter; Catalyst names 1/2/3-arg lambda variables
      x/y/z, so all three letters occur — zip_with plans carry y_N)
    - localCheckpoint/ExistingRDD callsite line numbers are code
      positions, not volatile — left as-is.

    Dumping twice at one HEAD must produce byte-identical output
    (tests/test_dump_plans.py)."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"\brdd-\d+\b", "rdd-N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    plan = re.sub(r"\b([xyz])_\d+\b", r"\1_K", plan)
    return plan

QUERIES = [
    (
        "flagship_route_counts",
        "the whole pre-route chain must be exchange-free: two "
        "BroadcastHashJoins, projections/filters, then ONE shuffle for "
        "the per-sink aggregate (map-side partial agg first).",
    ),
    (
        "log_event_projection",
        "pure narrow plan: scan -> project -> broadcast joins -> project; "
        "no exchange at all.",
    ),
    (
        "minhash_lsh_dups",
        "the signature table (explode -> hash -> groupBy-min with "
        "partial agg) is materialize()d (mode-injectable lineage cut; "
        "local checkpoint here) — it appears as the ExistingRDD leaf "
        "feeding payload-free banding and the candidate self-join on "
        "(band, bucket); without the cut both join sides re-ran the "
        "signature computation. Grams re-join onto the deduped "
        "candidate set only.",
    ),
    (
        "cosine_lsh_near_dups",
        "the (vec_id, table, bucket) table from the ArrowEvalPython "
        "bucket kernel is materialize()d (the ExistingRDD leaf under "
        "the candidate join — both sides would otherwise re-run the "
        "kernel); id-only candidate dedup, embedding arrays enter "
        "only the final verify joins.",
    ),
    (
        "multiline_stitch",
        "one window + one aggregate, both keyed on conv_id (the stitch's "
        "inherent shuffle); nothing else.",
    ),
    (
        "line_dedup",
        "one explode, winner groupBy on md5(line) with map-side partial "
        "agg, verdict join, per-doc reassembly groupBy — line text never "
        "crosses a doc-boundary exchange. The verdict join keys show as "
        "(lh, doc_id)=(lh, win_doc): Catalyst folds the first-occurrence "
        "filter into the join, which hash-spreads a boilerplate line by "
        "doc_id — skew-free by construction, no winner materialization "
        "needed (round-7 probe).",
    ),
    (
        "curated_corpus_v5",
        "the TOTAL curation DAG (every curation operator, with the "
        "trim/drop/keep span gate): downstream compiles against the "
        "materialized gate leaf (ExistingRDD, zero FileScans — pinned "
        "by test_curated_corpus_v5_plan_lineage_cut); every later "
        "stage verdict travels as an "
        "ids-only semi/anti join; line-dedup winner table on md5(line) "
        "scalars; the one payload-bearing exchange is the final 8-way "
        "pack-bucket shuffle.",
    ),
    (
        "dup_span_trim",
        "the per-(window, doc) position table is materialize()d before "
        "the winner/loser branch (the ExistingRDD leaf — without the "
        "cut Catalyst re-expands the span pipeline per consumer: two "
        "full text scans, zero ReusedExchange); winner/multiplicity "
        "via an ordinary groupBy(hash) joined back on the hash, with "
        "the winner table ALSO materialized (second ExistingRDD leaf) "
        "— AQE's skew split only rewrites joins over bare shuffle "
        "stages, so an aggregate feeding the join directly would "
        "silently suppress it (round-7 measurement; skew=true pinned "
        "on the stats sibling); loser positions collapse per doc; the "
        "verdict rejoins the corpus as an ids+int-array equi-join "
        "(broadcast at this scale; bucketed co-location at 100TB) and "
        "the trim itself is a per-row array filter. ONE FileScan in "
        "the final plan — the reassembly's own text scan.",
    ),
    (
        "dup_span_stats",
        "the count table AND the per-hash multiplicity table are both "
        "materialize()d (two ExistingRDD leaves): the first cuts the "
        "span pipeline at the branch point, the second makes the "
        "multiplicity join's children bare shuffle stages — the only "
        "shape AQE's skew split rewrites (skew=true pinned in "
        "test_dup_span_stats_skewed_hash). Upstream of the cut (the "
        "lazy count chain, pinned separately): ONE payload-bearing "
        "exchange — the leading RoundRobinPartitioning spread "
        "(parallelism for few-split inputs; derived off on many-split "
        "scans), everything after the explode exchanging (md5, "
        "doc_id, count) scalars. The window shape remains an opt-in "
        "for boilerplate-free corpora. Pinned in "
        "test_dup_span_stats_plan_single_linear_payload_exchange.",
    ),
    (
        "media_resize_fingerprint",
        "three Arrow mapInPandas stages (decode / resize / frame "
        "sample) over one 256-row local range — payload bytes never "
        "leave the executor python worker; joins on media_id broadcast.",
    ),
    (
        "tpch_q1",
        "scan with PushedFilters on l_shipdate + ReadSchema pruned to the "
        "6 used columns; single hash aggregate with partial agg.",
    ),
    (
        "supplied_qty_per_region",
        "lineitem-supplier join carries NO broadcast hint -> "
        "AdaptiveSparkPlan picks the strategy from runtime sizes; "
        "nation/region stay explicit broadcasts.",
    ),
    (
        # the registered gate collects in-run (dynamic-parity fold) and
        # returns a local relation, so the pipeline plan is snapshotted
        # from the lazy frame it collects
        "flagship_rules_frame",
        "the conf-declared rewrite_tag cascade must compile to the SAME "
        "plan shape as the hardcoded router: one scan, broadcast joins, "
        "one Generate (finals explode) — no Union (a union-of-rounds "
        "formulation re-scans the input per re-injection round), no "
        "Exchange before the per-sink aggregate. (This is the lazy "
        "frame the registered flagship_rules_route_counts gate "
        "collects for its in-run dynamic-parity assert.)",
    ),
    (
        "benchmark_contamination",
        "the bench gram set enters as a BroadcastExchange (eval sets "
        "are tiny); corpus grams explode and hash-join without any "
        "doc-payload shuffle; the only Exchange is the hit-sized "
        "(doc_id, bench_id) partial aggregate.",
    ),
    (
        "java_multiline_stitch",
        "java-grammar stitch = the standard window+aggregate pair on "
        "user_id (the stitcher's inherent shuffle); the continuation "
        "regex evaluates inside the projection, no extra pass.",
    ),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from logpipe.plans import driver_queries
    from logpipe.session import get_spark

    spark = get_spark(app_name="dump-plans", master="local[8]", shuffle_partitions=8)
    qs = driver_queries.queries()
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `python scripts/dump_plans.py {sf_dir}`",
        "(re-run after plan-affecting changes). Each section notes what",
        "the plan is supposed to show; tests assert the load-bearing",
        "properties (`test_no_shuffle_before_route`, `test_scan_pushdown`,",
        "`test_ivf_assign_plan_has_no_global_window`, ...).",
        "",
    ]
    from logpipe.materialize import persistent_rdd_ids, release_rdd_ids

    for name, note in QUERIES:
        fn = qs.get(name) or getattr(driver_queries, name)
        # eager gates (dup_span_stats' default shape, trim, v5)
        # checkpoint at CONSTRUCTION: release each query's block delta
        # after its plan is dumped, like bench._run_entry does
        pre = persistent_rdd_ids(spark)
        df = fn(spark, sf_dir)
        plan = _normalize(
            df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        )
        release_rdd_ids(spark, persistent_rdd_ids(spark) - pre)
        out += [f"## {name}", "", f"What to look for: {note}", "", "```", plan.rstrip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(QUERIES)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
