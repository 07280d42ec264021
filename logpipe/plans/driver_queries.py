"""Driver-facing query/oracle registry (the correctness gate).

Each entry: name -> (spark_callable(spark, sf_dir) -> DataFrame,
oracle ANSI-SQL for DuckDB over the same parquet views, or None for
non-SQL-expressible ops). Column names and types are aligned between
both sides (the driver sorts columns by name and value-hashes).

Since round 8 the gates live in three section modules — imported here
in the CANONICAL registration order, so ``queries()`` yields the same
50-name sequence the previous single-file layout did (the driver's
correctness window is order-sensitive):

- logpipe.plans.q_pipeline  — flagship routing, parsers, stitch,
  throttle, enrich, relational, sessionization;
- logpipe.plans.q_traindata — text analysis, PII, dedup families,
  span dedup, media, sampling (also exports the per-operator oracle
  CTE builders the composed DAGs reuse);
- logpipe.plans.q_curation  — curated_corpus_v5, streaming,
  simhash + cosine/ANN similarity.

Numeric-parity rules used throughout (Spark double math vs DuckDB):
- counts -> CAST(... AS BIGINT) both sides;
- sums of doubles -> exact DECIMAL(18,2) accumulation, single final
  cast to DOUBLE (decimal addition is associative => engine-order
  independent);
- per-row float math (cosines, ratios) -> identical IEEE expression
  trees on identical inputs, plus round(..., 4) belt-and-braces;
- hashes -> md5 only (bit-identical in Spark and DuckDB).

EAGER GATES — construction is NOT side-effect free for every entry:
`flagship_rules_route_counts` (runs four pipelines + parity asserts,
returns collected rows), `streaming_route_counts` (runs a Structured
Streaming query against a scratch dir), `curated_corpus_v5` (the
span gate materializes eagerly and raises on vacuous branches), and
`dup_span_trim` (materializes the per-(window, doc) span table before
the removals join), and `dup_span_stats` (its default join shape
materializes the count table the same way; the block is driver-owned
for the session — bench/dump_plans release it by rdd-id delta) all
execute Spark jobs, and may raise, when the registry callable is
invoked. Registry consumers that only want a PLAN must use the lazy
helper instead where one exists (`flagship_rules_frame`), or release
the eager entries' checkpoint blocks by rdd-id delta after reading the
plan — the pattern dump_plans.py follows.
"""

from __future__ import annotations

from logpipe.plans.registry import (  # noqa: F401  (public machinery)
    QueryFn,
    _REGISTRY,
    _docs,
    oracle_sql,
    queries,
    register,
)

# Import the gate modules IN ORDER (this is what populates the
# registry), then re-export their names so every pre-split consumer —
# `from logpipe.plans.driver_queries import curated_corpus_v5`,
# dump_plans' `getattr(driver_queries, "flagship_rules_frame")`,
# bench's direct gate imports — keeps working unchanged. setdefault:
# the machinery names above win; later modules never shadow earlier
# ones (no name is defined twice across the sections — asserted).
from logpipe.plans import q_pipeline as _q_pipeline  # noqa: E402
from logpipe.plans import q_traindata as _q_traindata  # noqa: E402
from logpipe.plans import q_curation as _q_curation  # noqa: E402

for _mod in (_q_pipeline, _q_traindata, _q_curation):
    for _name, _val in vars(_mod).items():
        if _name.startswith("__"):
            continue
        _prev = globals().setdefault(_name, _val)
        if _prev is not _val and _name not in (
            # shared imports each section module legitimately re-holds
            "F", "Window", "DataFrame", "SparkSession", "annotations",
            "parse", "run_pipeline", "register", "_docs", "_REGISTRY",
            "events_as_transcripts", "events_k8s_meta",
            "events_tool_meta", "load_events",
        ):
            raise ImportError(
                f"driver_queries re-export collision on {_name!r}: "
                f"{_prev!r} vs {_val!r} — rename one"
            )
del _mod, _name, _val, _prev
