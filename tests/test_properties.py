"""Property-based tests (hypothesis): Spark operators vs independent
pure-Python models on randomized inputs. Few examples, large batches —
each example is one Spark job, so the strategy generates many rows per
example instead of many examples (SURVEY.md §5 test strategy)."""

from __future__ import annotations

import datetime as dt
import hashlib
import json

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(max_examples=5, deadline=None)

_token = st.text(alphabet="abc", min_size=1, max_size=2)
_tokens = st.lists(_token, min_size=0, max_size=12)


def _py_ngrams(toks: list[str], n: int) -> list[str]:
    grams = (
        toks if n == 1
        else [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    )
    seen, out = set(), []
    for g in grams:  # array_distinct keeps first-occurrence order
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


@settings(**_SETTINGS)
@given(st.lists(_tokens, min_size=1, max_size=40), st.integers(1, 3))
def test_ngrams_match_python_model(spark, token_lists, n):
    from logpipe.traindata.dedup import ngrams_of

    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(token_lists)],
        "doc_id long, toks array<string>",
    )
    got = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", ngrams_of(F.col("toks"), n).alias("g")).collect()
    }
    for i, toks in enumerate(token_lists):
        assert got[i] == _py_ngrams(toks, n), (toks, n)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),      # key
            st.integers(0, 3),      # day offset
            st.integers(0, 86399),  # second of day
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 4),
)
def test_throttle_drop_matches_python_model(spark, rows, rate):
    """keep-first-`rate`-per-(key, day) ordered by order_col — vs a
    dict-counter model."""
    from logpipe.operators.throttle import throttle_drop

    data = [
        (
            f"k{key}",
            i,
            dt.datetime(2024, 1, 1) + dt.timedelta(days=day, seconds=sec),
        )
        for i, (key, day, sec) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "conv_id string, turn_idx int, ts timestamp")
    got = {
        r["turn_idx"]
        for r in throttle_drop(
            df, rate=rate, key="conv_id",
            order_col="turn_idx", bucket="day",
        ).collect()
    }
    counts: dict[tuple, int] = {}
    expect = set()
    for cid, idx, ts in sorted(data, key=lambda r: r[1]):
        b = (cid, ts.date())
        counts[b] = counts.get(b, 0) + 1
        if counts[b] <= rate:
            expect.add(idx)
    assert got == expect


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.text(alphabet="xy", min_size=1, max_size=3), st.booleans()),
        min_size=1,
        max_size=30,
    )
)
def test_fragment_join_matches_python_model(spark, rows):
    """fragment_join: a partial record continues into the next one;
    fragments concatenate with no separator; the first fragment's
    identity wins; a trailing partial flushes as-is."""
    import datetime as dt

    from logpipe.sources.logfiles import fragment_join

    data = [
        ("c1", i, txt, partial, "stdout", None,
         dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i))
        for i, (txt, partial) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "conv_id string, turn_idx int, text string, partial boolean, "
        "role string, tool string, ts timestamp",
    )
    got = {
        r["turn_idx"]: (r["text"], r["ts"].second + r["ts"].minute * 60)
        for r in fragment_join(df, carry=("role", "tool", "ts")).collect()
    }

    expect = {}
    cur_idx, cur_txt = None, None
    prev_partial = False
    for i, (txt, partial) in enumerate(rows):
        if not prev_partial:
            if cur_idx is not None:
                expect[cur_idx] = cur_txt
            cur_idx, cur_txt = i, txt
        else:
            cur_txt += txt
        prev_partial = partial
    expect[cur_idx] = cur_txt
    assert {k: v[0] for k, v in got.items()} == expect
    for k, (_, sec) in got.items():
        assert sec == k % 3600  # first fragment's timestamp


_json_value = st.one_of(
    st.text(alphabet="xyz ", max_size=5),
    st.integers(-1000, 1000),
    st.booleans(),
)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.one_of(
            st.dictionaries(
                st.text(alphabet="abcd", min_size=1, max_size=3),
                _json_value, max_size=4,
            ),
            st.text(alphabet="ab{} :,", max_size=10),  # mostly invalid JSON
            st.lists(st.integers(0, 9), max_size=3),   # valid JSON, not object
        ),
        min_size=1,
        max_size=50,
    )
)
def test_merge_log_matches_python_model(spark, bodies):
    """merge_log: keys merge as log_processed_* exactly when the body is
    a JSON object; scalars stringify like Spark's map<string,string>
    coercion (ints/bools/strings here)."""
    from logpipe.operators.reshape import build_map
    from logpipe.operators.enrich import merge_log

    lines = [
        json.dumps(b) if isinstance(b, (dict, list)) else b for b in bodies
    ]
    df = spark.createDataFrame(
        [(i, line) for i, line in enumerate(lines)], "id long, log string"
    )
    rec = build_map({"log": F.col("log")})
    got = {
        r["id"]: r["rec"]
        for r in df.select("id", merge_log(rec).alias("rec")).collect()
    }
    for i, (b, line) in enumerate(zip(bodies, lines)):
        m = got[i]
        # build_map drops empty values (fluent-bit no-empty-keys parity):
        # an empty log line means no `log` key in the record at all
        base = {"log"} if line != "" else set()
        if isinstance(b, dict):
            for k, v in b.items():
                sv = ("true" if v else "false") if isinstance(v, bool) else str(v)
                assert m.get(f"log_processed_{k}") == sv, (b, m)
            assert set(m) == base | {f"log_processed_{k}" for k in b}
        else:
            assert set(m) == base, (b, m)


def test_driver_registry_fits_correctness_window():
    """The grading driver checks at most 50 queries (registration-order
    truncation); anything past 50 silently loses its CORRECTNESS row.
    Pin the invariant so a new registration must displace an old one
    (fold or cut) instead of falling off the gate — and that every
    registered query ships an oracle."""
    from logpipe.plans import driver_queries as dq

    qs, osql = dq.queries(), dq.oracle_sql()
    assert len(qs) <= 50, (
        f"{len(qs)} queries registered but the driver checks only 50 — "
        "fold or cut before adding"
    )
    missing = sorted(set(qs) - set(osql))
    assert not missing, f"queries without a DuckDB oracle: {missing}"
    # the oracle strings are part of the graded contract: pin the exact
    # registry size and a digest over every (name, sql) pair so a
    # refactor of the SQL builders cannot silently change one
    assert len(osql) == 50
    h = hashlib.sha256()
    for name, sql in sorted(osql.items()):
        h.update(name.encode() + b"\0" + sql.encode() + b"\0")
    assert h.hexdigest() == (
        "a7ec7ddec494d00ed5b1fe81f5f73197d028b18ba78da7bfcf8b20e367014c28"
    )


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(st.text(alphabet="xy", min_size=1, max_size=2), min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    )
)
def test_line_dedup_matches_python_model(spark, docs_lines):
    """line_dedup == the obvious sequential model: walk docs in id
    order, keep a line only the first time it is EVER seen (across the
    whole corpus), reassemble in place."""
    from logpipe.traindata.dedup import line_dedup

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs_lines)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    seen: set[str] = set()
    expected = {}
    for i, lines in enumerate(docs_lines):
        kept = []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                kept.append(ln)
        expected[i] = ("\n".join(kept), len(kept))

    got = {
        r["doc_id"]: (r["text"], r["n_lines_kept"])
        for r in line_dedup(df).collect()
    }
    assert got == expected


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(st.text(alphabet="pq", min_size=1, max_size=2), min_size=0, max_size=10),
        min_size=1,
        max_size=12,
    ),
    st.integers(1, 3),
)
def test_duplicate_span_stats_matches_python_model(spark, docs_tokens, k):
    """duplicate_span_stats == the obvious model: a position's k-token
    window is 'duplicated' iff its text occurs in >= 2 distinct docs;
    per doc report window count, duplicated-window count, fraction."""
    from collections import defaultdict

    from logpipe.traindata.dedup import duplicate_span_stats

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    span_docs: dict[str, set[int]] = defaultdict(set)
    spans_of: dict[int, list[str]] = {}
    for i, toks in enumerate(docs_tokens):
        sp = [" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)]
        spans_of[i] = sp
        for s in sp:
            span_docs[s].add(i)
    expected = {}
    for i, sp in spans_of.items():
        dup = sum(1 for s in sp if len(span_docs[s]) >= 2)
        frac = round(dup / len(sp), 4) if sp else 0.0
        expected[i] = (len(sp), dup, frac)

    # the default (join) shape eagerly checkpoints its count table:
    # collect it per example or the hypothesis loop pins one block per
    # generated case in the shared session (round-7 review)
    from logpipe.materialize import release

    result = duplicate_span_stats(df, k=k)
    try:
        got = {
            r["doc_id"]: (r["n_spans"], r["n_dup_spans"], round(r["dup_span_frac"], 4))
            for r in result.collect()
        }
    finally:
        release(result)
    assert got == expected


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=20,
    )
)
def test_star_components_matches_union_find(spark, edge_list):
    """star_components == connected components by an independent
    python union-find, on RANDOM graphs — chains, hubs, forests,
    parallel edges, self-loops. Added when round 7 rewired the star
    rounds (branch-point materialization + skew-splittable min-table
    join): the two fixed fixtures pin diameter and skew; this pins the
    CONTRACT across shapes. Labels cover exactly the nodes incident to
    a non-self-loop edge, labeled by component minimum."""
    from logpipe.materialize import persistent_rdd_ids, release_rdd_ids
    from logpipe.traindata.dedup import star_components

    real = [(u, v) for u, v in edge_list if u != v]

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in real:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    expected = {x: find(x) for x in parent}

    df = spark.createDataFrame(edge_list, "u long, v long")
    # the returned labels hold the internal edge-fixpoint checkpoint
    # alive: collect, then free the example's block delta (the
    # hypothesis-loop hygiene pattern used throughout this module)
    pre = persistent_rdd_ids(spark)
    try:
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in star_components(df, max_rounds=10).collect()
        }
    finally:
        release_rdd_ids(spark, persistent_rdd_ids(spark) - pre)
    assert got == expected
