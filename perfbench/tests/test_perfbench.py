"""The benchmark's own tests: metric names, the plan-walk exchange count,
and a tiny-scale smoke run of each workload that passes its correctness
check. Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import run  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed():
    names = list(run.END_TO_END) + list(run.PER_LAYER) + list(run.CURATION_LAYERS)
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.fullmatch(n), n


def test_benchmark_json_matches_the_runner():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_gen_is_a_function_of_the_seed(tmp_path):
    import gen

    a = gen.write_documents(str(tmp_path / "a"), 3, 300)
    b = gen.write_documents(str(tmp_path / "b"), 3, 300)
    read = lambda d: open(os.path.join(d["sf_dir"], "documents.parquet"), "rb").read()
    assert read(a) == read(b)


@pytest.fixture(scope="module")
def spark():
    from logpipe.session import get_spark

    s = get_spark(master="local[2]")
    yield s
    s.stop()


def test_count_exchanges_walks_the_plan_once(spark):
    from pyspark.sql import functions as F

    from tracing import count_exchanges

    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    assert count_exchanges(agg) == 1
    agg.collect()  # AQE now holds a final plan next to the initial one
    assert count_exchanges(agg) == 1
    small = spark.range(10).withColumnRenamed("id", "k")
    joined = spark.range(1000).join(F.broadcast(small), F.col("id") == F.col("k"))
    assert count_exchanges(joined) == 0


# the span gate of curated_corpus_v5 needs a few hundred documents to see
# all of keep, trim and drop
SMOKE_SCALE = {"ds_tail": 0.02, "eci_export": 0.02, "curation": 0.1}


@pytest.mark.parametrize("workload", [*run.WORKLOAD_NAMES, "curation"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_passes_its_check(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", str(SMOKE_SCALE[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, out.stderr[-3000:]
    names = set(run.PER_LAYER if trace else run.END_TO_END)
    if trace and workload == "curation":
        names |= set(run.CURATION_LAYERS)
    assert set(res["metrics"]) == names
