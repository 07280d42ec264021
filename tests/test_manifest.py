"""Resume correctness: kill after k buckets, re-run, identical outputs
(SURVEY.md §5 invariant (c))."""

from __future__ import annotations

from pyspark.sql import functions as F

from logpipe.manifest import Manifest, run_resumable
from logpipe.plans.pipeline import run_pipeline


def _sink_totals(spark, base):
    df = spark.read.option("basePath", base).parquet(f"{base}/bucket=*")
    return {
        r["sink"]: (r["rows"], r["content_bytes"])
        for r in df.groupBy("sink")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.length("content")).alias("content_bytes"),
        )
        .collect()
    }


def test_resume_after_partial_run(spark, transcripts, k8s_meta, tool_meta, tmp_path):
    out_base = str(tmp_path / "out")
    mdir = str(tmp_path / "manifest")

    # crash after 3 of 8 buckets
    m1 = run_resumable(
        spark, transcripts, k8s_meta, tool_meta, out_base, mdir,
        n_buckets=8, max_buckets=3,
    )
    assert len(m1.entries()) == 3

    # resume: only the remaining 5 run
    m2 = run_resumable(
        spark, transcripts, k8s_meta, tool_meta, out_base, mdir, n_buckets=8
    )
    assert len(m2.entries()) == 8

    # identical result to a single-shot pipeline run
    expected = {
        r["sink"]: (r["count"],)
        for r in run_pipeline(transcripts, k8s_meta, tool_meta)
        .groupBy("sink")
        .count()
        .collect()
    }
    got = _sink_totals(spark, out_base)
    assert {k: (v[0],) for k, v in got.items()} == expected

    # full CONTENT equality across the crash boundary, not just counts
    back = spark.read.option("basePath", out_base).parquet(f"{out_base}/bucket=*")
    cols = ["sink", "source", "id", "stream", "content", "timestamp"]
    single = run_pipeline(transcripts, k8s_meta, tool_meta).select(cols)
    assert single.exceptAll(back.select(cols)).count() == 0
    assert back.select(cols).exceptAll(single).count() == 0

    # lineage totals agree with the physical output
    totals = m2.totals()
    assert totals["units"] == 8
    assert {s: (v["rows"], v["content_bytes"]) for s, v in totals["sinks"].items()} == got
    # rows_in covers every input row exactly once
    assert totals["rows_in"] == transcripts.count()


def test_rerun_is_noop(spark, transcripts, k8s_meta, tool_meta, tmp_path):
    out_base = str(tmp_path / "out")
    mdir = str(tmp_path / "manifest")
    run_resumable(spark, transcripts, k8s_meta, tool_meta, out_base, mdir, n_buckets=4)
    before = Manifest(mdir).entries()
    run_resumable(spark, transcripts, k8s_meta, tool_meta, out_base, mdir, n_buckets=4)
    after = Manifest(mdir).entries()
    assert before == after  # nothing reprocessed, nothing duplicated


def test_wave_job_count_independent_of_buckets(
    spark, transcripts, k8s_meta, tool_meta, tmp_path
):
    """A full run must be O(1) Spark jobs per wave — NOT O(n_buckets)
    (the per-bucket-rescan formulation ran 3 jobs x n_buckets; at 100TB
    with 256 buckets that is 256 full input scans). One wave = one
    input aggregation + one write + one output-metrics scan."""
    from conftest import count_jobs

    def jobs_for(n_buckets: int) -> int:
        return count_jobs(spark, lambda: run_resumable(
            spark, transcripts, k8s_meta, tool_meta,
            str(tmp_path / f"out{n_buckets}"), str(tmp_path / f"m{n_buckets}"),
            n_buckets=n_buckets,
        ), f"manifest-wave-{n_buckets}")[1]

    j4, j16 = jobs_for(4), jobs_for(16)
    assert j16 <= j4 + 1  # constant, not proportional to bucket count
    assert j16 <= 8


def test_resume_refuses_bucket_count_change(
    spark, transcripts, k8s_meta, tool_meta, tmp_path
):
    """Resuming under a different modulus would skip units computed
    under the old conv->bucket mapping (silent loss + duplication)."""
    import pytest

    out_base = str(tmp_path / "out")
    mdir = str(tmp_path / "manifest")
    run_resumable(
        spark, transcripts, k8s_meta, tool_meta, out_base, mdir,
        n_buckets=8, max_buckets=2,
    )
    with pytest.raises(ValueError, match="n_buckets"):
        run_resumable(
            spark, transcripts, k8s_meta, tool_meta, out_base, mdir, n_buckets=16
        )


def test_rejects_nonpositive_bucket_count(
    spark, transcripts, k8s_meta, tool_meta, tmp_path
):
    """n_buckets=0 processed nothing and recorded itself in _meta, so the
    corrected re-run was refused; it is rejected before the lease or
    _meta is written, and the corrected run then proceeds."""
    import os

    import pytest

    out_base = str(tmp_path / "out")
    mdir = str(tmp_path / "manifest")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="n_buckets must be >= 1"):
            run_resumable(
                spark, transcripts, k8s_meta, tool_meta, out_base, mdir,
                n_buckets=bad,
            )
        assert not os.path.exists(os.path.join(mdir, "_meta"))
        assert not os.path.exists(os.path.join(mdir, "_lease"))
    m = run_resumable(
        spark, transcripts, k8s_meta, tool_meta, out_base, mdir,
        n_buckets=2, max_buckets=1,
    )
    assert m.is_done("bucket-00000")


def test_concurrent_wave_lease(spark, transcripts, k8s_meta, tool_meta, tmp_path):
    """One wave per manifest: a held lease rejects a second invocation;
    a stale lease (crashed holder) is stolen and the wave proceeds."""
    import json
    import os
    import time

    import pytest

    from logpipe.manifest import ConcurrentWaveError

    out_base = str(tmp_path / "out")
    mdir = str(tmp_path / "manifest")
    os.makedirs(mdir, exist_ok=True)

    # simulate a live concurrent wave holding the lease
    with open(os.path.join(mdir, "_lease"), "w") as f:
        json.dump({"token": "deadbeef", "ts": time.time()}, f)
    with pytest.raises(ConcurrentWaveError, match="leased"):
        run_resumable(
            spark, transcripts, k8s_meta, tool_meta, out_base, mdir, n_buckets=4
        )

    # a stale lease is presumed crashed: stolen, wave runs, lease freed
    with open(os.path.join(mdir, "_lease"), "w") as f:
        json.dump({"token": "deadbeef", "ts": time.time() - 9999}, f)
    m = run_resumable(
        spark, transcripts, k8s_meta, tool_meta, out_base, mdir,
        n_buckets=4, lease_ttl_sec=60.0,
    )
    assert len(m.entries()) == 4
    assert not os.path.exists(os.path.join(mdir, "_lease"))


def test_stolen_lease_aborts_before_commit(
    spark, transcripts, k8s_meta, tool_meta, tmp_path, monkeypatch
):
    """A wave whose lease is taken over mid-run must abort at the next
    heartbeat instead of committing entries for clobbered partitions."""
    import json
    import os

    import pytest

    from logpipe import manifest as M

    mdir = str(tmp_path / "manifest")
    os.makedirs(mdir, exist_ok=True)

    real_touch = M._touch_lease
    calls = {"n": 0}

    def stealing_touch(lease_path, token):
        calls["n"] += 1
        if calls["n"] == 1:
            # simulate another wave stealing the lease mid-run
            with open(lease_path, "w") as f:
                json.dump({"token": "thief000", "ts": 0}, f)
        return real_touch(lease_path, token)

    monkeypatch.setattr(M, "_touch_lease", stealing_touch)
    with pytest.raises(M.ConcurrentWaveError, match="taken over"):
        M.run_resumable(
            spark, transcripts, k8s_meta, tool_meta,
            str(tmp_path / "out"), mdir, n_buckets=2,
        )
    # nothing was committed
    assert len(M.Manifest(mdir).entries()) == 0


def test_manifest_carries_file_lineage(
    spark, transcripts, k8s_meta, tool_meta, tmp_path
):
    """Every committed bucket entry records the PHYSICAL files each
    (bucket, sink) partition landed as — count and on-disk bytes —
    alongside the logical rows/content_bytes."""
    import glob
    import os

    out_base = str(tmp_path / "out")
    m = run_resumable(
        spark, transcripts, k8s_meta, tool_meta, out_base,
        str(tmp_path / "manifest"), n_buckets=4,
    )
    entries = m.entries()
    assert len(entries) == 4
    for e in entries:
        assert e["sinks"], e
        for sink, st in e["sinks"].items():
            assert st["n_files"] >= 1
            assert st["file_bytes"] > 0
            # matches the filesystem exactly
            files = glob.glob(
                f"{out_base}/bucket={e['bucket']}/sink={sink}/*.parquet"
            )
            assert st["n_files"] == len(files)
            assert st["file_bytes"] == sum(os.path.getsize(f) for f in files)
    t = m.totals()
    for sink, agg in t["sinks"].items():
        assert agg["n_files"] >= 4 and agg["file_bytes"] > 0


def test_exchange_input_lands_unspread(
    spark, transcripts, k8s_meta, tool_meta, tmp_path
):
    """A wave over an input that already passed an exchange (the
    DaemonSet rejoin's shape) keeps the input's partitioning. Deciding
    the spread costs no job — on the exchanged input as on a narrow
    one, the derived wave runs exactly the jobs of a wave with the
    decision pinned to its answer — the write plan has no
    RoundRobinPartitioning, and each (bucket, sink) lands at most one
    file per input partition."""
    from conftest import count_jobs

    inp = str(tmp_path / "in")
    transcripts.repartition(2).write.parquet(inp)
    k8s_meta.count()  # build the dims' caches outside the job probes
    tool_meta.count()
    outs: list = []

    def wave(name, df, **pin):
        def pipeline(*args, **kwargs):
            outs.append(run_pipeline(*args, **kwargs, **pin))
            return outs[-1]

        m, jobs = count_jobs(spark, lambda: run_resumable(
            spark, df, k8s_meta, tool_meta, str(tmp_path / f"out-{name}"),
            str(tmp_path / f"m-{name}"), n_buckets=4, pipeline_fn=pipeline,
        ), f"manifest-spread-{name}")
        return m, jobs, outs[-1]._jdf.queryExecution().executedPlan().toString()

    # narrow scan, 2 splits < shuffle parallelism: derives the spread
    _, j_narrow, plan = wave("narrow", spark.read.parquet(inp))
    assert "RoundRobinPartitioning" in plan
    _, j_narrow_pin, _ = wave("narrow-pin", spark.read.parquet(inp), spread=True)
    assert j_narrow == j_narrow_pin

    def exchanged():
        return spark.read.parquet(inp).repartition(2, "conv_id")

    m, j_exchange, plan = wave("exchange", exchanged())
    _, j_exchange_pin, _ = wave("exchange-pin", exchanged(), spread=False)
    assert j_exchange == j_exchange_pin
    assert "RoundRobinPartitioning" not in plan
    files = [s["n_files"] for e in m.entries() for s in e["sinks"].values()]
    assert files and max(files) <= 2, files
