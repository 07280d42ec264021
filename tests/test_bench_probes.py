"""bench.py's deviation-probe machinery (round-5 verdict task 6) —
pure logic, no Spark: prior-round parsing handles both the raw bench
JSON line and the driver's wrapped shape, and _fresh_probes fires only
beyond the 1.5x band, records heavy entries without spawning a JVM,
and re-probes light ones in a subprocess."""

from __future__ import annotations

import json

import bench


def test_prior_round_timings_handles_wrapped_shape(tmp_path, monkeypatch):
    raw = {"queries": {"q1": 1.0}}
    wrapped = {"n": 1, "rc": 0, "parsed": {"queries": {"q1": 2.5}}}
    (tmp_path / "BENCH_r07.json").write_text(json.dumps(raw))
    (tmp_path / "BENCH_r08.json").write_text(json.dumps(wrapped))
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    got = bench._prior_round_timings()
    # r08 is the latest round and its wrapped "parsed" block wins
    assert got == {"q1": 2.5}


def test_fresh_probes_band_and_heavy_skip(monkeypatch):
    monkeypatch.setattr(
        bench, "_prior_round_timings",
        lambda: {"light_ok": 1.0, "light_dev": 1.0, "heavy_dev": 20.0,
                 "zero": 0.0},
    )
    # the synthetic entries must look probeable (present in HEADLINE)
    monkeypatch.setattr(
        bench, "HEADLINE",
        bench.HEADLINE
        + [(n, "collect") for n in
           ("light_ok", "light_dev", "heavy_dev", "zero", "new_entry")],
    )
    calls = []

    class FakeOut:
        stdout = json.dumps({"name": "light_dev", "fresh_min_sec": 1.1})

    def fake_run(cmd, **kw):
        calls.append(cmd)
        return FakeOut()

    import subprocess

    monkeypatch.setattr(subprocess, "run", fake_run)
    probes = bench._fresh_probes(
        {
            "light_ok": 1.2,      # x1.2 — inside the band, no probe
            "light_dev": 2.0,     # x2.0 — probed in a fresh JVM
            "heavy_dev": 40.0,    # x2.0 but heavy — recorded, not probed
            "zero": 0.5,          # prior 0.0 — skipped (no ratio)
            "new_entry": 3.0,     # no prior — skipped
        }
    )
    assert set(probes) == {"light_dev", "heavy_dev"}
    assert probes["light_dev"]["fresh_session_min3_sec"] == 1.1
    assert probes["light_dev"]["ratio"] == 2.0
    assert probes["heavy_dev"]["fresh_session_min3_sec"] is None
    assert "probe cap" in probes["heavy_dev"]["skipped"]
    # exactly one subprocess spawned (the light deviator)
    assert len(calls) == 1 and "--probe" in calls[0]


def test_fresh_probes_interleaved_entries_recorded_not_spawned(monkeypatch):
    """flagship_sinks_uniform/zipf are timed by the interleaved skew
    protocol and have no _bench_queries entry — a spawned probe would
    KeyError after a full Spark startup. Their deviations are recorded
    with a skip reason, zero subprocesses."""
    monkeypatch.setattr(
        bench, "_prior_round_timings",
        lambda: {"flagship_sinks_uniform": 1.0, "flagship_sinks_zipf": 1.0},
    )
    import subprocess

    def boom(cmd, **kw):
        raise AssertionError(f"no probe subprocess expected, got {cmd}")

    monkeypatch.setattr(subprocess, "run", boom)
    probes = bench._fresh_probes(
        {"flagship_sinks_uniform": 2.0, "flagship_sinks_zipf": 0.4}
    )
    assert set(probes) == {"flagship_sinks_uniform", "flagship_sinks_zipf"}
    for rec in probes.values():
        assert rec["fresh_session_min3_sec"] is None
        assert "interleave" in rec["skipped"]


def test_fresh_probes_budget_counts_spawns_only(monkeypatch):
    """PROBE_MAX bounds SPAWNED probes; skip records (heavy /
    interleaved) must neither consume the budget nor get dropped once
    it is exhausted — every deviator leaves evidence."""
    light = [n for n, _ in bench.HEADLINE][: bench.PROBE_MAX + 1]
    prior = {n: 1.0 for n in light}
    prior["heavy_one"] = 20.0
    monkeypatch.setattr(bench, "_prior_round_timings", lambda: prior)
    monkeypatch.setattr(
        bench, "HEADLINE", bench.HEADLINE + [("heavy_one", "collect")]
    )
    calls = []

    class FakeOut:
        stdout = json.dumps({"name": "x", "fresh_min_sec": 1.0})

    import subprocess

    monkeypatch.setattr(
        subprocess, "run", lambda cmd, **kw: calls.append(cmd) or FakeOut()
    )
    timings = {"heavy_one": 40.0}  # deviating heavy skip, listed FIRST
    timings.update({n: 2.0 for n in light})  # PROBE_MAX+1 light deviators
    probes = bench._fresh_probes(timings)
    # the heavy skip didn't consume budget; PROBE_MAX lights probed
    assert len(calls) == bench.PROBE_MAX
    # every deviator has a record, including the over-budget light one
    assert set(probes) == set(light) | {"heavy_one"}
    exhausted = [r for r in probes.values() if "budget" in r.get("skipped", "")]
    assert len(exhausted) == 1


def _pair_report(monkeypatch, pass_times, exchanges, probe_result=None):
    calls = []
    monkeypatch.setattr(bench, "_layout_bucketed_exchanges", lambda s: exchanges)

    class FakeOut:
        stdout = json.dumps(probe_result or {"ratio": 1.7})

    import subprocess

    monkeypatch.setattr(
        subprocess, "run", lambda cmd, **kw: calls.append(cmd) or FakeOut()
    )
    rep = bench._layout_pair_report(pass_times, spark=None)
    return rep, calls


def test_layout_pair_healthy_no_probe(monkeypatch):
    """Round-9 verdict task 1 — the pair's regression signal must be
    position-independent. Healthy shape: the plan check passes and at
    least one pass shows the elision's advantage (drift inflates
    individual passes, it cannot suppress all of them), so no probe
    spawns even though one pass's ratio sits under the bar (the exact
    late-sweep drift pattern that wandered the old min-over-passes
    ratio 1.36/1.91/1.78)."""
    rep, calls = _pair_report(
        monkeypatch,
        {"stitch_layout_plain": [8.2, 5.4, 7.6],
         "stitch_layout_bucketed": [4.4, 4.7, 4.5]},
        exchanges=0,
    )
    assert calls == []
    assert rep["bucketed_exchanges"] == 0
    assert rep["per_pass_ratio"] == [1.864, 1.149, 1.689]
    assert rep["best_pass_ratio"] == 1.864
    assert rep["stitch_plain_sec"] == 5.4 and rep["stitch_bucketed_sec"] == 4.4
    assert "pair_probe" not in rep


def test_layout_pair_collapsed_ratio_fires_probe(monkeypatch):
    """A REAL elision regression collapses EVERY pass's ratio to ~1
    (same rows, same plan on both sides) — the fresh-JVM pair probe
    fires and its JSON lands in the report."""
    rep, calls = _pair_report(
        monkeypatch,
        {"stitch_layout_plain": [4.5, 4.6, 4.4],
         "stitch_layout_bucketed": [4.4, 4.5, 4.3]},
        exchanges=0,
        probe_result={"ratio": 1.02, "bucketed_exchanges": 0},
    )
    assert len(calls) == 1 and "--probe-pair" in calls[0]
    assert rep["best_pass_ratio"] < bench.PAIR_RATIO_BAR
    assert rep["pair_probe"]["ratio"] == 1.02


def test_layout_pair_plan_regression_fires_probe(monkeypatch):
    """The plan check is the timing-independent signal: exchanges in
    the bucketed stitch plan mean the elision stopped compiling, and
    the probe fires even when the timing ratio still looks healthy
    (e.g. a cache masking the regression in-sweep)."""
    rep, calls = _pair_report(
        monkeypatch,
        {"stitch_layout_plain": [8.0, 8.1, 8.2],
         "stitch_layout_bucketed": [4.4, 4.5, 4.3]},
        exchanges=1,
    )
    assert len(calls) == 1 and "--probe-pair" in calls[0]
    assert rep["bucketed_exchanges"] == 1


def test_layout_cleanup_covers_crash_during_writes(monkeypatch):
    """The atexit cleanup must act on a crash DURING the layout writes
    (the longest window — round-10 review: registering it against a
    state that was only populated after the writes made it a no-op for
    exactly the failure it exists for): the temp path enters
    _LAYOUT_STATE before any write, so _layout_cleanup removes the
    dir even when synth/write_table raised and no table was stored."""
    import os

    import logpipe.synth as synth

    monkeypatch.setattr(bench, "_LAYOUT_STATE", {})

    def boom(*a, **kw):
        raise RuntimeError("synthetic OOM during the 2M-row write")

    monkeypatch.setattr(synth, "synth_transcripts", boom)

    class FakeConf:
        @staticmethod
        def get(k, default=None):
            return "8"

    class FakeSpark:
        conf = FakeConf()
        # no .sql — _layout_cleanup's DROP TABLE must tolerate that
        # (the atexit path can run with the JVM already gone)

    try:
        bench._ensure_stitch_layout(FakeSpark())
        raise AssertionError("synthetic crash did not propagate")
    except RuntimeError:
        pass
    assert "tmp" in bench._LAYOUT_STATE and "table" not in bench._LAYOUT_STATE
    leaked = bench._LAYOUT_STATE["tmp"]
    assert os.path.isdir(leaked)
    bench._layout_cleanup(FakeSpark())  # what atexit runs at exit
    assert not os.path.isdir(leaked) and not bench._LAYOUT_STATE


def test_span_spread_decision_metadata(spark):
    """bench.py surfaces the derived-spread plan choice in its JSON
    (round-6 verdict task 8): the fields must carry exactly the inputs
    of the derivation and agree with it — True on the single-file
    bench input, False once the input arrives in >= shuffle-partition
    splits (the 100TB scan stand-in)."""
    from logpipe.spread import spread_decision

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    d = spread_decision(docs)
    assert set(d) == {"input_splits", "shuffle_partitions", "spread"}
    assert d["shuffle_partitions"] == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    assert d["spread"] == (d["input_splits"] < d["shuffle_partitions"])
    assert d["spread"] is True  # the single-file bench reality
    wide = spread_decision(docs.repartition(d["shuffle_partitions"]))
    assert wide["spread"] is False
