"""Injectable materialization (logpipe.materialize): the lineage-cut
strategy behind the dedup/ANN/curation checkpoints must produce
identical results in every mode, truncate the plan in both checkpoint
modes, and actually free storage on release. Every operator's result
owns its internal checkpoints (release(result) frees them), and an
operator that raises mid-way frees the checkpoints it already made."""

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
    """Eager-by-default operators must not leak their internal
    checkpoints for the session — the returned frame owns them, and
    release(result) frees every block the call pinned. Pinned on the three operator
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


@pytest.mark.parametrize("engine", ["propagation", "star"])
def test_non_converging_clustering_releases_checkpoints(spark, engine):
    """A clustering loop that exhausts its round budget raises — and
    frees every checkpoint it pinned first (edges, the last labels or
    edge set, the LSH pairs), instead of leaving them for the
    session. One identical pair needs two rounds in either engine."""
    from logpipe.traindata.dedup import near_dup_clusters, near_dup_clusters_star

    tiny = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "an entirely different sentence about other things"),
        ],
        "doc_id long, text string",
    )
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError):
        if engine == "propagation":
            near_dup_clusters(tiny, max_iter=1)
        else:
            near_dup_clusters_star(tiny, max_rounds=1)
    assert not (persistent_rdd_ids(spark) - before)


@pytest.fixture(scope="module")
def local_clusters(spark, docs):
    from logpipe.traindata.dedup import near_dup_clusters

    return _rows(near_dup_clusters(docs, n=2, k=32, bands=8, threshold=0.3))


@pytest.mark.parametrize("mode", ["reliable"])
def test_iterative_clustering_across_modes(spark, docs, local_clusters, mode):
    """An ITERATIVE operator (per-round label tables, convergence
    counts, release() of dead rounds mid-query) gives the identical
    clustering as in local mode. reliable is the cluster-deployment
    configuration the mode knob exists for: its release() deletes dead
    rounds' checkpoint files."""
    from logpipe.traindata.dedup import near_dup_clusters

    spark.conf.set(MODE_CONF, mode)
    try:
        got = _rows(near_dup_clusters(docs, n=2, k=32, bands=8, threshold=0.3))
    finally:
        spark.conf.unset(MODE_CONF)
    assert got == local_clusters


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


@pytest.mark.parametrize("path", ["result", "tail_error"])
def test_v5_releases_every_checkpoint(spark, monkeypatch, path):
    """The composed curation DAG owns all of its checkpoints:
    release(result) frees the gated-corpus cut as well as the tail's,
    and a tail step that raises (here the near-dup clustering) frees
    every cut made before it."""
    import logpipe.traindata.dedup as dd
    from logpipe.plans import q_curation

    before = persistent_rdd_ids(spark)
    if path == "result":
        out = q_curation.curated_corpus_v5(spark, "/root/testdata/sf0.001")
        assert out.count() > 0
        release(out)
    else:
        def failing(*args, **kwargs):
            raise RuntimeError("injected clustering failure")

        monkeypatch.setattr(dd, "near_dup_clusters", failing)
        with pytest.raises(RuntimeError, match="injected"):
            q_curation.curated_corpus_v5(spark, "/root/testdata/sf0.001")
    assert not (persistent_rdd_ids(spark) - before)


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_concurrent_materialize_attribution(spark, mode):
    """Each materialized frame reads its release target off its own
    plan, so driver threads materializing concurrently (no lock) can
    never free each other's checkpoints — releasing one frame must
    leave the other fully alive, in both checkpoint modes."""
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
    spark.conf.set(MODE_CONF, mode)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        spark.conf.unset(MODE_CONF)
    # release all but t3; the survivor must still be readable from its
    # (truncated-lineage) checkpoint
    release(*(results[k] for k in ("t0", "t1", "t2")))
    assert results["t3"].count() == 50_003
    release(results["t3"])


_TINY_DUPS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "the quick brown fox jumps over a lazy cat"),
    (4, "an entirely different sentence about other things"),
]


# which materialize call fails: the span operators' second table, the
# first propagation round's labels, the star engine's first half-round
_FAIL_ON = {"span_stats": 2, "span_removals": 2, "propagation": 5, "star": 2}


@pytest.mark.parametrize("case", list(_FAIL_ON))
def test_failing_step_releases_earlier_checkpoints(spark, monkeypatch, case):
    """An operator whose Nth materialize raises (a failed eager job)
    frees every checkpoint it made before — the span operators their
    first table, the propagation loop its edges and labels, the star
    engine its edge set — instead of pinning them for the session."""
    import logpipe.traindata.dedup as dd

    fail_on = _FAIL_ON[case]
    calls = []

    def failing(df):
        calls.append(1)
        if len(calls) == fail_on:
            raise RuntimeError("injected materialize failure")
        return materialize(df)

    monkeypatch.setattr(dd, "materialize", failing)
    docs = spark.createDataFrame(_TINY_DUPS, "doc_id long, text string")
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "src long, dst long")
    build = {
        "span_stats": lambda: dd.duplicate_span_stats(docs, k=3, min_docs=2),
        "span_removals": lambda: dd.duplicate_span_removals(docs, k=3, min_docs=2),
        "propagation": lambda: dd.near_dup_clusters(docs, threshold=0.3),
        "star": lambda: dd.star_components(edges),
    }[case]
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="injected"):
        build()
    assert len(calls) == fail_on
    assert not (persistent_rdd_ids(spark) - before)


def test_invalid_mode_rejected(spark):
    """Only the two checkpoint modes exist: any other value, persist
    included (it kept the logical plan, so iterative loops and the
    composed curation DAG could not run under it), raises."""
    for bad in ("nope", "persist"):
        spark.conf.set(MODE_CONF, bad)
        try:
            with pytest.raises(ValueError, match=bad):
                materialize_mode(spark)
            with pytest.raises(ValueError, match=bad):
                materialize(spark.range(3))
        finally:
            spark.conf.unset(MODE_CONF)
