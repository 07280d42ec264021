"""Injectable materialization strategy for lineage cuts.

Several operators cut lineage at an expensive SCALAR intermediate
(minhash signatures, LSH bucket tables, candidate pairs, iterative
cluster labels, the curation span gate) so that self-joins / symmetric
unions / iterative consumers don't re-run the upstream subtree per
branch — the round-5 duplicated-subtree audit found four such sites
and halved total compute at those stages by materializing.

Round 5 hardcoded ``localCheckpoint()`` everywhere. Local checkpoints
have exactly the right semantics for a single-JVM run (eager, no disk
round-trip through a checkpoint dir), but the truncated lineage lives
only in executor block storage: on a real cluster an executor loss
makes it unrecoverable mid-query and FAILS the job instead of
recomputing. This module makes the strategy a deployment knob:

    spark.conf.set("spark.logpipe.materialize.mode", "reliable")

- ``local``   (default): ``df.localCheckpoint()`` — eager, blocks in
  executor storage (MEMORY_AND_DISK), lineage truncated. Right for
  single-node / sandbox runs; fastest.
- ``reliable``: checkpoint against a real checkpoint dir
  (``spark.logpipe.materialize.checkpointDir``, or a driver-temp
  default that a cluster deployment MUST override with a shared path,
  e.g. HDFS/S3). Survives executor loss; costs a write + re-read.
  The frame is computed ONCE: a bare ``Dataset.checkpoint(eager=True)``
  runs the plan twice (the eager count and the checkpoint save), which
  matters because some call sites checkpoint corpus-sized text (the
  curation span gates), not just id/scalar tables — so this mode
  stages through a local checkpoint first and lets both checkpoint
  jobs read the staged blocks, then frees them. The durability window
  is the seconds between the two steps (a loss there fails the
  materialize itself — retryable); after that the data is on shared
  storage. ``release()`` deletes the checkpoint files (Spark never
  cleans them during the session unless
  ``spark.cleaner.referenceTracking.cleanCheckpoints`` is set, which
  is GC-driven and off by default); the fabricated driver-temp
  default dir is additionally removed at interpreter exit.

``release()`` frees a materialized frame's storage once every consumer
is done with it — the round-5 ADVICE finding: eager checkpoints pinned
MEMORY_AND_DISK blocks for the rest of the session, and repeated
builds (bench's interleaved passes, per-round cluster labels)
accumulated dead copies. Releasing a LOCAL checkpoint discards data
whose lineage is gone — only call it when the frame is truly dead.
"""

from __future__ import annotations

import os
import tempfile
import threading
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

MODE_CONF = "spark.logpipe.materialize.mode"
CKPT_DIR_CONF = "spark.logpipe.materialize.checkpointDir"
_MODES = ("local", "reliable")
_RELEASE_ATTR = "_logpipe_release"

# Sticky outcome of the reliable-mode checkpoint-path resolver: once
# _checkpoint_file has succeeded in this process, later materialize
# calls skip the checkpoint-dir listStatus snapshot that only the
# drift fallback consumes (None = unknown, first call always lists).
# If the resolver then fails on a LATER call (drift mid-process), that
# call has no dir snapshot and takes the visible-warning path.
_PATH_RESOLVER_WORKS: bool | None = None

# The snapshot -> materialize -> snapshot windows attribute per-call
# deltas (persistent-RDD ids in local mode, checkpoint-dir entries in
# the reliable drift fallback) to THIS frame; a concurrent materialize
# in another driver thread would land its ids/dirs inside the window
# and release() would then free a LIVE frame's blocks or delete its
# checkpoint files (round-7 ADVICE). One process-wide lock serializes
# the windows — materialize is driver-side and seconds-scale, so the
# serialization cost is noise next to the jobs it runs.
_MATERIALIZE_LOCK = threading.Lock()


def materialize_mode(spark: SparkSession) -> str:
    """The session's materialization mode (``local`` unless set)."""
    mode = str(spark.conf.get(MODE_CONF, "local")).lower()
    if mode not in _MODES:
        raise ValueError(
            f"{MODE_CONF}={mode!r}: expected one of {', '.join(_MODES)}"
        )
    return mode


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of RDDs currently holding persisted/checkpointed blocks."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def release_rdd_ids(spark: SparkSession, ids: Iterable[int]) -> None:
    """Unpersist the given persistent-RDD ids (non-blocking, idempotent:
    ids already gone are skipped)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(False)


def _ensure_checkpoint_dir(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return
    configured = spark.conf.get(CKPT_DIR_CONF, None)
    if configured is None:
        # sandbox default; a cluster run MUST point this at shared
        # storage (HDFS/S3) or executor-written checkpoint files are
        # unreadable across nodes. We fabricated this dir, so we also
        # remove it at exit — Spark itself never does.
        import atexit
        import shutil

        configured = os.path.join(
            tempfile.gettempdir(), f"logpipe_ckpt_{os.getpid()}"
        )
        atexit.register(shutil.rmtree, configured, ignore_errors=True)
    sc.setCheckpointDir(configured)


def _checkpoint_file(df: DataFrame) -> str | None:
    """Path of the checkpoint backing a reliably-checkpointed frame
    (its analyzed plan is a LogicalRDD over the checkpointed RDD)."""
    try:
        opt = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
        return opt.get() if opt.isDefined() else None
    except Exception:  # plan shape drifted across Spark versions
        return None


def _checkpoint_dir_entries(spark: SparkSession) -> set[str] | None:
    """Paths directly under the session's resolved checkpoint dir (one
    ``rdd-N`` subdir per reliable checkpoint), via the Hadoop FS API so
    DFS dirs enumerate the same as local ones. None if no dir is set
    or it can't be listed."""
    try:
        opt = spark.sparkContext._jsc.sc().getCheckpointDir()
        if not opt.isDefined():
            return None
        jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(opt.get())
        fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return set()
        return {st.getPath().toString() for st in fs.listStatus(jpath)}
    except Exception:
        return None


def _delete_checkpoint(spark: SparkSession, path: str | None) -> None:
    """Delete one checkpoint's files via the Hadoop FileSystem API (so
    HDFS/S3 checkpoint dirs clean up the same way local ones do)."""
    if not path:
        return
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage, per the
    session's configured strategy. Returns the materialized frame;
    ``release()`` frees its storage when all consumers are done."""
    spark = df.sparkSession
    if materialize_mode(spark) == "reliable":
        _ensure_checkpoint_dir(spark)
        # stage through a local checkpoint so the plan is computed once;
        # both reliable-checkpoint jobs (count + save) read the staged
        # blocks, which are freed as soon as the durable copy exists.
        # The whole snapshot->checkpoint->snapshot window holds the
        # module lock so a concurrent driver thread's checkpoint can't
        # be attributed to this frame (round-7 ADVICE).
        with _MATERIALIZE_LOCK:
            before = persistent_rdd_ids(spark)
            # the dir snapshot exists only for the plan-shape-drift
            # fallback below; once the primary resolver has worked in
            # this process, stop paying a listStatus (an RPC per
            # materialize on a DFS checkpoint dir — composed DAGs call
            # this per round)
            global _PATH_RESOLVER_WORKS
            dir_before = (
                None if _PATH_RESOLVER_WORKS else _checkpoint_dir_entries(spark)
            )
            staged = df.localCheckpoint()
            staged_ids = persistent_rdd_ids(spark) - before
            out = staged.checkpoint(eager=True)
            ckpt = _checkpoint_file(out)
            # fallback-path dir delta snapshotted INSIDE the lock so a
            # concurrent thread's rdd-N dir cannot land in it; skipped
            # entirely when the primary resolver worked
            dir_after_locked = (
                None if ckpt is not None else _checkpoint_dir_entries(spark)
            )
        release_rdd_ids(spark, staged_ids)
        if ckpt is not None:
            _PATH_RESOLVER_WORKS = True
            targets = [ckpt]
        else:
            _PATH_RESOLVER_WORKS = False
            # plan-shape drift fallback (round-6 ADVICE: a silent None
            # here leaked checkpoint files — permanently when the user
            # configured a non-temp checkpointDir): the files created
            # by THIS checkpoint are the dir delta, snapshotted INSIDE
            # the lock window above so a concurrent thread's rdd-N dir
            # cannot land in it (round-7 ADVICE).
            dir_after = dir_after_locked
            targets = (
                sorted(dir_after - dir_before)
                if dir_after is not None and dir_before is not None
                else []
            )
            if not targets:
                import warnings

                warnings.warn(
                    "materialize(reliable): could not resolve the "
                    "checkpoint path (plan-shape drift) — release() "
                    "will not delete this frame's checkpoint files",
                    RuntimeWarning,
                    stacklevel=2,
                )

        def _drop(paths=tuple(targets)):
            for p in paths:
                _delete_checkpoint(spark, p)

        setattr(out, _RELEASE_ATTR, _drop)
        return out
    with _MATERIALIZE_LOCK:  # same delta-attribution window guard
        before = persistent_rdd_ids(spark)
        out = df.localCheckpoint()
        new_ids = persistent_rdd_ids(spark) - before
    setattr(out, _RELEASE_ATTR, lambda: release_rdd_ids(spark, new_ids))
    return out


def attach_release(df: DataFrame, *deps: DataFrame) -> DataFrame:
    """Make ``release(df)`` also release ``deps`` — for operators that
    return a LAZY frame reading internal checkpoints the caller cannot
    see (round-7 ADVICE: eager-by-default operators whose callers do
    not thread ``_materialized`` silently pinned those blocks for the
    session; with the hook, the result frame owns its dependencies'
    lifecycle). Chains with any hook already on ``df`` (a materialized
    frame keeps freeing its own storage first), and chains THROUGH
    frames: releasing a frame that was itself attach_release'd walks
    its hook. Idempotent like release()."""
    prev = getattr(df, _RELEASE_ATTR, None)

    def _chain():
        if prev is not None:
            prev()
        release(*deps)

    setattr(df, _RELEASE_ATTR, _chain)
    return df


def release(*dfs: DataFrame) -> None:
    """Free the storage behind frames returned by ``materialize()``.

    A LOCAL-mode frame's data is unrecoverable after release (its
    lineage was truncated), and a RELIABLE-mode frame's checkpoint
    files are deleted — only release frames no remaining consumer
    will touch. Frames not produced by ``materialize()`` are ignored.
    Idempotent per frame."""
    for df in dfs:
        fn = getattr(df, _RELEASE_ATTR, None)
        if fn is not None:
            setattr(df, _RELEASE_ATTR, None)
            fn()
