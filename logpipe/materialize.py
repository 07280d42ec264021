"""Injectable materialization strategy for lineage cuts.

Several operators cut lineage at an expensive SCALAR intermediate
(minhash signatures, LSH bucket tables, candidate pairs, iterative
cluster labels, the curation span gate) so that self-joins / symmetric
unions / iterative consumers don't re-run the upstream subtree per
branch — the round-5 duplicated-subtree audit found four such sites
and halved total compute at those stages by materializing.

Local checkpoints suit a single-JVM run (eager, no disk round-trip),
but the truncated lineage lives only in executor block storage: on a
real cluster an executor loss FAILS the job instead of recomputing.
So the strategy is a deployment knob:

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

Each materialized frame names its own release target: the RDD under
its analyzed plan (a LogicalRDD) — its id in local mode, its
checkpoint file in reliable mode. No session-wide snapshot is taken,
so driver threads never free each other's checkpoints.

``release()`` frees a materialized frame's storage once every consumer
is done with it; unreleased, eager checkpoints stay pinned for the
session and repeated builds (per-round cluster labels) pile up dead
copies. Releasing a LOCAL checkpoint discards data whose lineage is
gone — only call it when the frame is truly dead.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

MODE_CONF = "spark.logpipe.materialize.mode"
CKPT_DIR_CONF = "spark.logpipe.materialize.checkpointDir"
_MODES = ("local", "reliable")
_RELEASE_ATTR = "_logpipe_release"

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


def _checkpoint_rdd(df: DataFrame):
    """The RDD a checkpointed frame reads: its analyzed plan is a
    LogicalRDD over it (the blocks of a local checkpoint, the files of
    a reliable one)."""
    return df._jdf.queryExecution().analyzed().rdd()


def _delete_checkpoint(spark: SparkSession, path: str) -> None:
    """Delete one checkpoint's files via the Hadoop FileSystem API (so
    HDFS/S3 checkpoint dirs clean up the same way local ones do)."""
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
        # blocks, which are freed as soon as the durable copy exists
        staged = df.localCheckpoint()
        try:
            out = staged.checkpoint(eager=True)
        finally:
            release_rdd_ids(spark, [_checkpoint_rdd(staged).id()])
        path = _checkpoint_rdd(out).getCheckpointFile().get()
        setattr(out, _RELEASE_ATTR, lambda: _delete_checkpoint(spark, path))
        return out
    out = df.localCheckpoint()
    rdd_id = _checkpoint_rdd(out).id()
    setattr(out, _RELEASE_ATTR, lambda: release_rdd_ids(spark, [rdd_id]))
    return out


def attach_release(df: DataFrame, *deps: DataFrame) -> DataFrame:
    """Make ``release(df)`` also release ``deps`` — for operators that
    return a LAZY frame reading internal checkpoints the caller cannot
    see: the result frame owns its dependencies' lifecycle, so no
    caller pins those blocks for the session by not knowing about
    them. Chains with any hook already on ``df`` (a materialized
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
