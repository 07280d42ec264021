from __future__ import annotations

from contextlib import contextmanager

import pytest

from logpipe.session import get_spark

# lowered AQE skew thresholds for the skew-split pin tests: small
# enough that a ~150k-hot-row fixture's COMPRESSED map output
# qualifies, with broadcast disabled so the at-scale sort-merge shape
# compiles. One definition so the two skew tests (span stats, star
# hub) cannot drift on keys or restore logic.
SKEW_PROBE_CONFS = {
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


@contextmanager
def skew_probe_confs(spark):
    """Set SKEW_PROBE_CONFS for the block, restoring (or unsetting)
    every key afterwards."""
    orig = {k: spark.conf.get(k, None) for k in SKEW_PROBE_CONFS}
    try:
        for k, v in SKEW_PROBE_CONFS.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in orig.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def count_jobs(spark, fn, group: str):
    """(fn(), the number of Spark jobs fn ran) — the statusTracker
    job-group probe. The listener bus is drained first: the status
    store learns of jobs asynchronously, so an undrained read can miss
    the last one."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="logpipe-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def transcripts(spark):
    from logpipe.synth import synth_transcripts

    return synth_transcripts(spark, n_rows=4000, n_convs=32).cache()


@pytest.fixture(scope="session")
def k8s_meta(spark):
    from logpipe.synth import synth_k8s_meta

    return synth_k8s_meta(spark, n_convs=32).cache()


@pytest.fixture(scope="session")
def tool_meta(spark):
    from logpipe.synth import synth_tool_meta

    return synth_tool_meta(spark, n_tools=16).cache()
