"""Checkpointed manifest: resume, lineage, metrics (SURVEY.md §7.6).

The reference tracks progress with a per-file SQLite position DB
(tail `DB` option, conf/ds/docker-runtime.conf:5,13-14) and retries
failed chunks for at-least-once delivery (main.go:117-122). The batch
equivalent here:

- work is split into deterministic BUCKETS of the input
  (pmod(xxhash64(conv_id), n_buckets) — conv-aligned so every stage,
  including the stitcher, is self-contained per bucket; in the
  reference one conv IS one tailed file, so this is its file grain);
- ALL pending buckets are processed in ONE wave: one pipeline pass
  writing partitionBy(bucket, sink) with dynamic partition overwrite,
  one input aggregation for per-bucket input rows, one scan of the
  newly written output for per-bucket/per-sink rows+bytes. Scan count
  is O(1) per invocation — independent of n_buckets (the previous
  formulation filtered and rescanned the input once per bucket:
  256 buckets = 256 full passes at 100TB);
- then one manifest entry per bucket (one JSON file, atomic
  tmp+rename) records lineage + metrics: input rows, per-sink output
  rows/bytes, the PHYSICAL files each partition landed as (count +
  on-disk bytes, from one recursive listing), wave wall time;
- a re-run SKIPS buckets whose manifest entry exists -> idempotent
  resume; a bucket that died mid-write is simply overwritten on the
  next wave (dynamic partition overwrite replaces exactly the
  re-processed bucket partitions; its entry was never committed).
  At-least-once task retries + atomic manifest commit = exactly-once
  visible effects.

At cluster scale the same protocol runs with Iceberg snapshot commits
instead of directory writes; the manifest then stores snapshot ids.
On 100TB, n_buckets is sized so one bucket ≈ one executor-wave of
work (e.g. 4096). A manifest is SINGLE-WRITER per wave: run_resumable
takes an exclusive lease file (`_lease`, O_EXCL-created) before
claiming pending buckets, so a second concurrent invocation fails
fast with ConcurrentWaveError instead of racing the pre-write deletes
and dynamic-overwrite writes on the same bucket= paths. A lease older
than lease_ttl_sec is presumed crashed and stolen; a healthy wave
HEARTBEATS the lease at each phase boundary (input agg -> write ->
commit) so long waves are not mistaken for crashes, and the commit of
manifest entries is gated on still holding the token — a wave whose
lease was stolen aborts loudly without claiming success. Residual
race: two stealers replacing a genuinely stale lease in the same
instant can both start, but the token gate stops the loser before any
entry commits. Parallelism across JOBS comes from separate manifests
over disjoint inputs, not from concurrent waves on one manifest.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logpipe.plans.pipeline import run_pipeline


class Manifest:
    """Directory of per-unit JSON lineage entries with atomic commit."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _entry_path(self, unit: str) -> str:
        return os.path.join(self.path, f"{unit}.json")

    def is_done(self, unit: str) -> bool:
        return os.path.exists(self._entry_path(unit))

    def record(self, unit: str, payload: dict) -> None:
        tmp = self._entry_path(unit) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"unit": unit, **payload}, f)
        os.replace(tmp, self._entry_path(unit))  # atomic commit

    def entries(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.path)):
            if name.endswith(".json"):
                with open(os.path.join(self.path, name)) as f:
                    out.append(json.load(f))
        return out

    def totals(self) -> dict:
        """Aggregate lineage: per-sink rows/bytes across completed units."""
        sinks: dict[str, dict[str, int]] = {}
        rows_in = 0
        entries = self.entries()
        for e in entries:
            rows_in += e.get("rows_in", 0)
            for s, m in e.get("sinks", {}).items():
                agg = sinks.setdefault(
                    s, {"rows": 0, "content_bytes": 0, "n_files": 0, "file_bytes": 0}
                )
                agg["rows"] += m.get("rows", 0)
                agg["content_bytes"] += m.get("content_bytes", 0)
                agg["n_files"] += m.get("n_files", 0)
                agg["file_bytes"] += m.get("file_bytes", 0)
        return {"rows_in": rows_in, "sinks": sinks, "units": len(entries)}


def bucket_of(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


class ConcurrentWaveError(RuntimeError):
    """Another run_resumable wave holds this manifest's lease."""


def _existing_bucket_dirs(spark: SparkSession, out_base: str) -> set[int]:
    """Bucket partition directories present under out_base — ONE
    listStatus RPC total, not one exists() per bucket (at the 100TB
    grain of n_buckets≈4096 the per-bucket probe was ~4k sequential
    namenode calls before the wave could start)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    base = jvm.org.apache.hadoop.fs.Path(out_base)
    fs = base.getFileSystem(hconf)
    if not fs.exists(base):
        return set()
    out: set[int] = set()
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("bucket="):
            try:
                out.add(int(name[len("bucket="):]))
            except ValueError:
                pass
    return out


def _partition_file_stats(
    spark: SparkSession, out_base: str, buckets: set[int]
) -> dict[int, dict[str, dict[str, int]]]:
    """{bucket: {sink: {n_files, file_bytes}}} from ONE recursive
    listFiles over out_base — physical per-partition lineage for the
    manifest (which files a partition landed as, and their size on
    disk, alongside the logical rows/content_bytes)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    base = jvm.org.apache.hadoop.fs.Path(out_base)
    fs = base.getFileSystem(hconf)
    out: dict[int, dict[str, dict[str, int]]] = {}
    if not fs.exists(base):
        return out
    it = fs.listFiles(base, True)
    while it.hasNext():
        st = it.next()
        path = st.getPath().toString()
        parts = dict(
            seg.split("=", 1) for seg in path.split("/") if "=" in seg
        )
        if "bucket" not in parts or "sink" not in parts:
            continue
        try:
            b = int(parts["bucket"])
        except ValueError:
            continue
        if b not in buckets or not path.endswith(".parquet"):
            continue
        agg = out.setdefault(b, {}).setdefault(
            parts["sink"], {"n_files": 0, "file_bytes": 0}
        )
        agg["n_files"] += 1
        agg["file_bytes"] += int(st.getLen())
    return out


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    k8s_meta: DataFrame,
    tool_meta: DataFrame,
    out_base: str,
    manifest_dir: str,
    n_buckets: int = 8,
    max_buckets: int | None = None,
    pipeline_fn=run_pipeline,
    lease_ttl_sec: float = 3600.0,
) -> Manifest:
    """Bucket-wise pipeline run with manifest resume.

    ``max_buckets`` limits how many incomplete buckets to process this
    invocation (used by tests to simulate a mid-job crash).
    ``pipeline_fn``: the plan, with run_pipeline's signature (the CLI
    passes its wrapper that applies throttle-drop and the cluster
    name).

    Single-writer: an exclusive `_lease` file is taken for the wave;
    a concurrent invocation raises ConcurrentWaveError unless the
    lease is older than ``lease_ttl_sec`` (presumed crashed, stolen).
    """
    # checked before the lease or _meta exist: a recorded n_buckets=0
    # would process nothing and then refuse every corrected resume
    if n_buckets < 1:
        raise ValueError(f"run_resumable: n_buckets must be >= 1, got {n_buckets}")
    manifest = Manifest(manifest_dir)
    lease_path = os.path.join(manifest_dir, "_lease")
    lease_token = uuid.uuid4().hex
    try:
        fd = os.open(lease_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            json.dump({"token": lease_token, "ts": time.time()}, f)
    except FileExistsError:
        try:
            with open(lease_path) as f:
                held = json.load(f)
            age = time.time() - held.get("ts", 0)
        except (OSError, ValueError):
            held, age = {}, float("inf")
        if age < lease_ttl_sec:
            raise ConcurrentWaveError(
                f"manifest at {manifest_dir} is leased by another wave "
                f"(token {held.get('token', '?')[:8]}, {age:.0f}s old, "
                f"ttl {lease_ttl_sec:.0f}s); one wave per manifest"
            )
        # stale lease from a crashed wave: steal it (atomic replace)
        tmp = lease_path + f".tmp-{lease_token[:8]}"
        with open(tmp, "w") as f:
            json.dump({"token": lease_token, "ts": time.time()}, f)
        os.replace(tmp, lease_path)
    try:
        return _run_wave(
            spark, transcripts, k8s_meta, tool_meta, out_base, manifest,
            manifest_dir, n_buckets, max_buckets, pipeline_fn,
            lease_path, lease_token,
        )
    finally:
        try:
            with open(lease_path) as f:
                if json.load(f).get("token") == lease_token:
                    os.remove(lease_path)
        except (OSError, ValueError):
            pass


def _touch_lease(lease_path: str, token: str) -> None:
    """Heartbeat: refresh the lease timestamp so a long-running healthy
    wave is not 'presumed crashed' and stolen at lease_ttl_sec. Raises
    ConcurrentWaveError if the lease was stolen (token mismatch) —
    better to abort before (further) writes than to race the thief."""
    try:
        with open(lease_path) as f:
            held = json.load(f)
    except (OSError, ValueError):
        held = {}
    if held.get("token") != token:
        raise ConcurrentWaveError(
            f"lease at {lease_path} was taken over by another wave "
            f"(token {str(held.get('token', '?'))[:8]}); aborting this wave"
        )
    tmp = lease_path + f".tmp-{token[:8]}"
    with open(tmp, "w") as f:
        json.dump({"token": token, "ts": time.time()}, f)
    os.replace(tmp, lease_path)


def _run_wave(
    spark: SparkSession,
    transcripts: DataFrame,
    k8s_meta: DataFrame,
    tool_meta: DataFrame,
    out_base: str,
    manifest: Manifest,
    manifest_dir: str,
    n_buckets: int,
    max_buckets: int | None,
    pipeline_fn,
    lease_path: str,
    lease_token: str,
) -> Manifest:
    # the bucketing function is part of the checkpoint's identity:
    # resuming with a different n_buckets would skip units whose conv
    # sets were computed under the old modulus (rows lost + duplicated)
    meta_path = os.path.join(manifest_dir, "_meta")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            recorded = json.load(f)["n_buckets"]
        if recorded != n_buckets:
            raise ValueError(
                f"manifest at {manifest_dir} was created with n_buckets="
                f"{recorded}; refusing to resume with n_buckets={n_buckets}"
            )
    else:
        tmp = meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"n_buckets": n_buckets}, f)
        os.replace(tmp, meta_path)  # atomic, like Manifest.record

    pending = [
        b for b in range(n_buckets) if not manifest.is_done(f"bucket-{b:05d}")
    ]
    if max_buckets is not None:
        pending = pending[:max_buckets]
    if not pending:
        return manifest

    t0 = time.perf_counter()
    part = transcripts.withColumn(
        "bucket", bucket_of(F.col("conv_id"), n_buckets)
    ).filter(F.col("bucket").isin(pending))

    # per-bucket input rows: one aggregation pass (shuffle key = bucket,
    # map-side partial agg; NOT one count job per bucket)
    rows_in = {
        r["bucket"]: r["n"]
        for r in part.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    # remove UNCOMMITTED bucket directories left by a crashed wave
    # BEFORE writing: dynamic partition overwrite replaces only the
    # (bucket, sink) partitions this wave produces, so a stale sink
    # partition from a crash would survive if the re-run's input no
    # longer routes any row there for that bucket. Committed buckets
    # are never in `pending`, so their directories are never touched.
    # ONE listStatus + set-intersect; deletes only fire for actual
    # crash leftovers (normally zero), never n_buckets probes.
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    stale = _existing_bucket_dirs(spark, out_base) & set(pending)
    for b in sorted(stale):
        hp = jvm.org.apache.hadoop.fs.Path(f"{out_base}/bucket={b}")
        hp.getFileSystem(hconf).delete(hp, True)

    # heartbeat before the write phase (input agg above may have taken
    # a while on a big wave) and verify we still hold the lease
    _touch_lease(lease_path, lease_token)

    # ONE write pass for the whole wave; dynamic partition overwrite
    # replaces exactly the bucket/sink partitions this wave produces,
    # leaving completed buckets' directories untouched. The mode is an
    # option of this one write, so the session conf (and every other
    # write in the session) stays as it was.
    out = pipeline_fn(
        part, k8s_meta, tool_meta, passthrough=("bucket",)
    )
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "sink")
        .parquet(out_base)
    )

    # PHYSICAL lineage: the parquet files each (bucket, sink) partition
    # landed as — one recursive listing RPC for the whole wave, grouped
    # driver-side (never per-partition probes). The same listing names
    # the buckets this wave wrote.
    files = _partition_file_stats(spark, out_base, set(pending))
    written = sorted(files)

    # per-bucket/per-sink metrics: one scan of the NEWLY written bucket
    # directories only (verifies what physically landed on disk)
    counts: dict[int, dict[str, dict[str, int]]] = {b: {} for b in pending}
    if written:
        for r in (
            spark.read.option("basePath", out_base)
            .parquet(*[f"{out_base}/bucket={b}" for b in written])
            .groupBy("bucket", "sink")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.length("content")).alias("content_bytes"),
            )
            .collect()
        ):
            counts[r["bucket"]][r["sink"]] = {
                "rows": r["rows"],
                "content_bytes": r["content_bytes"],
            }
    for b, per_sink in files.items():
        for sink, st in per_sink.items():
            counts[b].setdefault(sink, {}).update(st)

    # commit gate: entries are only recorded while we still hold the
    # lease — a wave whose lease was stolen mid-run aborts HERE, before
    # claiming success for partitions another wave may have clobbered
    _touch_lease(lease_path, lease_token)

    wall = round(time.perf_counter() - t0, 3)
    for b in pending:
        manifest.record(
            f"bucket-{b:05d}",
            {
                "bucket": b,
                "n_buckets": n_buckets,
                "path": f"{out_base}/bucket={b}",
                "rows_in": rows_in.get(b, 0),
                "sinks": counts[b],
                "wall_sec": wall,
                "wave_units": len(pending),
            },
        )
    return manifest
