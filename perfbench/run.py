"""logpipe benchmark: one seeded workload, end to end or traced.

    python3 perfbench/run.py --workload ds_tail --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The run:

1. generates the workload's input from ``--seed`` in a separate process
   (excluded from every metric);
2. starts a Spark session with ``logpipe.session.get_spark`` defaults on
   ``local[<cores>]`` and warms it (``setup_s``);
3. runs a closed loop with one client: a cold batch (its wall is the
   traced run's ``batch.first_s``), then a fixed number of warm batches
   that take about ``--seconds`` on an idle 4-core host, each starting
   after the previous one committed; ``rows_per_cpu_s`` is the input
   rows of all these batches, the cold one included, over the CPU
   seconds this process, the JVM and the Python workers spent on them;
4. checks every batch's output against an expectation computed without
   the program, and counts mismatches and exceptions in ``failed``.

``--trace 1`` alternates plain and traced batches for ``--seconds``
instead and reports the per-layer metrics; see README.md. Everything
the run writes stays under ``.perfbench/`` in the checkout. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "rows_per_cpu_s": "1/s",
}

PER_LAYER = {
    "rows_per_s": "1/s",
    "session.start_s": "s",
    "memory.peak_rss_mb": "MB",
    "batch.first_s": "s",
    "logfiles.read.build_s": "s",
    "logfiles.read.exec_s": "s",
    "logfiles.read.rows": "count",
    "logfiles.rejoin.exec_s": "s",
    "logfiles.rejoin.rows": "count",
    "logfiles.rejoin.shuffle_bytes": "B",
    "pipeline.build_s": "s",
    "pipeline.compile_s": "s",
    "pipeline.exec_s": "s",
    "pipeline.exchanges": "count",
    "pipeline.rows.container": "count",
    "pipeline.rows.job": "count",
    "pipeline.rows.export": "count",
    "spread.derive_s": "s",
    "spread.applied": "count",
    "manifest.wave_s": "s",
    "manifest.overhead_s": "s",
    "manifest.jobs": "count",
    "manifest.scan_passes": "count",
    "manifest.files": "count",
    "manifest.file_bytes": "B",
    "stitch.exec_s": "s",
    "stitch.rows": "count",
    "stitch.shuffle_bytes": "B",
    "stitch.task_max_s": "s",
    "stitch.task_p50_s": "s",
    "eci.build_s": "s",
    "eci.compile_s": "s",
    "eci.exec_s": "s",
    "eci.rows.container": "count",
    "eci.rows.export": "count",
    "sinks.http.exec_s": "s",
    "sinks.export.exec_s": "s",
    "sinks.chunks": "count",
    "sinks.events": "count",
    "sinks.body_bytes": "B",
    "sinks.shuffle_bytes": "B",
    "sinks.task_max_s": "s",
    "sinks.upstream_evals": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.task_busy_frac": "ratio",
    "trace.overhead_s": "s",
    "trace.batch_s": "s",
    "trace.layers_self_s": "s",
}

# the curation workload is not in BENCHMARK.json (see README.md); its
# traced run adds these to PER_LAYER
CURATION_LAYERS = {
    "curation.build_s": "s",
    "curation.compile_s": "s",
    "curation.exec_s": "s",
    "curation.jobs": "count",
    "curation.rows": "count",
    "dedup.span_trim.exec_s": "s",
    "dedup.line_dedup.exec_s": "s",
    "materialize.checkpoints": "count",
    "materialize.bytes": "B",
}

WORKLOAD_NAMES = ("ds_tail", "eci_export")

# A plain run measures a fixed number of warm batches, not a time
# window: the JVM is still compiling (JIT) through the first minute of
# batches, and each batch costs less CPU and wall than the one before,
# so a window that holds fewer batches when the host is slow would
# measure an earlier, costlier stage. The count is --seconds over the
# workload's warm-batch wall on an idle 4-core host, at least MIN_WARM.
NOMINAL_BATCH_S = {"ds_tail": 5.5, "eci_export": 4.5, "curation": 12.0}
MIN_WARM = 3


def warm_batches(workload: str, seconds: float) -> int:
    return max(MIN_WARM, round(seconds / NOMINAL_BATCH_S[workload]))


def _tree_stats() -> dict[int, list[str]]:
    """The /proc/<pid>/stat fields after the command name (the state
    first) of this process and all its descendants: the JVM and the
    Python workers."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            stats[int(name)] = fields
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        if pid in stats:
            out[pid] = stats[pid]
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user and system) used so far by this process, its
    descendants and the descendants they have reaped. Time the host's
    hypervisor steals from the VM is not in it."""
    return sum(
        sum(int(x) for x in f[11:15]) for f in _tree_stats().values()
    ) / _TICK


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM, the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval, self.peak, self._done = interval, 0, threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        # field 24 of /proc/<pid>/stat: resident pages
        return sum(int(f[21]) for f in _tree_stats().values()) * self._page

    def run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._done.wait(self.interval)

    def stop(self) -> int:
        self._done.set()
        self.join()
        return max(self.peak, self._tree_rss())


def start_session():
    """A warmed session: JVM up, a SQL query compiled and run, Python
    workers forked. Returns (spark, seconds in get_spark)."""
    from logpipe.session import get_spark

    t = time.perf_counter()
    spark = get_spark(master=f"local[{len(os.sched_getaffinity(0))}]")
    start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    n = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(n), n).map(lambda x: x + 1).count()
    spark.range(n).selectExpr("sum(id)").collect()
    return spark, start_s


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_loop(wl, seconds: float, trace: bool, n_warm: int, spans, store):
    """The closed loop, one record per batch: the cold batch, then
    ``n_warm`` warm batches, or with ``trace`` pairs of a plain and a
    traced batch for ``seconds``."""
    batches: list[dict] = []

    def one(i: int, traced: bool) -> None:
        rec = {"i": i, "traced": traced, "result": None, "error": None, "layers": None}
        mark = store.mark()
        cpu = tree_cpu_s()
        t = time.perf_counter()
        try:
            if traced:
                with spans.span(f"batch{i}") as root:
                    rec["result"], rec["layers"] = wl.traced(i, spans)
                rec["self"] = spans.self_times(root)
            else:
                rec["result"] = wl.batch(i)
        except Exception as e:  # counted in failed, reported on stderr
            rec["error"] = f"{type(e).__name__}: {e}"
            print(f"batch {i} failed: {rec['error']}", file=sys.stderr)
        rec["wall"] = time.perf_counter() - t
        rec["cpu"] = tree_cpu_s() - cpu
        if trace and not traced:
            rec["stages"] = store.stage_stats(mark)
        batches.append(rec)

    one(0, False)  # the cold batch
    if not trace:
        for i in range(1, n_warm + 1):
            one(i, False)
        return batches
    t_end = time.perf_counter() + seconds
    i = 1
    while True:
        one(i, False)
        one(i + 1, True)
        i += 2
        if time.perf_counter() >= t_end:
            break
    return batches


def main() -> int:
    ap = argparse.ArgumentParser(description="logpipe benchmark (see module docstring)")
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests)")
    args = ap.parse_args()

    # a terminated run still stops its JVM and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    if importlib.util.find_spec("logpipe") is None:
        print(f"no logpipe package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep Spark's scratch, checkpoints and temp files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # the Python workers import logpipe from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    try:
        return measure(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, base: str, work: str) -> int:
    data = os.path.join(work, "input")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", data, "--scale", str(args.scale)],
        check=True,
    )
    with open(os.path.join(data, "bookkeeping.json")) as f:
        info = json.load(f)

    # the sampler's /proc walks cost CPU in this process: traced runs only
    rss = RssSampler()
    if args.trace:
        rss.start()
    t0 = time.perf_counter()
    spark, start_s = start_session()
    setup_s = time.perf_counter() - t0
    try:
        from tracing import Spans, StatusStore
        from workloads import WORKLOADS

        spans, store = Spans(), StatusStore(spark)
        wl = WORKLOADS[args.workload](spark, info, work)
        batches = run_loop(
            wl, args.seconds, bool(args.trace), warm_batches(args.workload, args.seconds),
            spans, store,
        )
        peak = rss.stop() if args.trace else 0
        expected = wl.expected()
        failed = 0
        for b in batches:
            ok = b["error"] is None and wl.check(b["result"], expected)
            failed += not ok
            if b["error"] is None and not ok:
                print(f"batch {b['i']} output does not match the expectation", file=sys.stderr)
    finally:
        if rss.is_alive():
            rss.stop()
        stop_session(spark)

    warm = [b for b in batches[1:] if not b["traced"] and b["error"] is None]
    plain = [b["wall"] for b in warm]
    done = [b for b in batches if not b["traced"] and b["error"] is None]
    if args.trace:
        traced = [b for b in batches if b["traced"] and b["layers"] is not None]
        units = {**PER_LAYER, **(CURATION_LAYERS if args.workload == "curation" else {})}
        metrics = {k: 0.0 for k in units}
        metrics["rows_per_s"] = info["rows"] / statistics.median(plain)
        metrics["session.start_s"] = start_s
        metrics["memory.peak_rss_mb"] = peak / 2**20
        metrics["batch.first_s"] = batches[0]["wall"]
        if traced:
            for k in traced[0]["layers"]:
                metrics[k] = statistics.median(float(b["layers"][k]) for b in traced)
            metrics["trace.batch_s"] = statistics.median(b["wall"] for b in traced)
            metrics["trace.layers_self_s"] = statistics.median(
                sum(b["self"].values()) for b in traced
            )
            metrics["trace.overhead_s"] = metrics["trace.batch_s"] - statistics.median(plain)
        last = [b for b in batches[1:] if "stages" in b and b["error"] is None][-1]
        s = last["stages"]
        metrics.update({
            "spark.jobs": s["jobs"], "spark.tasks": s["tasks"],
            "spark.shuffle_bytes": s["shuffle_bytes"], "spark.spill_bytes": s["spill_bytes"],
            "spark.gc_s": s["gc_s"],
            "spark.task_busy_frac": s["task_s"] / (last["wall"] * len(os.sched_getaffinity(0))),
        })
        write_trace(base, args, spans, traced, metrics)
    else:
        metrics = {
            "setup_s": setup_s,
            # every batch's rows, the cold one's too, over all their CPU
            # time: the JIT compiler's bursts and the Python workers'
            # start-up land in one batch or the next, and the total is
            # steadier than any one batch
            "rows_per_cpu_s": info["rows"] * len(done) / sum(b["cpu"] for b in done),
        }
        units = END_TO_END

    for k, v in metrics.items():
        print(f"{k:32s} {v:14.4f} {units[k]}", file=sys.stderr)
    walls = ", ".join(f"{b['wall']:.2f}" for b in warm)
    cpus = ", ".join(f"{b['cpu']:.2f}" for b in warm)
    cold = batches[0]
    print(f"batches {len(batches)} (warm plain walls: {walls}; CPU s: {cpus}; "
          f"cold batch {cold['wall']:.2f} s, {cold['cpu']:.2f} CPU s), failed {failed}, "
          f"failed_frac {failed / len(batches):.3f}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(batches),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def write_trace(base: str, args, spans, traced: list[dict], metrics: dict) -> None:
    """Spans and per-layer self times of the traced run, as JSON under
    ``.perfbench/traces/``; the self-time sum against the batch wall on
    stderr."""
    out_dir = os.path.join(base, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "metrics": metrics,
            "self_s": [b["self"] for b in traced], "spans": spans.spans,
        }, f, indent=1)
    if traced:
        s = traced[-1]["self"]
        print("layer self times (last traced batch): " + ", ".join(
            f"{k} {v:.3f}s" for k, v in s.items()
        ) + f"; sum {sum(s.values()):.3f}s of batch wall {traced[-1]['wall']:.3f}s"
          f"; spans in {os.path.relpath(path, ROOT)}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
