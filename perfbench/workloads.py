"""The three workloads: one batch each, plain and traced, plus its check.

A workload only calls the public functions of ``logpipe`` and times
them from outside. ``batch`` is the measured unit of the closed loop:
it writes to fresh output paths and releases the checkpoints it pinned
before it returns. ``traced`` runs the same batch layer by layer: the
call that builds each layer's plan, its ``executedPlan()``, and a noop action on its
output, whose time minus that of the action on its input is the
layer's execution time. ``expected`` computes, after the loop and
without the program, what every batch must have produced.
"""

from __future__ import annotations

import gzip
import json
import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from tracing import Spans, StatusStore, count_exchanges

FIRSTLINE_RE = r"^\d{4}[/\-]\d{1,2}[/\-]\d{1,2}[ T]\d{2}:\d{2}:\d{2}"


def noop(df) -> float:
    """Run ``df`` to the noop sink; the wall time it took."""
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def compile_s(df) -> float:
    return timed(lambda: df._jdf.queryExecution().executedPlan())[1]


def _payload_observation(df, sinks: list[str], sink_col: str):
    """``df`` observed for its chunk count, body bytes, and per sink the
    summed n_events and one gzip body."""
    obs = Observation()
    aggs = [
        F.count(F.lit(1)).alias("chunks"),
        F.sum(F.length("body")).alias("body_bytes"),
    ]
    for s in sinks:
        hit = F.col(sink_col) == s
        aggs.append(F.sum(F.when(hit, F.col("n_events")).otherwise(0)).alias(f"events.{s}"))
        aggs.append(F.first(F.when(hit, F.col("body")), ignorenulls=True).alias(f"body.{s}"))
    return df.observe(obs, *aggs), obs


class Workload:
    def __init__(self, spark, info: dict, work: str) -> None:
        self.spark, self.info, self.work = spark, info, work
        self.store = StatusStore(spark)

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, "out", f"batch{i:04d}")


class DsTail(Workload):
    """Raw docker log files -> logfiles -> pipeline -> manifest landing."""

    # manifest buckets (cli --buckets): the landing writes one file per
    # write task, bucket and sink, and the default 8 lands 768 files a
    # batch, which alone costs ~13 s on a 4-core host
    N_BUCKETS = 1

    def __init__(self, spark, info, work) -> None:
        super().__init__(spark, info, work)
        from logpipe.synth import synth_k8s_meta, synth_tool_meta

        # synth's dim, its routing rule and all, re-keyed on the files'
        # conv ids (conv number i -> kube_conv_id(i)); built lazily, so
        # no job runs before the first batch
        n = F.substring("conv_id", 6, 5).cast("int")
        self.k8s = synth_k8s_meta(spark, n_convs=info["n_files"]).withColumn(
            "conv_id",
            F.concat(
                F.lit("pod-"), n.cast("string"),
                F.lit("_ns-"), (n % 8).cast("string"),
                F.lit("_app-"), (n % 5).cast("string"),
            ),
        )
        # the container names are app-<k>; tool-<k> -> app-<k> makes the
        # tool enrich match some of them
        self.tool = synth_tool_meta(spark).withColumn(
            "tool", F.regexp_replace("tool", "^tool-", "app-")
        )

    def _input(self):
        from logpipe.sources.logfiles import docker_mode_join, read_docker_logs

        # read_docker_logs is called without exclude_path: with it set
        # and two or more kept files, logfiles._lines raises TypeError
        # (see the README's known defects)
        raw = read_docker_logs(self.spark, self.info["logs"])
        return raw, docker_mode_join(raw).drop("docker_id")

    def _land(self, transcripts, i: int):
        from logpipe.manifest import run_resumable

        d = self.out_dir(i)
        return run_resumable(
            self.spark, transcripts, self.k8s, self.tool,
            os.path.join(d, "land"), os.path.join(d, "manifest"), n_buckets=self.N_BUCKETS,
        ).totals()

    @staticmethod
    def _result(totals: dict) -> dict:
        return {
            "rows_in": totals["rows_in"],
            "sinks": {s: v["rows"] for s, v in totals["sinks"].items()},
        }

    def batch(self, i: int) -> dict:
        _, tr = self._input()
        return self._result(self._land(tr, i))

    def traced(self, i: int, spans: Spans) -> tuple[dict, dict]:
        from logpipe.manifest import bucket_of
        from logpipe.plans.pipeline import run_pipeline
        from logpipe.spread import derive_spread

        st, m = self.store, {}
        with spans.span("logfiles.read"):
            (raw, tr), m["logfiles.read.build_s"] = timed(self._input)
            mk = st.mark()
            t_read = m["logfiles.read.exec_s"] = noop(raw)
            m["logfiles.read.rows"] = st.output_rows(mk)
        with spans.span("logfiles.rejoin"):
            mk = st.mark()
            t_rejoin = noop(tr)
            m["logfiles.rejoin.exec_s"] = t_rejoin - t_read
            m["logfiles.rejoin.rows"] = st.output_rows(mk)
            m["logfiles.rejoin.shuffle_bytes"] = st.stage_stats(mk)["shuffle_bytes"]
        with spans.span("pipeline"):
            # the frame run_resumable hands to run_pipeline (all buckets
            # pending on a fresh manifest)
            part = tr.withColumn("bucket", bucket_of(F.col("conv_id"), self.N_BUCKETS))
            with spans.span("spread"):
                applied, m["spread.derive_s"] = timed(lambda: derive_spread(part))
                m["spread.applied"] = int(applied)
            out, m["pipeline.build_s"] = timed(
                lambda: run_pipeline(part, self.k8s, self.tool, passthrough=("bucket",))
            )
            m["pipeline.compile_s"] = compile_s(out)
            m["pipeline.exchanges"] = count_exchanges(out)
            obs = Observation()
            observed = out.observe(obs, *[
                F.sum((F.col("sink") == s).cast("long")).alias(s)
                for s in ("container", "job", "export")
            ])
            t_pipe = noop(observed)
            m["pipeline.exec_s"] = t_pipe - t_rejoin
            for s, v in obs.get.items():
                m[f"pipeline.rows.{s}"] = v
        with spans.span("manifest"):
            mk = st.mark()
            totals, m["manifest.wave_s"] = timed(lambda: self._land(tr, i))
            m["manifest.overhead_s"] = m["manifest.wave_s"] - t_pipe
            m["manifest.jobs"] = st.stage_stats(mk)["jobs"]
            m["manifest.scan_passes"] = st.count_nodes(mk, "Scan ")
            m["manifest.files"] = sum(v["n_files"] for v in totals["sinks"].values())
            m["manifest.file_bytes"] = sum(v["file_bytes"] for v in totals["sinks"].values())
        return self._result(totals), m

    def expected(self) -> dict:
        dim = self.k8s.select("conv_id", "monitor_log_collector", "define_tag").collect()
        routes = {r["conv_id"]: (r["monitor_log_collector"], r["define_tag"]) for r in dim}
        from gen import kube_conv_id

        sinks = {"container": 0, "job": 0, "export": 0}
        for i, n in enumerate(self.info["records_per_conv"]):
            collector, define = routes[kube_conv_id(i)]
            if collector:
                sinks["export"] += n
            sinks["job" if define else "container"] += n
        return {"rows_in": sum(self.info["records_per_conv"]), "sinks": sinks}

    def check(self, got: dict, exp: dict) -> bool:
        return got["rows_in"] == exp["rows_in"] and all(
            got["sinks"].get(s, 0) == n for s, n in exp["sinks"].items()
        )


class EciExport(Workload):
    """Transcripts -> eci (stitch, one collector) -> wire payloads, noop."""

    COLLECTOR = "collector-0"

    def _events(self):
        from logpipe.plans.eci import run_eci_pipeline

        tr = self.spark.read.parquet(self.info["transcripts"])
        tool = self.spark.read.parquet(self.info["tool_meta"])
        return tr, run_eci_pipeline(tr, tool, collector=self.COLLECTOR)

    def _payloads(self, ev):
        from logpipe.sinks import build_export_payloads, build_http_payloads

        http, o_http = _payload_observation(
            build_http_payloads(ev), ["container", "job"], "sink"
        )
        export, o_export = _payload_observation(
            build_export_payloads(ev), [self.COLLECTOR], "collector"
        )
        return http, o_http, export, o_export

    @staticmethod
    def _result(o_http, o_export) -> dict:
        h, e = o_http.get, o_export.get
        return {
            "events": {
                "container": h["events.container"],
                "job": h["events.job"],
                "export": e[f"events.{EciExport.COLLECTOR}"],
            },
            "bodies": {
                "container": h["body.container"],
                "export": e[f"body.{EciExport.COLLECTOR}"],
            },
            "chunks": h["chunks"] + e["chunks"],
            "body_bytes": h["body_bytes"] + e["body_bytes"],
        }

    def batch(self, i: int) -> dict:
        _, ev = self._events()
        http, o_http, export, o_export = self._payloads(ev)
        noop(http)
        noop(export)
        return self._result(o_http, o_export)

    def traced(self, i: int, spans: Spans) -> tuple[dict, dict]:
        from logpipe.operators.stitch import stitch_multiline

        st, m = self.store, {}
        with spans.span("scan"):
            tr = self.spark.read.parquet(self.info["transcripts"])
            t_scan = noop(tr)
        with spans.span("stitch"):
            # the stitch alone, on the scan (run_eci_pipeline drops empty
            # lines and truncates before it)
            mk = st.mark()
            m["stitch.exec_s"] = noop(stitch_multiline(tr)) - t_scan
            m["stitch.rows"] = st.output_rows(mk)
            s = st.stage_stats(mk)
            m["stitch.shuffle_bytes"] = s["shuffle_bytes"]
            m["stitch.task_max_s"] = s["task_max_s"]
            m["stitch.task_p50_s"] = s["task_p50_s"]
        with spans.span("eci"):
            (_, ev), m["eci.build_s"] = timed(self._events)
            m["eci.compile_s"] = compile_s(ev)
            obs = Observation()
            observed = ev.observe(obs, *[
                F.sum((F.col("sink") == s).cast("long")).alias(s)
                for s in ("container", "export")
            ])
            mk = st.mark()
            t_ev = noop(observed)
            eci_shuffle = st.stage_stats(mk)["shuffle_bytes"]
            m["eci.exec_s"] = t_ev - t_scan
            for s, v in obs.get.items():
                m[f"eci.rows.{s}"] = v
        with spans.span("sinks"):
            http, o_http, export, o_export = self._payloads(ev)
            mk = st.mark()
            with spans.span("sinks.http"):
                m["sinks.http.exec_s"] = noop(http) - t_ev
            with spans.span("sinks.export"):
                m["sinks.export.exec_s"] = noop(export) - t_ev
            out = self._result(o_http, o_export)
            s = st.stage_stats(mk)
            # each payload function re-runs the stitched pipeline: one
            # Window operator per evaluation
            evals = m["sinks.upstream_evals"] = st.count_nodes(mk, "Window")
            m["sinks.shuffle_bytes"] = s["shuffle_bytes"] - evals * eci_shuffle
            m["sinks.task_max_s"] = s["task_max_s"]
            m["sinks.chunks"] = out["chunks"]
            m["sinks.events"] = sum(out["events"].values())
            m["sinks.body_bytes"] = out["body_bytes"]
        return out, m

    def expected(self) -> dict:
        import duckdb

        groups = duckdb.connect().execute(
            """
            WITH t AS (
              SELECT conv_id, turn_idx, CAST(regexp_matches(text, $re) AS INT) AS first
              FROM read_parquet($path)
              WHERE text IS NOT NULL AND length(text) > 0
            ), g AS (
              SELECT conv_id, sum(first) OVER (
                PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS grp
              FROM t
            )
            SELECT count(*) FROM (SELECT DISTINCT conv_id, grp FROM g)
            """,
            {"re": FIRSTLINE_RE, "path": self.info["transcripts"]},
        ).fetchone()[0]
        # one stitched record per group; the collector adds an export
        # copy and no row carries a define_tag
        return {"events": {"container": groups, "job": 0, "export": groups}}

    def check(self, got: dict, exp: dict) -> bool:
        if got["events"] != exp["events"]:
            return False
        for body in got["bodies"].values():
            events = json.loads(gzip.decompress(bytes(body)))
            if not (isinstance(events, list) and events and "content" in events[0]):
                return False
        return True


class Curation(Workload):
    """documents -> curated_corpus_v5 -> collect."""

    def _docs_path(self) -> str:
        return os.path.join(self.info["sf_dir"], "documents.parquet")

    def batch(self, i: int) -> dict:
        from logpipe.materialize import persistent_rdd_ids, release_rdd_ids
        from logpipe.plans.q_curation import curated_corpus_v5

        pre = persistent_rdd_ids(self.spark)
        try:
            rows = curated_corpus_v5(self.spark, self.info["sf_dir"]).collect()
        finally:
            release_rdd_ids(self.spark, persistent_rdd_ids(self.spark) - pre)
        return {"rows": sorted(tuple(r) for r in rows)}

    def traced(self, i: int, spans: Spans) -> tuple[dict, dict]:
        from logpipe.materialize import persistent_rdd_ids, release, release_rdd_ids
        from logpipe.plans.q_curation import curated_corpus_v5
        from logpipe.spread import derive_spread
        from logpipe.traindata.dedup import duplicate_span_trim, line_dedup

        spark, st, m = self.spark, self.store, {}
        with spans.span("scan"):
            docs = spark.read.parquet(self._docs_path())
            t_scan = noop(docs)
        with spans.span("spread"):
            applied, m["spread.derive_s"] = timed(lambda: derive_spread(docs))
            m["spread.applied"] = int(applied)
        with spans.span("dedup.span_trim"):
            held: list = []
            try:
                _, t = timed(lambda: noop(duplicate_span_trim(
                    docs.select("doc_id", "text"), k=3, min_docs=2, _materialized=held
                )))
            finally:
                release(*held)
            m["dedup.span_trim.exec_s"] = t - t_scan
        with spans.span("dedup.line_dedup"):
            m["dedup.line_dedup.exec_s"] = noop(line_dedup(docs)) - t_scan
        with spans.span("curation"):
            pre = persistent_rdd_ids(spark)
            mk = st.mark()
            try:
                df, m["curation.build_s"] = timed(
                    lambda: curated_corpus_v5(spark, self.info["sf_dir"])
                )
                m["curation.compile_s"] = compile_s(df)
                held_ids = persistent_rdd_ids(spark) - pre
                m["materialize.checkpoints"] = len(held_ids)
                m["materialize.bytes"] = _storage_bytes(spark, held_ids)
                rows, m["curation.exec_s"] = timed(df.collect)
            finally:
                release_rdd_ids(spark, persistent_rdd_ids(spark) - pre)
            m["curation.jobs"] = st.stage_stats(mk)["jobs"]
            m["curation.rows"] = sum(r["n_rows"] for r in rows)
        return {"rows": sorted(tuple(r) for r in rows)}, m

    def expected(self) -> dict:
        import duckdb

        from logpipe.plans.driver_queries import oracle_sql

        con = duckdb.connect()
        path = self._docs_path().replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        rows = con.execute(oracle_sql()["curated_corpus_v5"]).fetchall()
        return {"rows": sorted(tuple(r) for r in rows)}

    def check(self, got: dict, exp: dict) -> bool:
        return bool(exp["rows"]) and got["rows"] == exp["rows"]


def _storage_bytes(spark, rdd_ids: set[int]) -> int:
    """Memory plus disk bytes of the given persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(
        r.memSize() + r.diskSize() for r in (infos[k] for k in range(len(infos)))
        if r.id() in rdd_ids
    )


WORKLOADS = {"ds_tail": DsTail, "eci_export": EciExport, "curation": Curation}
