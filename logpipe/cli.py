"""spark-submit entry point (north rule: ships as --py-files package).

Usage (cluster; see scripts/package.sh for the zip):
  spark-submit --py-files dist/logpipe.zip logpipe/cli.py \\
      --transcripts <path> --k8s-meta <path> --tool-meta <path> \\
      --out <path> --manifest <path> [--buckets 4096] [--synth N]
Local: PYTHONPATH=. python -m logpipe.cli --synth 100000 ...

With --synth N the input is generated deterministically (smoke/bench
runs); otherwise the three input refs are read. One rule names every
ref: 'table:NAME' is a catalog table, anything else a parquet path
(logpipe.tableio). The job is
bucket-resumable: re-running with the same --manifest skips completed
buckets and prints the aggregated lineage.

Relayout mode: --bucket-out OUT [--bucket-cols conv_id --bucket-n N]
reads the input and writes it back BUCKETED (tableio.write_table
bucket spec), then exits — the one-time storage layout that makes
key-equal rejoins shuffle-free at scale. A path OUT needs
--bucket-table NAME (the catalog entry that carries the spec; later
runs read it as --transcripts table:NAME); a table:NAME OUT is an
Iceberg table and takes no --bucket-table.
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="logpipe")
    p.add_argument(
        "--transcripts",
        help="input ref: 'table:NAME' reads catalog table NAME (e.g. "
             "a --bucket-out relayout's --bucket-table, or an Iceberg "
             "table); any other ref is a parquet path "
             "(logpipe.tableio.read_table)",
    )
    p.add_argument(
        "--k8s-meta",
        help="k8s dim ref: 'table:NAME' for a catalog table, else a parquet path",
    )
    p.add_argument(
        "--tool-meta",
        help="tool dim ref: 'table:NAME' for a catalog table, else a parquet path",
    )
    p.add_argument(
        "--logs-dir",
        help="read docker-runtime JSON log files (S1 tail) as the input "
             "instead of a transcripts parquet; Exclude_Path applies",
    )
    p.add_argument(
        "--exclude-path", action="append", default=None,
        help="Exclude_Path glob, repeatable (env LOGPIPE_EXCLUDE_PATH, "
             "comma-separated; default excludes *fluent-bit*.log — "
             "entrypoint.sh:19-21 plus its path-agnostic complement)",
    )
    p.add_argument("--out", default=None)
    p.add_argument("--manifest", default=None)
    # bucketed-relayout mode: read the input ref, write it back
    # BUCKETED (tableio.write_table bucket spec) and exit — the one-time
    # storage layout that makes every key-equal rejoin downstream
    # shuffle-free (BENCH/r7_bucketed_rejoin.json: 1.69x on the trim
    # verdict rejoin; tests pin the zero-payload-exchange plan)
    p.add_argument(
        "--bucket-out", default=None,
        help="write the input relaid out bucketed to this ref and exit; "
             "no pipeline runs. 'table:NAME' writes an Iceberg table, "
             "any other ref is a path (needs --bucket-table)",
    )
    p.add_argument(
        "--bucket-cols", default="conv_id",
        help="comma-separated bucket column(s) for --bucket-out "
             "(default conv_id — the transcripts join key; use doc_id "
             "for a documents corpus)",
    )
    p.add_argument(
        "--bucket-n", type=int, default=None,
        help="bucket count for --bucket-out (default: the session's "
             "spark.sql.shuffle.partitions, so the layout satisfies "
             "the join distribution at that parallelism)",
    )
    p.add_argument(
        "--bucket-table", default=None,
        help="catalog name for a path --bucket-out (required there, "
             "rejected with a table:NAME --bucket-out); bucketed reads "
             "go through --transcripts table:<name>",
    )
    p.add_argument(
        "--sort-cols", default=None,
        help="comma-separated in-bucket sortBy column(s) for "
             "--bucket-out (default: the bucket columns). "
             "'conv_id,turn_idx' lays transcripts out in the stitch "
             "window's own order, so the one-file-per-bucket scan "
             "satisfies the window SORT as well as its distribution",
    )
    p.add_argument(
        "--single-file-buckets", action="store_true",
        help="repartition onto the bucket count before the --bucket-out "
             "write so every bucket is ONE file — the precondition for "
             "readers to elide sorts the --sort-cols layout provides "
             "(tableio.SORTED_SCAN_CONFS)",
    )
    p.add_argument(
        "--conf", action="append", default=[], metavar="K=V",
        help="extra Spark session conf, repeatable (mirrors "
             "spark-submit --conf; e.g. "
             "--conf spark.sql.catalogImplementation=hive with a shared "
             "spark.sql.warehouse.dir + Derby metastore makes a "
             "--bucket-out relayout readable by LATER sessions)",
    )
    p.add_argument(
        "--spj", action="store_true",
        help="apply the storage-partitioned-join session confs "
             "(tableio.SPJ_CONFS) so reads of bucketed/Iceberg-bucket "
             "tables can satisfy join distributions without shuffling "
             "the corpus side",
    )
    p.add_argument(
        "--sorted-scan", action="store_true",
        help="apply the sorted-bucketed-scan confs "
             "(tableio.SORTED_SCAN_CONFS) so reads of a --sort-cols "
             "--single-file-buckets layout also elide window/SMJ "
             "sorts; refuses loudly if this Spark runtime no longer "
             "registers the conf (it is a legacy-namespace knob)",
    )
    p.add_argument("--buckets", type=int, default=8)
    p.add_argument("--synth", type=int, default=0, help="synthesize N input rows")
    p.add_argument("--master", default=None)
    # deploy knobs, mirroring entrypoint.sh's env templating: every
    # flag falls back to its LOGPIPE_* env var, then to the reference
    # default (see logpipe/config.py for the mapping table)
    p.add_argument(
        "--throttle-rate", type=int, default=None,
        help="F1 rate, records per (conv, second) "
             "(env LOGPIPE_THROTTLE_RATE, default 1000)",
    )
    p.add_argument(
        "--throttle-retain", choices=["true", "false"], default=None,
        help="true = audit over-rate buckets (backpressure analog); "
             "false = drop over-rate rows (env LOGPIPE_THROTTLE_RETAIN)",
    )
    p.add_argument(
        "--throttle-bucket", choices=["second", "minute", "hour", "day"],
        default=None,
        help="F1 window granularity (env LOGPIPE_THROTTLE_BUCKET)",
    )
    p.add_argument(
        "--cluster-name", default=None,
        help="static cluster tag (env LOGPIPE_CLUSTER_NAME)",
    )
    args = p.parse_args(argv)
    if args.bucket_out is None and not (args.out and args.manifest):
        p.error("--out and --manifest are required (unless --bucket-out)")
    # validate the relayout knobs BEFORE a Spark session spins up
    # (round-8 review: `or`-defaulting silently coerced an explicit
    # --bucket-n 0, and empty --bucket-cols surfaced as a raw
    # write_table traceback)
    bucket_cols = tuple(
        c.strip() for c in args.bucket_cols.split(",") if c.strip()
    )
    sort_cols = (
        None
        if args.sort_cols is None
        else tuple(c.strip() for c in args.sort_cols.split(",") if c.strip())
    )
    if args.bucket_out is not None:
        if args.bucket_n is not None and args.bucket_n < 1:
            p.error("--bucket-n must be >= 1")
        if not bucket_cols:
            p.error("--bucket-cols must name at least one column")
        if sort_cols is not None and not sort_cols:
            p.error("--sort-cols must name at least one column when given")
        from logpipe.tableio import TABLE_PREFIX

        table_out = args.bucket_out.startswith(TABLE_PREFIX)
        if table_out == (args.bucket_table is not None):
            p.error(
                "--bucket-table is required with a path --bucket-out (the "
                "catalog entry that carries the bucket spec) and rejected "
                "with a table:NAME one"
            )
    elif (
        sort_cols is not None
        or args.single_file_buckets
        or args.bucket_table is not None
        or args.bucket_n is not None
    ):
        p.error(
            "--sort-cols/--single-file-buckets/--bucket-table/--bucket-n "
            "only apply to --bucket-out"
        )
    if args.buckets < 1:
        p.error("--buckets must be >= 1")
    bad_conf = [c for c in args.conf if "=" not in c]
    if bad_conf:
        p.error(f"--conf takes K=V, got {bad_conf[0]!r}")
    extra_conf = dict(c.split("=", 1) for c in args.conf)

    from logpipe import config as C
    from logpipe.manifest import run_resumable
    from logpipe.session import get_spark

    try:
        cfg = C.from_env(
            throttle_rate=args.throttle_rate,
            throttle_retain=(
                None if args.throttle_retain is None else args.throttle_retain == "true"
            ),
            throttle_bucket=args.throttle_bucket,
            exclude_path=None if args.exclude_path is None else tuple(args.exclude_path),
            cluster_name=args.cluster_name,
        )
    except ValueError as e:
        p.error(str(e))

    from logpipe.plans.pipeline import run_pipeline

    def pipeline_fn(transcripts, k8s, tools, **kw):
        df = transcripts
        if not cfg.throttle_retain:
            # retain=false: enforce the rate by dropping over-rate rows
            # BEFORE the pipeline, like the reference's input-side filter
            from logpipe.operators.throttle import throttle_drop

            df = throttle_drop(df, rate=cfg.throttle_rate, bucket=cfg.throttle_bucket)
        # DICE_CLUSTER_NAME templating (entrypoint.sh)
        kw.setdefault("cluster_name", cfg.cluster_name)
        return run_pipeline(df, k8s, tools, **kw)

    spark = get_spark(
        app_name="logpipe-cli", master=args.master, extra_conf=extra_conf or None
    )
    if args.spj:
        from logpipe.tableio import enable_spj

        enable_spj(spark)
    if args.sorted_scan:
        from logpipe.tableio import apply_sorted_scan_confs

        apply_sorted_scan_confs(spark)
    if args.synth:
        from logpipe.synth import synth_k8s_meta, synth_tool_meta, synth_transcripts

        transcripts = synth_transcripts(spark, n_rows=args.synth)
        k8s = synth_k8s_meta(spark)
        tools = synth_tool_meta(spark)
    elif args.logs_dir:
        from pyspark.sql import functions as F

        from logpipe.sources.logfiles import docker_mode_join, read_docker_logs

        raw = read_docker_logs(spark, args.logs_dir, exclude_path=cfg.exclude_path)
        # one tailed FILE is the reference's conv unit: suffix the
        # kube-derived conv_id with a file hash so two files that
        # extract to the same (pod, ns, container) — restarts, rotation,
        # non-kube filenames — never interleave in the rejoin/stitch
        # windows (duplicate (conv_id, turn_idx) sort keys would make
        # fragment joins nondeterministic across runs)
        raw = raw.withColumn(
            "conv_id",
            F.concat_ws("_", F.col("conv_id"), F.substring(F.md5("file"), 1, 8)),
        )
        # rejoin Docker_Mode split records, then project to the
        # transcripts shape (drop source-internal file/docker_id cols —
        # identity re-enters through the k8s dim join)
        transcripts = docker_mode_join(raw).select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts"
        )
        if args.k8s_meta and args.tool_meta:
            from logpipe.tableio import read_table

            k8s = read_table(spark, args.k8s_meta)
            tools = read_table(spark, args.tool_meta)
        else:
            # dims optional in logs mode: un-enriched rows pass through
            # (fluent-bit's missing-key behavior); synth dims keep the
            # join columns present
            from logpipe.synth import synth_k8s_meta, synth_tool_meta

            k8s = synth_k8s_meta(spark)
            tools = synth_tool_meta(spark)
    else:
        # relayout mode touches only the input; the dims are pipeline
        # inputs and must not be demanded just to rewrite the layout
        dims_needed = args.bucket_out is None
        if not args.transcripts or (
            dims_needed and not (args.k8s_meta and args.tool_meta)
        ):
            p.error(
                "--transcripts/--k8s-meta/--tool-meta required without "
                "--synth/--logs-dir (--bucket-out needs only --transcripts)"
            )
        # refs route through tableio: table:NAME reads the catalog
        # table, any other ref reads parquet
        from logpipe.tableio import read_table

        transcripts = read_table(spark, args.transcripts)
        if dims_needed:
            k8s = read_table(spark, args.k8s_meta)
            tools = read_table(spark, args.tool_meta)

    if args.bucket_out is not None:
        from logpipe.tableio import write_table

        n = (
            args.bucket_n
            if args.bucket_n is not None
            else int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
        name = write_table(
            transcripts,
            args.bucket_out,
            bucket_by=(n, *bucket_cols),
            sort_by=sort_cols,
            table_name=args.bucket_table,
            single_file_buckets=args.single_file_buckets,
        )
        print(json.dumps({
            "bucket_out": args.bucket_out,
            "bucket_cols": list(bucket_cols),
            # the Iceberg branch (table is None) carries NO sort order
            # — reporting the path-branch default there would claim an
            # ordering the table does not have (round-9 review)
            "sort_cols": (
                list(sort_cols if sort_cols is not None else bucket_cols)
                if name is not None
                else None
            ),
            "n_buckets": n,
            # path branch: read back via spark.table(<table>) so the
            # bucket metadata (catalog entry) serves the scan; Iceberg
            # branch: table is None — the ref itself is the table and
            # readers want tableio.SPJ_CONFS set
            "table": name,
        }))
        spark.stop()
        return

    # retain=true (the reference's patched sleep-and-keep): batch jobs
    # self-pace, so REPORT the over-rate buckets — but only when a
    # throttle knob was actually configured: the audit is an extra
    # full-input aggregation, which an un-throttled 100TB run should
    # not pay for a metric nobody asked for
    import os as _os

    throttle_configured = any(
        x is not None
        for x in (args.throttle_rate, args.throttle_retain, args.throttle_bucket)
    ) or any(
        _os.environ.get(k, "").strip()  # empty = unset, as in config.from_env
        for k in (
            "LOGPIPE_THROTTLE_RATE",
            "LOGPIPE_THROTTLE_RETAIN",
            "LOGPIPE_THROTTLE_BUCKET",
        )
    )
    audit_will_run = cfg.throttle_retain and throttle_configured
    if audit_will_run:
        # the audit is a SECOND evaluation of the input lineage — in
        # --logs-dir mode that would re-list/re-read/re-parse/re-join
        # every log file, not just re-aggregate; persist once so both
        # the wave and the audit read the materialized frame
        transcripts = transcripts.persist()

    try:
        manifest = run_resumable(
            spark, transcripts, k8s, tools, args.out, args.manifest,
            n_buckets=args.buckets, pipeline_fn=pipeline_fn,
        )
        totals = manifest.totals()
        if audit_will_run:
            from logpipe.operators.throttle import throttle_audit

            totals["throttle_over_rate_buckets"] = throttle_audit(
                transcripts, rate=cfg.throttle_rate, bucket=cfg.throttle_bucket
            ).count()
    finally:
        # unpersist even when the wave or the audit raises — an embedded
        # caller's session would otherwise keep the frame cached forever
        if audit_will_run:
            transcripts.unpersist()
    print(json.dumps(totals))
    spark.stop()


if __name__ == "__main__":
    main()
