"""Env-var config surface (logpipe/config.py vs entrypoint.sh:19-61):
precedence flag > env > reference default, validation, CLI throttle
wiring."""

from __future__ import annotations

import pytest

from logpipe.config import DEFAULT_EXCLUDE_PATHS, PipelineConfig, from_env


def test_defaults_match_entrypoint():
    c = from_env(env={})
    assert c.throttle_rate == 1000          # entrypoint.sh:42-44
    assert c.throttle_retain is True        # entrypoint.sh:45-47
    assert c.exclude_path == DEFAULT_EXCLUDE_PATHS  # entrypoint.sh:19-21
    assert "/var/log/containers/*fluent-bit*.log" in c.exclude_path
    # comma-separated env list, like FLUENTBIT_INPUT_TAIL_EXCLUDE_PATH
    c2 = from_env(env={"LOGPIPE_EXCLUDE_PATH": "*a*.log, *b*.log"})
    assert c2.exclude_path == ("*a*.log", "*b*.log")
    # the entrypoint's `[ -z ... ]` is true for an empty value too: an
    # empty/blank variable falls back to the default, it does not turn
    # Exclude_Path off or drop the cluster tag
    for blank in ("", "  ", " , "):
        c3 = from_env(env={"LOGPIPE_EXCLUDE_PATH": blank})
        assert c3.exclude_path == DEFAULT_EXCLUDE_PATHS, blank
    for blank in ("", "  "):
        c4 = from_env(env={
            "LOGPIPE_CLUSTER_NAME": blank,
            "LOGPIPE_THROTTLE_RATE": blank,
            "LOGPIPE_THROTTLE_RETAIN": blank,
            "LOGPIPE_THROTTLE_BUCKET": blank,
        })
        assert c4 == c, blank


def test_env_then_override_precedence():
    env = {
        "LOGPIPE_THROTTLE_RATE": "50",
        "LOGPIPE_THROTTLE_RETAIN": "false",
        "LOGPIPE_CLUSTER_NAME": "edge-1",
    }
    c = from_env(env=env)
    assert (c.throttle_rate, c.throttle_retain, c.cluster_name) == (
        50, False, "edge-1",
    )
    # explicit (CLI) overrides beat env; None means "not given"
    c2 = from_env(env=env, throttle_rate=7, cluster_name=None)
    assert (c2.throttle_rate, c2.cluster_name) == (7, "edge-1")


def test_validation():
    with pytest.raises(ValueError, match="throttle_rate"):
        PipelineConfig(throttle_rate=0)
    with pytest.raises(ValueError, match="boolean"):
        from_env(env={"LOGPIPE_THROTTLE_RETAIN": "maybe"})
    # a non-integer rate names the variable, like the boolean parse
    with pytest.raises(ValueError, match="LOGPIPE_THROTTLE_RATE"):
        from_env(env={"LOGPIPE_THROTTLE_RATE": "abc"})


def test_cli_throttle_drop_wiring(spark, tmp_path, monkeypatch):
    """--throttle-retain false --throttle-rate N drops over-rate rows
    before the pipeline; retain=true (default) keeps all rows and
    reports over-rate buckets in the totals JSON."""
    import json

    from logpipe import cli

    def run(argv):
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            cli.main(argv)
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    # monkeypatch get_spark so cli reuses the test session (no stop())
    monkeypatch.setattr(
        "logpipe.session.get_spark", lambda **kw: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)

    base = ["--synth", "2000", "--buckets", "2"]
    # un-throttled run: no audit scan is paid (no key in the totals)
    t0 = run(base + ["--out", str(tmp_path / "o0"), "--manifest", str(tmp_path / "m0")])
    assert "throttle_over_rate_buckets" not in t0

    t1 = run(
        base + ["--out", str(tmp_path / "o1"), "--manifest", str(tmp_path / "m1"),
                "--throttle-retain", "true"]
    )
    assert "throttle_over_rate_buckets" in t1  # retain=true, configured

    # synth ts spreads rows across seconds, so force collisions with a
    # day-granularity window (the reference's Window/Interval knob)
    t2 = run(
        base
        + ["--out", str(tmp_path / "o2"), "--manifest", str(tmp_path / "m2"),
           "--throttle-retain", "false", "--throttle-rate", "1",
           "--throttle-bucket", "day"]
    )
    assert "throttle_over_rate_buckets" not in t2
    # rows_in is the manifest's INPUT lineage (pre-throttle, unchanged);
    # the drop shows up in what reaches the sinks
    out_rows = lambda t: sum(m["rows"] for m in t["sinks"].values())  # noqa: E731
    assert t2["rows_in"] == t1["rows_in"]
    assert out_rows(t2) < out_rows(t1)


def test_cli_logs_dir_mode_excludes_self(spark, tmp_path, monkeypatch, capsys):
    """--logs-dir reads docker-runtime JSON logs through the S1 source;
    the default Exclude_Path (entrypoint.sh:19-21) drops the
    collector's own log file from the listing. A blank --exclude-path
    glob goes through PipelineConfig's glob check and is refused before
    a session starts, instead of replacing the default with a pattern
    that matches nothing."""
    import json

    from logpipe import cli

    line = (
        '{"log": "%s\\n", "stream": "stdout", '
        '"time": "2024-01-01T00:00:00.000000001Z"}'
    )
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "app-pod_ns_main-abc.log").write_text((line % "hello") + "\n")
    (logs / "oops-fluent-bit-xyz.log").write_text((line % "self") + "\n")

    monkeypatch.setattr("logpipe.session.get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    # no env override: the DEFAULT exclusion must already cover a
    # fluent-bit log in an arbitrary directory (path-agnostic pattern)

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        cli.main(
            ["--logs-dir", str(logs / "*.log"),
             "--out", str(tmp_path / "out"),
             "--manifest", str(tmp_path / "mf"), "--buckets", "1"]
        )
    totals = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert totals["rows_in"] == 1  # the fluent-bit file never ingested

    back = spark.read.option("basePath", str(tmp_path / "out")).parquet(
        str(tmp_path / "out") + "/bucket=*"
    )
    contents = [r["content"] for r in back.select("content").collect()]
    assert contents and all(c == "hello" for c in contents)

    capsys.readouterr()
    with pytest.raises(SystemExit) as exc:
        cli.main(
            ["--logs-dir", str(logs / "*.log"), "--exclude-path", "",
             "--out", str(tmp_path / "out2"),
             "--manifest", str(tmp_path / "mf2"), "--buckets", "1"]
        )
    assert exc.value.code == 2
    assert "exclude_path must be non-empty glob strings" in capsys.readouterr().err
    assert not (tmp_path / "out2").exists()


def test_cli_bucket_out_relayout(spark, tmp_path, monkeypatch):
    """--bucket-out reads the input and writes it back bucketed through
    tableio.write_table (the one-time layout for shuffle-free rejoins),
    printing the layout JSON and running NO pipeline (--out/--manifest
    not required in this mode, still required otherwise)."""
    import json

    from logpipe import cli

    monkeypatch.setattr("logpipe.session.get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    import io
    from contextlib import redirect_stdout

    spark.sql("DROP TABLE IF EXISTS cli_bucket_t")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            cli.main(
                ["--synth", "500",
                 "--bucket-out", str(tmp_path / "bucketed"),
                 "--bucket-n", "4", "--bucket-table", "cli_bucket_t"]
            )
        info = json.loads(buf.getvalue().strip().splitlines()[-1])
        assert info == {
            "bucket_out": str(tmp_path / "bucketed"),
            "bucket_cols": ["conv_id"],
            "sort_cols": ["conv_id"],  # default: the bucket columns
            "n_buckets": 4,
            "table": "cli_bucket_t",
        }
        back = spark.table("cli_bucket_t")
        assert back.count() == 500
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE FORMATTED cli_bucket_t").collect()
        }
        assert desc.get("Num Buckets") == "4"
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_bucket_t")

    # relayout from a parquet path needs ONLY --transcripts (the dims
    # are pipeline inputs, not layout inputs)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "docs_in"))
    spark.sql("DROP TABLE IF EXISTS cli_bucket_docs_t")
    try:
        with redirect_stdout(io.StringIO()):
            cli.main(
                ["--transcripts", str(tmp_path / "docs_in"),
                 "--bucket-out", str(tmp_path / "docs_bucketed"),
                 "--bucket-cols", "doc_id", "--bucket-n", "4",
                 "--bucket-table", "cli_bucket_docs_t"]
            )
        assert spark.table("cli_bucket_docs_t").count() == 500
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_bucket_docs_t")

    # without --bucket-out the original contract stands
    with pytest.raises(SystemExit):
        cli.main(["--synth", "10"])
    # --spj applies the storage-partitioned-join confs to the session
    from logpipe.tableio import SPJ_CONFS

    spark.sql("DROP TABLE IF EXISTS cli_bucket_spj_t")
    try:
        with redirect_stdout(io.StringIO()):
            cli.main(
                ["--synth", "100", "--spj",
                 "--bucket-out", str(tmp_path / "spj_b"), "--bucket-n", "2",
                 "--bucket-table", "cli_bucket_spj_t"]
            )
        for k, v in SPJ_CONFS.items():
            assert spark.conf.get(k) == v
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_bucket_spj_t")
        for k in SPJ_CONFS:
            spark.conf.unset(k)

    # relayout knob validation fails fast, BEFORE a session spins up
    # (round-8 review: `or`-defaulting coerced an explicit 0; empty
    # cols surfaced as a write_table traceback)
    def _no_session(**kw):
        raise AssertionError("validation must fail before a session starts")

    monkeypatch.setattr("logpipe.session.get_spark", _no_session)
    out_x = ["--synth", "10", "--bucket-out", "x", "--bucket-table", "t"]
    with pytest.raises(SystemExit):
        cli.main([*out_x, "--bucket-n", "0"])
    with pytest.raises(SystemExit):
        cli.main([*out_x, "--bucket-cols", " , "])
    with pytest.raises(SystemExit):
        cli.main([*out_x, "--sort-cols", " , "])
    # a path --bucket-out names its catalog entry; a table:NAME one
    # is the table and takes no --bucket-table
    with pytest.raises(SystemExit):
        cli.main(["--synth", "10", "--bucket-out", str(tmp_path / "nameless")])
    with pytest.raises(SystemExit):
        cli.main(["--synth", "10", "--bucket-out", "table:cat.db.t",
                  "--bucket-table", "t"])
    with pytest.raises(SystemExit):  # sort knob is relayout-only
        cli.main(["--synth", "10", "--out", "o", "--manifest", "m",
                  "--sort-cols", "conv_id"])
    with pytest.raises(SystemExit):  # table name is relayout-only
        cli.main(["--synth", "10", "--out", "o", "--manifest", "m",
                  "--bucket-table", "ignored_t"])
    with pytest.raises(SystemExit):  # bucket count is relayout-only
        cli.main(["--synth", "10", "--out", "o", "--manifest", "m",
                  "--bucket-n", "0"])
    with pytest.raises(SystemExit):  # a manifest wave needs >= 1 bucket
        cli.main(["--synth", "10", "--out", "o", "--manifest", "m",
                  "--buckets", "0"])
    with pytest.raises(SystemExit):  # --conf takes K=V
        cli.main(["--synth", "10", "--out", "o", "--manifest", "m",
                  "--conf", "not-a-pair"])


def test_cli_sort_cols_and_conf_passthrough(spark, tmp_path, monkeypatch):
    """--sort-cols reaches write_table's sortBy (in-bucket order =
    the stitch window's (conv_id, turn_idx)), and --conf K=V reaches
    the session builder (the knob a shared-metastore relayout run
    uses for spark.sql.catalogImplementation/warehouse.dir)."""
    import io
    import json
    from contextlib import redirect_stdout

    from logpipe import cli

    seen_conf = {}

    def fake_get_spark(**kw):
        seen_conf.update(kw.get("extra_conf") or {})
        return spark

    monkeypatch.setattr("logpipe.session.get_spark", fake_get_spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    spark.sql("DROP TABLE IF EXISTS cli_sorted_t")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            cli.main(
                ["--synth", "300",
                 "--bucket-out", str(tmp_path / "sorted_b"),
                 "--bucket-n", "4", "--bucket-table", "cli_sorted_t",
                 "--sort-cols", "conv_id, turn_idx",
                 "--conf", "spark.logpipe.test.knob=v1"]
            )
        info = json.loads(buf.getvalue().strip().splitlines()[-1])
        assert info["sort_cols"] == ["conv_id", "turn_idx"]
        assert seen_conf == {"spark.logpipe.test.knob": "v1"}
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE FORMATTED cli_sorted_t").collect()
        }
        assert desc.get("Num Buckets") == "4"
        assert "conv_id" in desc.get("Bucket Columns", "")
        assert "turn_idx" in desc.get("Sort Columns", "")
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_sorted_t")


def test_cli_cluster_name_reaches_output_tags(spark, tmp_path, monkeypatch):
    """--cluster-name reaches every landed row's cluster_name tag (the
    reference's DICE_CLUSTER_NAME templating), through the CLI's
    pipeline_fn wrapper rather than the run_pipeline default."""
    from logpipe import cli

    monkeypatch.setattr("logpipe.session.get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    import io
    from contextlib import redirect_stdout

    with redirect_stdout(io.StringIO()):
        cli.main(
            ["--synth", "500", "--buckets", "1",
             "--cluster-name", "cli-test-cluster",
             "--out", str(tmp_path / "out"), "--manifest", str(tmp_path / "mf")]
        )
    back = spark.read.option("basePath", str(tmp_path / "out")).parquet(
        str(tmp_path / "out") + "/bucket=*"
    )
    names = {
        r["cn"]
        for r in back.selectExpr("tags['cluster_name'] AS cn").distinct().collect()
    }
    assert names == {"cli-test-cluster"}
