"""Unit tests: the nest map builder (F11) + Size accounting (O5) +
plan-quality guards (pushdown, codegen)."""

from __future__ import annotations

from pyspark.sql import functions as F

from logpipe.operators import reshape as R
from logpipe.operators.project import event_size


def test_map_nest_lift_remove(spark):
    """F11 nest: build_map drops empty/absent values (fluent-bit
    no-match parity)."""
    built = (
        spark.range(1)
        .select(R.build_map({"a": F.lit(""), "b": F.lit(None).cast("string"), "c": F.lit("v")}).alias("t"))
        .first()["t"]
    )
    assert built == {"c": "v"}


def test_event_size_accounting(spark):
    """O5 Size(): content+id+source+stream+Σ(tag k+v) BYTES — Go len()
    semantics (out_erda/sender.go:26-32), so multibyte UTF-8 counts by
    encoded length."""
    content = "hello 世界"  # 6 ascii + 2 CJK chars = 12 utf-8 bytes
    df = spark.createDataFrame(
        [("container", "id1", "stdout", content, {"k1": "v1", "kéy2": "väl2"})],
        "source string, id string, stream string, content string, tags map<string,string>",
    )
    got = event_size(df).first()["event_bytes"]
    blen = lambda s: len(s.encode("utf-8"))
    assert got == blen("container") + blen("id1") + blen("stdout") + blen(content) + (
        blen("k1") + blen("v1") + blen("kéy2") + blen("väl2")
    )


def test_scan_pushdown(spark, tmp_path):
    """Filters and column pruning must reach the parquet scan
    (100TB guard: a scan reading all columns for a 2-column projection
    is wrong)."""
    path = str(tmp_path / "ev")
    spark.range(1000).selectExpr(
        "id", "cast(id % 7 as string) k", "id * 2 v", "cast(id as string) junk"
    ).write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("k") == "3").select("id", "v")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,3)]" in plan
    assert "junk" not in plan.split("ReadSchema")[1][:200]
    assert "*(1)" in plan  # whole-stage-codegen stage marker


def test_scalar_functions(spark):
    """helps.go/remote.go utilities: auth header + URL join slash
    normalization (remote_test.go:65-91 table semantics: strings.Trim
    '/' from both ends of both args)."""
    import base64

    from logpipe.functions import basic_auth_header, host_join_path

    df = spark.createDataFrame(
        [("http://h//", "//p/x/"), ("http://h", "p"), ("http://h/", "/p")],
        "host string, path string",
    )
    rows = df.select(
        host_join_path(F.col("host"), F.col("path")).alias("u"),
        basic_auth_header(F.lit("u"), F.lit("p")).alias("a"),
    ).collect()
    assert [r["u"] for r in rows] == ["http://h/p/x", "http://h/p", "http://h/p"]
    assert rows[0]["a"] == "Basic " + base64.b64encode(b"u:p").decode()

    # long credentials: Spark's MIME base64 would CRLF-chunk at 76
    # chars; Go StdEncoding never does — stripped (header-injection
    # hazard otherwise)
    user, pw = "u" * 40, "p" * 40
    long_auth = (
        spark.range(1)
        .select(basic_auth_header(F.lit(user), F.lit(pw)).alias("a"))
        .first()["a"]
    )
    assert long_auth == "Basic " + base64.b64encode(f"{user}:{pw}".encode()).decode()
    assert "\r" not in long_auth and "\n" not in long_auth


def test_rfc3339_to_unix_nanos(spark):
    """helps.go:52-63: RFC3339Nano with Z and numeric offsets; bad
    input -> NULL (not a job-killing ANSI parse error)."""
    from logpipe.functions import rfc3339_to_unix_nanos

    df = spark.createDataFrame(
        [
            ("2024-01-01T00:00:00Z",),
            ("2024-01-01T08:00:00+08:00",),  # same instant as row 1
            ("2021-08-16T08:25:28.826167874Z",),  # nanos truncate to micros
            ("not-a-time",),
        ],
        "s string",
    )
    got = [r["n"] for r in df.select(rfc3339_to_unix_nanos(F.col("s")).alias("n")).collect()]
    assert got[0] == 1704067200 * 10**9
    assert got[1] == got[0]
    assert got[2] == (1629102328 * 10**6 + 826167) * 1000
    assert got[3] is None


def test_dummy_source(spark):
    from logpipe.sources.dummy import dummy_source

    rec = {"log": "hello dummy", "stream": "stderr"}
    df = dummy_source(spark, rec, n=5, tag="eci-log")
    rows = df.orderBy("turn_idx").collect()
    assert len(rows) == 5
    assert all(r["text"] == "hello dummy" and r["role"] == "stderr" for r in rows)
    assert [r["turn_idx"] for r in rows] == list(range(5))
    assert rows[0]["conv_id"] == "eci-log"
