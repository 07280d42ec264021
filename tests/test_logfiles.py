"""Log-file sources vs. the reference's own fixtures
(/root/reference/testdata/k8s — read-only; used as INPUT, the expected
values below are computed independently in Python)."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from logpipe.operators.parse import FIRSTLINE_RE
from logpipe.operators.stitch import stitch_multiline
from logpipe.sources.logfiles import read_cri_logs, read_docker_logs

K8S = Path("/root/reference/testdata/k8s")


def reference_fixture(pattern: str) -> str:
    """Path of the first reference fixture matching ``pattern``, resolved
    when a test asks for it; skips that test when the fixtures are not
    present (the reference-free tests in this module still run)."""
    found = next((str(p) for p in K8S.glob(pattern)), None)
    if found is None:
        pytest.skip("reference fixtures not present")
    return found


def test_docker_fixture_parses(spark):
    docker_fixture = reference_fixture("admin-*.log")
    df = read_docker_logs(spark, docker_fixture).orderBy("turn_idx")
    rows = df.collect()

    raw = [json.loads(l) for l in Path(docker_fixture).read_text().splitlines() if l]
    assert len(rows) == len(raw)
    for got, exp in zip(rows, raw):
        assert got["text"] == exp["log"].rstrip("\n")
        assert got["role"] == exp["stream"]
        assert got["ts"] is not None
    # identity parsed from the tag-encoded filename
    assert rows[0]["conv_id"] == "admin-3feb156fc4-f964fff57-rqv8q_project-387-dev_admin"
    assert rows[0]["docker_id"].endswith("963c") and len(rows[0]["docker_id"]) == 64


def test_cri_fixture_parses(spark):
    cri_fixture = reference_fixture("cri.log")
    df = read_cri_logs(spark, cri_fixture).orderBy("turn_idx")
    rows = df.collect()

    raw = [l for l in Path(cri_fixture).read_text().split("\n") if l]
    assert len(rows) == len(raw)
    pat = re.compile(r"^([^ ]+) (stdout|stderr) ([^ ]*) (.*)$")
    for got, exp in zip(rows, raw):
        m = pat.match(exp)
        assert got["role"] == m.group(2)
        assert got["logtag"] == m.group(3)
        assert got["text"] == m.group(4)
        assert got["ts"] is not None


def _expected_groups(texts: list[str]) -> list[str]:
    """Independent reimplementation of the multiline join."""
    first = re.compile(FIRSTLINE_RE)
    groups: list[list[str]] = []
    for t in texts:
        if first.match(t) or not groups:
            groups.append([t])
        else:
            groups[-1].append(t)
    return ["\n".join(g) for g in groups]


def test_multiline_stitch_on_reference_fixtures(spark):
    """The java stack trace in both fixtures stitches exactly as the
    reference's multiline filter would (firstline = datetime prefix)."""
    for reader, fixture in [
        (read_docker_logs, reference_fixture("admin-*.log")),
        (read_cri_logs, reference_fixture("cri.log")),
    ]:
        df = reader(spark, fixture)
        stitched = stitch_multiline(df).orderBy("turn_idx").collect()
        texts = [r["text"] for r in df.orderBy("turn_idx").collect()]
        expected = _expected_groups(texts)
        assert [r["text"] for r in stitched] == expected
        assert sum(r["n_lines"] for r in stitched) == len(texts)


_DOCKER_LINE = (
    '{"log": "%s\\n", "stream": "stdout", "time": "2024-01-01T00:00:00.000000001Z"}'
)


def test_exclude_path_prunes_at_listing(spark, tmp_path):
    """Exclude_Path (docker-runtime.conf:4; default *fluent-bit*.log,
    entrypoint.sh:19-21): excluded files are dropped from the listing —
    the collector never ingests its own logs."""
    (tmp_path / "app.log").write_text(_DOCKER_LINE % "hello" + "\n")
    (tmp_path / "web.log").write_text(_DOCKER_LINE % "world" + "\n")
    (tmp_path / "fluent-bit-abc.log").write_text(_DOCKER_LINE % "self" + "\n")
    glob = str(tmp_path / "*.log")

    # two kept files: the pruned listing reaches the reader as a list
    df = read_docker_logs(spark, glob, exclude_path=("*fluent-bit*.log",))
    files = [r["file"] for r in df.select("file").distinct().collect()]
    assert len(files) == 2 and not any("fluent-bit" in f for f in files)
    assert sorted(r["text"] for r in df.collect()) == ["hello", "world"]
    # without exclusion every file is read
    assert read_docker_logs(spark, glob).select("file").distinct().count() == 3
    # everything excluded -> empty frame, not an error
    assert read_docker_logs(spark, glob, exclude_path=("*.log",)).count() == 0
    # DIRECTORY input: exclusion must test the files inside, not the
    # directory path itself (the natural call shape for a tail path)
    ddf = read_docker_logs(spark, str(tmp_path), exclude_path=("*fluent-bit*.log",))
    dfiles = [r["file"] for r in ddf.select("file").distinct().collect()]
    assert len(dfiles) == 2 and not any("fluent-bit" in f for f in dfiles)


def test_line_splitters_never_emit_trailing_newline(spark, tmp_path):
    """The Java-regex alignment's one residual divergence — under
    (?d) Java's ``$`` matches before a FINAL \\n where RE2/Python
    match end-of-text only (parse._java docstring) — is documented as
    unreachable because line-split input cannot carry a trailing bare
    \\n. This pins that invariant on the splitters themselves
    (round-9 verdict task 5: enforce the unreachability, don't assume
    it): for files WITH and WITHOUT a final newline, and with blank
    and \\r-carrying lines in between, no value any reader emits
    contains a \\n — not _lines' ``line``, not docker's
    newline-stripped ``text`` (whose raw JSON payloads all END in
    \\n), not cri's ``text``."""
    from logpipe.sources.logfiles import _lines

    # raw text file: blank line (dropped), \r payload (kept verbatim —
    # \r is exactly the char class the (?d) alignment is about),
    # trailing final newline
    (tmp_path / "raw_nl.log").write_text("a\n\nb\rc\nlast\n")
    # same content, NO final newline
    (tmp_path / "raw_bare.log").write_text("a\n\nb\rc\nlast")
    for f in ("raw_nl.log", "raw_bare.log"):
        lines = [r["line"] for r in _lines(spark, str(tmp_path / f)).collect()]
        assert sorted(lines) == ["a", "b\rc", "last"], (f, lines)
        assert all("\n" not in l for l in lines)

    # docker: every JSON `log` payload carries its trailing \n; the
    # emitted text must not (stripped, not just split)
    d = tmp_path / "docker.log"
    d.write_text(_DOCKER_LINE % "hello" + "\n" + _DOCKER_LINE % "with\\rcr" + "\n")
    texts = [r["text"] for r in read_docker_logs(spark, str(d)).collect()]
    assert sorted(texts) == ["hello", "with\rcr"] and all(
        "\n" not in t for t in texts
    )

    # cri: the log field is the line remainder — split already removed
    # every \n, including the file-final one
    c = tmp_path / "cri.log"
    c.write_text(
        "2024-01-01T00:00:00.000000001Z stdout F one\n"
        "2024-01-01T00:00:00.000000002Z stdout F two\n"
    )
    texts = [r["text"] for r in read_cri_logs(spark, str(c)).collect()]
    assert sorted(texts) == ["one", "two"] and all("\n" not in t for t in texts)


def test_skip_long_lines_drops_not_truncates(spark, tmp_path):
    """Skip_Long_Lines On (docker-runtime.conf:8-9): a line over the
    buffer cap is DROPPED entirely — distinct from P2 truncation."""
    f = tmp_path / "a.log"
    f.write_text(_DOCKER_LINE % "ok" + "\n" + _DOCKER_LINE % ("x" * 2000) + "\n")

    kept = read_docker_logs(spark, str(f), skip_long_lines=1000).collect()
    assert [r["text"] for r in kept] == ["ok"]
    # without the cap both lines parse
    assert read_docker_logs(spark, str(f)).count() == 2


def test_docker_mode_join_rejoins_split_records(spark, tmp_path):
    """Docker_Mode On (docker-runtime.conf:17-19): docker splits one
    over-long app line into consecutive records, only the last carrying
    the trailing newline — the join must reproduce the original line
    byte-for-byte, with no separator, keeping the first fragment's
    timestamp; normal records pass through untouched."""
    import json as _json

    from logpipe.sources.logfiles import docker_mode_join

    def rec(log, t):
        return _json.dumps(
            {"log": log, "stream": "stdout", "time": f"2024-01-01T00:00:0{t}.000000001Z"}
        )

    f = tmp_path / ("app-1_ns-a_main-" + "0" * 64 + ".log")
    f.write_text(
        "\n".join(
            [
                rec("whole line\n", 0),
                rec("frag-one ", 1),   # no trailing \n -> continues
                rec("frag-two ", 2),   # still continues
                rec("frag-end\n", 3),  # closes the record
                rec("tail without newline", 4),  # unterminated -> flushed
            ]
        )
        + "\n"
    )
    raw = read_docker_logs(spark, str(f))
    assert [r["partial"] for r in raw.orderBy("turn_idx").collect()] == [
        False, True, True, False, True,
    ]
    joined = docker_mode_join(raw).orderBy("turn_idx").collect()
    assert [(r["turn_idx"], r["text"]) for r in joined] == [
        (0, "whole line"),
        (1, "frag-one frag-two frag-end"),
        (4, "tail without newline"),
    ]
    # first fragment's timestamp wins
    assert joined[1]["ts"].second == 1


def test_cri_mode_join_rejoins_partial_records(spark, tmp_path):
    """CRI logtag semantics: 'P' records are fragments of one line,
    closed by the next 'F' record — rejoined with no separator."""
    from logpipe.sources.logfiles import cri_mode_join

    f = tmp_path / "cri-split.log"
    f.write_text(
        "2024-01-01T00:00:00.000000001Z stdout F whole line\n"
        "2024-01-01T00:00:01.000000001Z stdout P frag-one \n"
        "2024-01-01T00:00:02.000000001Z stdout P frag-two \n"
        "2024-01-01T00:00:03.000000001Z stdout F frag-end\n"
    )
    raw = read_cri_logs(spark, str(f))
    joined = cri_mode_join(raw).orderBy("turn_idx").collect()
    assert [(r["turn_idx"], r["text"]) for r in joined] == [
        (0, "whole line"),
        (1, "frag-one frag-two frag-end"),
    ]
    assert joined[1]["ts"].second == 1  # first fragment's timestamp


def test_ignore_older(spark, transcripts):
    from datetime import datetime

    from logpipe.sources.logfiles import ignore_older

    cutoff = datetime(2024, 1, 1, 12, 0, 0)
    kept = ignore_older(transcripts, cutoff)
    assert kept.count() == transcripts.filter(F.col("ts") >= F.lit(cutoff)).count()
    assert kept.filter(F.col("ts") < F.lit(cutoff)).count() == 0


def test_ignore_older_pushes_down_to_scan(spark, transcripts, tmp_path):
    """The ignore_older predicate must reach the parquet scan
    (PushedFilters) — at scale this is row-group/partition pruning,
    the batch analog of the tail skipping stale files."""
    from datetime import datetime

    from logpipe.sources.logfiles import ignore_older

    path = str(tmp_path / "t")
    transcripts.write.parquet(path)
    kept = ignore_older(spark.read.parquet(path), datetime(2024, 1, 1, 12, 0, 0))
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in plan
