"""Parsers — the regex/grok layer (SURVEY.md §2.2, P1-P8).

Every parser is a columnar expression (JVM-side, whole-stage codegen);
the flagship erda-info grok has ONE built-in form, the single-pass
``erda_info_struct``, plus an Arrow-vectorized pandas-UDF variant
(``erda_info_pandas``) for parity with the north-star's "vectorized
pandas/Arrow UDFs, zero per-row Python" requirement — both produce
identical results (tested), the built-in is the default because it
stays inside codegen.

Reference regexes: conf/ds/parsers.conf (cited per function). Fluent-bit
uses Onig/Ruby regex; translated here to Java (Spark) and Python (pandas)
flavors with identical match semantics on the tested corpus.

Absence semantics: fluent-bit's parser filter emits NO key when a group
doesn't match (Reserve_Data True keeps the rest of the record,
conf/ds/fluent-bit.conf:27-28). Spark's regexp_extract returns '' on
no-match; downstream (reshape.build_tags) treats '' as absent so no
empty tags are emitted.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from logpipe.schema import MAX_CONTENT_CHARS

# P1 erda-info (conf/ds/parsers.conf:1-4). Group 1 = __tags_level,
# group 4 = __tags_request_id. The reference char classes keep a literal
# '|' ([\w|\-|\_]) — preserved verbatim for parity.
ERDA_LEVEL_ALTS = (
    "[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|DEBU|[Ii]nfo|INFO"
    "|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)"
)
ERDA_INFO_RE = (
    f"({ERDA_LEVEL_ALTS})" + r"(.*?)\[([\w|\-|_]*?)\,"
    r"(\{?\w{8}-?\w{4}-?\w{4}-?\w{4}-?\w{12}\}?)?([\,|\w|\-|_|=]*?)\]"
)

# P4/P6 firstline detector: log content starts with a datetime
# (conf/ds/parsers.conf:18-23, :32-36).
FIRSTLINE_RE = r"^\d{4}[/\-]\d{1,2}[/\-]\d{1,2}[ T]\d{2}:\d{2}:\d{2}"

# F3 java multiline grammar: the ECI chain stitches with fluent-bit's
# BUILT-IN `java` multiline parser (conf/eci/fluent-bit.conf:41-45,
# flb_ml_parser_java.c), which recognizes stack-trace continuation
# forms — frame lines, cause/suppressed chains, elided-frame markers,
# nested-exception glue — independent of any datetime prefix. A line
# matching NONE of these starts a new group (so a trace whose first
# line is a datetime-less marker like 'Exception in thread' still
# anchors its own group, where the datetime-only grammar would not).
JAVA_CONT_RE = (
    r"^[\t ]+at[\t ]+"
    r"|^[\t ]*Caused by:"
    r"|^[\t ]*Suppressed:"
    r"|^[\t ]*\.\.\. \d+ (more|common frames omitted)"
    r"|^[\t ]*nested exception is"
)

# P5 CRI line format (conf/ds/parsers.conf:25-30).
CRI_RE = r"^([^ ]+) (stdout|stderr) ([^ ]*) (.*)$"

# P7 ECI log path -> container name (conf/eci/parsers.conf:14-17).
LOG_ID_RE = r"^/stdlog/([\w|\-]+)/(\d+\.log$)"

# P8 cgroup cpuset -> container id (conf/eci/parsers.conf:20-23).
CPUSET_RE = r"^/(.*?)/(\w+$)"


def _java(pattern: str) -> str:
    """Prefix UNIX_LINES ("(?d)") for java.util.regex consumption.

    Without it Java's ``.`` excludes \\r/\\u0085/\\u2028/\\u2029 while
    the reference's regex engine — fluent-bit's Oniguruma
    (Ruby-flavored; the patterns live in conf/ds/parsers.conf and run
    under flb's Onig build), Python ``re`` and the DuckDB oracle's RE2
    all exclude only \\n — so "INFO\\r[svc,]" would grok in the
    reference but not in Spark (hypothesis counterexample class,
    round 9). (?d) pins Java's ``.`` to exactly the Onig/RE2/Python
    semantics. Residual divergence: under (?d) Java's ``$`` still
    matches before a FINAL \\n where RE2's matches end-of-text only —
    unreachable for line-split input, which cannot carry a trailing
    bare \\n (enforced, not assumed: tests/test_logfiles.py::
    test_line_splitters_never_emit_trailing_newline pins every reader's
    emitted values \\n-free). The pattern CONSTANTS stay flag-free:
    they are shared with engines that reject inline (?d) (Python re,
    RE2)."""
    return "(?d)" + pattern


def truncate_log(text: Column, max_chars: int = MAX_CONTENT_CHARS) -> Column:
    """P2 truncate-log: cap content at 50KB (conf/ds/parsers.conf:6-10).

    The reference does this with regex ``[\\s\\S]{0,51200}``; substring
    is semantically identical and cheaper (no regex engine).

    Counting-unit residual (round-10 audit, same class as the round-9
    dot/word seams): the reference's quantifier counts whatever unit
    its Onig build's encoding defines — CODEPOINTS under a UTF-8
    pattern encoding, BYTES under an ASCII/binary one — and the conf's
    own comment ("truncate log >= 50KB") names a byte budget. This
    implementation counts CODEPOINTS, uniformly with every oracle
    engine (Spark substring, Python slicing, pandas str.slice, DuckDB
    substring all index codepoints — including supplementary-plane
    characters, where a UTF-16-unit implementation would differ;
    pinned four-engine in tests/test_regex_parity.py::
    test_truncate_codepoint_parity_four_engines). For the container-
    log domain the two units coincide (ASCII); a deployment feeding
    heavily multi-byte logs that needs the byte-budget reading should
    cap on octet length upstream — a codepoint cap only ever KEEPS
    MORE bytes than a byte cap, never corrupts a character.
    """
    return F.substring(text, 1, max_chars)


def erda_info_struct(text: Column) -> Column:
    """P1 single-pass variant: struct(level, request_id).

    One regexp_substr over the (possibly 50KB) line finds the match;
    the group extracts then run on the short matched substring only —
    measured ~1.9x faster than two full-text regexp_extract passes,
    bit-identical output (tested)."""
    m = F.regexp_substr(text, F.lit(_java(ERDA_INFO_RE)))
    return F.struct(
        F.coalesce(F.regexp_extract(m, _java(ERDA_INFO_RE), 1), F.lit("")).alias("level"),
        F.coalesce(F.regexp_extract(m, _java(ERDA_INFO_RE), 4), F.lit("")).alias("request_id"),
    )


def erda_info_pandas():
    """Arrow-vectorized variant of P1: text -> struct(level, request_id).

    One pandas `str.extract` per Arrow batch (precompiled pattern, C
    regex engine under the hood) — zero per-row Python.
    """
    from logpipe.operators._grok_udf import make_erda_info_udf

    return make_erda_info_udf(ERDA_INFO_RE)


def parse_cri(line: Column) -> Column:
    """P5: CRI line -> struct(time, stream, logtag, log)."""
    return F.struct(
        F.regexp_extract(line, _java(CRI_RE), 1).alias("time"),
        F.regexp_extract(line, _java(CRI_RE), 2).alias("stream"),
        F.regexp_extract(line, _java(CRI_RE), 3).alias("logtag"),
        F.regexp_extract(line, _java(CRI_RE), 4).alias("log"),
    )


def log_id_from_path(path: Column) -> Column:
    """P7: /stdlog/<name>/<n>.log -> container name ('' when absent)."""
    return F.regexp_extract(path, _java(LOG_ID_RE), 1)


def container_id_from_cpuset(cpuset: Column) -> Column:
    """P8: cgroup path -> trailing container id ('' when absent)."""
    return F.regexp_extract(cpuset, _java(CPUSET_RE), 2)
