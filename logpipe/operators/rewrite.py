"""Routing — the config-driven rewrite_tag engine plus the output
Match dispatch (SURVEY.md §2.3 F12/F13).

The reference's router is DECLARED, not coded: each fluent-bit
`[FILTER] name rewrite_tag` block carries `Rule $key regex new_tag keep`
lines (conf/ds/fluent-bit.conf:181-193), and adding a route means adding
a conf line. This module is that router: parse the conf syntax, compile
the rule cascade to ONE columnar expression, statically unroll
fluent-bit's re-emission loop, and map each final tag to its sink.
`route` runs the reference's shipped rules (REFERENCE_ROUTER_CONF)
and output globs (REFERENCE_SINK_DISPATCH); both plans call it.

Reference semantics reproduced (fluent-bit rewrite_tag docs +
plugins/filter_rewrite_tag):

- a record flows through the rewrite_tag FILTER STAGES in conf order;
  a stage applies iff the record is still alive and its CURRENT tag
  matches the stage's Match glob;
- within a stage, rules are tested in order and the FIRST whose
  accessor value matches the regex fires: a COPY of the record is
  emitted under new_tag, and the original survives iff keep=true;
- emitted copies are RE-INJECTED at the head of the pipeline under
  their new tag (the in_emitter), where they traverse the stages
  again — matched by the new tag this time.

Spark-first shape: records enter under a literal input tag and every
new_tag is a literal (no $0 captures), so a record's entire trajectory
through the stages depends only on (its literal tag, the row's fields).
Every Match glob is therefore a plan-time test, and the WHOLE cascade —
including fluent-bit's re-injection loop — expands at PLAN time into
(condition, final tag) pairs whose conditions are boolean algebra over
the rule regexes; one `explode` emits the finals whose conditions hold.
`route` resolves each final tag to its sink in Python while the plan is
built, so the generator emits sink names and no per-row Match test is
left. One scan, one generator, no Union, no UDF, no shuffle (a union
formulation would re-read the input and re-run the upstream joins once
per re-injection round; at 100TB that's k extra full passes).

The expansion also refuses cyclic configs: it carries the path of
literal tags it is inside, and a tag that re-enters its own path is a
loop fluent-bit would spin on forever — here a plan-time ValueError
naming the loop, raised before any job runs for every cycle reachable
from the input tag (an unreachable one never runs); an acyclic config
expands to a depth of at most its number of distinct literal tags.
(Capture-group tags would force a data-dependent fixpoint loop with a
count() per round; unsupported, loudly.)
"""

from __future__ import annotations

import re
import shlex
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logpipe.operators.parse import _java


@dataclass(frozen=True)
class Rule:
    """One `Rule $key regex new_tag keep` line."""

    key: str       # raw accessor: $field or $map['k'] (nesting allowed)
    regex: str     # match regex, search semantics (rlike / Onigmo parity)
    new_tag: str   # literal tag for the emitted copy
    keep: bool     # original survives?


@dataclass(frozen=True)
class Stage:
    """One [FILTER] name rewrite_tag block."""

    match: str            # fluent-bit Match glob, e.g. kube.*
    rules: tuple[Rule, ...]


# subkeys may arrive quoted ($m['k']) or, post-shlex, unquoted ($m[k])
_ACCESSOR_RE = re.compile(r"^\$([A-Za-z_][\w\-]*)((?:\['?[^'\[\]]+'?\])*)$")
_SUBKEY_RE = re.compile(r"\['?([^'\[\]]+?)'?\]")


def parse_accessor(key: str) -> Column:
    """$field -> col; $field['k']['k2'] -> nested map/struct access."""
    m = _ACCESSOR_RE.match(key)
    if not m:
        raise ValueError(f"rewrite_tag: unsupported record accessor {key!r}")
    col = F.col(m.group(1))
    for sub in _SUBKEY_RE.findall(m.group(2)):
        col = col[sub]
    return col


def glob_to_regex(glob: str) -> str:
    """fluent-bit Match glob (* only) -> anchored regex."""
    return "^" + ".*".join(re.escape(part) for part in glob.split("*")) + "$"


# fluent-bit's flb_utils_bool spellings (compared case-insensitively)
_BOOLS = {"true": True, "on": True, "yes": True, "false": False, "off": False, "no": False}


def parse_rewrite_tag_conf(text: str) -> list[Stage]:
    """Parse the rewrite_tag [FILTER] blocks out of a fluent-bit conf.

    Recognizes exactly the reference's syntax (conf/ds/fluent-bit.conf):
    `[FILTER]` section headers, `name rewrite_tag`, `match <glob>`,
    `Rule $key regex new_tag keep` (shlex-split, so a quoted regex
    may contain spaces). ``keep`` takes fluent-bit's boolean spellings
    (flb_utils_bool: true/on/yes, false/off/no, any case); any other
    value is a ValueError naming the line, never a silent false.
    Non-rewrite_tag blocks are skipped.
    """
    stages: list[Stage] = []
    cur: dict | None = None

    def flush():
        nonlocal cur
        if cur and cur.get("is_rewrite") and cur["rules"]:
            stages.append(Stage(match=cur["match"], rules=tuple(cur["rules"])))
        cur = None

    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        if line.startswith("["):
            flush()
            if line.lower() == "[filter]":
                cur = {"is_rewrite": False, "match": "*", "rules": []}
            continue
        if cur is None:
            continue
        parts = shlex.split(line)
        k = parts[0].lower()
        if k == "name":
            cur["is_rewrite"] = len(parts) > 1 and parts[1] == "rewrite_tag"
        elif k == "match" and len(parts) > 1:
            cur["match"] = parts[1]
        elif k == "rule":
            if len(parts) != 5:
                raise ValueError(f"rewrite_tag: malformed Rule line {line!r}")
            _, key, regex, new_tag, keep = parts
            if "$" in new_tag:
                raise ValueError(
                    f"rewrite_tag: capture-group tags unsupported ({new_tag!r}); "
                    "literal tags only (keeps the re-emission unroll static)"
                )
            if keep.lower() not in _BOOLS:
                raise ValueError(
                    f"rewrite_tag: keep must be true/on/yes or false/off/no, "
                    f"got {keep!r} in Rule line {line!r}"
                )
            cur["rules"].append(
                Rule(key=key, regex=regex, new_tag=new_tag, keep=_BOOLS[keep.lower()])
            )
    flush()
    return stages


def _covered(glob: str, tag: str) -> bool:
    return re.match(glob_to_regex(glob), tag) is not None


def _expand(
    stages: list[Stage],
    tag: str,
    conds: dict[tuple[int, int], Column],
    path: tuple[str, ...] = (),
) -> list[tuple[Column, str]]:
    """(condition, final tag) pairs for a record entering the cascade
    under the literal ``tag``, cascade + re-injection fully expanded:
    one copy of the record ends under each final tag whose condition
    holds. Every stage Match is a plan-time test on the literal tag. A
    tag no stage covers is terminal; one already on ``path`` — the
    literal tags this expansion is nested in — is a cycle and raises.

    ``conds`` are PRE-MATERIALIZED boolean columns (one per rule
    regex), so the conditions here are pure boolean algebra over them:
    referencing a rule's condition several times (fire, first-match
    mask, consumed) never duplicates the underlying accessor
    expression, because Catalyst does not inline a non-cheap expression
    that is referenced more than once."""
    if not any(_covered(s.match, tag) for s in stages):
        return [(F.lit(True), tag)]
    if tag in path:
        loop = " -> ".join(path[path.index(tag):] + (tag,))
        raise ValueError(f"rewrite_tag: cyclic re-emission: {loop}")
    path = path + (tag,)
    alive: Column = F.lit(True)
    pairs: list[tuple[Column, str]] = []
    for si, stage in enumerate(stages):
        if not _covered(stage.match, tag):
            continue
        # first-match-wins: rule i fires iff alive and rules <i missed
        prev_miss: Column = F.lit(True)
        consumed: Column | None = None
        for ri, r in enumerate(stage.rules):
            cond = conds[(si, ri)]
            fire = alive & prev_miss & cond
            pairs += [(fire & c, t) for c, t in _expand(stages, r.new_tag, conds, path)]
            if not r.keep:
                consumed = fire if consumed is None else (consumed | fire)
            prev_miss = prev_miss & ~cond
        if consumed is not None:
            alive = alive & ~consumed
    return pairs + [(alive, tag)]


def _explode_finals(
    df: DataFrame,
    stages: list[Stage],
    input_tag: str,
    out_col: str,
    label: Callable[[str], str | None],
) -> DataFrame:
    """One row per final record, with ``label(final tag)`` in
    ``out_col``. The first projection materializes every rule condition
    ONCE as a boolean column (see ``_expand``); the generator emits the
    plan-time labels of the finals whose conditions hold."""
    conds: dict[tuple[int, int], Column] = {}
    helpers: list[Column] = []
    for si, stage in enumerate(stages):
        for ri, r in enumerate(stage.rules):
            name = f"_rw_c{si}_{ri}"
            conds[(si, ri)] = F.col(name)
            cond = parse_accessor(r.key).cast("string").rlike(_java(r.regex))
            helpers.append(F.coalesce(cond, F.lit(False)).alias(name))

    labels = F.concat(
        *(
            F.when(c, F.array(F.lit(label(t)).cast("string")))
            .otherwise(F.array().cast("array<string>"))
            for c, t in _expand(stages, input_tag, conds)
        )
    )
    # withColumn(explode), NOT select(explode, *others): the select form
    # asks the optimizer to rebuild every passthrough column inside the
    # Generate's child projection.
    return (
        df.select("*", *helpers)
        .withColumn(out_col, F.explode(labels))
        .drop(*conds.values())
    )


def apply_rewrite_tags(df: DataFrame, stages: list[Stage], input_tag: str) -> DataFrame:
    """Run the full rewrite_tag cascade over rows that enter under the
    literal ``input_tag``; returns one row per FINAL record with its
    tag in `tag` (surviving originals keep ``input_tag``; emitted
    copies carry new_tag), all other columns passed through verbatim.
    One projection + one generator — the input is scanned once
    regardless of how many re-injection rounds the config implies.
    Raises ValueError on a cycle reachable from ``input_tag``, before
    any job runs.
    """
    return _explode_finals(df, stages, input_tag, "tag", lambda tag: tag)


# --- the reference's shipped router, declared as conf -----------------------

SINK_CONTAINER = "container"  # http /collect/logs/container (conf/ds/fluent-bit.conf:207-221)
SINK_JOB = "job"              # http /collect/logs/job       (conf/ds/fluent-bit.conf:223-237)
SINK_EXPORT = "export"        # out_erda dynamic-URL sink    (conf/ds/fluent-bit.conf:239-243)

#: Semantics of conf/ds/fluent-bit.conf:181-193 in the engine's input
#: column names (labels map is built by then; define_tag is the
#: pre-nest __pri_terminus_define_tag).
REFERENCE_ROUTER_CONF = """
[FILTER]
    name rewrite_tag
    match kube.*
    Rule $labels['monitor_log_collector'] .+ erda.log.export true
    Emitter_Name erda_log_export

[FILTER]
    name rewrite_tag
    match kube.*
    Rule $define_tag .+ erda.log.job false
    Emitter_Name erda_log_job
"""

#: Output-side Match dispatch (conf/ds/fluent-bit.conf:207-243): final
#: tag glob -> sink name. First glob wins, like fluent-bit match order.
REFERENCE_SINK_DISPATCH: list[tuple[str, str]] = [
    ("erda.log.export", SINK_EXPORT),
    ("erda.log.job", SINK_JOB),
    ("kube.*", SINK_CONTAINER),
]

#: The tail input's tag (conf/ds/docker-runtime.conf:4 Tag kube.*,
#: expanded from the file path). Only the kube.* Match globs read it,
#: and any kube.* value routes identically, so every row starts here.
INPUT_TAG = "kube.var.log.containers"


_ROUTER_STAGES = parse_rewrite_tag_conf(REFERENCE_ROUTER_CONF)


def _sink_of(tag: str) -> str | None:
    """F13 Match: the first REFERENCE_SINK_DISPATCH glob covering
    ``tag`` names its sink; None (a NULL sink) if none does."""
    return next((name for glob, name in REFERENCE_SINK_DISPATCH if _covered(glob, tag)), None)


def route(df: DataFrame) -> DataFrame:
    """F12/F13: one row per destination sink (adds `sink`). Every row
    enters the declared cascade (REFERENCE_ROUTER_CONF: an export copy
    for a collector label, keep=true; job replaces container for a
    define_tag, keep=false) under INPUT_TAG, and each final tag is
    resolved to its sink while the plan is built, so the generator
    emits sink names. Reads `labels` and `define_tag`."""
    return _explode_finals(df, _ROUTER_STAGES, INPUT_TAG, "sink", _sink_of)
