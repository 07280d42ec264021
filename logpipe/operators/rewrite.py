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

Spark-first shape: the WHOLE cascade — including fluent-bit's
re-injection loop — compiles to ONE pure array<string> expression of
final tags per input row, then one `explode`. This is possible because
new_tags are literals (no $0 captures): an emitted copy's entire
subsequent trajectory through the stages depends only on (its literal
tag, the row's fields), so the re-injection recursion expands at PLAN
time instead of requiring union-of-rounds branches. One scan, one
generator, no Union, no UDF, no shuffle (a union formulation would
re-read the input and re-run the upstream joins once per re-injection
round; at 100TB that's k extra full passes).

The expansion also refuses cyclic configs: it carries the path of
literal tags it is inside, and a tag that re-enters its own path is a
loop fluent-bit would spin on forever — here a plan-time ValueError
naming the loop. The input-tag expansion tests every stage's Match at
runtime, so every rule is reached from it and every cycle is found
before any job runs; an acyclic config expands to a depth of at most
its number of distinct literal tags. (Capture-group tags would force
a data-dependent fixpoint loop with a count() per round; unsupported,
loudly.)
"""

from __future__ import annotations

import re
import shlex
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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
    """fluent-bit Match glob (* only) -> anchored Java regex."""
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


def _empty_tags() -> Column:
    return F.array().cast("array<string>")


def _covered(stage: Stage, tag: str) -> bool:
    return re.match(glob_to_regex(stage.match), tag) is not None


def _final_tags_expr(
    stages: list[Stage],
    tag: Column | str,
    conds: dict[tuple[int, int], Column],
    matches: dict[int, Column],
    path: tuple[str, ...] = (),
) -> Column:
    """Array of FINAL tags a record ends up under, cascade + re-injection
    fully expanded. ``tag`` is either the input tag column (every stage
    Match is a runtime test) or the literal tag of an emitted copy (the
    Match tests collapse to plan-time booleans). A literal tag no stage
    covers is terminal; one already on ``path`` — the literal tags this
    expansion is nested in — is a cycle and raises.

    ``conds``/``matches`` are PRE-MATERIALIZED boolean columns (one per
    rule regex / stage glob) — the expression here is pure boolean
    algebra over them, so referencing a rule's condition several times
    (fire, first-match mask, consumed) never duplicates the underlying
    accessor expression: Catalyst does not inline a non-cheap expression
    that is referenced more than once, so each accessor is evaluated
    once per row."""
    literal = isinstance(tag, str)
    if literal:
        if not any(_covered(s, tag) for s in stages):
            return F.array(F.lit(tag))
        if tag in path:
            loop = " -> ".join(path[path.index(tag):] + (tag,))
            raise ValueError(f"rewrite_tag: cyclic re-emission: {loop}")
        path = path + (tag,)
    alive: Column = F.lit(True)
    parts: list[Column] = []
    for si, stage in enumerate(stages):
        if not literal:
            applicable = alive & matches[si]
        elif _covered(stage, tag):
            applicable = alive
        else:
            continue
        # first-match-wins: rule i fires iff applicable and rules <i missed
        prev_miss: Column = F.lit(True)
        consumed: Column | None = None
        for ri, r in enumerate(stage.rules):
            cond = conds[(si, ri)]
            fire = applicable & prev_miss & cond
            finals = _final_tags_expr(stages, r.new_tag, conds, matches, path)
            parts.append(F.when(fire, finals).otherwise(_empty_tags()))
            if not r.keep:
                consumed = fire if consumed is None else (consumed | fire)
            prev_miss = prev_miss & ~cond
        if consumed is not None:
            alive = alive & ~consumed
    survivor_tag = F.lit(tag) if literal else tag
    survivor = F.when(alive, F.array(survivor_tag)).otherwise(_empty_tags())
    return F.concat(*parts, survivor) if parts else survivor


def apply_rewrite_tags(df: DataFrame, stages: list[Stage]) -> DataFrame:
    """Run the full rewrite_tag cascade over the `tag` column; returns
    one row per FINAL record (surviving originals keep their tag;
    emitted copies carry new_tag), all other columns passed through
    verbatim. Two projections + one
    generator — the input is scanned once regardless of how many
    re-injection rounds the config implies. Raises ValueError on a
    cyclic config, before any job runs.

    The first projection materializes every rule condition and stage
    Match test ONCE as a boolean column; the finals expression is
    boolean algebra over those. This matters beyond tidiness: Catalyst's
    CollapseProject declines to inline non-cheap expressions referenced
    more than once, so an accessor column is evaluated once per row
    instead of once per reference.
    """
    matches: dict[int, Column] = {}
    conds: dict[tuple[int, int], Column] = {}
    helpers: list[Column] = []
    for si, stage in enumerate(stages):
        matches[si] = F.col(f"_rw_m{si}")
        helpers.append(
            F.col("tag").rlike(glob_to_regex(stage.match)).alias(f"_rw_m{si}")
        )
        for ri, r in enumerate(stage.rules):
            conds[(si, ri)] = F.col(f"_rw_c{si}_{ri}")
            cond = parse_accessor(r.key).cast("string").rlike(r.regex)
            helpers.append(F.coalesce(cond, F.lit(False)).alias(f"_rw_c{si}_{ri}"))

    finals = _final_tags_expr(stages, F.col("tag"), conds, matches)
    # withColumn(explode), NOT select(explode, *others): the select form
    # asks the optimizer to rebuild every passthrough column inside the
    # Generate's child projection. The last select drops the helpers
    # and puts the final tag back in the input's column order.
    return (
        df.select("*", *helpers)
        .withColumn("_rw_final_tag", F.explode(finals))
        .select(
            *(F.col("_rw_final_tag").alias(c) if c == "tag" else c for c in df.columns)
        )
    )


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


def dispatch_sinks(df: DataFrame) -> DataFrame:
    """Map final tags to sink names (F13 Match) — first glob wins."""
    sink: Column | None = None
    for glob, name in REFERENCE_SINK_DISPATCH:
        cond = F.col("tag").rlike(glob_to_regex(glob))
        sink = F.when(cond, name) if sink is None else sink.when(cond, name)
    return df.withColumn("sink", sink)


def route(df: DataFrame) -> DataFrame:
    """F12/F13: one row per destination sink (adds `sink`). Tags every
    row INPUT_TAG, runs the declared cascade (REFERENCE_ROUTER_CONF:
    an export copy for a collector label, keep=true; job replaces
    container for a define_tag, keep=false), dispatches the final tags
    to sinks and drops the tag. Reads `labels` and `define_tag`."""
    tagged = df.withColumn("tag", F.lit(INPUT_TAG))
    routed = apply_rewrite_tags(tagged, parse_rewrite_tag_conf(REFERENCE_ROUTER_CONF))
    return dispatch_sinks(routed).drop("tag")
