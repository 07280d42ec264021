"""Record reshaping — modify / nest / lift (SURVEY.md §2.3 F6-F11).

fluent-bit mutates a dynamic msgpack map; here the record is a fixed
StructType row and the dynamic prefix-keyed part (__tags_*, labels)
becomes two MapType columns built at the end (F11 'nest'). The modify
family maps to column expressions, written in place in the select of
plans.pipeline.log_event_tail (and the heads that feed it):

  add (only if absent)  -> coalesce(col, lit(v))        (F6)
  set (overwrite)       -> lit(v)                       (F6)
  rename                -> alias in one select          (F7)
  copy (if absent)      -> coalesce(dst, src)           (F8)
  hard_copy             -> src                          (F8)
  remove/remove_wildcard-> never projected              (F9)
  nest lift             -> the k8s dim joins flat       (F10)
  nest nest             -> map construction             (F11)

All of this stays inside one whole-stage-codegen span. This module
keeps the map-side helpers: the nest map builder and the dice_*
compat pairs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from logpipe.schema import DICE_COMPAT_KEYS


def build_map(pairs: dict[str, Column]) -> Column:
    """F11 `nest`: collect columns into a map<string,string>, skipping
    absent values (fluent-bit emits no key when a field is missing).

    Shape (round 11): map_concat of per-key conditional singleton maps
    — every subexpression (CASE WHEN + create_map + map_concat) is
    codegen-capable, where the previous map_filter lambda evaluated
    interpreted per row (higher-order functions are CodegenFallback;
    measured 1.21s -> 0.85s for a 23-key map over 100k rows at sf0.1,
    entry order and values byte-identical — concat keeps argument
    order, exactly like the filter kept construction order). Keys come
    from a dict, so they are unique and the EXCEPTION dedup policy
    can never fire.
    """
    empty = F.expr("map()").cast("map<string,string>")
    if not pairs:
        return empty
    parts = []
    for k, v in pairs.items():
        vs = v.cast("string")
        parts.append(
            F.when(
                vs.isNotNull() & (vs != F.lit("")), F.create_map(F.lit(k), vs)
            ).otherwise(empty)
        )
    return F.map_concat(*parts)


def dice_compat_pairs(cols: dict[str, Column]) -> dict[str, Column]:
    """F8: the 11 dice_* prefix compat copies
    (conf/ds/fluent-bit.conf:148-161)."""
    out: dict[str, Column] = {}
    for key in DICE_COMPAT_KEYS:
        if key in cols:
            out[f"dice_{key}"] = cols[key]
    return out
