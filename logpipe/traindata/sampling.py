"""Dataset assembly ops: deterministic splits and sequence packing.

The last mile of a training-data pipeline once documents are filtered
and deduplicated:

- hash_split: stable train/val/test assignment from a hash of the
  document id — reproducible across runs/engines (md5-derived fraction,
  so the DuckDB oracle replays it bit-for-bit), no shuffle at all
  (a per-row projection; at 100TB the split is free).
- pack_chunks: concat-and-chunk sequence packing (the standard LLM
  pretraining shape: stream documents in a deterministic order, cut
  every `budget` tokens; a document belongs to the chunk its first
  token lands in). Packing is per-BUCKET so the running sum never
  funnels the corpus through one task: each of n_buckets packs
  independently under a window, trading a bucket-boundary partial
  chunk (bounded waste: < budget tokens per bucket) for full
  parallelism — the same salting idea as the sink writer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logpipe.traindata.textstats import token_count


def _hash_u32(key: Column, salt: str) -> Column:
    """md5-derived uniform 32-bit integer — engine-portable.

    Every operation SALTS its hash: unsalted md5(key) everywhere would
    perfectly correlate decisions when ops compose (e.g. a 0.5x
    downsample keeping exactly frac < 0.5 would then delete the entire
    frac >= 0.9 test split for that source).
    """
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), key.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")


def _hash_frac(key: Column, salt: str) -> Column:
    """md5-derived uniform fraction in [0, 1), salted per operation."""
    return _hash_u32(key, salt).cast("double") / F.lit(float(1 << 32))


def hash_split(docs: DataFrame, weights: dict[str, float] | None = None) -> DataFrame:
    """Add a `split` column by deterministic hash bucket.

    Default 90/5/5 train/val/test. Assignment depends only on doc_id
    (salted independently of the other sampling ops), so re-runs, added
    partitions, and other engines agree — the property that matters
    when the corpus is rebuilt incrementally. Weights must sum to 1.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    if not weights:
        raise ValueError("hash_split: weights must be non-empty")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"hash_split: weights must sum to 1, got {total}")
    items = list(weights.items())
    if len(items) == 1:
        return docs.withColumn("split", F.lit(items[0][0]))
    frac = _hash_frac(F.col("doc_id"), "split")
    expr = None
    acc = 0.0
    for name, w in items[:-1]:
        acc += w
        expr = (
            F.when(frac < acc, name) if expr is None else expr.when(frac < acc, name)
        )
    expr = expr.otherwise(items[-1][0])
    return docs.withColumn("split", expr)


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-source re-weighting (data mixing): a doc with
    rate r is kept floor(r) times plus once more iff its hash fraction
    < frac(r). Downsampling (r<1) keeps a stable subset; upsampling
    (r>1) emits repeated copies with a `copy` index (0-based) so
    downstream shuffles still have a unique (doc_id, copy) identity.

    Pure function of (doc_id, source) — rebuilding the corpus reproduces
    the exact same mixture; no shuffle (projection + generator).
    """
    import math

    for s, r in list(rates.items()) + [("<default>", default_rate)]:
        if not (isinstance(r, (int, float)) and math.isfinite(r) and r >= 0):
            raise ValueError(
                f"mixture_sample: rate for {s!r} must be a finite number >= 0, got {r!r}"
            )
    rate = None
    for s, r in rates.items():
        rate = (
            F.when(F.col("source") == s, float(r))
            if rate is None
            else rate.when(F.col("source") == s, float(r))
        )
    rate = rate.otherwise(float(default_rate)) if rate is not None else F.lit(
        float(default_rate)
    )
    frac = _hash_frac(F.col("doc_id"), "mix")
    n_copies = F.floor(rate).cast("int") + F.when(
        frac < rate - F.floor(rate), 1
    ).otherwise(0)
    return (
        docs.withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)))
        .drop("_n")
    )


def pack_chunks(
    docs: DataFrame,
    budget: int = 2048,
    n_buckets: int = 8,
) -> DataFrame:
    """Assign each doc to a (bucket, chunk) of ~`budget` tokens.

    bucket = md5-hash of doc_id mod n_buckets (portable); within a
    bucket, docs stream in (doc_id[, copy]) order and chunk =
    floor(cumulative tokens before this doc / budget) —
    concat-and-chunk, where a doc straddling a boundary belongs to the
    chunk its first token lands in. One shuffle on bucket; the window
    runs per bucket. When a `copy` column is present (mixture_sample
    output), it joins the ordering key so repeated rows pack
    deterministically.

    SCALE: packing parallelism IS n_buckets — each bucket's running
    sum is one sorted window task. The default 8 fits the bench
    corpus; a cluster run must set n_buckets to O(total cores) so no
    task sorts more than ~corpus/n_buckets rows (buckets are
    hash-assigned, so chunk semantics per bucket are unchanged by the
    bucket count).
    """
    b = F.pmod(_hash_u32(F.col("doc_id"), "pack"), F.lit(n_buckets))
    d = docs.withColumn("bucket", b).withColumn(
        "n_tokens", token_count(F.col("text"))
    )
    order_cols = ["doc_id"] + (["copy"] if "copy" in docs.columns else [])
    w = (
        Window.partitionBy("bucket")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return d.withColumn("chunk", F.floor(start / F.lit(budget)).cast("long"))
