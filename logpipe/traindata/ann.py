"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k — the correctness baseline.
  All math JVM-side in double (zip_with product, aggregate sum —
  sequential left-to-right, bit-matched by the DuckDB oracle).
  Queries are broadcast; the scan side never shuffles.
- lsh_topk: the scale path — random-hyperplane LSH (signed projections
  onto deterministic hash-derived planes) buckets candidates, exact
  cosine re-rank inside buckets. Sub-linear candidate sets at the cost
  of probabilistic recall (tested vs exact in pytest).
- cosine_near_dups: exact all-pairs threshold variant — O(n²), the
  VERIFICATION ORACLE for the bucketed path, not the scale path
  (mirrors dedup.py's ngram_jaccard_pairs / minhash_lsh_pairs split).
- cosine_lsh_near_dups: the scale path for embedding-level dedup —
  multi-table hyperplane buckets -> payload-free candidate join ->
  exact cosine verify, exactly the MinHash-LSH shape on the text side.

At 100TB: queries broadcast (small), corpus scanned once per batch of
queries; the LSH variants turn the crossJoin into an equi-join on
(table, plane-bucket) — shuffle on a short key, AQE-skew-safe — and
every shuffle carries ids + scalars only (embeddings re-join onto the
tiny candidate set, never ride a wide exchange).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: Width of the `embedding` vectors the hyperplanes project.
EMBED_DIM = 64

#: lsh_topk's banding: sign bits per table and independent tables.
TOPK_PLANES = 4
TOPK_TABLES = 4


def dot(a: Column, b: Column) -> Column:
    """Sequential double dot product (matches DuckDB list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("_norm", norm(F.col("embedding")))


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    query_filter=None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine, rank); cosine rounded to 4
    decimals, ties broken by neighbor id (fully deterministic).
    """
    q = emb
    if query_ids is not None:
        q = q.filter(F.col("vec_id").isin(query_ids))
    if query_filter is not None:
        q = q.filter(query_filter)
    q = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    joined = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    # exact sequential-order cosine, Arrow-vectorized: bit-identical to
    # the aggregate(zip_with) expression form / DuckDB oracle, ~20x
    # cheaper than the interpreted per-element lambda (see _lsh_udf)
    from logpipe.traindata._lsh_udf import seq_cosine_udf

    cos = F.round(seq_cosine_udf(F.col("q_emb"), F.col("embedding")), 4)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        joined.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def cosine_near_dups(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """All pairs with cosine >= threshold.

    O(n²) by construction — this is the exactness oracle that gates
    cosine_lsh_near_dups (the 100TB path) in tests; do not run it on
    an unblocked corpus."""
    base = with_norm(emb)
    a = base.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"), F.col("_norm").alias("na")
    )
    b = base.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"), F.col("_norm").alias("nb")
    )
    cos = F.round(dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _hyperplanes(n_planes: int, table: int) -> list[list[float]]:
    """Deterministic GAUSSIAN unit hyperplanes of LSH table ``table`` —
    pure function of (seed, plane, coord), seed = 7 + 13 * table, so
    every executor (and the DuckDB oracle, which gets them inlined as
    literals) agrees.

    Box-Muller over md5-derived uniforms: md5 gives genuinely
    independent coordinates across planes AND tables. (A previous
    sin(linear-combination) generator produced planes so correlated
    across tables that recall plateaued at ~0.56 no matter how many
    tables were added — measured on sf0.01; md5-Gaussian reaches 1.0
    recall at r=3, T=12 on the same data.) Gaussian directions make
    P(sign split) = θ/π exactly, the textbook SimHash/LSH guarantee.
    """
    import hashlib

    seed = 7 + 13 * table
    planes = []
    for p in range(n_planes):
        v: list[float] = []
        for c in range(0, EMBED_DIM, 2):
            h = hashlib.md5(f"{seed}:{p}:{c}".encode()).hexdigest()
            u1 = (int(h[:8], 16) + 1) / (2**32 + 1)
            u2 = int(h[8:16], 16) / 2**32
            r = math.sqrt(-2 * math.log(u1))
            v += [r * math.cos(2 * math.pi * u2), r * math.sin(2 * math.pi * u2)]
        v = v[:EMBED_DIM]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def _bucket_col(n_planes: int, n_tables: int) -> Column:
    """array<long> of per-table sign-bit bucket ids for `embedding`
    (Arrow-vectorized numpy kernel; bit i of table t = sign of the
    projection onto deterministic plane (t, i), packed 2^i)."""
    from logpipe.traindata._lsh_udf import bucket_udf

    tables = [_hyperplanes(n_planes, t) for t in range(n_tables)]
    return bucket_udf(tables)(F.col("embedding"))


def _banded(emb: DataFrame, n_planes: int, n_tables: int) -> DataFrame:
    """(vec_id, table, bucket) — multi-table hyperplane banding,
    PAYLOAD-FREE: the banded frame is exploded x n_tables and
    self-joined, so embeddings must not ride through it (same rule as
    dedup.py's minhash banding). Embeddings re-join onto the candidate
    set afterwards."""
    return emb.select(
        "vec_id",
        F.posexplode(_bucket_col(n_planes, n_tables)).alias("table", "bucket"),
    )


def cosine_lsh_near_dups(
    emb: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 3,
    n_tables: int = 12,
) -> DataFrame:
    """Scale-path embedding near-dup: bucketed candidates, exact verify.

    The bucketed replacement for cosine_near_dups (which stays as the
    test oracle): sign-bit hyperplane buckets per table -> candidates =
    same-(table,bucket) pairs -> dedup ids -> exact cosine re-join ->
    threshold. Recall for a pair at angle θ is 1-(1-p^r)^T with
    p = 1-θ/π, r=n_planes, T=n_tables (defaults: ≈0.97 at cosine 0.4);
    precision is exact (the verify step recomputes true cosine).

    100TB shape: candidates are an equi-join on (table, bucket) — no
    cross join — and both the banding explode and the candidate dedup
    shuffle carry only (vec_id, table, bucket) / (id_a, id_b). The
    embedding arrays touch a shuffle only in the candidate re-join,
    sized by the candidate count, not the corpus. Verification is one
    exact vectorized pass: seq_cosine_udf sums dim-by-dim in the same
    left-to-right order as the expression form, so emitted values are
    bit-identical to the all-pairs path / DuckDB oracle while the bulk
    math runs vectorized in numpy.

    Threshold envelope: sign-LSH separates near-dups from the random
    bulk (θ≈90°, p=1/2 per bit) by the per-bit gap (1-θ/π vs 1/2). At
    production thresholds (≥0.8, θ≤37°, p≥0.79) r=8/T=16 gives ~97%
    recall while passing ~6% of random pairs. At permissive thresholds
    like the 0.4 this repo's synthetic data requires, NO parameterization
    prunes well (the gap per bit is 0.63 vs 0.5) — candidate density is
    an intrinsic property of the threshold, not of this implementation.
    """
    # materialize: both self-join sides consume the banded frame,
    # and the broadcast join leaves no reusable exchange — without the
    # cut the Arrow bucket kernel (and the embedding scan under it)
    # runs twice. The table is (vec_id, table, bucket) int scalars.
    # Same duplicated-subtree fix as dedup.py's minhash/simhash joins;
    # ann_lsh_topk's use of _banded has single consumers and stays lazy
    # (and its query side BROADCASTS, so no shuffle exists to skew).
    # Skew audit (round 8): past broadcast scale the candidate join's
    # children are projections of this checkpoint — bare shuffle
    # stages, no interposed aggregate, so a hot hyperplane bucket is
    # AQE-skew-splittable (pinned:
    # test_cosine_lsh_bucket_join_children_bare; the executable
    # skew=true pin for the class lives on the minhash band join,
    # test_minhash_band_join_skew_splittable — see dedup.py
    # _band_candidates for the quadratic-output honesty note).
    from logpipe.materialize import attach_release, materialize

    banded = materialize(_banded(emb, n_planes, n_tables))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    from logpipe.traindata._lsh_udf import seq_cosine_udf

    # single-pass exact verify: seq_cosine_udf accumulates in the same
    # left-to-right order as the expression form / DuckDB oracle, so
    # the emitted value IS the exact cosine — no approximate prefilter,
    # no guard band to reason about (a previous two-phase design needed
    # a threshold - 5e-5 - 1e-9 band to avoid dropping boundary pairs)
    exact = F.round(seq_cosine_udf(F.col("ea"), F.col("eb")), 4)
    # the result reads the banded checkpoint lazily: release(result)
    # frees it (round-7 ADVICE lifecycle hook)
    return attach_release(
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", exact.alias("cosine"))
        .filter(F.col("cosine") >= threshold),
        banded,
    )


def lsh_topk(emb: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    Each of TOPK_TABLES independent tables buckets vectors by
    TOPK_PLANES sign bits; candidates = union over tables of
    same-bucket vectors (equi-join on (table, bucket), no crossJoin),
    then EXACT cosine re-rank. More tables -> higher recall, more candidates scanned
    (recall ≈ 1-(1-p^planes)^tables, p = 1 - θ/π).

    Recall < 1 by construction; measured vs cosine_topk in pytest.

    Shuffle discipline: the corpus side (banded + embedding) never
    shuffles — the candidate join broadcasts the tiny query side, and
    cosine is computed INSIDE that (narrow) join stage so the only
    exchange in the plan, the candidate dedup + rank, moves
    (query_id, neighbor_id, cosine) scalars. A banded duplicate costs
    one redundant 64-wide dot product instead of shuffling the arrays.
    """
    from logpipe.traindata._lsh_udf import seq_cosine_udf

    base = emb.select(
        "vec_id",
        "embedding",
        F.posexplode(_bucket_col(TOPK_PLANES, TOPK_TABLES)).alias("table", "bucket"),
    )
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("table").alias("q_table"),
        F.col("bucket").alias("q_bucket"),
    )
    # exact sequential-order cosine (bit-identical to the expression
    # form / DuckDB oracle) — and the interpreted per-row norm column
    # the expression needed disappears with it
    cos = F.round(seq_cosine_udf(F.col("q_emb"), F.col("embedding")), 4)
    joined = (
        base.join(
            F.broadcast(q),
            (F.col("table") == F.col("q_table"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_assign(emb: DataFrame, n_centroids: int = 16) -> tuple[DataFrame, DataFrame]:
    """IVF index build: deterministic centroids (the n_centroids vectors
    with the lowest md5-of-id — a seedless reproducible sample), every
    vector assigned to its nearest centroid by cosine.

    Returns (assigned, centroids): assigned = emb + `cell` column.

    The centroid pick is orderBy(md5(id), id).limit(n) — Spark compiles
    that to TakeOrderedAndProject, a per-partition top-n + tree-reduce,
    so the corpus NEVER funnels through a single-partition exchange
    (the previous formulation used a global row_number window). Cell
    ids are assigned driver-side on the n collected rows (md5-hex
    string order is plain byte order — identical in Python, Spark and
    DuckDB), and the assignment is one scan with a per-row argmax
    (Arrow/numpy kernel — the expression form paid n_centroids
    interpreted 64-wide dots per row) — no join, no row blowup, no
    shuffle.
    """
    import hashlib

    spark = emb.sparkSession
    rows = (
        with_norm(emb)
        .select("vec_id", "embedding", "_norm")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_centroids)
        .collect()
    )
    rows.sort(
        key=lambda r: (hashlib.md5(str(r["vec_id"]).encode()).hexdigest(), r["vec_id"])
    )  # belt-and-braces: don't rely on collect() preserving TakeOrdered order
    centroids = [
        (i + 1, [float(x) for x in r["embedding"]], float(r["_norm"]))
        for i, r in enumerate(rows)
    ]
    # the per-centroid norm stays in the driver-side triples (the
    # argmax kernel divides by it); the DataFrames carry no norm
    # columns — every downstream cosine is seq_cosine_udf, which
    # derives norms in-kernel
    cents = spark.createDataFrame(
        [(c, e) for c, e, _ in centroids], schema="cell int, c_emb array<double>"
    )
    from logpipe.traindata._lsh_udf import nearest_cell_udf

    assigned = emb.withColumn(
        "cell", nearest_cell_udf(centroids)(F.col("embedding"))
    ).select("vec_id", "embedding", "cell")
    return assigned, cents


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: probe the query's n_probe nearest cells,
    exact cosine re-rank inside them. Scans ~n_probe/n_centroids of the
    corpus per query instead of all of it; recall grows with n_probe
    (tested vs cosine_topk)."""
    from logpipe.traindata._lsh_udf import seq_cosine_udf

    assigned, cents = ivf_assign(emb, n_centroids)
    # queries don't need a cell — take them off the base scan so the
    # assignment expression isn't evaluated a second time for them
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    # per query: its n_probe nearest centroids (seq_cosine_udf is
    # bit-identical to the expression form, so probe selection still
    # matches the oracle's list_dot_product ranking exactly)
    qc = q.join(F.broadcast(cents))
    qcos = seq_cosine_udf(F.col("q_emb"), F.col("c_emb"))
    wq = Window.partitionBy("query_id").orderBy(F.col("_qc").desc(), F.col("cell"))
    probes = (
        qc.withColumn("_qc", qcos)
        .withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= n_probe)
        .select("query_id", "q_emb", F.col("cell").alias("p_cell"))
    )
    cand = assigned.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("p_cell")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "q_emb", "vec_id", "embedding")
    cos = F.round(seq_cosine_udf(F.col("q_emb"), F.col("embedding")), 4)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
