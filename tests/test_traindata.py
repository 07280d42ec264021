"""Training-data ops: dedup recall, ANN recall, simhash properties,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


def test_minhash_lsh_recall(spark, docs):
    """LSH candidates must recover the high-jaccard pairs exactly
    (at j>=0.5, P(miss) = (1-s^4)^8 < 1% — and the verify step makes
    precision exact)."""
    from logpipe.traindata.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.5, block_cols=()).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, n=2, k=32, bands=8, threshold=0.5).collect()
    }
    assert exact, "test data must contain at least one near-dup pair"
    assert lsh <= exact or not exact  # verify step: no false positives
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9
    # jaccard values on shared pairs are the exact ones
    ev = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.5, block_cols=()).collect()
    }
    lv = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, n=2, k=32, bands=8, threshold=0.5).collect()
    }
    for pair, j in lv.items():
        assert ev[pair] == j


def test_near_dup_clusters_equals_union_find(spark, docs):
    """Min-label propagation must produce exactly the connected
    components of the minhash pair graph — verified against an
    independent driver-side union-find over the same pairs."""
    from logpipe.traindata.dedup import minhash_lsh_pairs, near_dup_clusters

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, n=2, k=32, bands=8, threshold=0.3).collect()
    ]
    assert pairs, "need at least one near-dup pair for a meaningful test"

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    expected = {r["doc_id"]: r["doc_id"] for r in docs.select("doc_id").collect()}
    for x in list(parent):
        expected[x] = find(x)

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(docs, n=2, k=32, bands=8, threshold=0.3).collect()
    }
    assert got == expected
    # at least one non-trivial cluster
    assert any(v != k for k, v in got.items())


def test_simhash_properties(spark, docs):
    from logpipe.traindata.dedup import simhash_table

    sigs = simhash_table(docs)
    assert sigs.count() == docs.count()
    # identical text => identical signature (by construction); check via
    # duplicating the table
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    both = simhash_table(docs.select("doc_id", "text").union(dup))
    orig = {r["doc_id"]: r["simhash"] for r in both.filter("doc_id < 100000").collect()}
    copy = {
        r["doc_id"] - 100000: r["simhash"]
        for r in both.filter("doc_id >= 100000").collect()
    }
    assert orig == copy


def test_simhash_near_dups_finds_shifted_copy(spark):
    """A doc and its one-word-dropped copy are hamming-close."""
    from logpipe.traindata.dedup import simhash_near_dups

    words = " ".join(f"tok{i}" for i in range(60))
    rows = [
        (1, words),
        (2, " ".join(words.split()[:-1])),  # drop last word
        (3, " ".join(f"zzz{i}" for i in range(60))),  # unrelated
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]) for r in simhash_near_dups(d, max_hamming=10).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ann_lsh_recall(spark, emb):
    """Bucketed ANN recall@5 vs exact top-5 (>=0.3 on random vectors —
    8 planes over near-orthogonal embeddings is a coarse filter; the
    point is the plumbing + exact re-rank, tested strictly below)."""
    from logpipe.traindata.ann import cosine_topk, lsh_topk

    qids = list(range(8))
    exact = cosine_topk(emb, query_ids=qids, k=5).collect()
    approx = lsh_topk(emb, query_ids=qids, k=5).collect()
    e = {(r["query_id"], r["neighbor_id"]) for r in exact}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert len(a & e) / len(e) >= 0.2
    # approx cosines are exact cosines (re-rank is exact math)
    ec = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in ec:
            assert ec[key] == r["cosine"]


def test_hash_split_deterministic_and_proportional(spark, docs):
    from logpipe.traindata.sampling import hash_split

    a = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    assert a == b  # stable across runs
    assert set(a.values()) == {"train", "val", "test"}
    n = len(a)
    train = sum(1 for v in a.values() if v == "train")
    assert 0.8 * n <= train <= 0.97 * n  # ~90% within sampling noise
    # assignment is a pure function of doc_id: a subset agrees
    sub = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.filter(F.col("doc_id") % 3 == 0)).collect()
    }
    assert all(a[k] == v for k, v in sub.items())


def test_sampling_ops_compose_without_correlation(spark, docs):
    """Each sampling op salts its hash: a 0.5x downsample must NOT wipe
    out the val/test splits (unsalted md5(doc_id) everywhere would keep
    exactly frac < 0.5 — all 'train' docs)."""
    import pytest

    from logpipe.traindata.sampling import hash_split, mixture_sample, pack_chunks

    mixed = mixture_sample(docs, {f"src{i}": 0.5 for i in range(20)})
    splits = {
        r["split"]: r["count"]
        for r in hash_split(mixed).groupBy("split").count().collect()
    }
    assert set(splits) == {"train", "val", "test"}
    # packing an upsampled corpus (duplicate doc_ids) stays deterministic
    up = mixture_sample(docs, {f"src{i}": 2.25 for i in range(20)})
    a = sorted(
        (r["doc_id"], r["copy"], r["chunk"]) for r in pack_chunks(up).collect()
    )
    b = sorted(
        (r["doc_id"], r["copy"], r["chunk"]) for r in pack_chunks(up).collect()
    )
    assert a == b
    # weights validation
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(docs, weights={"train": 0.7, "val": 0.2, "test": 0.05})
    assert hash_split(docs, weights={"train": 1.0}).select("split").distinct().collect()[0][0] == "train"


def test_pack_chunks_matches_prefix_sums(spark, docs):
    """chunk = floor(tokens-before-this-doc / budget) within each
    bucket's doc_id order — recomputed independently in Python."""
    from logpipe.traindata.sampling import pack_chunks

    rows = pack_chunks(docs, budget=256, n_buckets=4).collect()
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert len(by_bucket) == 4
    for _, rs in by_bucket.items():
        rs.sort(key=lambda r: r["doc_id"])
        acc = 0
        for r in rs:
            assert r["chunk"] == acc // 256, r
            acc += r["n_tokens"]


def test_multimodal_plumbing(spark):
    from logpipe.traindata.multimodal import (
        decode_features,
        frame_sample,
        resize_image,
        synth_media,
    )

    media = synth_media(spark, n_rows=64)
    feats = decode_features(media).collect()
    assert len(feats) == 64
    by_id = {r["media_id"]: r for r in feats}
    # deterministic fake decode: features = first 8 payload bytes / 255
    src = {r["media_id"]: r for r in media.collect()}
    for mid, r in by_id.items():
        payload = bytes(src[mid]["payload"])
        assert r["n_bytes"] == len(payload)
        expect = [b / 255.0 for b in payload[:8]]
        expect += [0.0] * (8 - len(expect))
        assert r["features"] == pytest.approx(expect)

    frames = frame_sample(media).collect()
    vids = [r for r in media.collect() if r["kind"] == "video"]
    expected_frames = sum(
        (len(bytes(v["payload"])) + 15) // 16 for v in vids
    )
    assert len(frames) == expected_frames

    # nearest-neighbor resize: oracle the kernel in plain numpy
    import numpy as np

    resized = {r["media_id"]: r for r in resize_image(media, 5, 3).collect()}
    assert set(resized) == set(src)
    for mid, r in resized.items():
        s = src[mid]
        if s["kind"] != "image":
            assert r["payload"] is None
            continue
        assert (r["width"], r["height"]) == (5, 3)
        W, H = s["width"], s["height"]
        raw = np.frombuffer(bytes(s["payload"]), dtype=np.uint8)
        grid = np.tile(raw, -(-(W * H) // len(raw)))[: W * H].reshape(H, W)
        expect = grid[
            np.ix_((np.arange(3) * H) // 3, (np.arange(5) * W) // 5)
        ].tobytes()
        assert bytes(r["payload"]) == expect

    # identity resize round-trips payloads whose grid is exactly W*H
    one = media.filter("kind = 'image'").limit(1)
    row = one.collect()[0]
    ident = resize_image(one, row["width"], row["height"]).collect()[0]
    raw = np.frombuffer(bytes(row["payload"]), dtype=np.uint8)
    W, H = row["width"], row["height"]
    tiled = np.tile(raw, -(-(W * H) // len(raw)))[: W * H].tobytes()
    assert bytes(ident["payload"]) == tiled

    with pytest.raises(ValueError):
        resize_image(media, 0, 3)

    # schema-legal degenerate source dims (nullable in MEDIA_SCHEMA)
    # pass through as None payloads instead of crashing the executor
    weird = spark.createDataFrame(
        [
            (900, "image", b"\x01\x02\x03", None, 4, 0),
            (901, "image", b"\x01\x02\x03", 0, 4, 0),
            # metadata bomb: dims claim 4 Gpx from a 3-byte payload — the
            # MAX_SRC_PIXELS guard must pass it through, not allocate
            (902, "image", b"\x01\x02\x03", 65535, 65535, 0),
        ],
        schema=(
            "media_id long, kind string, payload binary, width int, "
            "height int, duration_ms int"
        ),
    )
    for r in resize_image(weird, 2, 2).collect():
        assert r["payload"] is None


def test_cosine_lsh_near_dups_vs_exact(spark, emb):
    """The bucketed (scale-path) embedding near-dup must recover the
    all-pairs result with high recall and EXACT precision (the verify
    step recomputes true cosine, so every emitted pair is real and its
    cosine matches the exact path bit-for-bit)."""
    from logpipe.traindata.ann import cosine_lsh_near_dups, cosine_near_dups

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_dups(emb, threshold=0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_lsh_near_dups(emb, threshold=0.4, n_planes=3, n_tables=12).collect()
    }
    assert exact, "test data must contain near-dup pairs at 0.4"
    assert set(lsh) <= set(exact)  # exact precision
    assert len(lsh) / len(exact) >= 0.9  # measured 1.0 on sf0.001/sf0.01
    for pair, c in lsh.items():
        assert exact[pair] == c


def test_ivf_assign_plan_has_no_global_window(spark, emb):
    """The centroid pick must not funnel the corpus through one task:
    no Window operator and no single-partition exchange anywhere in
    the assignment plan (centroids are TakeOrdered + a 16-row local
    relation; assignment is a per-row argmax expression)."""
    from logpipe.traindata.ann import ivf_assign

    assigned, cents = ivf_assign(emb, n_centroids=16)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_ivf_topk_recall(spark, emb):
    """IVF probes a fraction of the corpus; recall@5 vs exact must be
    substantial with n_probe=4/16 cells, and the re-ranked cosines are
    exact."""
    from logpipe.traindata.ann import cosine_topk, ivf_assign, ivf_topk

    assigned, cents = ivf_assign(emb, n_centroids=16)
    assert cents.count() == 16
    assert assigned.count() == emb.count()  # every vector in exactly one cell

    qids = list(range(8))
    exact = cosine_topk(emb, query_ids=qids, k=5).collect()
    approx = ivf_topk(emb, query_ids=qids, k=5, n_centroids=16, n_probe=4).collect()
    e = {(r["query_id"], r["neighbor_id"]) for r in exact}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert len(a & e) / len(e) >= 0.3
    ec = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in ec:
            assert ec[key] == r["cosine"]


def test_input_validation(spark, docs):
    """Bad knobs fail loudly, not silently: max_iter<1 and bad rates."""
    import pytest

    from logpipe.traindata.dedup import near_dup_clusters
    from logpipe.traindata.sampling import mixture_sample

    with pytest.raises(ValueError, match="max_iter"):
        near_dup_clusters(docs, max_iter=0)
    for bad in (-0.5, float("nan"), float("inf")):
        with pytest.raises(ValueError, match="rate"):
            mixture_sample(docs, {"web": bad})
    with pytest.raises(ValueError, match="rate"):
        mixture_sample(docs, {"web": 1.0}, default_rate=float("nan"))


def test_star_components_diameter_independent(spark):
    """Large-star/small-star must converge on a 100-node PATH (diameter
    99) within 8 rounds — min-label propagation would need ~99; this is
    the property that makes it the deep-component scale path."""
    from logpipe.traindata.dedup import star_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(99)], "u long, v long")
    labels = star_components(edges, max_rounds=8).collect()
    assert len(labels) == 100
    assert {r["cluster_id"] for r in labels} == {0}

    # multiple components: each labeled by its minimum node
    e2 = spark.createDataFrame([(5, 3), (3, 9), (20, 21), (21, 22)], "u long, v long")
    got = {r["doc_id"]: r["cluster_id"] for r in star_components(e2).collect()}
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 22: 20}

    import pytest

    with pytest.raises(ValueError, match="max_rounds"):
        star_components(e2, max_rounds=0)


def test_minhash_band_join_skew_splittable(spark):
    """Round-7 verdict task 5 (the HashAggregate-suppression audit,
    applied to the banded LSH self-join): a HOT BUCKET — thousands of
    near-identical docs sharing one (band, bucket) — must be
    AQE-skew-splittable, which holds because the join children are
    projections of the MATERIALIZED signature table (bare shuffle
    stages; the round-7 suppression class needs an aggregate feeding
    the join directly). Pins ``skew=true`` in the executed plan on a
    4k-doc hot bucket vs an 800-doc unique tail — and this fixture has
    BOTH sides of the self-join skewed on the same partition, so it
    also pins that AQE handles the self-join case, not just the
    one-side-skewed span-stats shape. k=4/bands=1 keeps the emitted
    candidate set at one hot group (~8M pairs — the quadratic output a
    hot bucket costs REGARDLESS of partitioning; see _band_candidates'
    docstring for why upstream exact dedup, not the skew split, is the
    remedy for that volume)."""
    from logpipe.materialize import materialize, release
    from logpipe.traindata.dedup import _band_candidates, _banded_sigs

    from conftest import skew_probe_confs

    sigs = None
    try:
        with skew_probe_confs(spark):
            hot = spark.range(4000).select(
                F.shiftrightunsigned(F.xxhash64("id"), 1).alias("doc_id"),
                *[F.lit(1).cast("long").alias(f"m{i}") for i in range(4)],
            )
            tail = spark.range(4000, 4800).select(
                F.shiftrightunsigned(F.xxhash64("id"), 1).alias("doc_id"),
                *[F.col("id").cast("long").alias(f"m{i}") for i in range(4)],
            )
            sigs = materialize(hot.unionByName(tail))
            cand = _band_candidates(_banded_sigs(sigs, bands=1, r=4))
            qe = cand._jdf.queryExecution()
            n = qe.toRdd().count()
            assert n == 4000 * 3999 // 2  # the hot bucket's pair count
            plan = qe.executedPlan().toString()
            assert "skew=true" in plan, "band self-join did not skew-split"
    finally:
        if sigs is not None:
            release(sigs)


def _join_subtree(plan: str, header_match: str) -> str:
    """The indented subtree under the first plan line containing
    ``header_match`` (tree-string indentation parsing: children are
    the following lines whose operator column sits deeper)."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if header_match in ln:
            depth = ln.index(header_match)
            sub = []
            for nxt in lines[i + 1:]:
                body = nxt.lstrip(" +-:*(0123456789)")
                col = len(nxt) - len(body)
                if col <= depth:
                    break
                sub.append(nxt)
            return "\n".join(sub)
    raise AssertionError(f"{header_match!r} not found in plan:\n{plan}")


def test_cosine_lsh_bucket_join_children_bare(spark, emb):
    """The cosine-LSH candidate self-join is the same skew class as the
    minhash band join (hot hyperplane bucket -> quadratic candidates,
    skew-splittable emission): pin that past broadcast scale it
    compiles as a sort-merge join on (table, bucket) whose subtree
    contains NO aggregate between the shuffle and the materialized
    banded table (Scan ExistingRDD x2) — the bare-shuffle-children
    property the round-7 suppression finding made load-bearing. The
    dropDuplicates aggregate sits ABOVE the join and groups on
    (id_a, id_b), which does not contain the join keys, so it cannot
    suppress the split either (round-7 matrix probe)."""
    from logpipe.traindata.ann import cosine_lsh_near_dups

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        out = cosine_lsh_near_dups(emb, threshold=0.4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        sub = _join_subtree(plan, "SortMergeJoin [table#")
        assert "HashAggregate" not in sub, sub
        assert sub.count("Scan ExistingRDD") == 2, sub
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_star_clusters_equal_propagation_clusters(spark, docs):
    """near_dup_clusters_star must reproduce near_dup_clusters exactly
    (same minhash pair graph, same min-id cluster contract)."""
    from logpipe.traindata.dedup import near_dup_clusters, near_dup_clusters_star

    a = near_dup_clusters(docs, n=2, k=32, bands=8, threshold=0.3)
    b = near_dup_clusters_star(docs, n=2, k=32, bands=8, threshold=0.3)
    assert a.exceptAll(b).isEmpty()
    assert b.exceptAll(a).isEmpty()


def test_pii_redaction_and_domains(spark):
    """Rule order (email before longnum), all-rule coverage, and URL
    domain extraction."""
    from logpipe.traindata.textstats import extract_domains, pii_counts, redact_pii
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a9876543210@x.co ping 10.1.2.3 acct 987654321 see https://a.b.c/d http://e.f/g",)],
        "txt string",
    )
    counts = pii_counts(F.col("txt"))
    row = df.select(
        redact_pii(F.col("txt")).alias("red"),
        extract_domains(F.col("txt")).alias("doms"),
        counts["email"].alias("e"), counts["ipv4"].alias("i"),
        counts["longnum"].alias("n"),
    ).first()
    # the email's digit run is consumed by the email rule, not longnum
    assert row["red"] == "<EMAIL> ping <IP> acct <NUM> see https://a.b.c/d http://e.f/g"
    assert (row["e"], row["i"], row["n"]) == (1, 1, 1)
    assert row["doms"] == ["a.b.c", "e.f"]


def test_traindata_scan_prunes_columns(spark):
    """Column pruning reaches the parquet scan: token_count over the
    documents table must read only (doc_id, text), not the whole row
    (at 100TB the unread columns are most of the bytes)."""
    from logpipe.plans.driver_queries import queries

    # sf0.01, NOT sf0.001: the docs fixture caches the sf0.001 read, and
    # the cached InMemoryRelation's FileScan reads every column — which
    # is fine (InMemoryTableScan prunes), but hides the property this
    # test pins: an UNCACHED scan must prune at the file reader
    df = queries()["textstats_profile"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    # no scan may read the unused wide columns; the text-bearing scans
    # read exactly (doc_id, text) and the re-join scan doc_id alone
    for ln in scan:
        rs = ln.split("ReadSchema:")[1]
        assert "doc_id" in rs
        assert "source" not in rs and "lang" not in rs
    assert any("text" in ln.split("ReadSchema:")[1] for ln in scan)


def test_c4_line_rules(spark):
    """C4-style line rules: terminal-punct fraction, short-line
    fraction, lorem/brace markers, and the composed keep decision."""
    from pyspark.sql import functions as F

    from logpipe.traindata.textstats import c4_keep, c4_line_stats

    good = 'First sentence is fine.\nSecond line also ends well!\nAnd a "quote."'
    bad = "no punctuation here\nx y\nlorem ipsum inside\n{json}"
    df = spark.createDataFrame([(good,), (bad,)], "txt string")
    s = c4_line_stats(F.col("txt"))
    rows = df.select(
        s["n_lines"].alias("n"), s["frac_lines_punct"].alias("fp"),
        s["frac_short_lines"].alias("fs"), s["has_lorem_ipsum"].alias("lor"),
        s["has_brace"].alias("br"), c4_keep(F.col("txt")).alias("keep"),
    ).collect()
    g, b = rows
    assert (g["n"], g["fp"], g["lor"], g["br"], g["keep"]) == (3, 1.0, False, False, True)
    assert b["n"] == 4 and b["fp"] == 0.0 and b["lor"] and b["br"] and not b["keep"]
    assert b["fs"] == 0.5  # 'x y' and '{json}' are short lines


def test_benchmark_contamination(spark):
    """Decontamination: a doc embedding a benchmark question is
    flagged with the right shared-gram count; clean docs are not."""
    from logpipe.traindata.dedup import benchmark_contamination

    bench = spark.createDataFrame(
        [(100, "what is the capital of france")], "bench_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "quiz dump: what is the capital of france answer paris"),
            (2, "totally unrelated text about spark shuffles and joins"),
            (3, "partial echo: the capital of france is nice"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["bench_id"]): r["n_shared"]
        for r in benchmark_contamination(docs, bench, n=3, min_overlap=2).collect()
    }
    # doc 1 contains the full question: all 4 of its benchmark trigrams
    assert got[(1, 100)] == 4
    # doc 3 shares exactly 'the capital of' + 'capital of france'
    assert got[(3, 100)] == 2
    assert (2, 100) not in got


def test_contamination_bench_grams_broadcast(spark):
    """The curation tail's decontamination join keeps its judged-good
    shape: the bench gram set joins as a broadcast, never a cartesian.
    Since the round-11 tail cuts (the tail materializes its branch
    points so consumers stop re-expanding the whole upstream chain),
    the decontamination join executes inside an upstream eager job and
    is not visible in the FINAL frame's plan — so the pin sits on the
    contamination subtree itself, built over the same post-quality
    frame shape the tail feeds it."""
    from pyspark.sql import functions as F

    from logpipe.traindata import textstats as ts
    from logpipe.traindata.dedup import benchmark_contamination

    kept = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", "text"
    )
    bench = kept.filter(F.col("doc_id") % 31 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(" ", F.slice(ts.tokens(F.col("text")), 1, 12)).alias("text"),
    )
    sub = benchmark_contamination(kept, bench, n=3, min_overlap=5)
    sub_plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in sub_plan
    assert "CartesianProduct" not in sub_plan


def _exchange_inputs(df, spark):
    """[(block_body_Input_line)] for every (Broadcast)Exchange in the
    formatted plan (shared robust parser — logpipe.planinspect)."""
    from logpipe.planinspect import exchange_input_lines, formatted_plan

    lines = exchange_input_lines(df)
    assert lines, formatted_plan(df)
    return lines


def test_curated_corpus_v5_plan_lineage_cut(spark):
    """The span gate MUST cut lineage with a materialize: without it
    the gate subtree rides inside the shared frame's lineage and every
    downstream consumer re-expands it (measured 222s wall / 24s
    plan-compile at sf0.1, vs 22.6s / 3.0s with the cut). Pinned via
    the plan signature: downstream compiles against the materialized
    gate leaf (ExistingRDD), re-scans no files, and stays far below
    the un-cut size (~6.3k plan lines with the documents scan
    duplicated ~386x). No stage degenerates into a cartesian /
    nested-loop join anywhere in the lineage that survives the cuts.
    (Trim SEMANTICS are covered by the driver oracle's end-to-end hash
    and the builder's in-run branch-count raise; the dedicated
    operator tests cover duplicate_span_trim itself.)"""
    from logpipe.plans.driver_queries import curated_corpus_v5

    df = curated_corpus_v5(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan  # the materialized gate leaf
    assert plan.count("FileScan") == 0  # nothing re-reads the input
    assert len(plan.splitlines()) < 4000, len(plan.splitlines())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_span_stats_plan_single_linear_payload_exchange(spark):
    """The span-count chain is ONE linear pass: on a few-split input its
    only payload-bearing exchange is the round-robin scan-spread (there
    purely for parallelism); every hash exchange carries (md5, doc_id,
    count) scalars. On a many-split input the text moves ZERO bytes
    across the wire. Pins the round-5 redesign — the
    earlier branching DAG (shared-table groupBy + verdict semi-join)
    made Catalyst duplicate the scan subtree per consumer: three text
    scans, and with the old upfront repartition(doc_id), three
    full-text shuffles. A refactor that reintroduces a second payload
    exchange — or any payload-bearing HASH exchange — fails here.
    (sf0.01, not the cached sf0.001 fixture — see
    test_traindata_scan_prunes_columns.)

    Round 7: the spread pins target the LAZY count table (same
    structure as the trim pins on _span_position_table); the full
    operator additionally pins the materialized branch point
    (ExistingRDD, no Window, one FileScan for the docs-id restore, zero
    payload exchanges downstream).
    """
    from logpipe.materialize import materialize, release
    from logpipe.traindata.dedup import _span_count_table, duplicate_span_stats

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    # derived default: the single-file input has fewer splits than
    # shuffle partitions, so the spread kicks in with no caller flag
    sub = _span_count_table(docs, 3)
    payload = [
        ln for ln in _exchange_inputs(sub, spark)
        if "text#" in ln or "span#" in ln or "_toks#" in ln
    ]
    assert len(payload) == 1, payload
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan  # the one payload move is the spread
    assert "partial_count" in plan  # scalar aggs combine map-side

    # a materialized many-split copy (the 100TB scan stand-in, with no
    # exchange in its own plan) derives no spread: the text moves ZERO
    # bytes across the wire
    docs32 = materialize(docs.repartition(32))
    try:
        sub0 = _span_count_table(docs32, 3)
        payload0 = [
            ln for ln in _exchange_inputs(sub0, spark)
            if "text#" in ln or "span#" in ln or "_toks#" in ln
        ]
        assert payload0 == [], payload0
    finally:
        release(docs32)

    # derived default on a many-split input (the 100TB scan stand-in):
    # the chain must add NO payload exchange of its own — the only
    # one in the plan is the caller's own repartition
    sub32 = _span_count_table(docs.repartition(32), 3)
    payload32 = [
        ln for ln in _exchange_inputs(sub32, spark)
        if "text#" in ln or "span#" in ln or "_toks#" in ln
    ]
    assert len(payload32) == 1, payload32

    # the operator: materialized branch point, no single-task
    # window, one FileScan (the docs-id restore), scalars-only
    # exchanges downstream of the cut
    df = duplicate_span_stats(docs, k=3, min_docs=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan  # the materialized count table
    assert "Window" not in plan  # no one-task hot-hash buffer
    assert plan.count("FileScan") == 1, plan.count("FileScan")
    payload_j = [
        ln for ln in _exchange_inputs(df, spark)
        if "text#" in ln or "span#" in ln or "_toks#" in ln
    ]
    assert payload_j == [], payload_j


def test_dup_span_stats_skewed_hash(spark):
    """The boilerplate-hash straggler class, as a fixture: ONE k-gram
    present in half the corpus. The operator must (a) compute
    the same numbers a per-doc replay predicts, (b) compile with no
    Window over the hash (the round-6-documented one-task buffer),
    and (c) — pinned below in a second, larger fixture — actually get
    SPLIT by AQE's skew rule (`skew=true` in the executed plan). (c)
    is why BOTH multiplicity-join inputs are materialized:
    OptimizeSkewedJoin only rewrites joins whose children are bare
    shuffle stages, so the earlier shape (groupBy(sh) feeding the join
    directly, a HashAggregate as the join child) never fired the split
    — the round-6 "AQE-skew-splittable" docstring claim was refuted by
    measurement in round 7 and the shape fixed."""
    from logpipe.traindata.dedup import duplicate_span_stats

    rows = []
    for i in range(200):
        if i % 2 == 0:  # 100 docs share the window "share one boiler"
            rows.append((i, f"u{i} share one boiler"))
        else:  # unique 3-gram per doc
            rows.append((i, f"x{i} y{i} z{i}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    df = duplicate_span_stats(docs, k=3, min_docs=2)
    assert "Window" not in df._jdf.queryExecution().executedPlan().toString()
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_span_frac"])
        for r in df.collect()
    }
    # even docs: windows (u{i} share one), (share one boiler) -> 1 of 2
    # duplicated; odd docs: one unique window
    expect = {
        i: (2, 1, 0.5) if i % 2 == 0 else (1, 0, 0.0) for i in range(200)
    }
    assert got == expect

    # (c) the split FIRES: a hot hash big enough to clear the (lowered)
    # skew thresholds must show `skew=true` on the multiplicity join in
    # the AQE-final plan. Skew detection reads COMPRESSED map-output
    # sizes, and a partition of one repeated hash LZ4-compresses ~100x
    # while the md5 tail is incompressible — so the hot side needs row
    # VOLUME, not just row share, to be the byte-largest partition:
    # 150k hot docs vs a 20k unique tail (generated JVM-side via
    # spark.range, ~8s wall). Thresholds restored by the shared
    # contextmanager (conftest.skew_probe_confs).
    from logpipe.materialize import release

    from conftest import skew_probe_confs

    df_big = None
    try:
        with skew_probe_confs(spark):
            c = F.col("id").cast("string")
            hot = spark.range(150_000).select(
                F.col("id").alias("doc_id"),
                F.lit("share one boiler plate").alias("text"),
            )
            tail = spark.range(150_000, 170_000).select(
                F.col("id").alias("doc_id"),
                F.concat(
                    F.lit("u"), c, F.lit(" v"), c, F.lit(" w"), c
                ).alias("text"),
            )
            df_big = duplicate_span_stats(hot.unionByName(tail), k=3, min_docs=2)
            df_big.collect()
            plan_big = df_big._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in plan_big, "AQE skew split did not fire"
    finally:
        release(df_big)


def test_span_trim_plan_materialized_branch_point(spark):
    """duplicate_span_removals/trim must NOT re-expand the span
    pipeline per consumer: the per-(window, doc) scalar table is
    materialized before the winner/loser branch, so the lazy subtree
    (pinned here) carries the only payload exchange (the derived
    spread) and the FINAL trim plan reads the checkpoint leaf — exactly
    one FileScan (the reassembly's own text scan) and zero payload
    HASH exchanges."""
    from logpipe.materialize import materialize, release
    from logpipe.traindata.dedup import (
        _span_position_table,
        duplicate_span_trim,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    sub = _span_position_table(docs, 3)  # lazy; derived spread fires
    payload = [
        ln for ln in _exchange_inputs(sub, spark)
        if "text#" in ln or "span#" in ln or "_toks#" in ln
    ]
    assert len(payload) == 1, payload
    docs32 = materialize(docs.repartition(32))  # many splits: no spread
    try:
        sub0 = _span_position_table(docs32, 3)
        payload0 = [
            ln for ln in _exchange_inputs(sub0, spark)
            if "text#" in ln or "span#" in ln or "_toks#" in ln
        ]
        assert payload0 == [], payload0
    finally:
        release(docs32)

    df = duplicate_span_trim(docs, k=3, min_docs=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan  # the materialized branch point
    assert plan.count("FileScan") == 1, plan.count("FileScan")


def test_span_trim_bucketed_rejoin(spark, tmp_path):
    """The 100TB claim, demonstrated instead of stated: every dedup
    verdict rejoins the corpus on doc_id, and at full scale that
    equi-join is the family's dominant data movement UNLESS the corpus
    is stored bucketed on doc_id with the bucket count matching shuffle
    parallelism — then the corpus side's storage partitioning satisfies
    the join's required distribution and only the ids+ints verdict side
    shuffles (storage-partitioned join). Pins BOTH plans with broadcast
    disabled (so the join shape is the at-scale sort-merge, not the
    bench-scale broadcast):

    - bucketed corpus: ZERO exchanges carrying text/_toks — every
      remaining exchange moves (sh, doc_id, poss/count/min) scalars;
      the one FileScan is the bucketed scan (``Bucketed: true``);
    - plain parquet:  exactly ONE payload exchange — the corpus token
      arrays shuffling into the sort-merge join;
    - identical results row-for-row, so the layout is purely a plan
      property.

    BENCH/r7_bucketed_rejoin.json holds the measured wall pair at
    sf0.1.

    Since round 8 the layout is produced through the PRODUCTION write
    path — tableio.write_table's bucket spec (exposed from cli.py as
    --bucket-out) — so this test also pins that a write_table-produced
    corpus compiles the zero-payload rejoin (round-7 verdict task 1:
    the demonstrated layout must be producible without raw Spark)."""
    from logpipe.tableio import write_table
    from logpipe.traindata.dedup import duplicate_span_trim

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS corpus_bucketed_t")
    assert write_table(
        docs,
        str(tmp_path / "corpus_bucketed"),
        bucket_by=(n_part, "doc_id"),
        table_name="corpus_bucketed_t",
    ) == "corpus_bucketed_t"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bdocs = spark.table("corpus_bucketed_t")
        out_b = duplicate_span_trim(bdocs, k=3, min_docs=2)
        plan = out_b._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan  # the at-scale join shape
        assert "Bucketed: true" in plan  # the scan USED the layout
        assert plan.count("FileScan") == 1
        payload_b = [
            ln for ln in _exchange_inputs(out_b, spark)
            if "text#" in ln or "_toks#" in ln
        ]
        assert payload_b == [], payload_b

        out_p = duplicate_span_trim(docs, k=3, min_docs=2)
        payload_p = [
            ln for ln in _exchange_inputs(out_p, spark)
            if "text#" in ln or "_toks#" in ln
        ]
        assert len(payload_p) == 1, payload_p  # the shuffle bucketing elides

        rows_b = sorted(tuple(r) for r in out_b.collect())
        rows_p = sorted(tuple(r) for r in out_p.collect())
        assert rows_b == rows_p and len(rows_b) == 500
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS corpus_bucketed_t")


def test_line_dedup_bucketed_rejoin_compound_key(spark, tmp_path):
    """Round-7 verdict task 3: does doc_id bucketing still elide the
    corpus-side exchange when the verdict join keys on a COMPOUND key?
    line_dedup's verdict join is ``SortMergeJoin [doc_id, lh],
    [win_doc, lh]`` — the bucket satisfies only a strict SUBSET of the
    join keys, and under Spark's default co-partition rule
    (``spark.sql.requireAllClusterKeysForCoPartition=true``) the
    subset partitioning is NOT accepted: the exploded-lines payload
    still shuffles (pinned below). With the rule relaxed — one of the
    same SPJ conf family the Iceberg storage-partitioned join needs
    (tableio.SPJ_CONFS) — hash(doc_id) co-locates every (doc_id, lh)
    group, Spark shuffles only the scalar winners side by win_doc to
    match, and the corpus-side payload exchange count drops to ZERO
    (the reassembly groupBys on doc_id / (doc_id, lh) ride the same
    storage partitioning). Results are row-identical in all three
    regimes, so the layout+conf pair is purely a plan property."""
    from logpipe.tableio import SPJ_CONFS, write_table
    from logpipe.traindata.dedup import line_dedup

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS corpus_bucketed_ld_t")
    write_table(
        docs,
        str(tmp_path / "corpus_bucketed_ld"),
        bucket_by=(n_part, "doc_id"),
        table_name="corpus_bucketed_ld_t",
    )
    subset_key = "spark.sql.requireAllClusterKeysForCoPartition"
    assert subset_key in SPJ_CONFS  # the documented carrier of this demo
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bdocs = spark.table("corpus_bucketed_ld_t")

        def payload(df):
            return [
                ln for ln in _exchange_inputs(df, spark)
                if "text#" in ln or "line#" in ln
            ]

        # default co-partition rule: subset bucket NOT used for the
        # compound-key join — the lines payload shuffles once
        out_default = line_dedup(bdocs)
        assert len(payload(out_default)) == 1, payload(out_default)

        spark.conf.set(subset_key, "false")
        out_b = line_dedup(bdocs)
        plan = out_b._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Bucketed: true" in plan
        assert payload(out_b) == [], payload(out_b)

        # plain parquet under the same conf: the payload exchange stays
        # (it is the LAYOUT, not the conf, that elides it)
        out_p = line_dedup(docs)
        assert len(payload(out_p)) == 1, payload(out_p)

        rows_b = sorted(tuple(r) for r in out_b.collect())
        rows_p = sorted(tuple(r) for r in out_p.collect())
        spark.conf.unset(subset_key)
        rows_d = sorted(tuple(r) for r in line_dedup(docs).collect())
        assert rows_b == rows_p == rows_d and len(rows_b) == 500
    finally:
        spark.conf.unset(subset_key)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS corpus_bucketed_ld_t")


def test_duplicate_span_trim_semantics(spark):
    """Winner rule on a hand-checkable corpus: a k-window shared by >=
    min_docs docs survives only in the lowest-doc_id doc; losers drop
    every covered token and reassemble in order (whitespace-normalized).
    Docs with < k tokens or no shared windows pass through."""
    from logpipe.traindata.dedup import duplicate_span_trim
    from logpipe.traindata.textstats import token_count

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),        # winner of 'a b c'/'b c d': untouched
            (1, "x y a b c d q"),      # loses windows at pos 3,4 -> 'x y q'
            (2, "a b c z z z"),        # loses pos 1 -> 'z z z'
            (3, "one two"),            # < k tokens: untouched
            (4, ""),                   # empty: stays empty
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_tokens_kept"], r["n_tokens_removed"])
        for r in duplicate_span_trim(docs, k=3, min_docs=2).collect()
    }
    assert got == {
        0: ("a b c d e f", 6, 0),
        1: ("x y q", 3, 4),
        2: ("z z z", 3, 3),
        3: ("one two", 2, 0),
        4: ("", 0, 0),
    }
    # invariant on real data: kept + removed == the doc's token count
    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = duplicate_span_trim(real, k=3, min_docs=2)
    bad = (
        out.join(real.select("doc_id", token_count(F.col("text")).alias("nt")),
                 "doc_id")
        .filter(F.col("n_tokens_kept") + F.col("n_tokens_removed") != F.col("nt"))
        .count()
    )
    assert bad == 0


def test_seq_cosine_udf_bit_identical_to_expression(spark):
    """The core claim behind seq_cosine_udf: IEEE binary64 ops are
    deterministic given operand order, and the kernel accumulates in
    the SAME left-to-right order as the aggregate(zip_with) expression
    — so outputs must be EXACTLY equal (==, not approx) on arbitrary
    float inputs, including adversarial magnitude spreads where
    summation order visibly changes the result."""
    import random

    from logpipe.traindata._lsh_udf import seq_cosine_udf
    from logpipe.traindata.ann import dot, norm

    rng = random.Random(7)
    rows = []
    for i in range(64):
        # mix scales 1e-8..1e8 so pairwise/SIMD summation WOULD differ
        a = [rng.uniform(-1, 1) * 10 ** rng.randint(-8, 8) for _ in range(64)]
        b = [rng.uniform(-1, 1) * 10 ** rng.randint(-8, 8) for _ in range(64)]
        rows.append((i, a, b))
    # null embeddings must yield NULL (the expression form's behavior),
    # not crash the batch vstack
    rows.append((64, None, rows[0][2]))
    rows.append((65, rows[0][1], None))
    # zero-norm embeddings: the expression form's 0.0 divisor -> NULL
    # (Spark non-ANSI Divide), not NaN/inf
    rows.append((66, [0.0] * 64, rows[0][2]))
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    # try_divide, not /: identical IEEE division for every non-zero
    # divisor, and NULL for the zero-norm row (under this session's
    # ANSI mode a bare / would THROW there; the kernel adopts the
    # try_divide semantics)
    expr = F.try_divide(
        dot(F.col("a"), F.col("b")), norm(F.col("a")) * norm(F.col("b"))
    )
    out = df.select(
        "id",
        expr.alias("expr_cos"),
        seq_cosine_udf(F.col("a"), F.col("b")).alias("udf_cos"),
    ).collect()
    for r in out:
        assert r["expr_cos"] == r["udf_cos"], (r["id"], r["expr_cos"], r["udf_cos"])


def test_line_dedup_semantics(spark):
    """Winner = lowest doc_id containing the line; within the winner,
    first occurrence only; reassembly preserves original order; a doc
    losing every line survives as an empty row."""
    from logpipe.traindata.dedup import line_dedup

    rows = [
        (1, "alpha\nshared\nbeta"),
        (2, "shared\ngamma"),          # 'shared' lost to doc 1
        (3, "gamma\ngamma\ndelta"),    # 'gamma' lost to doc 2; in-doc dup
        (4, "shared"),                 # loses everything
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert out[1]["text"] == "alpha\nshared\nbeta" and out[1]["n_lines_kept"] == 3
    assert out[2]["text"] == "gamma" and out[2]["n_lines_kept"] == 1
    assert out[3]["text"] == "delta" and out[3]["n_lines_kept"] == 1
    assert out[4]["text"] == "" and out[4]["n_lines_kept"] == 0


def test_normalize_controls_rules(spark):
    from logpipe.traindata.textstats import normalize_controls

    raw = "  a\x07b\t\tc d ​e­"  # ­ (soft hyphen) untouched
    df = spark.createDataFrame([(1, raw)], "id long, t string")
    got = df.select(normalize_controls(F.col("t")).alias("n")).collect()[0]["n"]
    assert got == "a b c d e­".replace("a b", "ab")  # BEL stripped joins a+b
    assert got == "ab c d e­"


def test_domain_blocklist_filter(spark):
    from logpipe.traindata.textstats import domain_blocklist_filter

    rows = [
        (1, "see https://ok.example.com/x"),
        (2, "see http://spam.bad/x and https://ok.example.com/y"),
        (3, "no urls at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in domain_blocklist_filter(df, ["spam.bad"]).collect()}
    assert kept == {1, 3}


def test_gopher_keep_branches(spark):
    from logpipe.traindata.textstats import gopher_keep

    good = " ".join(f"word{i}" for i in range(60))
    short = "tiny doc"
    repetitive = " ".join(["dup dup"] * 40)
    rows = [(1, good), (2, short), (3, repetitive)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["keep"] for r in gopher_keep(df, min_tokens=20).collect()}
    assert out[1] is True
    assert out[2] is False   # under min_tokens
    assert out[3] is False   # dup-bigram + top-token blowout
