"""The driver registry's construction contract, machine-checked."""

from __future__ import annotations

import glob
import os

from conftest import count_jobs

SF = "/root/testdata/sf0.001"

# the eager gates the logpipe.plans.driver_queries docstring names:
# building these runs Spark jobs by design
EAGER = {
    "flagship_rules_route_counts",
    "streaming_route_counts",
    "curated_corpus_v5",
    "dup_span_trim",
    "dup_span_stats",
}

# entries outside EAGER whose builders still run jobs, and why: each
# cuts lineage with logpipe.materialize before a self-join or an
# iterative loop (the cut is eager), or collects a small table to the
# driver
BUILDS_WITH_JOBS = {
    "minhash_lsh_dups": "materializes the signature table before the self-join",
    "near_dup_clusters": "label propagation materializes each round and counts changes",
    "near_dup_clusters_star": "star rounds materialize and count each round",
    "near_dup_survivors": "builds on near_dup_clusters' propagation rounds",
    "simhash_near_dups": "materializes the signature table before the self-join",
    "cosine_lsh_near_dups": "materializes the banded table before the self-join",
    "ann_ivf_topk": "ivf_assign collects the centroid rows to the driver",
}


def test_lazy_registry_entries_build_without_jobs(spark, monkeypatch):
    """Every registered entry outside the five eager gates builds its
    frame with zero Spark jobs, except the listed builders that cut
    lineage (BUILDS_WITH_JOBS). Reading a parquet file infers its
    schema with one job per read, which is the reader's work, not the
    builder's: the probe hands the reader each table's schema, read
    once up front, so only jobs the builder itself runs are counted."""
    from pyspark.sql.readwriter import DataFrameReader

    from logpipe.materialize import persistent_rdd_ids, release_rdd_ids
    from logpipe.plans.driver_queries import queries

    schemas = {
        p: spark.read.parquet(p).schema
        for p in glob.glob(os.path.join(SF, "*.parquet"))
    }
    read_parquet = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        if len(paths) == 1 and paths[0] in schemas:
            self.schema(schemas[paths[0]])
        return read_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    qs = queries()
    assert EAGER <= set(qs) and set(BUILDS_WITH_JOBS) <= set(qs)
    ran_jobs = set()
    for name, build in qs.items():
        if name in EAGER:
            continue
        pre = persistent_rdd_ids(spark)
        try:
            _, jobs = count_jobs(spark, lambda: build(spark, SF), f"registry-{name}")
        finally:
            release_rdd_ids(spark, persistent_rdd_ids(spark) - pre)
        if jobs:
            ran_jobs.add(name)
    assert ran_jobs == set(BUILDS_WITH_JOBS)
