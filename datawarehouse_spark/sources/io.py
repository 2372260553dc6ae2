"""Warehouse IO — SURVEY.md §2.1 (S2-S7, S10-S14).

Partitioned Hive-style layout, CTAS, dynamic-partition insert,
small-file compaction and the Parquet merge/upsert fallback (the
container has no Delta jars; `merge_upsert` is the documented
full-partition-rewrite fallback of SURVEY §7.3.5 — on a Delta-enabled
cluster it becomes a one-line MERGE INTO).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "overwrite") -> None:
    """S2/S3 — multi-level Hive-style partition layout (the reference's
    4-level PARTITIONED BY re-layout, docs/HiveSQL.md:42-55): coarse
    index via directory pruning; Catalyst prunes matching dirs.

    S5 — dynamic partition insert (docs/HiveSQL.md:60-63): rows route
    to partition dirs from their column values; with
    partitionOverwriteMode=dynamic only touched partitions rewrite."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def ctas(spark: SparkSession, name: str, query: str,
         partition_cols: list[str] | None = None) -> None:
    """S4 — CREATE TABLE AS SELECT (docs/HiveSQL.md:114-157)."""
    df = spark.sql(query)
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.format("parquet").saveAsTable(name)


def _leaf_parquet_dirs(path: str) -> list[str]:
    """Directories that directly hold parquet files: the root for an
    unpartitioned table, else every Hive-style leaf partition dir."""
    import os

    leaves = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        if any(f.endswith(".parquet") for f in filenames):
            leaves.append(dirpath)
    return leaves


def compact_small_files(spark: SparkSession, path: str,
                        target_files_per_partition: int = 1,
                        closed_partitions: list[str] | None = None) -> list[str]:
    """S10 — **in-place, atomic** small-file compaction for streaming
    sinks (docs/实时数仓.md:99-101 — the reference's async merge that
    must not touch in-flight files).

    Per leaf partition dir: rewrite into ``target_files_per_partition``
    files in a sibling temp dir, then swap via two directory renames
    (atomic on POSIX; on object stores the same protocol runs against
    the manifest layer — see :mod:`..sources.snapshot`). In-flight
    partitions are protected by ``closed_partitions``: when given, only
    those relative partition dirs (e.g. ``["dt=2019-03-01"]``) are
    compacted — at scale the streaming job passes its watermark-closed
    partitions here. Returns the compacted dirs.
    """
    import os
    import shutil
    import uuid

    root = os.path.abspath(path)
    leaves = _leaf_parquet_dirs(root)
    if closed_partitions is not None:
        allowed = {os.path.join(root, p.strip("/")) for p in closed_partitions}
        leaves = [d for d in leaves if d in allowed]
    done = []
    for leaf in leaves:
        token = uuid.uuid4().hex[:8]
        tmp = f"{leaf}.__compact_{token}__"
        old = f"{leaf}.__retire_{token}__"
        # partition-dir reads drop the (dir-encoded) partition columns,
        # which is exactly right: the rewritten files go back under the
        # same dir name, so the Hive layout is unchanged
        spark.read.parquet(leaf).coalesce(target_files_per_partition) \
            .write.mode("overwrite").parquet(tmp)
        os.rename(leaf, old)
        os.rename(tmp, leaf)
        shutil.rmtree(old)
        done.append(leaf)
    return done


def merge_upsert(current: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """S11 — upsert (Kudu update semantics, docs/kudu.md:19): updated keys
    replace current rows, new keys append. Anti-join + union — the
    Parquet fallback for Delta MERGE INTO."""
    survivors = current.join(updates, [key], "left_anti")
    return survivors.unionByName(updates)


def merge_upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    partition_col: str = "dt",
) -> list:
    """S11 at scale — partition-scoped upsert over a Hive-layout table.

    The full-table rewrite of :func:`merge_upsert` cannot hold at
    100 TB; this variant touches only the partitions that contain
    updated keys: prune the read to those partitions (directory
    pruning), anti-join + union within them, and rewrite with dynamic
    partition overwrite so untouched partition dirs are neither read
    nor written (asserted via file mtimes in tests/test_io_and_skew.py).
    `updates` must carry ``partition_col``; keys never move partitions
    (the upsert is partition-local — Kudu range-partition semantics,
    docs/kudu.md:19). On a Delta-enabled cluster this becomes MERGE
    INTO with a partition predicate. Returns the rewritten partitions.
    """
    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
    current = spark.read.parquet(path).filter(F.col(partition_col).isin(parts))
    merged = current.join(
        updates.select(key).distinct(), [key], "left_anti"
    ).unionByName(updates)
    # materialize BEFORE overwriting: the plan reads the same files the
    # write replaces, which is committer-dependent (safe with the local
    # staging committer, corruptible with direct-write committers) —
    # and a mid-commit failure must not lose the source rows. For full
    # atomicity + pinned readers use sources.snapshot.SnapshotTable.
    merged = merged.localCheckpoint(eager=True)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return parts


def scd2_apply(current: DataFrame, updates: DataFrame, key: str,
               effective_col: str = "eff_version") -> DataFrame:
    """SCD2 (缓慢变化维, docs/数据模型.md:41-44): close out changed rows
    (is_current=false) and append the new version.

    `current` must carry (eff_version, is_current); `updates` carries the
    new attribute values for changed keys only.

    Scan economy (the advisor's repeated-scan lint caught the naive
    anti+semi+agg form scanning the dim 3× / 7 FileScans total): the
    changed-key set broadcasts ONCE into a single full-width pass over
    `current` — unchanged rows pass through, changed rows flip
    is_current via a CASE, no anti/semi pair. The only other touch of
    `current` is the new-version lookup, a (key, eff_version)
    column-pruned scan pre-filtered by the same broadcast and
    aggregated to |changed keys| rows. Nothing about `current`
    shuffles; `updates` is the small side by contract.
    """
    changed_keys = updates.select(key).distinct()
    chg = F.broadcast(changed_keys.withColumn("_chg", F.lit(True)))
    # pass 1 (full width): close changed rows in place
    old_rows = (
        current.join(chg, [key], "left")
        .withColumn(
            "is_current",
            F.when(F.col("_chg").isNotNull(), F.lit(False))
            .otherwise(F.col("is_current")),
        )
        .drop("_chg")
    )
    # pass 2 (two columns, changed keys only): next version number
    max_ver = (
        current.select(key, effective_col)
        .join(chg, [key], "left_semi")
        .groupBy(key)
        .agg(F.max(effective_col).alias("_mv"))
    )
    fresh = (
        updates.join(max_ver, [key], "left")
        .withColumn(effective_col, F.coalesce(F.col("_mv") + 1, F.lit(1)))
        .drop("_mv")
        .withColumn("is_current", F.lit(True))
    )
    return old_rows.unionByName(fresh.select(*current.columns))


def delete_rows(current: DataFrame, predicate) -> DataFrame:
    """S13-as-mutation / Kudu delete: anti-filter rewrite."""
    return current.filter(~predicate)


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int = 8, sort: bool = True) -> None:
    """Bucketed table layout: pre-hash-partition (and optionally
    pre-sort) by the join/agg key at write time, so every later
    equi-join or aggregation on that key runs WITHOUT an Exchange —
    the co-located-join strategy that makes repeated 100 TB fact⋈fact
    joins affordable (one shuffle at ingest, zero per query).
    Asserted shuffle-free in tests/test_plans.py."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # the in-memory catalog forgets managed tables between sessions but
    # their warehouse dirs survive; clear a stale location
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    if wh:
        shutil.rmtree(f"{wh}/{table.lower()}", ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.format("parquet").saveAsTable(table)


def analyze_table(spark: SparkSession, table: str,
                  columns: list[str] | None = None) -> None:
    """CBO statistics (SURVEY §4.1: `Statistics: Num rows/Data size`
    drive the reference's plans): row/size stats plus optional per-column
    histograms feeding Spark's cost-based join reordering
    (`spark.sql.cbo.enabled` in the session profile)."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")


def write_clustered(df: DataFrame, path: str, cluster_cols: list[str],
                    n_files: int = 8) -> None:
    """Clustered (z-order-lite) write: range-repartition on
    ``cluster_cols`` then sort within each output file, so each parquet
    file/row-group carries a NARROW, near-disjoint min/max range for
    the cluster columns and predicate pushdown can skip whole files.

    This is the storage-side half of data skipping (Delta's OPTIMIZE
    ZORDER for the single/prefix-column case): at 100 TB, a point or
    range predicate on the cluster column prunes to O(matching files)
    instead of scanning every file whose random row order makes every
    min/max span the full domain. Range partitioning samples the
    column distribution, so files are also size-balanced under skew
    (unlike hash, which balances counts per distinct value only).
    Footer-stat tightness is asserted in tests via pyarrow metadata.
    """
    cols = [F.col(c) for c in cluster_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def read_resilient(spark: SparkSession, path: str,
                   policy: str = "fail") -> DataFrame:
    """Parquet read with an explicit corrupt-file policy — the knob a
    100 TB scan needs spelled out, because at that scale partially
    written or bit-rotted files are WHEN, not IF.

    ``policy``:
      * ``"fail"`` (default) — corruption aborts the job. The right
        default: silent data loss is worse than a failed run. Pinned
        explicitly (``ignoreCorruptFiles=false`` on the reader), so
        the guarantee holds even on a cluster whose ambient
        ``spark.sql.files.ignoreCorruptFiles=true`` would otherwise
        silently drop files.
      * ``"skip"`` — sets ``spark.sql.files.ignoreCorruptFiles`` for
        THIS read only (DataFrameReader option, not a session-wide
        mutation): unreadable files are dropped and the scan
        continues. For quarantine-then-reprocess pipelines; pair with
        a file-count audit so the drop is observed, never silent.

    Session configs are untouched either way — policy is visible at
    the call site, not ambient state.
    """
    if policy not in ("fail", "skip"):
        raise ValueError(f"policy must be 'fail' or 'skip', got {policy!r}")
    reader = spark.read.option(
        "ignoreCorruptFiles", "true" if policy == "skip" else "false"
    )
    return reader.parquet(path)


def table_checksum(df: DataFrame, group_by, canon_cols) -> DataFrame:
    """Order-independent partition checksums for cross-system
    reconciliation (the anti-entropy primitive behind the reference's
    own migrate-and-compare methodology, docs/sql调优.md:91 —
    generalized from "rerun both and diff" to "exchange one checksum
    row per partition"). Each row's CANONICALIZED columns (caller
    supplies engine-portable renderings: decimal-string for money,
    ISO strings for dates — never raw double-to-string) concatenate
    into one line, hash to a 60-bit md5-prefix BIGINT, and XOR-fold
    per group: XOR is commutative/associative, so the checksum is
    independent of row order, partitioning, and merge schedule, and
    any single-row difference flips it.

    Scale shape: one scan, map-side partial bit_xor, one groups-sized
    shuffle — the comparison between two warehouses then exchanges
    |groups| rows instead of the table.
    """
    row = F.concat_ws("|", *canon_cols)
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("bigint")
    gb = [F.col(g) if isinstance(g, str) else g for g in group_by]
    return (
        df.select(*gb, h.alias("_h"))
        .groupBy(*[c for c in df.select(*gb).columns])
        .agg(
            F.expr("bit_xor(_h)").alias("checksum"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )
