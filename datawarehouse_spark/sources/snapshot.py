"""Manifest-based snapshot tables — Delta-core semantics without jars.

The reference's mutable-store requirement (Kudu update/delete,
docs/kudu.md:19,28; accumulating snapshots, docs/数据模型.md:25) maps to
a transaction log over immutable Parquet: each table **version** is a
tiny JSON manifest listing its data files (plus per-file partition
values — the partition index lives in metadata, as in Delta/Iceberg).
Readers resolve a manifest once and read exactly those files, so a
reader is pinned to a consistent snapshot for its whole lifetime no
matter what commits land meanwhile; writers stage new files under
unique names and publish them with ONE atomic manifest commit
(hard-link-then-unlink: `os.link` fails if the version already exists,
giving optimistic concurrency — the loser retries on a fresh version).

Why this scales to 100 TB: data files are never rewritten in place and
never deleted by a commit (only by an explicit `vacuum` of unreferenced
files), merges rewrite only the files of **touched partitions**
(manifest partition pruning — O(changed data), not O(table)),
`optimize` rewrites only the partition values that are not already
compact (sized from Parquet footers, so a compact table costs no Spark
job), and the manifest itself is O(file count) JSON — for >10⁶ files
the same design shards the manifest, which is exactly Iceberg's
manifest-list layer.
On a Delta-enabled cluster the whole class collapses to MERGE INTO.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datawarehouse_spark.operators.reserved import reject_reserved

#: the block size Hadoop's local filesystem reports for every file
#: (``fs.local.block.size``), recorded in the statuses _scan builds
_LOCAL_BLOCK_SIZE = 32 * 1024 * 1024

#: lost commit races a write re-runs before ConcurrentCommitError
#: reaches its caller (see SnapshotTable._commit_next)
_MAX_RETRIES = 3

#: the directory name Spark's partitionBy gives a null (or empty-string)
#: partition value
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _pkey(value: object) -> str | None:
    """The key a partition value is matched on: a manifest's recorded
    value, a merge source's value (cast to string by Spark), or one a
    reader asks for. Null and the empty string are one key, because
    Spark's partitionBy writes both to the default partition."""
    return None if value is None or value == "" else str(value)


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — re-read and retry."""


class SnapshotTable:
    """A versioned Parquet table: `path/_manifests/v{N}.json` +
    immutable data files under `path/data/`."""

    def __init__(self, spark: SparkSession, path: str,
                 partition_col: str | None = None):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.partition_col = partition_col
        self._mdir = os.path.join(self.path, "_manifests")
        self._ddir = os.path.join(self.path, "data")

    # -- creation ---------------------------------------------------------
    @classmethod
    def create(cls, spark: SparkSession, df: DataFrame, path: str,
               partition_col: str | None = None) -> "SnapshotTable":
        t = cls(spark, path, partition_col)
        os.makedirs(t._mdir, exist_ok=True)
        os.makedirs(t._ddir, exist_ok=True)
        entries = t._stage(df)
        t._commit(1, entries, df.schema.json())
        return t

    # -- version resolution ----------------------------------------------
    def versions(self) -> list[int]:
        return sorted(
            int(f[1:-5]) for f in os.listdir(self._mdir)
            if f.startswith("v") and f.endswith(".json")
        )

    def current_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no snapshot manifests under {self._mdir}")
        return vs[-1]

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self._mdir, f"v{version}.json")) as fh:
            return json.load(fh)

    @staticmethod
    def _schema(m: dict) -> StructType:
        return StructType.fromJson(json.loads(m["schema"]))

    # -- read -------------------------------------------------------------
    def read(self, version: int | None = None,
             partitions: list | None = None) -> DataFrame:
        """A DataFrame over exactly one snapshot's files. The file list
        is resolved NOW, so the returned frame keeps seeing this
        snapshot even if later versions commit (files are immutable and
        survive until `vacuum`). `partitions` prunes via the manifest —
        untouched files are never opened. A ``version`` with no
        manifest (never committed, or vacuumed) raises
        ``FileNotFoundError``.

        A ``partitions`` value matches as Spark names its partition
        directory: cast to the partition column's type, then to string
        (``True`` is ``'true'``, ``1e-5`` is ``'1.0E-5'``); a value the
        type cannot hold raises Spark's cast error.

        Scale shape: O(selected files) metadata, all of it from the
        manifest plus one local ``stat`` per file (see :meth:`_scan`);
        no Spark job runs before the frame executes, whatever the live
        file count (the cast is a literal-only query, evaluated on the
        driver). A file already deleted by ``vacuum`` raises
        ``FileNotFoundError`` here, at call time."""
        m = self._manifest(
            self.current_version() if version is None else version)
        entries = m["files"]
        if partitions is not None:
            if self.partition_col and partitions:
                t = self._schema(m)[self.partition_col].dataType.simpleString()
                partitions = [r[0] for r in self.spark.sql(
                    "SELECT CAST(c AS STRING) FROM VALUES "
                    + ", ".join([f"(CAST(? AS {t}))"] * len(partitions))
                    + " AS v(c)", args=list(partitions)).collect()]
            want = {_pkey(p) for p in partitions}
            entries = [e for e in entries if _pkey(e.get("partition")) in want]
        return self._scan(m, entries)

    def _scan(self, m: dict, entries: list[dict]) -> DataFrame:
        """The Parquet scan of exactly ``entries`` of manifest ``m`` —
        the table's one reader construction.

        ``spark.read.parquet(*paths)`` would list the files again (a
        parallel listing job once past Spark's 32-path threshold) and
        infer the schema from their footers (another job), although
        the manifest already holds both. Spark has no public API for a
        known file list, so this builds the file-source relation
        directly: an ``InMemoryFileIndex`` over the entries' paths whose
        private file-status cache is pre-filled from one driver-side
        ``os.stat`` per entry (the class is local-filesystem-only), no
        partition inference, and the manifest schema made nullable, as
        file sources read it. The result is an ordinary ``FileScan
        parquet``: filters and projections still reach the scan.

        Scale shape: O(len(entries)) Py4J calls and stats, O(1) per
        file; no Spark job before execution."""
        jvm, jss = self.spark._jvm, self.spark._jsparkSession
        ds = jvm.org.apache.spark.sql.execution.datasources
        fs = jvm.org.apache.hadoop.fs
        # bound once: each package attribute lookup is a Py4J round trip
        hpath, status = fs.Path, fs.FileStatus
        new_array = self.spark.sparkContext._gateway.new_array
        # a cache of this scan's own (unbounded, no expiry), never the
        # session-shared FileStatusCache: its entries must not outlive
        # the scan or leak into other readers of the same paths
        cache = ds.SharedInMemoryCache(2**62, -1).createForNewClient()
        roots = jvm.java.util.ArrayList()
        for e in entries:
            p = os.path.join(self._ddir, e["file"])  # clone entries are absolute
            st = os.stat(p)
            jp = hpath("file:" + p)
            leaf = new_array(status, 1)
            leaf[0] = status(st.st_size, False, 1, _LOCAL_BLOCK_SIZE,
                             st.st_mtime_ns // 1_000_000, jp)
            cache.putLeafFiles(jp, leaf)
            roots.add(jp)
        none = jvm.scala.Option.empty()
        no_opts = jvm.PythonUtils.toScalaMap({})
        no_parts = ds.PartitionSpec.emptySpec()
        index = ds.InMemoryFileIndex(
            jss, jvm.PythonUtils.toSeq(roots), no_opts, none, cache,
            jvm.scala.Option.apply(no_parts), none,
        )
        relation = ds.HadoopFsRelation(
            index, no_parts.partitionColumns(),
            jss.parseDataType(m["schema"]).asNullable(), none,
            ds.parquet.ParquetFileFormat(), no_opts, jss,
        )
        return DataFrame(jss.baseRelationToDataFrame(relation), self.spark)

    # -- write ------------------------------------------------------------
    def _stage(self, df: DataFrame) -> list[dict]:
        """Write df's rows as new immutable files; return manifest
        entries. Partitioned tables stage via partitionBy on a DUPLICATE
        ``__pv`` column, so each file carries one partition value, taken
        from its ``__pv=`` directory name (None on unpartitioned
        tables), while the real partition column stays inside the data
        files — read() then needs no dir parsing or column
        re-attachment.

        The recorded value is the directory name unescaped: Spark
        writes ``%XX`` for the characters it escapes (``x:y`` becomes
        ``x%3Ay``), which ``urllib.parse.unquote`` exactly inverts, and
        its default-partition name (a null or empty value) is recorded
        as None. Manifests written before this rule keep the escaped
        names, so a merge or a ``read(partitions=...)`` does not match
        such a file's escaped or null value."""
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        entries: list[dict] = []
        try:
            if self.partition_col:
                df.withColumn("__pv", F.col(self.partition_col)) \
                    .write.partitionBy("__pv").parquet(staging)
            else:
                df.write.parquet(staging)
            for dirpath, _dirs, files in os.walk(staging):
                base = os.path.basename(dirpath)
                pval = None
                if base.startswith("__pv="):
                    raw = base.split("=", 1)[1]
                    pval = None if raw == _DEFAULT_PARTITION else unquote(raw)
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    name = f"part-{uuid.uuid4().hex}.parquet"
                    os.rename(os.path.join(dirpath, f),
                              os.path.join(self._ddir, name))
                    entries.append({"file": name, "partition": pval})
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return entries

    def _commit(self, version: int, entries: list[dict], schema_json: str) -> None:
        """Atomic publish: link(tmp → v{N}.json) fails iff v{N} exists."""
        tmp = os.path.join(self._mdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(
                {"version": version, "schema": schema_json, "files": entries},
                fh,
            )
        target = os.path.join(self._mdir, f"v{version}.json")
        try:
            os.link(tmp, target)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version {version} of {self.path} was committed concurrently"
            ) from None
        finally:
            os.unlink(tmp)

    def _commit_next(
        self, attempt: Callable[[dict], tuple[list[dict], str]]
    ) -> int:
        """Commit the next version: the one commit loop of every writer
        of an existing table; returns the version committed.

        Each pass resolves the current version ``v`` and its manifest
        ``m``, calls ``attempt(m) -> (entries, schema_json)`` and
        commits them as ``v + 1``. When another writer wins that
        version, the pass re-runs against the winner's snapshot, up to
        ``_MAX_RETRIES`` times; then the ConcurrentCommitError reaches
        the caller. Writers whose content depends on the snapshot they
        read (merge, delete, optimize) build it inside ``attempt``, so a
        retry re-reads the winner's files (Delta's MERGE conflict
        semantics); append and overwrite stage their files once, before
        the loop (immutable, uniquely named files are valid under any
        base version). Files staged by a lost pass are referenced by no
        manifest and die at the next ``vacuum``."""
        for retry in range(_MAX_RETRIES + 1):
            v = self.current_version()
            entries, schema_json = attempt(self._manifest(v))
            try:
                self._commit(v + 1, entries, schema_json)
                return v + 1
            except ConcurrentCommitError:
                if retry == _MAX_RETRIES:
                    raise

    def append(self, df: DataFrame) -> int:
        """New version = old file set + newly staged files.

        The files are staged ONCE, before the commit loop
        (:meth:`_commit_next` holds the retry contract): appends
        commute, so a lost race re-commits the same files on top of the
        winner's version with no re-merge — the Delta/Iceberg
        blind-append fast path."""
        staged = self._stage(df)
        return self._commit_next(lambda m: (m["files"] + staged, m["schema"]))

    def overwrite(self, df: DataFrame) -> int:
        staged, schema_json = self._stage(df), df.schema.json()
        return self._commit_next(lambda m: (staged, schema_json))

    def upsert(self, updates: DataFrame, key: str) -> int:
        """Kudu-style upsert (docs/kudu.md:19): updated keys replace
        their current rows whole, new keys append. This is
        :meth:`merge` with its defaults — whole-row update, insert
        unmatched, no delete — so it carries merge's contract: a unique
        ``key`` in ``updates``, the partition column on partitioned
        tables (keys must not move partitions), and a rewrite of only
        the touched partitions' files."""
        return self.merge(updates, key)

    def merge(
        self,
        source: DataFrame,
        on: str,
        update_set: dict[str, str] | None = None,
        update_when: str | None = None,
        delete_when: str | None = None,
        insert_unmatched: bool = True,
    ) -> int:
        """Full ``MERGE INTO`` (Delta/Iceberg/ANSI semantics;
        :meth:`upsert` is the call with every clause at its default):

        * WHEN MATCHED [AND ``delete_when``] THEN DELETE — evaluated
          first, like Delta's clause ordering;
        * WHEN MATCHED [AND ``update_when``] THEN UPDATE SET — either
          ``update_set`` (target column → SQL expression over the
          aliases ``t`` and ``s``, unlisted columns keep ``t``'s
          value) or, with ``update_set=None``, whole-row replacement
          by the source row;
        * WHEN NOT MATCHED THEN INSERT (``insert_unmatched``) — the
          source row, which must then carry every target column.

        The source must be UNIQUE on ``on`` — multiple source matches
        for one target row make MERGE nondeterministic, so that is a
        loud ValueError exactly as Delta raises. Expressed as ONE
        full-outer join + projection over the touched file set: on a
        partitioned table the source must carry the partition column,
        keys must not move partitions, and only the files of the
        partition values the source holds are read and rewritten; the
        other entries carry over to the next version verbatim (manifest
        partition pruning). Target rows matched by no source row and
        source rows matched by no target row ride through the same
        join — no second pass, no window. A lost commit race re-runs
        the join against the winner's version (:meth:`_commit_next`).

        Scale shape: one source aggregate (row count, distinct keys and
        touched partition values, computed once, outside the retry
        loop), one read of the touched files and one staged write.
        Target columns, the read schema and the file list come from the
        manifest, so nothing scales with the untouched files: no
        listing of them and no footer inference."""
        # _t/_s are the match markers injected below; a user column of
        # either name would be silently REPLACED by the withColumn and
        # every rewritten row committed with the marker literal
        # (operators/reserved.py)
        markers = ("_t", "_s")
        reject_reserved("merge source", source.columns, markers)
        # one aggregate validates the source and finds the partitions it
        # touches; struct() keeps nulls countable: a null key is one
        # distinct value, and a null partition value is collected too.
        # The values are cast to string as Spark does for partition
        # directory names, so they compare with the manifest's recorded
        # values whatever the column type (a boolean is "true", not "True")
        aggs = [F.count(F.lit(1)), F.count_distinct(F.struct(on))]
        if self.partition_col:
            aggs.append(F.collect_set(F.struct(
                F.col(self.partition_col).cast("string"))))
        n_src, n_keys, *pv = source.agg(*aggs).first()
        if n_keys != n_src:
            raise ValueError(
                f"merge: source has {n_src} rows but {n_keys} distinct "
                f"{on!r} keys — MERGE requires a unique source key "
                "(multiple matches per target row are nondeterministic; "
                "pre-aggregate the source)"
            )
        parts = {_pkey(r[0]) for r in pv[0]} if pv else None

        def attempt(m: dict) -> tuple[list[dict], str]:
            # the target checks run per pass: they hold for the version
            # this pass merges into, not for one read before the race
            cols = self._schema(m).names
            reject_reserved("merge target", cols, markers)
            unknown = sorted(set(update_set or ()) - set(cols))
            if unknown:
                raise ValueError(
                    f"merge: update_set names unknown target column(s) "
                    f"{unknown} — a typo here would otherwise commit a "
                    "version with no update applied (Delta raises an "
                    "unresolved-column error for the same mistake)"
                )
            if parts is None:
                touched, kept = m["files"], []
            else:
                touched = [e for e in m["files"] if _pkey(e["partition"]) in parts]
                kept = [e for e in m["files"] if _pkey(e["partition"]) not in parts]
            j = (
                self._scan(m, touched).withColumn("_t", F.lit(1)).alias("t")
                .join(
                    source.withColumn("_s", F.lit(1)).alias("s"),
                    F.col(f"t.{on}") == F.col(f"s.{on}"),
                    "full_outer",
                )
            )
            matched = F.col("t._t").isNotNull() & F.col("s._s").isNotNull()
            del_cond = matched & (
                F.expr(delete_when) if delete_when else F.lit(False)
            )
            upd_cond = matched & (
                F.expr(update_when) if update_when else F.lit(True)
            )
            out_cols = []
            for c in cols:
                if update_set is None:
                    upd_val = F.col(f"s.{c}")
                else:
                    upd_val = (
                        F.expr(update_set[c]) if c in update_set
                        else F.col(f"t.{c}")
                    )
                val = (
                    F.when(upd_cond, upd_val)
                    .when(F.col("t._t").isNotNull(), F.col(f"t.{c}"))
                    .otherwise(F.col(f"s.{c}"))  # source-only insert
                )
                out_cols.append(val.alias(c))
            keep_row = (
                # matched rows survive unless deleted; target-only rows
                # always survive; source-only rows survive iff inserting
                F.when(matched, ~del_cond)
                .when(F.col("t._t").isNotNull(), F.lit(True))
                .otherwise(F.lit(insert_unmatched))
            )
            merged = j.filter(keep_row).select(*out_cols)
            return kept + self._stage(merged), m["schema"]

        return self._commit_next(attempt)

    def delete(self, predicate) -> int:
        """DELETE WHERE predicate — the next version holds every live
        row the predicate rejects. It reads and rewrites EVERY live
        file: there is no partition pruning, so a predicate on the
        partition column still restages the whole table (merge with
        ``delete_when`` rewrites only the touched partitions). A lost
        commit race re-runs the filter over the winner's version."""
        return self._commit_next(lambda m: (
            self._stage(self._scan(m, m["files"]).filter(~predicate)),
            m["schema"],
        ))

    def optimize(self, zorder_by: list[str] | None = None,
                 target_rows_per_file: int = 1_000_000) -> int:
        """OPTIMIZE — the lakehouse maintenance command: rewrite the
        CURRENT snapshot's data files bin-packed (and, with
        ``zorder_by``, Z-ORDER-clustered) as a NEW version. Content is
        row-identical — only layout changes — so pinned readers and
        time travel to every earlier version are untouched, and the
        rewritten files die only at the next ``vacuum`` (same
        immutability contract as every other commit). A lost commit
        race re-plans against the winner's version.

        The rewrite is planned per partition value (an unpartitioned
        table is one group) from each live file's row count in its
        Parquet footer. A value's files carry over verbatim when they
        already are what the rewrite would produce: no file above
        ``target_rows_per_file`` and exactly ``max(1, ceil(rows /
        target_rows_per_file))`` files. Only the other values' files
        are read, packed and restaged, so optimize is idempotent: on a
        compact table it runs no Spark job and commits the unchanged
        file list as the next version (a manifest-only commit, like
        :meth:`restore`), so it always returns the version it
        committed. A value split at a range boundary by the packing
        below is rewritten alone by the next optimize, and then stays.

        ``zorder_by`` sorts the rewrite by the interleaved Morton key
        (operators/layout.py::zorder_key) via a RANGE repartition, so
        every listed dimension clusters at once and per-file min/max
        zone maps tighten — the OPTIMIZE ZORDER BY of Delta/Iceberg.
        Clustering is a property of the whole file set, so with it
        every file is rewritten. Without it the rewrite is pure
        bin-packing (small-file compaction under the table's version
        control — the managed sibling of
        sources/io.py::compact_small_files).

        Scale shape: O(live files) footer reads on the driver (local
        filesystem, like :meth:`_scan`'s ``stat``), no count job, and
        O(rewritten rows) of I/O: one read of the rewritten files, one
        range (or hash) exchange and one write; their file count ≈
        ceil(rows / target_rows_per_file), so a micro-batch-fragmented
        value collapses to row-proportional files. Partitioned tables
        range-partition on (partition value, cluster key) so each
        output split holds one value (boundary splits at most two —
        ≤ one extra file per value) and oversized values still split;
        the rewrite preserves dir-encoded partition pruning."""
        import pyarrow.parquet as pq

        from datawarehouse_spark.operators.layout import zorder_key

        target = int(target_rows_per_file)

        def files_for(n_rows: int) -> int:
            return max(1, -(-n_rows // target))

        def attempt(m: dict) -> tuple[list[dict], str]:
            rows: dict[str | None, list[int]] = {}
            for e in m["files"]:
                footer = pq.read_metadata(os.path.join(self._ddir, e["file"]))
                rows.setdefault(e["partition"], []).append(footer.num_rows)
            redo = {
                pv for pv, ns in rows.items()
                if zorder_by or max(ns) > target or len(ns) != files_for(sum(ns))
            }
            if not redo:
                return m["files"], m["schema"]
            kept = [e for e in m["files"] if e["partition"] not in redo]
            cur = self._scan(
                m, [e for e in m["files"] if e["partition"] in redo])
            n_files = files_for(sum(sum(rows[pv]) for pv in redo))
            zdrop: list[str] = []
            if zorder_by:
                # zorder_key injects __zo plus z1..zN scratch columns via
                # withColumn, which silently REPLACES a same-named user
                # column — and the drop below would then delete the
                # user's data from the committed version
                # (operators/reserved.py)
                zdrop = ["__zo"] + [f"z{i + 1}" for i in range(len(zorder_by))]
                reject_reserved("optimize(zorder_by=...)", cur.columns, zdrop)
                cur = zorder_key(cur, zorder_by, out_col="__zo")
            if self.partition_col:
                # RANGE over (partition value, cluster key): each Spark
                # partition then holds ONE value (boundary partitions at
                # most two), so _stage's partitionBy split adds at most
                # one extra file per value instead of fanning every value
                # across every Spark partition; oversized values still
                # split across range boundaries (equal leading keys are
                # separable on the second key)
                second = F.col("__zo") if zorder_by else F.xxhash64(
                    *[F.col(c) for c in cur.columns]
                )
                packed = cur.repartitionByRange(
                    n_files, F.col(self.partition_col), second
                )
                if zorder_by:
                    packed = packed.sortWithinPartitions(
                        self.partition_col, "__zo"
                    )
            elif zorder_by:
                packed = cur.repartitionByRange(
                    n_files, F.col("__zo")
                ).sortWithinPartitions("__zo")
            else:
                # repartition, not coalesce: coalesce can only SHRINK the
                # partition count, silently ignoring the target when the
                # snapshot reads into fewer splits than n_files
                packed = cur.repartition(n_files)
            if zdrop:
                packed = packed.drop(*zdrop)
            return kept + self._stage(packed), m["schema"]

        return self._commit_next(attempt)

    def restore(self, version: int) -> int:
        """``RESTORE TABLE ... TO VERSION AS OF v`` (Delta 2.x): commit
        a NEW version whose file set is exactly ``version``'s — a
        forward-rolling rollback, so history is preserved (the bad
        versions stay time-travelable until ``vacuum``) and pinned
        readers are untouched. Fails loudly if ``version``'s manifest
        has already been vacuumed away (same boundary as time
        travel)."""
        old = self._manifest(version)  # raises FileNotFoundError if gone
        return self._commit_next(lambda m: (old["files"], old["schema"]))

    def clone(self, dest_path: str, version: int | None = None
              ) -> "SnapshotTable":
        """SHALLOW CLONE (Delta/Iceberg snapshot export): a new table
        whose v1 manifest references the SOURCE's data files by
        absolute path — zero data copied, so cloning a 100 TB table is
        one manifest write. The clone then evolves independently
        (its own commits stage files into its own directory). A
        ``version`` with no manifest raises ``FileNotFoundError``.

        The Delta caveat applies verbatim and is the documented
        contract: ``vacuum`` on the SOURCE deletes files a shallow
        clone may still reference — vacuum only consults the source's
        own manifests. Deep-copy (``create(spark, src.read(), ...)``)
        when the source's retention is not under your control."""
        m = self._manifest(
            self.current_version() if version is None else version)
        entries = [
            {**e, "file": os.path.join(self._ddir, e["file"])}
            for e in m["files"]
        ]
        dst = SnapshotTable(self.spark, dest_path,
                            partition_col=self.partition_col)
        os.makedirs(dst._mdir, exist_ok=True)
        os.makedirs(dst._ddir, exist_ok=True)
        dst._commit(1, entries, m["schema"])
        return dst

    def vacuum(self, retain_last: int = 1) -> list[str]:
        """Drop manifests older than the last `retain_last` versions and
        delete data files no retained manifest references. Only here do
        data files die — commits never remove files, which is what makes
        pinned readers safe. ``retain_last`` below 1 raises ValueError:
        the current version is always retained."""
        if retain_last < 1:
            raise ValueError(
                f"vacuum: retain_last must be >= 1, got {retain_last} — "
                "the current version is always retained"
            )
        vs = self.versions()
        keep_vs = vs[-retain_last:]
        live = {
            e["file"] for v in keep_vs for e in self._manifest(v)["files"]
        }
        removed = []
        for f in os.listdir(self._ddir):
            if f.endswith(".parquet") and f not in live:
                os.unlink(os.path.join(self._ddir, f))
                removed.append(f)
        for v in vs[:-retain_last]:
            os.unlink(os.path.join(self._mdir, f"v{v}.json"))
        return removed


# ---------------------------------------------------------------------------
# Delta Lake interop boundary (S11 ecosystem gap — docs/kudu.md:19)
# ---------------------------------------------------------------------------

#: the exact session wiring a Delta-enabled cluster needs; kept as data
#: so the error message and the docs can never drift apart
DELTA_RECIPE = (
    "Delta Lake jars are not on this cluster's classpath. To enable the "
    "interop path, launch Spark with:\n"
    "  --packages io.delta:delta-spark_2.13:4.0.0\n"
    "  --conf spark.sql.extensions="
    "io.delta.sql.DeltaSparkSessionExtension\n"
    "  --conf spark.sql.catalog.spark_catalog="
    "org.apache.spark.sql.delta.catalog.DeltaCatalog\n"
    "then retry. SnapshotTable itself needs no jars; only "
    "to_delta()/from_delta() cross this boundary."
)


class DeltaUnavailableError(RuntimeError):
    """Delta interop requested but the connector jar is absent."""


def delta_available(spark: SparkSession) -> bool:
    """True iff the Delta data source is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")
        return True
    except Exception:
        return False


def to_delta(table: SnapshotTable, delta_path: str,
             version: int | None = None) -> None:
    """Export one snapshot version as a Delta table (the collapse point:
    on a Delta-enabled cluster SnapshotTable's manifest log hands over
    to Delta's). Raises :class:`DeltaUnavailableError` with the exact
    enablement recipe when the jars are absent — the gap is an import
    error with instructions, not a missing feature."""
    if not delta_available(table.spark):
        raise DeltaUnavailableError(DELTA_RECIPE)
    df = table.read(version=version)
    w = df.write.format("delta").mode("overwrite")
    if table.partition_col:
        w = w.partitionBy(table.partition_col)
    w.save(delta_path)


def from_delta(spark: SparkSession, delta_path: str, path: str,
               partition_col: str | None = None) -> SnapshotTable:
    """Import a Delta table's current version as a new SnapshotTable
    (same raise-with-recipe contract as :func:`to_delta`)."""
    if not delta_available(spark):
        raise DeltaUnavailableError(DELTA_RECIPE)
    df = spark.read.format("delta").load(delta_path)
    return SnapshotTable.create(spark, df, path,
                                partition_col=partition_col)


def cdc_apply(changes: DataFrame, key: str, seq_col: str,
              op_col: str, delete_op: str = "D") -> DataFrame:
    """Collapse a change-data-capture log to final table state —
    last-writer-wins per key by the log sequence, with deletes
    dropping the key (the binlog→warehouse materialization the
    reference's real-time ODS layer performs on Kafka binlog topics,
    docs/实时数仓.md:86-97; Debezium/Delta CDF apply semantics).

    One row per surviving key: the highest-`seq_col` change wins
    (`row_number` desc, ties broken by the caller providing a unique
    sequence — binlogs are per-key ordered, SURVEY §2.9 T2), then
    rows whose winning op is ``delete_op`` are dropped.

    Scale shape: ONE shuffle on the key serves the whole collapse —
    the same window-dedupe shape as S13 keep-min. In production the
    collapsed batch feeds SnapshotTable.upsert inside foreachBatch
    (tested composition: tests/test_streaming.py snapshot-registry
    restart); this operator is the deterministic batch core.
    """
    w = W.partitionBy(key).orderBy(F.col(seq_col).desc())
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.col(op_col) != delete_op)
        .drop("_rn")
    )
