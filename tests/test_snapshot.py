"""S11 manifest-based snapshot tables: Delta-core semantics (versioned
manifests, pinned readers, partition-pruned upsert, atomic commit,
vacuum) without jars — the round-2 verdict's "transaction log" gap."""

from __future__ import annotations

import contextlib
import glob
import os

import pytest
from pyspark.sql import functions as F

from datawarehouse_spark.sources.snapshot import ConcurrentCommitError, SnapshotTable
from tests.jobcount import jobs_and_tasks


def _mk(spark, tmp_path, partitioned=True):
    df = spark.createDataFrame(
        [(i, f"v{i}", "d1" if i < 50 else "d2") for i in range(100)],
        "k long, v string, dt string",
    )
    return SnapshotTable.create(
        spark, df, str(tmp_path / "snap"),
        partition_col="dt" if partitioned else None,
    )


def test_create_read_roundtrip(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert t.current_version() == 1
    assert t.read().count() == 100
    assert {r["dt"] for r in t.read().select("dt").distinct().collect()} == {"d1", "d2"}


def test_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    t = _mk(spark, tmp_path)
    d2_files_v1 = {e["file"] for e in t._manifest(1)["files"] if e["partition"] == "d2"}
    updates = spark.createDataFrame(
        [(10, "NEW", "d1"), (200, "added", "d1")], "k long, v string, dt string"
    )
    assert t.upsert(updates, "k") == 2
    cur = t.read()
    assert cur.count() == 101
    got = {r["k"]: r["v"] for r in cur.filter(F.col("k").isin(10, 200)).collect()}
    assert got == {10: "NEW", 200: "added"}
    # untouched partition's file entries carried over verbatim
    d2_files_v2 = {e["file"] for e in t._manifest(2)["files"] if e["partition"] == "d2"}
    assert d2_files_v2 == d2_files_v1


def test_reader_pinned_during_upsert(spark, tmp_path):
    """A reader resolved before a commit keeps seeing its snapshot —
    the consistency contract a plain overwrite cannot give."""
    t = _mk(spark, tmp_path)
    pinned = t.read()  # resolves v1's file list now
    updates = spark.createDataFrame([(10, "NEW", "d1")], "k long, v string, dt string")
    t.upsert(updates, "k")
    assert pinned.filter(F.col("k") == 10).first()["v"] == "v10"  # old value
    assert t.read().filter(F.col("k") == 10).first()["v"] == "NEW"


def test_time_travel_and_delete(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete(F.col("k") < 20)
    assert t.read().count() == 80
    assert t.read(version=1).count() == 100  # time travel


def test_partition_pruned_read(spark, tmp_path):
    t = _mk(spark, tmp_path)
    d1 = t.read(partitions=["d1"])
    assert d1.count() == 50
    assert {r["dt"] for r in d1.select("dt").distinct().collect()} == {"d1"}


def test_partition_values_spark_escapes_match_merge_and_read(spark, tmp_path):
    """The manifest records a partition value as the value itself, not
    Spark's directory name for it: ``x:y`` (written as ``x%3Ay``) and
    null (written as the default-partition directory, like the empty
    string) match a merge source's values and ``read(partitions=...)``.
    Recording the directory names made this merge keep the old row of
    every key beside the new one, and the pruned read return nothing.
    A merge source's values compare in Spark's string form, so a
    boolean partition (directory ``true``) matches too."""
    schema = "k long, v string, p string"
    t = SnapshotTable.create(
        spark, spark.createDataFrame(
            [(1, "a", "x:y"), (2, "b", None), (3, "c", "")], schema),
        str(tmp_path / "esc"), partition_col="p",
    )
    assert {e["partition"] for e in t._manifest(1)["files"]} == {"x:y", None}
    t.merge(spark.createDataFrame(
        [(1, "A", "x:y"), (2, "B", None), (3, "C", "")], schema), on="k")
    assert sorted((r.k, r.v, r.p) for r in t.read().collect()) == [
        (1, "A", "x:y"), (2, "B", None), (3, "C", "")]
    assert [(r.k, r.v) for r in t.read(partitions=["x:y"]).collect()] == [
        (1, "A")]
    assert sorted(r.k for r in t.read(partitions=[None]).collect()) == [2, 3]

    bools = "k long, v string, b boolean"
    tb = SnapshotTable.create(
        spark, spark.createDataFrame([(1, "a", True), (2, "b", False)], bools),
        str(tmp_path / "bool"), partition_col="b",
    )
    tb.merge(spark.createDataFrame([(1, "A", True)], bools), on="k")
    assert sorted(tuple(r) for r in tb.read().collect()) == [
        (1, "A", True), (2, "b", False)]


def test_read_partitions_match_typed_values_without_a_job(spark, tmp_path):
    """``read(partitions=...)`` matches a typed value the way Spark names
    its partition directory (``True`` is ``true``, ``1e-5`` is
    ``1.0E-5``), and resolving the selection runs no Spark job. Matching
    through Python's ``str`` read nothing for ``True`` or ``1e-5``."""
    tb = SnapshotTable.create(
        spark, spark.createDataFrame(
            [(1, True), (2, False)], "k long, b boolean"),
        str(tmp_path / "bool"), partition_col="b",
    )
    td = SnapshotTable.create(
        spark, spark.createDataFrame(
            [(1, 1e-5), (2, 2.0)], "k long, d double"),
        str(tmp_path / "dbl"), partition_col="d",
    )
    for t, values, want in [
        (tb, [True], [1]), (tb, ["true"], [1]), (tb, [False, None], [2]),
        (td, [1e-5], [1]), (td, [2], [2]), (td, [1e-5, 2.0], [1, 2]),
    ]:
        got = {}
        assert jobs_and_tasks(spark, lambda: got.setdefault(
            "df", t.read(partitions=values))) == (0, 0)
        assert sorted(r.k for r in got["df"].collect()) == want, values


def test_concurrent_commit_conflict_raises(spark, tmp_path):
    t = _mk(spark, tmp_path)
    m = t._manifest(1)
    t._commit(2, m["files"], m["schema"])
    with pytest.raises(ConcurrentCommitError):
        t._commit(2, m["files"], m["schema"])
    assert t.current_version() == 2


def test_vacuum_drops_unreferenced_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    updates = spark.createDataFrame([(10, "NEW", "d1")], "k long, v string, dt string")
    t.upsert(updates, "k")
    n_before = len(glob.glob(os.path.join(t._ddir, "*.parquet")))
    removed = t.vacuum(retain_last=1)
    assert removed  # v1's d1 files died
    live = {e["file"] for e in t._manifest(t.current_version())["files"]}
    on_disk = {os.path.basename(p) for p in glob.glob(os.path.join(t._ddir, "*.parquet"))}
    assert on_disk == live
    assert len(on_disk) < n_before
    assert t.read().count() == 100


def test_unpartitioned_append(spark, tmp_path):
    t = _mk(spark, tmp_path, partitioned=False)
    t.append(spark.createDataFrame([(500, "x", "d9")], "k long, v string, dt string"))
    assert t.current_version() == 2
    assert t.read().count() == 101
    assert t.read(version=1).count() == 100


def _lose_races(t, win, times=1):
    """Make ``t`` lose its next ``times`` commit races: each of its
    first ``times`` current_version() calls returns the version, then
    lets ``win()`` commit the next one before ``t`` can. Returns the
    list of versions ``t``'s lost commits targeted (``t._commit`` is
    wrapped to record every ConcurrentCommitError it raises), so a test
    can prove the race really happened."""
    orig_cv, orig_commit = t.current_version, t._commit
    left = [times]
    lost = []

    def stale():
        v = orig_cv()
        if left[0]:
            left[0] -= 1
            win()
        return v  # t proceeds with a now-stale base

    def commit(version, *rest):
        try:
            orig_commit(version, *rest)
        except ConcurrentCommitError:
            lost.append(version)
            raise

    t.current_version, t._commit = stale, commit
    return lost


def test_concurrent_writers_race_retry_succeeds(spark, tmp_path):
    """Two writers race the same version: the loser gets
    ConcurrentCommitError internally, retries against the fresh
    version, and BOTH writers' rows land — staged files are reused on
    retry (immutable + uniquely named), never re-written."""
    t1 = _mk(spark, tmp_path)
    t2 = SnapshotTable(spark, str(tmp_path / "snap"), partition_col="dt")
    lost = _lose_races(t1, lambda: t2.append(spark.createDataFrame(
        [(900, "w2", "d2")], "k long, v string, dt string")))
    v = t1.append(spark.createDataFrame(
        [(901, "w1", "d1")], "k long, v string, dt string"))
    assert lost == [2]
    assert v == 3  # v2 was taken by the racing writer
    cur = t1.read()
    assert cur.count() == 102
    got = {r["k"]: r["v"] for r in cur.filter(F.col("k") >= 900).collect()}
    assert got == {900: "w2", 901: "w1"}


def test_concurrent_writers_exhausted_retries_raise(spark, tmp_path):
    """A writer that loses every race gives up after 1 + 3 retries and
    surfaces ConcurrentCommitError to the caller instead of silently
    clobbering the winner."""
    t1 = _mk(spark, tmp_path)
    t2 = SnapshotTable(spark, str(tmp_path / "snap"), partition_col="dt")
    lost = _lose_races(t1, lambda: t2.append(spark.createDataFrame(
        [(990, "w2", "d2")], "k long, v string, dt string")), times=99)
    with pytest.raises(ConcurrentCommitError):
        t1.append(spark.createDataFrame(
            [(991, "w1", "d1")], "k long, v string, dt string"))
    assert lost == [2, 3, 4, 5]
    assert t1.read().filter(F.col("k") == 991).count() == 0


@pytest.mark.parametrize("writer", ["delete", "optimize", "overwrite", "restore"])
def test_rewriting_writers_retry_a_lost_race(spark, tmp_path, writer):
    """Every writer commits through the one retry loop, not only append
    and merge: a delete or optimize that loses one race re-reads the
    winner's version, so the winner's row survives the rewrite; an
    overwrite or restore re-commits its own file set on top of it."""
    t1 = _mk(spark, tmp_path)
    t2 = SnapshotTable(spark, str(tmp_path / "snap"), partition_col="dt")
    lost = _lose_races(t1, lambda: t2.append(spark.createDataFrame(
        [(900, "w2", "d2")], "k long, v string, dt string")))
    new = spark.createDataFrame([(7, "new", "d1")], "k long, v string, dt string")
    v, want = {
        "delete": lambda: (t1.delete(F.col("k") < 20),
                           set(range(20, 100)) | {900}),
        "optimize": lambda: (t1.optimize(), set(range(100)) | {900}),
        "overwrite": lambda: (t1.overwrite(new), {7}),
        "restore": lambda: (t1.restore(1), set(range(100))),
    }[writer]()
    assert lost == [2]
    assert v == 3
    assert {r.k for r in t1.read().collect()} == want
    assert {r.k for r in t1.read(version=2).collect()} == set(range(100)) | {900}


def test_every_writer_commits_through_one_loop():
    """Structural pin: only _commit_next publishes a version of an
    existing table (create and clone write a new table's v1), every
    writer calls it, and no method keeps a retry budget of its own."""
    import ast
    import inspect

    from datawarehouse_spark.sources import snapshot as S

    cls = next(n for n in ast.parse(inspect.getsource(S)).body
               if isinstance(n, ast.ClassDef) and n.name == "SnapshotTable")
    calls: dict[str, set[str]] = {}
    for fn in cls.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for n in ast.walk(fn):
            if isinstance(n, ast.FunctionDef):
                assert "max_retries" not in [a.arg for a in n.args.args
                                             + n.args.kwonlyargs], n.name
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
                calls.setdefault(n.func.attr, set()).add(fn.name)
    assert calls["_commit"] == {"_commit_next", "create", "clone"}
    assert calls["_commit_next"] == {
        "append", "overwrite", "merge", "delete", "optimize", "restore"}
    assert calls["merge"] == {"upsert"}


def test_vacuum_keeps_pinned_retained_reader_alive(spark, tmp_path):
    """A reader pinned to the retained version v{N} (file list resolved
    BEFORE vacuum) still reads correctly after vacuum deletes
    v{N-1}-only files — commits never delete data, and vacuum only
    touches files no retained manifest references."""
    t = _mk(spark, tmp_path)
    updates = spark.createDataFrame(
        [(10, "NEW", "d1"), (11, "NEW", "d1")], "k long, v string, dt string"
    )
    t.upsert(updates, "k")  # v2 rewrites d1; v1's d1 files now stale
    pinned = t.read(version=2)  # resolve v2's file list NOW
    removed = t.vacuum(retain_last=1)
    assert removed  # v1's rewritten d1 files actually died
    assert pinned.count() == 100
    assert pinned.filter(F.col("k") == 10).first()["v"] == "NEW"
    # time travel past the retention boundary is gone, explicitly
    with pytest.raises(FileNotFoundError):
        t._manifest(1)


def test_upsert_retry_remerges_against_new_version(spark, tmp_path):
    """A lost upsert race must RE-MERGE against the winner's version:
    the retried result contains the winner's rows, not a resurrection
    of the snapshot the loser first read."""
    t1 = _mk(spark, tmp_path)
    t2 = SnapshotTable(spark, str(tmp_path / "snap"), partition_col="dt")
    # the winner updates k=0 in the same partition
    lost = _lose_races(t1, lambda: t2.upsert(spark.createDataFrame(
        [(0, "WINNER", "d1")], "k long, v string, dt string"), "k"))
    v = t1.upsert(spark.createDataFrame(
        [(1, "LOSER-RETRIED", "d1")], "k long, v string, dt string"), "k")
    assert lost == [2]
    assert v == 3
    cur = t1.read()
    assert cur.filter(F.col("k") == 0).first()["v"] == "WINNER"
    assert cur.filter(F.col("k") == 1).first()["v"] == "LOSER-RETRIED"
    assert cur.count() == 100


def test_upsert_is_merge_unique_key_and_reserved_markers(spark, tmp_path):
    """upsert is merge with its defaults, so it keeps merge's source
    checks: a duplicate source key raises instead of committing a
    table with two rows for the key, and a source column named like a
    match marker raises instead of being overwritten."""
    t = _mk(spark, tmp_path)
    dup = spark.createDataFrame(
        [(10, "a", "d1"), (10, "b", "d1")], "k long, v string, dt string")
    with pytest.raises(ValueError, match="unique source key"):
        t.upsert(dup, "k")
    marker = spark.createDataFrame(
        [(10, "a", "d1", 1)], "k long, v string, dt string, _S long")
    with pytest.raises(ValueError, match=r"merge source: .*\['_S'\] collide"):
        t.upsert(marker, "k")
    assert t.current_version() == 1
    assert t.read().filter(F.col("k") == 10).count() == 1


def test_version_zero_and_bad_retain_last_raise(spark, tmp_path):
    """Version 0 is never committed (versions start at 1), so reading or
    cloning it raises FileNotFoundError like any missing version
    instead of resolving to the current snapshot; vacuum refuses to
    retain fewer than one version (0 used to delete nothing, -1 used to
    drop v1) and leaves every manifest and file in place."""
    t = _mk(spark, tmp_path)
    t.upsert(spark.createDataFrame(
        [(10, "NEW", "d1")], "k long, v string, dt string"), "k")
    with pytest.raises(FileNotFoundError):
        t.read(version=0)
    with pytest.raises(FileNotFoundError):
        t.clone(str(tmp_path / "clone"), version=0)
    files = sorted(os.listdir(t._ddir))
    for retain_last in (0, -1):
        with pytest.raises(ValueError, match="retain_last"):
            t.vacuum(retain_last=retain_last)
    assert t.versions() == [1, 2]
    assert sorted(os.listdir(t._ddir)) == files


def test_delta_interop_boundary(spark, tmp_path):
    """S11 Delta gap as a tested boundary (VERDICT r6 ask #4): without
    the connector jars, to_delta()/from_delta() must raise the typed
    error carrying the full enablement recipe (packages + both confs)
    BEFORE touching any data; with jars present they run for real."""
    from datawarehouse_spark.sources import snapshot as S

    t = S.SnapshotTable.create(
        spark,
        spark.createDataFrame([(1, "a")], "id long, v string"),
        str(tmp_path / "snap"),
    )
    if S.delta_available(spark):  # pragma: no cover - jar-present envs
        S.to_delta(t, str(tmp_path / "delta"))
        t2 = S.from_delta(spark, str(tmp_path / "delta"),
                          str(tmp_path / "snap2"))
        assert t2.read().count() == 1
        return
    for call in (
        lambda: S.to_delta(t, str(tmp_path / "delta")),
        lambda: S.from_delta(spark, str(tmp_path / "delta"),
                             str(tmp_path / "snap2")),
    ):
        with pytest.raises(S.DeltaUnavailableError) as ei:
            call()
        msg = str(ei.value)
        assert "io.delta:delta-spark" in msg
        assert "DeltaSparkSessionExtension" in msg
        assert "DeltaCatalog" in msg
    assert not (tmp_path / "delta").exists()


def test_scd2_on_snapshot_store_version_pinned_join_parity(spark, tmp_path):
    """VERDICT r7 ask #8 (stretch) — the accumulating-snapshot demo
    (reference docs/数据模型.md:25, docs/kudu.md:19): the SCD2 dim lives
    IN the snapshot store, the fact table advances through
    SnapshotTable.upsert (the merge machinery), and time travel must
    reproduce the PRE-merge join bit-for-bit:

    * dim v1 = the scd2_dim_versioning starting state; v2 = the same
      deterministic update batch applied via sources/io.scd2_apply;
    * fact = an accumulating order-lifecycle table upserted once;
    * a join pinned to dim.read(version=1) must return the v1 join
      result EVEN AFTER v2 committed (pinned readers + immutable
      files), and dim v2 must equal the scd2_dim_versioning query's
      output on the same fixture.
    """
    from datawarehouse_spark.catalog import load_tables
    from datawarehouse_spark.queries.warehouse import scd2_dim_versioning
    from datawarehouse_spark.sources import io as dwio
    from tests.conftest import SF_ORACLE

    cust = load_tables(spark, SF_ORACLE, ("customer",))["customer"]
    dim_v1 = cust.select(
        "c_custkey", "c_mktsegment",
        F.lit(1).cast("bigint").alias("eff_version"),
        F.lit(True).alias("is_current"),
    )
    dim = SnapshotTable.create(spark, dim_v1, str(tmp_path / "dim"))

    # accumulating fact: order lifecycle rows keyed by order id
    fact_v1 = spark.createDataFrame(
        [(1, 10, "PLACED", 100.0), (2, 20, "PLACED", 250.0)],
        "order_id long, c_custkey long, status string, amount double",
    )
    fact = SnapshotTable.create(spark, fact_v1, str(tmp_path / "fact"))

    def seg_join(dim_df):
        return sorted(
            (r.order_id, r.status, r.c_mktsegment)
            for r in fact.read().alias("f").join(
                dim_df.filter("is_current").alias("d"), "c_custkey"
            ).select("order_id", "status", "d.c_mktsegment").collect()
        )

    pre_merge = seg_join(dim.read())

    # --- the merges: SCD2 close-and-append on the dim, lifecycle
    # advance on the fact (docs/kudu.md:19 upsert semantics)
    updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", F.lit("MOVED").alias("c_mktsegment")
    )
    scd2 = dwio.scd2_apply(dim.read(version=1), updates, "c_custkey")
    assert dim.overwrite(scd2.select(*dim_v1.columns)) == 2
    assert fact.upsert(
        spark.createDataFrame(
            [(1, 10, "SHIPPED", 100.0), (3, 30, "PLACED", 75.0)],
            "order_id long, c_custkey long, status string, amount double",
        ),
        "order_id",
    ) == 2

    # --- time travel: the v1-pinned dim reproduces the pre-merge join
    # even though the fact advanced (customers 10/20 both moved: %10==0)
    fact_now = {(r.order_id, r.status) for r in fact.read().collect()}
    assert fact_now == {(1, "SHIPPED"), (2, "PLACED"), (3, "PLACED")}
    v1_pinned = sorted(
        (r.order_id, r.c_mktsegment)
        for r in fact.read(version=1).alias("f").join(
            dim.read(version=1).filter("is_current").alias("d"), "c_custkey"
        ).select("order_id", "d.c_mktsegment").collect()
    )
    assert v1_pinned == sorted((o, s) for o, _, s in pre_merge)

    # current dim reflects the move; v1 rows are closed, not erased
    cur = dim.read()
    moved = cur.filter("c_custkey % 10 = 0")
    assert moved.filter("is_current").select(
        "c_mktsegment"
    ).distinct().collect()[0][0] == "MOVED"
    assert moved.filter("NOT is_current AND eff_version = 1").count() > 0

    # and dim v2 == the oracle-checked scd2_dim_versioning query output
    q = scd2_dim_versioning(spark, SF_ORACLE)
    got = {tuple(r) for r in cur.collect()}
    want = {tuple(r) for r in q.collect()}
    assert got == want


def test_cdc_apply_last_writer_wins_and_delete(spark):
    """CDC collapse: highest seq wins per key; a key whose LAST op is
    delete disappears; a key deleted mid-log then re-inserted
    SURVIVES with the re-inserted value (resurrection is legal in
    binlog order — only the final op matters)."""
    from datawarehouse_spark.sources.snapshot import cdc_apply

    log = [
        (1, 1, "U", 10.0), (1, 2, "U", 20.0),            # update wins
        (2, 1, "U", 5.0), (2, 2, "D", None),             # deleted
        (3, 1, "U", 1.0), (3, 2, "D", None), (3, 3, "U", 7.0),  # resurrected
    ]
    df = spark.createDataFrame(log, "k long, seq long, op string, v double")
    out = {r["k"]: r for r in cdc_apply(df, "k", "seq", "op").collect()}
    assert set(out) == {1, 3}
    assert out[1]["v"] == 20.0 and out[1]["seq"] == 2
    assert out[3]["v"] == 7.0 and out[3]["seq"] == 3


def test_optimize_compacts_files_and_preserves_content(spark, tmp_path):
    """OPTIMIZE (r11): a micro-batch-fragmented table collapses to
    row-proportional files in a NEW version with row-identical
    content; time travel to the fragmented version still works, and
    the fragmented files die only at vacuum."""
    from datawarehouse_spark.sources.snapshot import SnapshotTable

    rows = spark.range(0, 500).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    t = SnapshotTable.create(
        spark, rows.repartition(16), str(tmp_path / "opt")
    )
    # fragment further with small appends (micro-batch pattern)
    for i in range(3):
        t.append(spark.range(500 + i * 10, 510 + i * 10).select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
        ).repartition(4))
    v_frag = t.current_version()
    n_frag = len(t._manifest(v_frag)["files"])
    assert n_frag >= 20
    before = {(r["k"], r["v"]) for r in t.read().collect()}

    v_opt = t.optimize()
    assert v_opt == v_frag + 1
    n_opt = len(t._manifest(v_opt)["files"])
    assert n_opt == 1  # 530 rows << target_rows_per_file
    after = {(r["k"], r["v"]) for r in t.read().collect()}
    assert after == before
    # pinned reader / time travel unaffected
    assert t.read(v_frag).count() == 530
    # rewritten-away files reclaimed only at vacuum
    removed = t.vacuum(retain_last=1)
    assert len(removed) >= n_frag
    assert t.read().count() == 530


def test_optimize_zorder_tightens_file_zone_maps(spark, tmp_path):
    """OPTIMIZE ZORDER BY (r11): after a clustered rewrite into
    multiple files, per-file min/max ranges on BOTH listed dimensions
    must be narrower than the unclustered layout's — the zone-map
    tightening that makes file skipping work."""
    import itertools

    from datawarehouse_spark.sources.snapshot import SnapshotTable

    # two independent uniform dims, written row-shuffled (worst case)
    rows = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        F.floor(F.col("id") / 64).alias("y"),
        F.xxhash64(F.col("id")).alias("shuf"),
    ).orderBy("shuf").drop("shuf")
    t = SnapshotTable.create(
        spark, rows.repartition(8), str(tmp_path / "zo")
    )

    def spread(version):
        files = [e["file"] for e in t._manifest(version)["files"]]
        tot = {"x": 0, "y": 0, "n": 0}
        for f in files:
            df = spark.read.parquet(f"{t.path}/data/{f}")
            mm = df.agg(
                F.min("x"), F.max("x"), F.min("y"), F.max("y")
            ).collect()[0]
            tot["x"] += mm[1] - mm[0]
            tot["y"] += mm[3] - mm[2]
            tot["n"] += 1
        return tot["x"] / tot["n"], tot["y"] / tot["n"]

    x0, y0 = spread(t.current_version())
    v = t.optimize(zorder_by=["x", "y"], target_rows_per_file=512)
    assert len(t._manifest(v)["files"]) == 8
    x1, y1 = spread(v)
    # random layout: every file spans ~the full 0-63 range on both
    # dims; the Z-order rewrite must tighten both substantially
    assert x1 < x0 * 0.8 and y1 < y0 * 0.8
    # content identical
    assert t.read(v).count() == 4096
    assert t.read(v).select(F.sum("x"), F.sum("y")).collect() == \
        t.read(v - 1).select(F.sum("x"), F.sum("y")).collect()


def test_optimize_zorder_reserved_name_guard(spark, tmp_path):
    """r12 hardening (r11 advice, medium): a table column named __zo
    (or z1..zN — any case, Spark resolves case-insensitively) would be
    silently REPLACED by zorder_key's scratch columns and then dropped
    from the committed rewrite — data loss. The guard raises instead,
    and the table is left at its original version."""
    rows = spark.range(0, 16).select(
        F.col("id").alias("x"),
        (F.col("id") * 2).alias("__zo"),
    )
    t = SnapshotTable.create(spark, rows, str(tmp_path / "guard"))
    v0 = t.current_version()
    with pytest.raises(ValueError, match="__zo"):
        t.optimize(zorder_by=["x"])
    # case-insensitive: Z1 collides with the z1 scratch name
    rows2 = spark.range(0, 16).select(
        F.col("id").alias("x"), F.col("id").alias("Z1")
    )
    t2 = SnapshotTable.create(spark, rows2, str(tmp_path / "guard2"))
    with pytest.raises(ValueError, match="Z1"):
        t2.optimize(zorder_by=["x"])
    assert t.current_version() == v0
    # plain bin-packing (no zorder_by) is unaffected by the name
    v1 = t.optimize(target_rows_per_file=16)
    assert t.read(v1).columns == ["x", "__zo"]
    assert t.read(v1).agg(F.sum("__zo")).collect()[0][0] == 240


def test_optimize_partitioned_compacts_per_value(spark, tmp_path):
    """r11 review fix: on a PARTITIONED table, optimize must compact
    (≈ one file per partition value at this size, never value-count ×
    spark-partition-count fan-out) and content/pruning must survive.
    Also pins that the unpartitioned path can INCREASE the file count
    to meet the row target (repartition, not coalesce)."""
    from datawarehouse_spark.sources.snapshot import SnapshotTable

    df = spark.createDataFrame(
        [(i, f"v{i}", f"d{i % 5}") for i in range(1000)],
        "k long, v string, dt string",
    )
    t = SnapshotTable.create(
        spark, df.repartition(16), str(tmp_path / "popt"),
        partition_col="dt",
    )
    n_before = len(t._manifest(t.current_version())["files"])
    assert n_before >= 40  # 16 spark partitions × 5 values, fragmented
    v = t.optimize()
    files = t._manifest(v)["files"]
    # ≈ 1 file per value (+ boundary splits): must be a real collapse
    assert len(files) <= 10, files
    assert {e["partition"] for e in files} == {f"d{i}" for i in range(5)}
    assert t.read(v).count() == 1000
    assert t.read(v).filter(F.col("dt") == "d3").count() == 200

    # unpartitioned: one input split must still SPLIT to meet target
    one = SnapshotTable.create(
        spark,
        spark.range(10_000).select(F.col("id").alias("k")).coalesce(1),
        str(tmp_path / "sopt"),
    )
    v2 = one.optimize(target_rows_per_file=2_500)
    assert len(one._manifest(v2)["files"]) == 4
    assert one.read(v2).count() == 10_000


def test_merge_full_clause_semantics(spark, tmp_path):
    """r12 — full MERGE INTO on SnapshotTable (the general form of
    upsert): WHEN MATCHED AND cond DELETE, WHEN MATCHED UPDATE SET
    with expressions over both aliases (unlisted columns keep the
    target value), WHEN NOT MATCHED INSERT; delete beats update (Delta
    clause order); a non-unique source key raises; prior versions stay
    readable (time travel untouched)."""
    rows = [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d")]
    t = SnapshotTable.create(
        spark,
        spark.createDataFrame(rows, "k long, val long, tag string"),
        str(tmp_path / "mrg"),
    )
    v0 = t.current_version()
    src = spark.createDataFrame(
        [(2, 5, "B"), (3, -1, "C"), (9, 90, "i")],
        "k long, val long, tag string",
    )
    v1 = t.merge(
        src, on="k",
        update_set={"val": "t.val + s.val"},   # tag NOT listed -> keeps t
        delete_when="s.val < 0",               # kills k=3
        insert_unmatched=True,                 # inserts k=9
    )
    got = {(r.k, r.val, r.tag) for r in t.read(v1).collect()}
    assert got == {
        (1, 10, "a"),       # target-only: untouched
        (2, 25, "b"),       # matched update: 20+5, tag kept
        (9, 90, "i"),       # source-only: inserted
        (4, 40, "d"),
    }
    # time travel: v0 content intact
    assert t.read(v0).count() == 4

    # whole-row replacement form + no insert + update_when guard
    src2 = spark.createDataFrame(
        [(1, 111, "A"), (4, 444, "D"), (7, 7, "g")],
        "k long, val long, tag string",
    )
    v2 = t.merge(src2, on="k", update_when="t.val >= 40",
                 insert_unmatched=False)
    got2 = {(r.k, r.val, r.tag) for r in t.read(v2).collect()}
    assert got2 == {
        (1, 10, "a"),       # matched but guard false: kept
        (2, 25, "b"),
        (9, 90, "i"),
        (4, 444, "D"),      # matched, guard true: whole-row replaced
    }                        # k=7 not inserted

    import pytest
    dup = spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "y")], "k long, val long, tag string"
    )
    with pytest.raises(ValueError, match="unique source key"):
        t.merge(dup, on="k")


def test_merge_guards_reserved_markers_and_unknown_update_keys(
    spark, tmp_path
):
    """r13 (advisor): (a) a user column named _t or _s — any case —
    collides with merge's internal match markers (withColumn would
    silently REPLACE it and commit the marker literal into every
    rewritten row) and must raise up front, on either side; (b) an
    update_set key that names no target column is a typo that would
    otherwise commit a no-op version silently — Delta raises an
    unresolved-column error, so we raise a ValueError naming the
    unknown keys."""
    import pytest

    t = SnapshotTable.create(
        spark,
        spark.createDataFrame([(1, 10)], "k long, val long"),
        str(tmp_path / "mg"),
    )
    src_bad = spark.createDataFrame([(1, 5, 1)], "k long, val long, _T long")
    with pytest.raises(ValueError, match=r"merge source: .*\['_T'\] collide"):
        t.merge(src_bad, on="k")

    t2 = SnapshotTable.create(
        spark,
        spark.createDataFrame([(1, 10, 0)], "k long, val long, _s long"),
        str(tmp_path / "mg2"),
    )
    with pytest.raises(ValueError, match=r"\['_s'\] collide"):
        t2.merge(spark.createDataFrame([(1, 5, 1)],
                                       "k long, val long, _s long"), on="k")

    src = spark.createDataFrame([(1, 5)], "k long, val long")
    with pytest.raises(ValueError, match=r"unknown target column.*vall"):
        t.merge(src, on="k", update_set={"vall": "s.val"})
    # and the guard must not reject a legitimate update
    v = t.merge(src, on="k", update_set={"val": "t.val + s.val"})
    assert {(r.k, r.val) for r in t.read(v).collect()} == {(1, 15)}


def test_merge_partitioned_prunes_untouched_partitions(spark, tmp_path):
    """Partitioned MERGE rewrites only the partitions the source
    touches — the untouched partition's data files survive
    byte-identical (same manifest entries), the upsert contract."""
    rows = [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30), (4, "d2", 40)]
    t = SnapshotTable.create(
        spark,
        spark.createDataFrame(rows, "k long, dt string, val long"),
        str(tmp_path / "mrgp"),
        partition_col="dt",
    )
    v0 = t.current_version()
    before = {e["file"] for e in t._manifest(v0)["files"]
              if str(e["partition"]) == "d2"}
    src = spark.createDataFrame(
        [(1, "d1", 11), (5, "d1", 50)], "k long, dt string, val long"
    )
    v1 = t.merge(src, on="k")
    after = {e["file"] for e in t._manifest(v1)["files"]
             if str(e["partition"]) == "d2"}
    assert after == before, "untouched partition must not be rewritten"
    got = {(r.k, r.dt, r.val) for r in t.read(v1).collect()}
    assert got == {(1, "d1", 11), (2, "d1", 20), (5, "d1", 50),
                   (3, "d2", 30), (4, "d2", 40)}


def test_restore_rolls_forward_to_old_version(spark, tmp_path):
    """r12 — RESTORE TABLE TO VERSION AS OF v: a NEW version with v's
    exact file set, so the rollback itself is time-travelable and the
    rolled-back (bad) versions stay readable until vacuum."""
    t = _mk(spark, tmp_path)
    t.delete(F.col("k") < 50)              # v2: the "bad" write
    assert t.read().count() == 50
    v3 = t.restore(1)
    assert v3 == 3
    assert t.read().count() == 100         # v1 content is back
    assert t.read(version=2).count() == 50  # the bad version survives
    t.vacuum(retain_last=1)
    with pytest.raises(FileNotFoundError):
        t.restore(2)                        # vacuumed-away → loud


def test_shallow_clone_zero_copy_and_independent_evolution(spark, tmp_path):
    """r12 — SHALLOW CLONE: the clone's v1 references the source's
    files by absolute path (zero data copied — its own data dir starts
    empty), reads identically, and then evolves independently (its
    upsert stages files into its OWN directory; the source is
    untouched). The documented Delta caveat holds: vacuum on the
    SOURCE kills files the clone references."""
    t = _mk(spark, tmp_path)
    c = t.clone(str(tmp_path / "clone"))
    assert c.read().count() == 100
    assert glob.glob(os.path.join(c._ddir, "*.parquet")) == []
    # independent evolution
    c.upsert(spark.createDataFrame(
        [(10, "CLONED", "d1")], "k long, v string, dt string"), "k")
    assert c.read().filter(F.col("k") == 10).first()["v"] == "CLONED"
    assert t.read().filter(F.col("k") == 10).first()["v"] == "v10"
    assert glob.glob(os.path.join(c._ddir, "*.parquet"))  # own files now
    # caveat: source vacuum after a source rewrite kills clone-v1 refs
    t.upsert(spark.createDataFrame(
        [(11, "NEW", "d1")], "k long, v string, dt string"), "k")
    t.vacuum(retain_last=1)
    with pytest.raises(Exception):
        c.read(version=1).filter(F.col("dt") == "d1").count()


def _month_table(spark, path, n_parts):
    """One file per partition value (coalesce(1)), so the file count —
    and every listing over it — is n_parts whatever the core count."""
    df = spark.range(0, n_parts * 10).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("val"),
        F.format_string("p%03d", F.col("id") % n_parts).alias("pt"),
    ).coalesce(1)
    return SnapshotTable.create(spark, df, path, partition_col="pt")


def test_merge_job_count_independent_of_untouched_partitions(spark, tmp_path):
    """A partition-local MERGE plans from its manifest: target columns,
    read schema and file list come from the manifest, so a merge that
    touches 2 of 40 partitions runs a fixed handful of jobs (source
    aggregate, touched-file read, staged write) and its task count does
    not grow when the table has 80 partitions. Resolving the target
    columns through read() would list all files (past Spark's 32-path
    parallel-listing threshold, one task per file) and infer a footer
    schema, breaking both pins."""
    src_rows = [(1, -1, "p001"), (2, -2, "p002"), (10_000, 7, "p001")]
    counts = {}
    for n_parts in (40, 80):
        t = _month_table(spark, str(tmp_path / f"m{n_parts}"), n_parts)
        src = spark.createDataFrame(src_rows, "k long, val long, pt string")
        counts[n_parts] = jobs_and_tasks(spark, lambda: t.merge(src, on="k"))
        got = {(r.k, r.val) for r in t.read().filter("pt IN ('p001', 'p002')")
               .collect()}
        assert {(1, -1), (2, -2), (10_000, 7)} <= got
        assert t.read().count() == n_parts * 10 + 1
    jobs40, tasks40 = counts[40]
    jobs80, tasks80 = counts[80]
    assert jobs40 <= 6, counts
    assert jobs80 == jobs40, counts
    assert tasks80 <= tasks40, counts


@contextlib.contextmanager
def _fixed_read_splits(spark):
    """Pin Spark's read-split packing so a scan's task count depends on
    the files alone, not on the core count: minPartitionNum is 4, and
    maxPartitionBytes is past the 4 MB open cost Spark counts per file
    times the 160 files the largest table here scans (the default
    128 MB cap would give it more splits than a 40-file table)."""
    pins = {"spark.sql.files.minPartitionNum": "4",
            "spark.sql.files.maxPartitionBytes": "1g"}
    old = {k: spark.conf.get(k, None) for k in pins}
    for k, v in pins.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_read_job_count_independent_of_live_files(spark, tmp_path):
    """read() scans the manifest's files without listing them or
    inferring a footer schema: building the frame runs no Spark job,
    and read().count() runs the same jobs on a 40- and an 80-partition
    table with no more tasks (no per-file listing task, no inference
    job); so does optimize() (on these compact tables it runs none,
    test_optimize_of_compact_table_is_a_manifest_only_commit). Passing the live
    files to spark.read.parquet would list them in a parallel job (past
    Spark's 32-path threshold, one task per file) and infer their schema
    in another, breaking every pin. The read splits are pinned
    (_fixed_read_splits) so the counts are the same at every core
    count."""
    with _fixed_read_splits(spark):
        builds, reads, optimizes = {}, {}, {}
        for n_parts in (40, 80):
            t = _month_table(spark, str(tmp_path / f"r{n_parts}"), n_parts)
            builds[n_parts] = jobs_and_tasks(spark, t.read)
            n = {}
            reads[n_parts] = jobs_and_tasks(
                spark, lambda: n.update(rows=t.read().count()))
            assert n["rows"] == n_parts * 10
            optimizes[n_parts] = jobs_and_tasks(spark, t.optimize)
            assert t.read().count() == n_parts * 10
    assert builds == {40: (0, 0), 80: (0, 0)}, builds
    for counts, max_jobs in ((reads, 2), (optimizes, 4)):
        (jobs40, tasks40), (jobs80, tasks80) = counts[40], counts[80]
        assert jobs40 <= max_jobs, (reads, optimizes)
        assert jobs80 == jobs40, (reads, optimizes)
        assert tasks80 <= tasks40, (reads, optimizes)


def _live(t):
    """{partition value: sorted file names} of the current manifest."""
    m = t._manifest(t.current_version())
    out = {}
    for e in m["files"]:
        out.setdefault(e["partition"], []).append(e["file"])
    return {pv: sorted(fs) for pv, fs in out.items()}


def _rows(t):
    return sorted(tuple(r) for r in t.read().collect())


def _second_file_per_value(spark, t, n_parts, values=None):
    """Append one more file to each of ``values`` (default: every one)
    of a _month_table, with new keys."""
    df = spark.range(n_parts * 10, n_parts * 20).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("val"),
        F.format_string("p%03d", F.col("id") % n_parts).alias("pt"),
    )
    if values is not None:
        df = df.filter(F.col("pt").isin(values))
    t.append(df.coalesce(1))


def test_optimize_of_compact_table_is_a_manifest_only_commit(spark, tmp_path):
    """optimize() on a table whose every partition value already holds
    one file below the target carries every file over: it runs no Spark
    job, still commits the next version, and that version names exactly
    the same files. Rewriting them (as optimize did before it planned
    from footers) ran a count and a shuffled write: 4 jobs, 10 tasks."""
    t = _month_table(spark, str(tmp_path / "c80"), 80)
    v0, before, rows = t.current_version(), _live(t), _rows(t)
    assert len(before) == 80 and all(len(fs) == 1 for fs in before.values())
    got = {}
    assert jobs_and_tasks(spark, lambda: got.update(v=t.optimize())) == (0, 0)
    assert got["v"] == v0 + 1 == t.current_version()
    assert t._manifest(v0 + 1)["files"] == t._manifest(v0)["files"]
    assert _rows(t) == rows


def test_optimize_rewrites_only_partitions_that_are_not_compact(
        spark, tmp_path):
    """A second file in 3 of 40 partition values makes optimize rewrite
    those 3 values' files into one file each; the other 37 values keep
    their file names. An optimize straight after is a no-op again: no
    job, same names. Content is the same throughout."""
    t = _month_table(spark, str(tmp_path / "p40"), 40)
    frag = ["p001", "p017", "p033"]
    _second_file_per_value(spark, t, 40, frag)
    before, rows = _live(t), _rows(t)
    assert {pv for pv, fs in before.items() if len(fs) == 2} == set(frag)

    t.optimize()
    after = _live(t)
    assert _rows(t) == rows
    assert set(after) == set(before)
    for pv, fs in after.items():
        if pv in frag:
            assert len(fs) == 1 and not set(fs) & set(before[pv]), pv
        else:
            assert fs == before[pv], pv

    v = t.current_version()
    assert jobs_and_tasks(spark, t.optimize) == (0, 0)
    assert t.current_version() == v + 1
    assert _live(t) == after
    assert _rows(t) == rows


def test_optimize_rewrite_job_count_independent_of_partition_count(
        spark, tmp_path):
    """With two files in every partition value, optimize rewrites every
    value from the files' footer row counts: no count job, so the scan,
    exchange and write run at most 2 jobs, the same number on a 40- and
    an 80-partition table, with no more tasks on the larger one (the
    read splits are pinned, _fixed_read_splits). Each value ends with
    one file and the content is unchanged."""
    counts = {}
    with _fixed_read_splits(spark):
        for n_parts in (40, 80):
            t = _month_table(spark, str(tmp_path / f"o{n_parts}"), n_parts)
            _second_file_per_value(spark, t, n_parts)
            assert all(len(fs) == 2 for fs in _live(t).values())
            rows = _rows(t)
            counts[n_parts] = jobs_and_tasks(spark, t.optimize)
            after = _live(t)
            assert len(after) == n_parts
            assert all(len(fs) == 1 for fs in after.values())
            assert _rows(t) == rows
    (jobs40, tasks40), (jobs80, tasks80) = counts[40], counts[80]
    assert jobs40 <= 2, counts
    assert jobs80 == jobs40, counts
    assert tasks80 <= tasks40, counts


def test_read_of_vacuumed_files_fails_at_call_time(spark, tmp_path):
    """read() stats each file it will scan when it is called, so a
    version whose files vacuum deleted fails loudly then, not at some
    later action: time travel past the retention boundary and a shallow
    clone still referencing the source's vacuumed files both raise
    FileNotFoundError. A reader pinned before vacuum to the retained
    version still counts correctly."""
    t = _mk(spark, tmp_path)
    c = t.clone(str(tmp_path / "clone"))  # references t's v1 files
    t.upsert(spark.createDataFrame(
        [(10, "NEW", "d1")], "k long, v string, dt string"), "k")
    pinned = t.read(version=2)
    assert t.vacuum(retain_last=1)  # v1's d1 files died
    with pytest.raises(FileNotFoundError):
        t.read(version=1)
    with pytest.raises(FileNotFoundError, match="part-"):
        c.read()
    with pytest.raises(FileNotFoundError):
        c.read(partitions=["d1"])
    assert c.read(partitions=["d2"]).count() == 50  # d2 files survive
    assert pinned.count() == 100
    assert pinned.filter(F.col("k") == 10).first()["v"] == "NEW"


def test_manifest_scan_is_a_parquet_file_scan(spark, tmp_path):
    """The manifest scan is an ordinary Parquet file-source scan: a
    filter on a data column reaches the reader as a pushed filter and
    a projection narrows the read schema, as in
    test_plans.py::test_filter_pushed_to_parquet_scan."""
    from datawarehouse_spark.plans import parity

    t = _mk(spark, tmp_path)
    df = t.read().filter(F.col("k") == 10).select("k")
    plan = parity.analyze(df).spark_plan
    assert "FileScan parquet" in plan, plan
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,10)]" in plan, plan
    assert "ReadSchema: struct<k:bigint>" in plan, plan
    assert [r.k for r in df.collect()] == [10]
    # selecting no file scans nothing, with the table's columns
    empty = t.read(partitions=["d9"])
    assert empty.columns == ["k", "v", "dt"] and empty.count() == 0


def test_merge_source_validation_null_semantics(spark, tmp_path):
    """The one-pass source validation keeps the old null semantics: a
    null key is one distinct value (one null key merges as an insert,
    two raise the unique-key error), and a null partition value touches
    exactly the null partition's files (the manifest records Spark's
    default-partition directory as None)."""
    rows = [(1, 10, "d1"), (2, 20, "d1"), (3, 30, "d2"), (4, 40, None)]
    t = SnapshotTable.create(
        spark, spark.createDataFrame(rows, "k long, val long, dt string"),
        str(tmp_path / "nulls"), partition_col="dt",
    )
    v0 = t.current_version()
    files_v0 = {e["file"]: e["partition"] for e in t._manifest(v0)["files"]}

    one_null = spark.createDataFrame(
        [(None, 99, "d1"), (1, 11, "d1")], "k long, val long, dt string")
    v1 = t.merge(one_null, on="k")
    got = sorted((r.k is None, r.k, r.val, r.dt) for r in t.read(v1).collect())
    assert got == sorted([(True, None, 99, "d1"), (False, 1, 11, "d1"),
                          (False, 2, 20, "d1"), (False, 3, 30, "d2"),
                          (False, 4, 40, None)])

    two_null = spark.createDataFrame(
        [(None, 1, "d1"), (None, 2, "d2")], "k long, val long, dt string")
    with pytest.raises(ValueError, match="unique source key"):
        t.merge(two_null, on="k")
    assert t.current_version() == v1

    # null partition value: d2's and the null partition's files are
    # rewritten, d1's are carried over, and the source row is inserted
    files_v1 = {e["file"]: e["partition"] for e in t._manifest(v1)["files"]}
    assert None in files_v0.values()
    null_src = spark.createDataFrame(
        [(3, 33, "d2"), (5, 50, None)], "k long, val long, dt string")
    v2 = t.merge(null_src, on="k")
    files_v2 = {e["file"]: e["partition"] for e in t._manifest(v2)["files"]}
    rewritten = {p for f, p in files_v1.items() if f not in files_v2}
    assert rewritten == {"d2", None}
    assert {f for f, p in files_v1.items() if p == "d1"} <= set(files_v2)
    got2 = {(r.k, r.val, r.dt) for r in t.read(v2).collect() if r.k is not None}
    assert got2 == {(1, 11, "d1"), (2, 20, "d1"), (3, 33, "d2"),
                    (4, 40, None), (5, 50, None)}


def test_manifest_schema_matches_inferred_read_schema(spark, tmp_path):
    """The manifest schema can stand in for footer inference: on a
    partitioned table with timestamp, date, decimal and string columns,
    the schema Spark infers from the live files' footers equals the
    manifest's field for field (names and types; nullability aside)
    after create, merge and optimize, and read(), which takes the
    manifest schema, makes every field nullable as file sources do."""
    import datetime as dt
    from decimal import Decimal

    rows = [
        (i, dt.datetime(2024, 1, 1, i % 24), dt.date(2024, 1 + i % 3, 1),
         Decimal(f"{i}.25"), f"m{i % 3}")
        for i in range(30)
    ]
    t = SnapshotTable.create(
        spark,
        spark.createDataFrame(
            rows, "k long, ts timestamp, d date, amt decimal(12,2), m string"),
        str(tmp_path / "types"), partition_col="m",
    )

    def fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    def check():
        m = t._manifest(t.current_version())
        inferred = spark.read.parquet(
            *[os.path.join(t._ddir, e["file"]) for e in m["files"]]).schema
        assert fields(inferred) == fields(SnapshotTable._schema(m))
        assert all(f.nullable for f in t.read().schema.fields)

    check()
    src = spark.createDataFrame(
        [(1, dt.datetime(2025, 5, 5), dt.date(2025, 5, 5), Decimal("9.99"),
          "m1"),
         (100, dt.datetime(2025, 6, 6), dt.date(2025, 6, 6), Decimal("1.50"),
          "m2")],
        "k long, ts timestamp, d date, amt decimal(12,2), m string",
    )
    t.merge(src, on="k", update_set={"amt": "s.amt", "ts": "s.ts"})
    check()
    t.optimize()
    check()
    assert t.read().count() == 31
