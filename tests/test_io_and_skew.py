"""IO lifecycle (S3-S5, S10-S14) and skew-mitigation equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_spark.catalog import load_tables
from datawarehouse_spark.operators import skew
from datawarehouse_spark.sources import io as dwio
from tests.conftest import SF_ORACLE


def test_partitioned_write_and_dynamic_overwrite(spark, tmp_path):
    """S2/S5 — dynamic partition overwrite only rewrites touched dirs."""
    path = str(tmp_path / "events_part")
    events = load_tables(spark, SF_ORACLE, ("events",))["events"].withColumn(
        "dt", F.to_date("ts")
    )
    dwio.write_partitioned(events, path, ["dt"])
    n_all = spark.read.parquet(path).count()
    assert n_all == events.count()

    # overwrite ONE partition with modified rows; others must survive
    one_day = events.filter(F.col("dt") == "2024-01-05").withColumn(
        "value", F.lit(0.0)
    )
    one_day.write.mode("overwrite").partitionBy("dt").parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == n_all
    assert back.filter((F.col("dt") == "2024-01-05") & (F.col("value") != 0)).count() == 0
    assert back.filter((F.col("dt") == "2024-01-06") & (F.col("value") != 0)).count() > 0


def test_ctas_and_truncate(spark, tmp_path):
    """S4/S14 — CTAS into the session catalog, then TRUNCATE."""
    load_tables(spark, SF_ORACLE, ("region",))
    dwio.ctas(spark, "default.region_copy", "SELECT r_regionkey, r_name FROM region")
    assert spark.table("default.region_copy").count() == 5
    spark.sql("TRUNCATE TABLE default.region_copy")
    assert spark.table("default.region_copy").count() == 0
    spark.sql("DROP TABLE default.region_copy")


def test_compaction_reduces_files_in_place(spark, tmp_path):
    """S10 — small-file compaction after many micro-batch appends is
    IN PLACE and atomic: the original path ends up compacted, data
    identical, no side copy left behind."""
    src = str(tmp_path / "many_files")
    events = load_tables(spark, SF_ORACLE, ("events",))["events"].limit(1000)
    events.repartition(16).write.mode("overwrite").parquet(src)
    import glob
    import os

    before = spark.read.parquet(src).groupBy("event_type").count().collect()
    assert len(glob.glob(f"{src}/*.parquet")) >= 16
    done = dwio.compact_small_files(spark, src, target_files_per_partition=1)
    assert done == [src]
    assert len(glob.glob(f"{src}/*.parquet")) == 1
    assert not glob.glob(f"{src}.__*__")          # no temp/retire dirs remain
    assert not os.path.exists(f"{src}_compacted")  # no side copy
    after = spark.read.parquet(src).groupBy("event_type").count().collect()
    assert sorted(before) == sorted(after)


def test_compaction_partitioned_respects_closed_list(spark, tmp_path):
    """Partitioned compaction touches ONLY the closed partitions —
    in-flight partition files must keep their identity (mtime/name)."""
    src = str(tmp_path / "part_table")
    df = spark.createDataFrame(
        [(i, "d1" if i % 2 else "d2") for i in range(400)], "v long, dt string"
    )
    df.repartition(8).write.mode("overwrite").partitionBy("dt").parquet(src)
    import glob

    open_files_before = sorted(glob.glob(f"{src}/dt=d2/*.parquet"))
    assert len(glob.glob(f"{src}/dt=d1/*.parquet")) >= 8
    done = dwio.compact_small_files(
        spark, src, target_files_per_partition=1, closed_partitions=["dt=d1"]
    )
    assert [d.endswith("dt=d1") for d in done] == [True]
    assert len(glob.glob(f"{src}/dt=d1/*.parquet")) == 1
    # in-flight partition untouched, byte for byte the same file list
    assert sorted(glob.glob(f"{src}/dt=d2/*.parquet")) == open_files_before
    back = spark.read.parquet(src)
    assert back.count() == 400
    assert back.filter(F.col("dt") == "d1").count() == 200


def test_merge_upsert_semantics(spark):
    """S11 — Kudu-style upsert: update hits replace, new keys append."""
    current = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k int, v string, ver int"
    )
    updates = spark.createDataFrame(
        [(2, "B", 2), (4, "d", 2)], "k int, v string, ver int"
    )
    out = {r.k: (r.v, r.ver) for r in dwio.merge_upsert(current, updates, "k").collect()}
    assert out == {1: ("a", 1), 2: ("B", 2), 3: ("c", 1), 4: ("d", 2)}


def test_merge_upsert_partitioned_rewrites_only_touched(spark, tmp_path):
    """S11 at scale — upsert rewrites ONLY partitions holding updated
    keys; other partition dirs' files are bit-untouched."""
    import glob
    import os

    path = str(tmp_path / "tbl")
    current = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2"), (4, "d", "d3")],
        "k int, v string, dt string",
    )
    dwio.write_partitioned(current, path, ["dt"])
    before = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/dt=*/*.parquet")
    }

    updates = spark.createDataFrame(
        [(3, "C", "d2"), (9, "z", "d2")], "k int, v string, dt string"
    )
    parts = dwio.merge_upsert_partitioned(spark, path, updates, "k")
    assert parts == ["d2"]

    back = {r.k: (r.v, r.dt) for r in spark.read.parquet(path).collect()}
    assert back == {
        1: ("a", "d1"), 2: ("b", "d1"), 3: ("C", "d2"),
        4: ("d", "d3"), 9: ("z", "d2"),
    }
    after = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/dt=*/*.parquet")
    }
    untouched = {f for f in before if "dt=d2" not in f}
    assert untouched and all(
        f in after and after[f] == before[f] for f in untouched
    )
    assert not any("dt=d2" in f and f in after for f in before)


def test_delete_rows(spark):
    cur = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    left = dwio.delete_rows(cur, F.col("k") == 1)
    assert [r.k for r in left.collect()] == [2]


def test_salted_join_equals_plain(spark):
    t = load_tables(spark, SF_ORACLE, ("lineitem", "orders"))
    li = t["lineitem"].select(F.col("l_orderkey").alias("k"), "l_quantity")
    o = t["orders"].select(F.col("o_orderkey").alias("k"), "o_orderpriority")
    plain = li.join(o, "k").groupBy("o_orderpriority").count()
    salted = (
        skew.salted_join(li, o, "k", n_salt=8)
        .groupBy("o_orderpriority")
        .count()
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_salted_agg_equals_plain(spark):
    t = load_tables(spark, SF_ORACLE, ("events",))
    e = t["events"]
    plain = {
        (r.event_type): (r.pv, r.total)
        for r in e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("pv"),
            F.sum(F.col("value").cast("decimal(38,2)")).cast("double").alias("total"),
        )
        .collect()
    }
    two_phase = {
        (r.event_type): (r.pv, r.total)
        for r in skew.salted_agg(
            e, ["event_type"], {"pv": ("count", "*"), "total": ("sum", "value")}
        ).collect()
    }
    assert plain == two_phase


def test_key_distribution_and_skew_ratio(spark):
    t = load_tables(spark, SF_ORACLE, ("events",))
    prof = skew.key_distribution(t["events"], "event_type", top=5)
    rows = prof.collect()
    assert len(rows) == 5
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-9
    assert skew.skew_ratio(t["events"], "event_type") >= 1.0


def test_fixture_timestamps_normalize_under_plain_session(spark):
    """Regression: the driver regenerated fixtures with parquet
    TIMESTAMP(isAdjustedToUTC=false), which Spark 4 reads as
    TIMESTAMP_NTZ by default and unix_micros then rejects. load_tables
    must always hand back TIMESTAMP_LTZ with wall-clock == UTC epoch,
    bit-identical to DuckDB's epoch_us, whatever the parquet flavor."""
    import duckdb

    from datawarehouse_spark.catalog import load_tables
    from tests.conftest import SF_ORACLE

    t = load_tables(spark, SF_ORACLE, ("events", "orders", "lineitem"))
    for name, col in (("events", "ts"), ("orders", "o_orderdate"),
                      ("lineitem", "l_shipdate")):
        dtype = dict(t[name].dtypes)[col]
        assert dtype == "timestamp", f"{name}.{col} is {dtype}, not LTZ"
        got = t[name].select(
            F.min(F.unix_micros(col)).alias("mn"),
            F.max(F.unix_micros(col)).alias("mx"),
        ).collect()[0]
        want = duckdb.sql(
            f"SELECT CAST(MIN(epoch_us({col})) AS BIGINT),"
            f" CAST(MAX(epoch_us({col})) AS BIGINT)"
            f" FROM read_parquet('{SF_ORACLE}/{name}.parquet')"
        ).fetchone()
        assert (got.mn, got.mx) == want, f"{name}.{col} micros drift"


def test_write_clustered_produces_disjoint_minmax_stats(spark, tmp_path):
    """Clustered write must leave near-disjoint per-file min/max ranges
    on the cluster column (the property file skipping needs), while a
    plain write of shuffled data leaves every file spanning ~the whole
    domain."""
    import pyarrow.parquet as pq

    def file_ranges(path, col):
        out = []
        for p in sorted(__import__("pathlib").Path(path).rglob("*.parquet")):
            md = pq.ParquetFile(str(p)).metadata
            idx = md.schema.names.index(col)
            mn = min(md.row_group(i).column(idx).statistics.min
                     for i in range(md.num_row_groups))
            mx = max(md.row_group(i).column(idx).statistics.max
                     for i in range(md.num_row_groups))
            out.append((mn, mx))
        return out

    e = load_tables(spark, SF_ORACLE, ("events",))["events"]
    shuffled = e.repartition(8)  # destroys any incidental order

    plain = str(tmp_path / "plain")
    shuffled.write.mode("overwrite").parquet(plain)
    clustered = str(tmp_path / "clustered")
    dwio.write_clustered(shuffled, clustered, ["user_id"], n_files=8)

    pr = file_ranges(plain, "user_id")
    cr = file_ranges(clustered, "user_id")
    assert len(cr) >= 4

    def overlaps(ranges):
        n = 0
        for i, (a1, a2) in enumerate(ranges):
            for b1, b2 in ranges[i + 1:]:
                if a1 <= b2 and b1 <= a2:
                    n += 1
        return n

    # plain: nearly every file pair overlaps; clustered: almost none
    # (range boundaries may share one value at the seam)
    assert overlaps(cr) <= len(cr) - 1
    assert overlaps(pr) > overlaps(cr)

    # and the rewrite is content-preserving
    assert spark.read.parquet(clustered).count() == e.count()


def test_dq_audit_counts_injected_violations(spark, tmp_path):
    """dq_audit is vacuously green on the clean fixture; prove each
    check actually fires by running it over a synthetic sf_dir with one
    violation of every class injected."""
    from datawarehouse_spark.queries.warehouse import dq_audit

    spark.createDataFrame(
        [(1, 1, "F"), (1, 2, "F"), (2, 1, "X"), (3, 99, "O"), (4, 2, None)],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(1, None, 0.05), (1, 2.0, 1.5), (77, 3.0, 0.0)],
        "l_orderkey long, l_quantity double, l_discount double",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1,), (2,)], "c_custkey long"
    ).write.parquet(f"{tmp_path}/customer.parquet")

    got = {r.check_name: r.n_violations
           for r in dq_audit(spark, str(tmp_path)).collect()}
    assert got == {
        "orders_pk_unique": 1,        # orderkey 1 twice
        "orders_status_enum": 1,      # 'X' (NULL is invisible to NOT IN)
        "orders_status_nonnull": 1,   # the NULL the enum check misses
        "lineitem_qty_nonnull": 1,    # None qty
        "lineitem_discount_range": 1, # 1.5
        "orders_fk_customer": 1,      # custkey 99
        "lineitem_fk_orders": 1,      # orderkey 77
    }


def test_read_resilient_corrupt_file_policies(spark, tmp_path):
    """A garbage .parquet part in the table dir: policy='skip' drops
    the bad file and returns every row of the good ones; the default
    policy='fail' raises (silent loss must be opt-in); the skip option
    is read-scoped, not a session-wide mutation."""
    import pytest

    p = str(tmp_path / "tbl")
    spark.range(0, 100).withColumn("v", F.col("id") * 2) \
        .repartition(4).write.parquet(p)
    with open(f"{p}/part-corrupt.parquet", "wb") as fh:
        fh.write(b"PAR1 this is not a parquet file")

    good = dwio.read_resilient(spark, p, policy="skip")
    assert good.count() == 100
    assert {r.id for r in good.collect()} == set(range(100))

    with pytest.raises(Exception):
        dwio.read_resilient(spark, p, policy="fail").count()
    # the skip read did not leak ignoreCorruptFiles into the session
    assert spark.conf.get("spark.sql.files.ignoreCorruptFiles") == "false"

    # policy='fail' must PIN the option, not inherit ambient state: on
    # a cluster where the session conf is already 'true', the
    # documented corruption-aborts guarantee must still hold.
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        with pytest.raises(Exception):
            dwio.read_resilient(spark, p, policy="fail").count()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")

    with pytest.raises(ValueError):
        dwio.read_resilient(spark, p, policy="quarantine")


def test_aqe_skew_join_splits_adversarial_partition(spark):
    """SURVEY §2.3's "AQE skew-join is the built-in form of the manual
    salt recipes" — demonstrated at the plan level, not asserted
    (VERDICT r8 ask #8): an adversarial 90%-hot-key shuffle join run
    under spark.sql.adaptive.skewJoin must show the hot partition
    actually SPLIT (``skew=true`` on the join in the final adaptive
    plan), with thresholds lowered to test scale (defaults trigger at
    256 MB partitions — exactly the 100 TB regime; the mechanism is
    identical). The manual salt recipes (J5/J6) remain the
    deterministic-plan form; wall-time comparison lives in SCALE.md
    "AQE skew-join evidence"."""
    restore = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        # no broadcast (force the shuffle join AQE rewrites), and scale
        # the 256 MB/5x detection defaults down to fixture size
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB"
        )
        # numPartitions pinned: a 1-partition Range at local[1] already
        # satisfies the join distribution, so no shuffle and no skew split
        big = spark.range(0, 200_000, numPartitions=4).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id")).alias("k"),
            # ~64 bytes of deterministic padding so the hot partition
            # clears the lowered byte threshold
            F.concat(F.md5(F.col("id").cast("string")),
                     F.md5((F.col("id") + 1).cast("string"))).alias("pad"),
        )
        small = spark.range(0, 1_000, numPartitions=4).select(
            F.col("id").alias("k"), F.lit("dim").alias("tag")
        )
        j = big.join(small, "k")
        # execute j's OWN queryExecution (count() would build a new
        # aggregate plan and leave j's adaptive plan unfinalized)
        n = len(j.collect())
        # 90% of big hits k=0 (in small), plus the uniform ids < 1000
        assert n == 180_000 + sum(
            1 for i in range(200_000) if i % 10 == 9 and i < 1_000
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, (
            "AQE did not mark the hot partition as skewed:\n" + plan[:2000]
        )
    finally:
        for k, v in restore.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_layout_prunes_on_secondary_dimension(spark, tmp_path):
    """The Z-order claim, measured: under a single-column sort the
    secondary dimension spans every file (no file-skipping is
    possible); under the Morton layout the same narrow l_suppkey
    predicate intersects only a small fraction of the files'
    min-max ranges — the statistic a footer/manifest-pruning reader
    skips by. Also sanity-checks the curve: zkey is a bijective
    interleave (distinct (z1, z2) → distinct zkey)."""
    from datawarehouse_spark.operators.layout import (
        file_range_profile,
        zorder_key,
    )

    li = load_tables(spark, SF_ORACLE, ("lineitem",))["lineitem"].select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    z = zorder_key(li, ["l_partkey", "l_suppkey"], bits=8)
    # interleave is bijective on the code pair
    n_pairs = z.select("z1", "z2").distinct().count()
    assert z.select("zkey").distinct().count() == n_pairs

    n_files = 64  # finer tiles → the curve's locality shows up
    by_part = str(tmp_path / "by_part")
    by_z = str(tmp_path / "by_z")
    li.repartitionByRange(n_files, "l_partkey").write.parquet(by_part)
    z.repartitionByRange(n_files, "zkey").write.parquet(by_z)

    lo, hi = 4, 4  # point predicate (the fixture has ~10 suppkeys)
    def hit_files(path):
        prof = file_range_profile(spark, path, "l_suppkey").collect()
        assert len(prof) >= n_files - 8  # range partitioner may merge some
        return sum(1 for r in prof if r.mn <= hi and r.mx >= lo), len(prof)

    part_hits, part_total = hit_files(by_part)
    z_hits, z_total = hit_files(by_z)
    # single-column sort: suppkey spans everything — no skipping at all
    assert part_hits == part_total
    # z-order: the suppkey band misses most files' min-max range
    assert z_hits <= z_total // 3, (
        f"z-order should prune ≥ 2/3 of the files: {z_hits}/{z_total}"
    )
    assert z_hits >= 1  # the matching rows do live somewhere


def test_incremental_agg_merge_cycles_equal_full_recompute(spark):
    """Two successive delta refreshes of a materialized agg view equal
    the full recompute exactly — decimal SUM state is associative, the
    merged output schema is a fixed point (valid input for the next
    cycle), and groups appearing only in a delta (or only in the view)
    survive the full-outer merge with correct state."""
    from datawarehouse_spark.operators import views

    rows = [(k, b, float(v)) for b, data in enumerate(
        [[("a", 1.11), ("a", 2.22), ("b", 5.0)],
         [("a", 0.10), ("c", 7.77)],
         [("b", 0.01), ("c", 0.33), ("d", 9.99)]])
        for k, v in data for _ in [0]]
    df = spark.createDataFrame(rows, ["k", "batch", "v"])

    def agg(d):
        return d.groupBy("k").agg(
            F.sum(F.col("v").cast("decimal(38,2)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.min(F.col("v").cast("decimal(38,2)")).alias("mn"),
            F.max(F.col("v").cast("decimal(38,2)")).alias("mx"),
        )

    rules = {"s": "sum", "n": "sum", "mn": "min", "mx": "max"}
    view = agg(df.filter(F.col("batch") == 0))
    for b in (1, 2):
        view = views.incremental_agg_merge(
            view, agg(df.filter(F.col("batch") == b)), ["k"], rules)
    got = {r["k"]: (str(r["s"]), r["n"], str(r["mn"]), str(r["mx"]))
           for r in view.collect()}
    want = {r["k"]: (str(r["s"]), r["n"], str(r["mn"]), str(r["mx"]))
            for r in agg(df).collect()}
    assert got == want
    # schema fixed point: state columns keep their exact types
    assert dict(view.dtypes)["s"] == "decimal(38,2)"

    import pytest
    with pytest.raises(ValueError, match="unknown merge rule"):
        views.incremental_agg_merge(view, view, ["k"], {"s": "avg"})


def test_equiheight_histogram_depth_bounds_and_block_invariance(spark):
    """Equi-height property: bucket depths differ by at most 1, cover
    every row, and bucket value-ranges are ordered and non-overlapping
    on distinct values. The global rank must be invariant to where the
    range-partition boundaries fall (unique composite order), so
    different n_blocks yield the identical histogram."""
    from datawarehouse_spark.operators.layout import equiheight_histogram

    import pytest
    df = spark.range(1000).select(
        (F.col("id") * 37 % 500).alias("v"), F.col("id").alias("k"))
    h = {r.bucket: r for r in
         equiheight_histogram(df, "v", "k", k=16, n_blocks=8).collect()}
    assert sorted(h) == list(range(16))
    depths = [h[b].n_rows for b in range(16)]
    assert sum(depths) == 1000 and max(depths) - min(depths) <= 1
    for b in range(15):
        assert h[b].lo <= h[b].hi <= h[b + 1].lo
    h2 = {r.bucket: (r.n_rows, r.lo, r.hi) for r in
          equiheight_histogram(df, "v", "k", k=16, n_blocks=3).collect()}
    assert h2 == {b: (r.n_rows, r.lo, r.hi) for b, r in h.items()}
    one = equiheight_histogram(df, "v", "k", k=1).collect()
    assert len(one) == 1 and one[0].n_rows == 1000
    with pytest.raises(ValueError, match="k >= 1"):
        equiheight_histogram(df, "v", "k", k=0)


def test_table_checksum_order_invariant_and_drift_sensitive(spark):
    """The XOR-fold checksum must be identical under any row order or
    partitioning (anti-entropy requires it), and any single-row edit
    must flip exactly its group's checksum while counts stay equal —
    the drift signature a reconciliation job alerts on."""
    rows = [(i, "g%d" % (i % 3), float(i) + 0.25) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "g", "v"])
    canon = [F.col("id").cast("string"),
             F.col("v").cast("decimal(38,2)").cast("string")]

    def cs(d):
        return {r.g: (r.checksum, r.n_rows)
                for r in dwio.table_checksum(d, ["g"], canon).collect()}

    base = cs(df)
    assert cs(df.repartition(13).sortWithinPartitions(F.desc("id"))) == base
    # one-row drift: value changes in group g1 only
    drifted = df.withColumn(
        "v", F.when(F.col("id") == 7, 999.99).otherwise(F.col("v")))
    d = cs(drifted)
    assert d["g1"][0] != base["g1"][0] and d["g1"][1] == base["g1"][1]
    assert d["g0"] == base["g0"] and d["g2"] == base["g2"]


def test_compaction_plan_next_fit_semantics(spark):
    """Cumulative next-fit: groups fill to the target and may
    overshoot by at most ONE file; group ids are dense from 0 in
    file order within each partition; a file larger than the target
    gets its own group boundary behaviour (it spans the division
    point but the NEXT file starts a fresh group)."""
    from datawarehouse_spark.operators.layout import compaction_plan

    rows = [
        ("d1", "a", 40), ("d1", "b", 40), ("d1", "c", 40),
        ("d1", "d", 250),  # jumbo file
        ("d1", "e", 10),
        ("d2", "a", 10),
    ]
    df = spark.createDataFrame(rows, "dt string, f string, sz long")
    out = {(r["dt"], r["file_id"]): r["grp"]
           for r in compaction_plan(df, ["dt"], "f", "sz", 100).collect()}
    # d1: cum_before a=0 b=40 c=80 d=120 e=370
    assert out[("d1", "a")] == 0 and out[("d1", "b")] == 0
    assert out[("d1", "c")] == 0      # overshoot: 40+40+40 = 120 > 100
    assert out[("d1", "d")] == 1      # next file starts a new group
    assert out[("d1", "e")] == 3      # jumbo advanced the cursor past 2
    assert out[("d2", "a")] == 0      # partitions plan independently


def test_dynamic_partition_pruning_fires_on_dim_filter(spark, tmp_path):
    """Dynamic partition pruning — the RUNTIME half of S2 (static dt
    pruning is plan-time; DPP prunes fact partitions from a filtered
    dim's join keys at execution). The flagship star-join scan killer
    at 100 TB: without it, a `dim.attr = X` filter still scans every
    fact partition. Assert (a) the fact scan carries a dynamicpruning
    partition filter, and (b) the filtered join reads fewer rows than
    the fact total (the pruned partitions never enter the scan)."""
    import pyspark.sql.functions as F

    t = load_tables(spark, SF_ORACLE, ("orders", "customer"))
    fact_path = str(tmp_path / "orders_by_cust_nation")
    # partition the fact by a low-cardinality join key
    o = t["orders"].join(
        t["customer"].select("c_custkey", "c_nationkey"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("o_orderkey", "o_totalprice", "c_nationkey")
    o.write.partitionBy("c_nationkey").parquet(fact_path)

    fact = spark.read.parquet(fact_path)
    dim = (
        load_tables(spark, SF_ORACLE, ("nation",))["nation"]
        .filter(F.col("n_name").isin("NATION_3", "NATION_7"))
    )
    joined = fact.join(
        dim, fact["c_nationkey"] == dim["n_nationkey"]
    ).groupBy("n_name").agg(F.count(F.lit(1)).alias("n"))

    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "expected a dynamicpruning partition filter on the fact scan"
    )
    # and it actually restricts the scan to the two nations' partitions
    rows = {r["n_name"]: r["n"] for r in joined.collect()}
    assert set(rows) == {"NATION_3", "NATION_7"}
    assert all(v > 0 for v in rows.values())


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark):
    """Runtime bloom-filter join pruning — DPP's sibling for
    NON-partition columns: Spark injects a bloom filter built from the
    filtered dim side and applies it map-side on the fact scan, so
    most probe rows die before the shuffle. At 100 TB this is the
    difference between shuffling the whole fact table and shuffling
    the ~selectivity fraction that can possibly join. The size
    thresholds default to cluster scale (10 GB probe side), so the
    test lowers them to fixture scale; the assertion is the mechanism
    (BloomFilterMightContain on the probe scan) plus result equality
    with the filter disabled."""
    import pyspark.sql.functions as F

    t = load_tables(spark, SF_ORACLE, ("lineitem", "part"))
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # the creation-side bound compares the OPTIMIZER'S size
        # estimate (which over-states small parquet scans), not file
        # bytes — raise it so the fixture-scale dim qualifies
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1B",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        dim = t["part"].filter(F.col("p_size") == 1).select("p_partkey")
        q = (
            t["lineitem"].join(dim, F.col("l_partkey") == F.col("p_partkey"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("l_quantity").cast("decimal(38,2)"))
                 .cast("double").alias("qty"))
        )
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan.lower(), (
            "expected an injected runtime bloom filter on the probe side"
        )
        assert "bloom_filter_agg" in plan.lower(), (
            "expected the filter built from the filtered dim side"
        )
        got = q.collect()[0]
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled",
                       "false")
        want = q.collect()[0]
        assert got["n"] == want["n"] and got["qty"] == want["qty"]
        assert got["n"] > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_hilbert_key_equals_reference_xy2d_and_prunes(spark, tmp_path):
    """The Hilbert layout, verified two ways: (1) the Spark projection
    equals the canonical xy2d reference on the full 16×16 grid —
    bit-identical, no sampling; (2) the locality claim measured — a
    point predicate on the secondary dimension intersects a small
    fraction of Hilbert-ordered files' min-max ranges, and never MORE
    files than Z-order needs on the identical tiling (Hilbert's only
    reason to exist over Morton)."""
    from datawarehouse_spark.operators.layout import (
        file_range_profile,
        hilbert_key,
        zorder_key,
    )

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x int, y int"
    )
    got = {
        (r.x, r.y): r.hkey
        for r in hilbert_key(grid, ["x", "y"], bits=4).collect()
    }
    for (x, y), hk in got.items():
        assert hk == xy2d(16, x, y), (x, y, hk)

    li = load_tables(spark, SF_ORACLE, ("lineitem",))["lineitem"].select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    h = hilbert_key(li, ["l_partkey", "l_suppkey"], bits=8)
    z = zorder_key(li, ["l_partkey", "l_suppkey"], bits=8)
    n_files = 64
    by_h = str(tmp_path / "by_h")
    by_z = str(tmp_path / "by_z")
    h.repartitionByRange(n_files, "hkey").write.parquet(by_h)
    z.repartitionByRange(n_files, "zkey").write.parquet(by_z)

    lo, hi = 4, 4

    def hit_files(path):
        prof = file_range_profile(spark, path, "l_suppkey").collect()
        return sum(1 for r in prof if r.mn <= hi and r.mx >= lo), len(prof)

    h_hits, h_total = hit_files(by_h)
    z_hits, _ = hit_files(by_z)
    assert h_hits <= h_total // 3, (
        f"hilbert should prune ≥ 2/3 of the files: {h_hits}/{h_total}"
    )
    assert h_hits <= z_hits, (
        f"hilbert locality must not lose to z-order: {h_hits} > {z_hits}"
    )
