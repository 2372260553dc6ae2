"""Unit semantics for the as-of join and dedup-cluster resolution
(the oracle parity test covers the fixture-scale behavior; these pin
the edge cases a fixture may not exercise)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_spark.operators import skew
from datawarehouse_spark.operators.dedup import dedup_clusters
from datawarehouse_spark.operators.temporal import asof_join


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "p10"), (1, 20, "p20"), (2, 5, "p5")],
        "k int, lt long, lv string",
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (3, 1, "r1")],
        "k int, rt long, rv string",
    )
    out = {
        r["lv"]: (r["rv"], r["rt"])
        for r in asof_join(left, right, "k", "lt", "rt").collect()
    }
    assert out == {
        "p10": ("r10", 10),   # equal timestamps match (inclusive)
        "p20": ("r15", 15),   # most recent prior, not first
        "p5": (None, None),   # no prior right row → left-join NULLs
    }


def test_dedup_clusters_chain_converges_to_component_min(spark):
    # a 5-node chain (diameter > 1 — needs real propagation), plus an
    # isolated pair with ids out of order
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14), (99, 50)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["canonical_id"] for r in dedup_clusters(pairs).collect()
    }
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 50: 50, 99: 50}


def test_asof_join_rejects_colliding_columns(spark):
    """Shared non-key names or reserved _t/_tag columns would silently
    corrupt the union-window plan — must fail loudly instead."""
    l = spark.createDataFrame([(1, 10, "x")], "k int, lt long, v string")
    r = spark.createDataFrame([(1, 5, "y")], "k int, rt long, v string")
    with pytest.raises(ValueError, match=r"\['v'\] collide"):
        asof_join(l, r, "k", "lt", "rt")
    l2 = spark.createDataFrame([(1, 10, "x")], "k int, lt long, _tag string")
    r2 = spark.createDataFrame([(1, 5, "y")], "k int, rt long, rv string")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(l2, r2, "k", "lt", "rt")


def test_kmeans_zero_vector_does_not_poison_assignment(spark):
    """An all-zero embedding must not NaN-poison its whole Arrow batch:
    centroids stay finite and training still converges."""
    import math

    from datawarehouse_spark.operators.similarity import kmeans_centroids

    rows = [(i, [float(i % 4 == j) for j in range(4)]) for i in range(32)]
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(emb, n_cells=4, n_iter=2)
    assert all(math.isfinite(x) for c in cents for x in c)


def test_dedup_clusters_path_longer_than_max_iter(spark):
    """A path graph with diameter ≫ max_iter: plain 1-hop propagation
    would exit the cap unconverged (round 2's silent-wrong hazard);
    pointer jumping converges in O(log d) rounds, well inside the cap."""
    n = 60  # diameter 59 > max_iter=20
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["canonical_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_dedup_clusters_raises_on_non_convergence(spark):
    """Exhausting max_iter with labels still moving must raise, never
    silently return non-canonical ids."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iter=2)


def test_salted_join_rejects_replicating_modes(spark):
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(ValueError, match="salted_join supports"):
        skew.salted_join(df, df, "k", how="full")
    with pytest.raises(ValueError, match="salted_join supports"):
        skew.salted_join(df, df, "k", how="right")


def test_kmeans_centroids_deterministic(spark):
    """Two independent trainings must produce bit-identical centroids
    (lowest-id init, argmax ties to lowest cell, decimal-exact means)."""
    from datawarehouse_spark.catalog import load_tables
    from datawarehouse_spark.operators.similarity import kmeans_centroids
    from tests.conftest import SF_ORACLE

    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    a = kmeans_centroids(emb, n_cells=8, n_iter=2)
    b = kmeans_centroids(emb, n_cells=8, n_iter=2)
    assert a == b


def test_asof_join_null_valued_match_stays_the_match(spark):
    """A matched right row whose value column is NULL must BE the match
    (DuckDB ASOF / merge_asof semantics) — not be skipped in favor of a
    staler row, and never mix columns across different right rows."""
    from datawarehouse_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 30)], "k long, lt long")
    right = spark.createDataFrame(
        [(1, 10, 5.0, "a"), (1, 20, None, "b")],
        "k long, rt long, v double, s string",
    )
    row = asof_join(left, right, on="k", left_time="lt",
                    right_time="rt").collect()[0]
    assert row.rt == 20 and row.s == "b"
    assert row.v is None, "stale v=5.0 leaked from the t=10 row"


def test_gap_fill_interpolation_semantics(spark):
    """Hand-computed dense-grid fill: observed rows pass through,
    single and multi-step gaps interpolate linearly on the exact
    1e-6 integer grid, separate keys keep separate grids."""
    from pyspark.sql import functions as F

    from datawarehouse_spark.operators.temporal import gap_fill

    obs = spark.createDataFrame(
        [
            ("a", 10, 1.0), ("a", 12, 2.0),   # gap at 11 → 1.5
            ("a", 15, 5.0),                    # gaps 13, 14 → 3.0, 4.0
            ("b", 3, 7.5),                     # singleton → 1-row grid
        ],
        "k string, t long, v double",
    )
    out = {
        (r.k, r.t): (r.v_filled, r.observed)
        for r in gap_fill(obs, ["k"], "t", "v").collect()
    }
    assert out == {
        ("a", 10): (1.0, True),
        ("a", 11): (1.5, False),
        ("a", 12): (2.0, True),
        ("a", 13): (3.0, False),
        ("a", 14): (4.0, False),
        ("a", 15): (5.0, True),
        ("b", 3): (7.5, True),
    }
    # odd spans hit non-representable thirds: floor on the micro grid
    obs2 = spark.createDataFrame(
        [("c", 0, 0.0), ("c", 3, 1.0)], "k string, t long, v double"
    )
    got = {
        r.t: r.v_filled
        for r in gap_fill(obs2, ["k"], "t", "v").collect()
    }
    assert got == {0: 0.0, 1: 0.333333, 2: 0.666666, 3: 1.0}


def test_mad_outlier_flags_spike_that_zscore_masking_hides(spark):
    """A synthetic series with TWO spikes: MAD scoring flags both
    (median/MAD ignore the spikes themselves), and the exact .25-grid
    median arithmetic matches a hand computation. The fixture's smooth
    traffic yields zero outliers, so the detection path is pinned
    here."""
    from datawarehouse_spark.operators.temporal import mad_outlier_scores

    series = [("pv", d, c) for d, c in enumerate(
        [100, 102, 98, 101, 99, 100, 1000, 97, 103, 950])]
    series += [("click", d, 50) for d in range(10)]  # constant: MAD 0
    df = spark.createDataFrame(series, ["event_type", "dt", "c"])
    out = {(r.event_type, r.dt): r
           for r in mad_outlier_scores(df, ["event_type"]).collect()}
    # pv: sorted [97,98,99,100,100,101,102,103,950,1000] -> med 100.5
    # devs sorted [.5,.5,.5,1.5,1.5,2.5,2.5,3.5,849.5,899.5] -> mad 2.0
    r = out[("pv", 6)]
    assert r.med_c == 100.5 and r.mad_c == 2.0
    assert r.is_outlier and abs(r.rz - round(0.6745 * 899.5 / 2.0, 6)) < 1e-12
    assert out[("pv", 9)].is_outlier
    assert sum(v.is_outlier for (k, _), v in out.items() if k == "pv") == 2
    # inliers unflagged, constant series never divides by zero
    assert not out[("pv", 0)].is_outlier
    c = out[("click", 3)]
    assert c.mad_c == 0.0 and c.rz is None and not c.is_outlier


def test_time_weighted_avg_locf_semantics(spark):
    """TWA on a hand-computed series: value 10.00 for 3 us, then
    1.00 for 1 us -> (1000*3 + 100*1)/4/100 = 7.75 — a plain AVG
    would say 5.5 under the same samples (burst over-weighting).
    Single-sample groups and all-tied timestamps emit NULL (zero
    span); timestamp ties contribute zero weight regardless of
    tiebreak order."""
    from datawarehouse_spark.operators.temporal import time_weighted_avg

    rows = [
        # key "a": t=0 v=10.00, t=3 v=1.00, t=4 v=99.0 (last, 0-weight)
        ("a", 0, 10.00, 1), ("a", 3, 1.00, 2), ("a", 4, 99.0, 3),
        # key "b": one sample -> NULL twa
        ("b", 7, 5.0, 4),
        # key "c": two samples at the SAME t -> span 0 -> NULL
        ("c", 9, 1.0, 5), ("c", 9, 2.0, 6),
    ]
    df = spark.createDataFrame(rows, "k string, t long, value double, id long")
    out = {r["k"]: r for r in
           time_weighted_avg(df, ["k"], "t", "value", "id").collect()}
    a = out["a"]
    assert a["n_events"] == 3 and a["span_us"] == 4
    assert a["twa"] == (1000 * 3 + 100 * 1) / 4 / 100.0  # 7.75
    assert out["b"]["twa"] is None and out["b"]["span_us"] == 0
    assert out["c"]["twa"] is None and out["c"]["n_events"] == 2


def test_multitouch_attribution_credit_conserves(spark):
    """Linear multi-touch invariant at sf0.01: per purchase, the n
    credits sum back to the purchase value (within one ulp per touch)
    and ranks are a 1..n permutation ordered by view time."""
    from datawarehouse_spark.queries.registry import QUERIES
    from tests.conftest import SF_ORACLE

    out = QUERIES["t15_multitouch_attribution"](
        spark, SF_ORACLE
    ).collect()
    assert out
    by_p = {}
    for r in out:
        by_p.setdefault(r["purchase_id"], []).append(r)
    for pid, rows in by_p.items():
        n = rows[0]["n_touches"]
        assert len(rows) == n
        assert sorted(r["touch_rank"] for r in rows) == list(range(1, n + 1))
        total = sum(r["credit"] for r in rows)
        # credit = value/n summed n times: exact when n is a power of
        # two, within n ulps otherwise
        assert abs(total - n * rows[0]["credit"]) < 1e-9
        ordered = sorted(rows, key=lambda r: (r["view_ts_us"], r["view_id"]))
        assert [r["touch_rank"] for r in ordered] == list(range(1, n + 1))


def test_hierarchy_stats_forest_semantics(spark):
    """Hand-built 2-tree forest: a 4-deep chain under root 1 plus a
    branching tree under root 6 and a singleton root 9 — pins depth,
    root assignment, descendant counts and the inclusive subtree
    rollup (incl. a chain deeper than one doubling round)."""
    from datawarehouse_spark.operators.graph import hierarchy_stats

    #      1          6        9
    #      2        7   8
    #      3
    #      4
    #      5
    rows = [
        (1, None, 1.00), (2, 1, 2.00), (3, 2, 4.00), (4, 3, 8.00),
        (5, 4, 16.00),
        (6, None, 1.50), (7, 6, 2.50), (8, 6, 3.50),
        (9, None, 0.25),
    ]
    nodes = spark.createDataFrame(rows, "k long, p long, val double")
    got = {
        r["node_key"]: (r["depth"], r["root_key"], r["n_desc"],
                        r["subtree_bal"])
        for r in hierarchy_stats(nodes).collect()
    }
    assert got == {
        1: (0, 1, 4, 31.00),
        2: (1, 1, 3, 30.00),
        3: (2, 1, 2, 28.00),
        4: (3, 1, 1, 24.00),
        5: (4, 1, 0, 16.00),
        6: (0, 6, 2, 7.50),
        7: (1, 6, 0, 2.50),
        8: (1, 6, 0, 3.50),
        9: (0, 9, 0, 0.25),
    }


def test_hierarchy_bounded_rounds_equal_fixpoint_and_raise(spark):
    """max_depth fixed-round mode must equal the fixpoint mode, and a
    violated bound must raise (never silently truncate the closure)."""
    from datawarehouse_spark.operators.graph import hierarchy_stats

    rows = [(i, None if i == 0 else i - 1, 1.0) for i in range(7)]  # chain
    nodes = spark.createDataFrame(rows, "k long, p long, val double")
    fix = sorted(tuple(r) for r in hierarchy_stats(nodes).collect())
    bnd = sorted(
        tuple(r) for r in hierarchy_stats(nodes, max_depth=6).collect()
    )
    assert fix == bnd

    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_depth"):
        hierarchy_stats(nodes, max_depth=2).collect()


def test_cusum_accumulates_drift_and_resets(spark):
    """CUSUM semantics on a crafted series: a sustained small upward
    shift accumulates into an alarm that no single day triggers, and
    the statistic clamps back to 0 when the series returns to
    baseline. Mirrors the t18 scaled-integer formulation (n=10,
    total=10·mean) with K=5, H=20."""
    from datawarehouse_spark.queries.warehouse import t18_cusum_changepoint

    # build an events table whose daily counts are exactly:
    # 5 baseline days of 60, then 4 shifted days of 75, then 60 again
    counts = [60] * 5 + [75] * 4 + [60]
    rows = []
    eid = 0
    for day, c in enumerate(counts, start=1):
        for _ in range(c):
            rows.append(
                (eid, f"2024-02-{day:02d} 12:00:00", eid % 7, "click",
                 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, "
              "event_type string, value double, props string"
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    import tempfile, shutil
    d = tempfile.mkdtemp(prefix="dw_cusum_")
    try:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = {
            str(r["dt"]): (r["cusum_n"], r["is_alarm"])
            for r in t18_cusum_changepoint(spark, d).collect()
        }
        n, total = 10, sum(counts)  # mean=66, K=5 -> slack 71/day
        # baseline days only bleed when c - mean - K > 0: 60 < 71 -> 0
        assert out["2024-02-05"] == (0, False)
        # each shifted day adds n*75 - total - n*5 = 750-660-50 = 40
        assert out["2024-02-06"] == (40, False)
        assert out["2024-02-09"] == (160, False)  # 4 days of drift
        # alarm bar is n*H = 200 — four drift days stay under it, so
        # H=20 would need a longer run; verify the reset instead
        assert out["2024-02-10"] == (50, False)  # 160 + 600-660-50
    finally:
        shutil.rmtree(d, ignore_errors=True)
