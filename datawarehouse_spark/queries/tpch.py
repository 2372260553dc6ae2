"""TPC-H workload suite — the reference's own workload-class claim made
concrete.

SURVEY §6 records the reference's performance envelope as "TPC-H-class
queries respond fast under ROLAP" (reference docs/olap.md:58,102) without
publishing per-query numbers. This module pins that claim to runnable,
oracle-checked queries: every TPC-H query expressible on the trimmed
fixture schema, written Spark-first (declarative DataFrame plans, Catalyst
chooses join order / broadcast / AQE) with a DuckDB oracle in the
repo-wide exact-decimal-sum convention (see qutil).

Fixture-schema adaptations (the fixture is TPC-H minus `partsupp` and
minus the comment/address/shipmode/commitdate/receiptdate columns):

* Q1  → already registered as ``a1_pricing_summary`` (exact shape).
* Q2, Q11, Q16, Q20 are `partsupp` queries; the fixture has no partsupp
        table, so the part-supplier relation is DERIVED from lineitem
        (the distinct (l_partkey, l_suppkey) pairs — the same entity,
        observed through shipments). Q2's min-cost measure becomes
        s_acctbal, Q11's stock value becomes shipped qty × price,
        Q20's excess-stock test becomes a shipped-quantity ratio.
        With these, all 22 TPC-H queries are covered.
* Q4  → "late order" test uses EXISTS(l_shipdate > o_orderdate) in place
        of the commit/receipt-date comparison (same plan shape: a
        correlated EXISTS semi-join under an aggregation).
* Q9  → no ps_supplycost, so "profit" is the revenue term; the 5-way
        join + LIKE part filter + (nation, year) grouping is kept.
* Q12 → no l_shipmode/commit/receipt dates: group key becomes
        l_returnflag, "late" is l_shipdate > o_orderdate; the
        conditional-count pair over a non-equi join residual is kept.
* Q13 → the `o_comment NOT LIKE` filter becomes a join-side predicate on
        o_orderpriority (same left-outer-with-on-clause-filter shape).
* Q17 → `p_container` filter dropped (column absent); the correlated
        0.2*avg(l_quantity) subquery is kept — the oracle uses the
        aggregate-then-join form, Spark the equivalent single-scan
        window form.
* Q18 → already registered as ``a19_groupagg_in_subquery``.
* Q19 → the l_shipmode/l_shipinstruct conjuncts are dropped; the
        OR-of-conjunctive-ranges over (brand, size, quantity) — the part
        of Q19 that stresses the optimizer — is kept verbatim.
* Q21 → "late" is l_shipdate > o_orderdate; the double correlated
        subquery (EXISTS other supplier / NOT EXISTS other late
        supplier) is kept in the oracle and rewritten to the set form
        (per-(order,supplier) reduction + two window aggregates) on the
        Spark side.
* Q22 → already registered as ``p13_scalar_subquery_anti``.

Scale notes (100 TB): every query below is a declarative plan —
filters reach the parquet scan, nation/region broadcast, lineitem is
never shuffled more than once per aggregation, and the correlated
subqueries never re-scan the fact table (Q17/Q21 via windows over
reduced rows; Q15 by materializing the TPC-H revenue VIEW once —
executor-local blocks, not a driver collect). No driver-side loops, no
Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse_spark.catalog import load_tables
from datawarehouse_spark.operators.pin import pinned
from datawarehouse_spark.queries.qutil import dsum, sql_davg, sql_dsum
from datawarehouse_spark.queries.registry import query

_REV = "l_extendedprice * (1 - l_discount)"


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "tpch_q3",
    oracle=f"""
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           {sql_dsum(_REV, 4)} AS revenue,
           CAST(o_orderdate AS DATE) AS o_date
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_date, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 — shipping priority: 3-way join, agg, top-10 by revenue
    (deterministic tiebreak on (o_date, l_orderkey) added so the LIMIT
    is well-defined). Catalyst pushes both date filters to the scans and
    AQE picks broadcast for the filtered customer side."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    cutoff = F.lit("1998-03-15").cast("timestamp")
    c = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    o = t["orders"].filter(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("o_date"))
        .agg(dsum(_rev(), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_date", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_date")
    )


@query(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate < TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 — order-priority checking (fixture adaptation: the
    late-line EXISTS tests l_shipdate > o_orderdate; no commit/receipt
    dates in the schema). Correlated EXISTS → left-semi join with a
    non-equi conjunct; the date filter prunes orders before the join."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = t["lineitem"]
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "tpch_q5",
    oracle=f"""
    SELECT n_name, {sql_dsum(_REV, 4)} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 — local-supplier volume: 6-way join with the
    c_nationkey = s_nationkey "local" constraint. nation/region
    broadcast explicitly (tiny dims); the fact-side joins shuffle on
    their keys and AQE handles the rest."""
    t = load_tables(
        spark, sf_dir,
        ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    )
    n = t["nation"].join(
        F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        t["customer"]
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(_rev(), 4).alias("revenue"))
    )


@query(
    "tpch_q6",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 4)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — revenue forecast: pure scan-filter-agg, every
    predicate pushes to the parquet scan; the plan is one
    WholeStageCodegen span over the scan plus a 1-row final agg."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue")
    )


@query(
    "tpch_q7",
    oracle=f"""
    SELECT supp_nation, cust_nation, CAST(l_year AS BIGINT) AS l_year,
           {sql_dsum('volume', 4)} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year, {_REV} AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey
        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1999-01-01'
    ) AS shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 — volume shipping between two nations. Both nation
    aliases are pre-filtered to the two participating nations and
    broadcast onto supplier and customer BEFORE the fact-side joins, so
    rows from the other ~23 nations die before any shuffle instead of
    riding the lineitem→orders→customer shuffles only to be discarded
    at the end (Catalyst does not reorder the join to do this for us).
    The OR-of-ordered-pairs residual still applies after the joins to
    exclude the same-nation combinations."""
    t = load_tables(
        spark, sf_dir,
        ("supplier", "lineitem", "orders", "customer", "nation"),
    )
    nations = ("NATION_3", "NATION_8")
    n1 = t["nation"].filter(F.col("n_name").isin(*nations)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].filter(F.col("n_name").isin(*nations)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s2 = t["supplier"].join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    )
    c2 = t["customer"].join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
        | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        s2.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c2, F.col("c_custkey") == F.col("o_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(_rev(), 4).alias("revenue"))
    )


@query(
    "tpch_q8",
    oracle=f"""
    SELECT CAST(o_year AS BIGINT) AS o_year,
           ({sql_dsum("CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END", 4)}
            / {sql_dsum('volume', 4)}) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year, {_REV} AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1,
           nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        AND p_type = 'ECONOMY'
    ) AS all_nations
    GROUP BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 — national market share: ratio of two exact decimal
    sums per year (bit-deterministic per qutil). The customer→nation→
    region chain restricts the market; the supplier nation is the
    share dimension."""
    t = load_tables(
        spark, sf_dir,
        ("part", "supplier", "lineitem", "orders", "customer",
         "nation", "region"),
    )
    n1 = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("n1_key"))
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    p = t["part"].filter(F.col("p_type") == "ECONOMY")
    vol = _rev()
    share_num = F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        t["lineitem"]
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((dsum(share_num, 4) / dsum(vol, 4)).alias("mkt_share"))
    )


@query(
    "tpch_q10",
    oracle=f"""
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
           {sql_dsum(_REV, 4)} AS revenue, c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 — returned-item reporting: top-20 customers by lost
    revenue in a quarter (deterministic c_custkey tiebreak added).
    Both filters prune before the joins; nation broadcasts."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        t["customer"]
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_rev(), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@query(
    "tpch_q13",
    oracle="""
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) AS c_orders
    GROUP BY c_count
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 — customer order-count distribution (fixture
    adaptation: the o_comment NOT LIKE filter becomes the
    o_orderpriority join-side predicate — same left-outer-with-ON-
    filter shape). Two aggregations; the second groups on the first's
    output and is cheap."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    per_cust = (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@query(
    "tpch_q14",
    oracle=f"""
    SELECT (100.0 * {sql_dsum(f"CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE 0 END", 4)}
            / {sql_dsum(_REV, 4)}) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 — promotion effect: percentage-of-revenue ratio of two
    exact sums over one month of lineitem joined to part."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return (
        li.join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.0) * dsum(promo, 4) / dsum(_rev(), 4)).alias(
                "promo_revenue"
            )
        )
    )


@query(
    "tpch_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {sql_dsum(_REV, 4)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 — top supplier: the revenue "view" (TPC-H defines it
    as a VIEW) feeds both the join and the scalar MAX. It is persisted
    — one lineitem scan materializes the per-supplier aggregate, the
    MAX is a tree-reduced aggregate over the cached rows, and the
    equality join reads them again — because neither ReuseExchange nor
    AQE dedups the duplicated subtree (verified empirically, same
    finding as dedup.lsh_candidates), and the alternative single-scan
    form (an unpartitioned window) funnels every per-supplier row
    through ONE task — a spill cliff when suppliers number billions.
    The view is pinned (:func:`~datawarehouse_spark.operators.pin.pinned`)
    around the result's eager checkpoint. Revenue equality is exact:
    both engines produce the identical decimal-sum double per qutil."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier"))
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(_rev(), 4).alias("total_revenue"))
    )
    top = revenue.agg(F.max("total_revenue").alias("max_rev"))
    out = (
        t["supplier"]
        .join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(top), F.col("total_revenue") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
    )
    with pinned(revenue):
        return out.localCheckpoint(eager=True)


@query(
    "tpch_q17",
    oracle=f"""
    SELECT ({sql_dsum('l_extendedprice')} / 7.0) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
      SELECT l_partkey AS pk, {sql_davg('l_quantity')} AS avg_qty
      FROM lineitem GROUP BY l_partkey
    ) AS pa ON pa.pk = l_partkey
    WHERE p_brand = 'Brand#10' AND l_quantity < 0.2 * avg_qty
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 — small-quantity-order revenue (fixture adaptation:
    no p_container column, brand filter only). The correlated
    0.2*avg(l_quantity) subquery becomes a window average over the
    BRAND-FILTERED join: the brand filter admits whole partkey groups
    (every lineitem of a passing part survives), so the window average
    equals the full-table per-partkey average the oracle computes via
    aggregate-then-join — but lineitem is scanned ONCE and only the
    brand rows shuffle (by partkey), instead of aggregating all
    partkeys and scanning the fact table twice. Threshold arithmetic
    is the exact decimal sum / count per qutil, bit-identical in both
    engines."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    p = t["part"].filter(F.col("p_brand") == "Brand#10")
    w = W.partitionBy("l_partkey")
    avg_qty = (
        F.sum(F.col("l_quantity").cast("decimal(38,2)")).over(w).cast("double")
        / F.count("l_quantity").over(w)
    )
    return (
        t["lineitem"]
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


@query(
    "tpch_q19",
    oracle=f"""
    SELECT {sql_dsum(_REV, 4)} AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#10' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 1 AND 21)
        OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
            AND l_quantity BETWEEN 10 AND 30)
        OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 35
            AND l_quantity BETWEEN 20 AND 40))
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 — discounted revenue over an OR of conjunctive range
    predicates (fixture adaptation: shipmode/shipinstruct conjuncts
    dropped; the optimizer-stressing disjunction over (brand, size,
    quantity) is kept). Catalyst extracts the common p_partkey equi-key
    so this stays one hash join with a residual disjunction — not a
    cartesian product."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    cond = (
        ((F.col("p_brand") == "Brand#10")
         & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2")
           & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#5")
           & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 40))
    )
    return (
        t["lineitem"]
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(dsum(_rev(), 4).alias("revenue"))
    )


@query(
    "tpch_q9",
    oracle=f"""
    SELECT nation, CAST(o_year AS BIGINT) AS o_year,
           {sql_dsum('amount', 4)} AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year, {_REV} AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%widget%'
    ) AS profit
    GROUP BY nation, o_year
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 — product-type profit by supplier nation and order year
    (fixture adaptation: no partsupp, so profit is the revenue term
    without the ps_supplycost subtraction — the 5-way join + LIKE part
    filter + two-level grouping shape is what the query stresses)."""
    t = load_tables(
        spark, sf_dir, ("part", "supplier", "lineitem", "orders", "nation")
    )
    p = t["part"].filter(F.col("p_name").like("%widget%"))
    return (
        t["lineitem"]
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["nation"]),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(_rev(), 4).alias("sum_profit"))
    )


@query(
    "tpch_q12",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate > o_orderdate
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 — shipping-priority distribution (fixture adaptation:
    no l_shipmode/l_commitdate/l_receiptdate, so the group key is
    l_returnflag and "late" is l_shipdate > o_orderdate). The
    conditional-count pair over a join with a non-equi residual is the
    shape under test."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint")
            .alias("low_line_count"),
        )
    )


@query(
    "tpch_q21",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_shipdate > o_orderdate
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate)
      AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 — suppliers who kept orders waiting (fixture
    adaptation: "late" is l_shipdate > o_orderdate; no receipt/commit
    dates). The double correlated subquery (EXISTS another supplier,
    NOT EXISTS another LATE supplier) is rewritten to its set form:
    reduce lineitem to one row per (order, supplier) with its late-line
    count, then two window aggregates over the order give n_suppliers
    and n_late_suppliers — the EXISTS pair is exactly (n_supp >= 2 AND
    n_late_supp = 1 AND this supplier late). ONE lineitem scan and two
    shuffles over per-pair reduced rows, where the naive form scans
    lineitem three times and correlates twice."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ("supplier", "lineitem", "orders", "nation"))
    o = t["orders"].filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    pair = (
        t["lineitem"]
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        # hash(l_orderkey) satisfies BOTH the (l_orderkey, l_suppkey)
        # aggregation's clustering requirement and the window's — one
        # shuffle instead of two (agg by pair, re-shuffle by order)
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.sum(
                F.when(F.col("l_shipdate") > F.col("o_orderdate"), 1).otherwise(0)
            ).alias("n_late_lines")
        )
    )
    w = W.partitionBy("l_orderkey")
    cand = (
        pair.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_late_supp",
            F.sum((F.col("n_late_lines") > 0).cast("int")).over(w),
        )
        .filter(
            (F.col("n_late_lines") > 0)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
    )
    n = t["nation"].filter(F.col("n_name") == "NATION_3")
    return (
        cand.join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@query(
    "tpch_q2",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT p_partkey, s_suppkey, s_acctbal, s_name, n_name
      FROM part, lineitem, supplier, nation, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND p_size <= 10
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
    )
    SELECT s_acctbal, s_name, n_name, CAST(p_partkey AS BIGINT) AS p_partkey
    FROM ps
    QUALIFY s_acctbal = MIN(s_acctbal) OVER (PARTITION BY p_partkey)
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 — minimum-cost supplier per part (fixture adaptation:
    the part-supplier relation is DERIVED from lineitem — the distinct
    (l_partkey, l_suppkey) pairs stand in for partsupp — and the
    correlated MIN is over s_acctbal, the only supplier cost measure in
    the schema). The correlated scalar subquery runs as a window MIN
    over the part partition on the already-reduced distinct pair set:
    one pass, no re-join (same family as Q17/Q21)."""
    from pyspark.sql import Window as W

    t = load_tables(
        spark, sf_dir, ("part", "lineitem", "supplier", "nation", "region")
    )
    n = t["nation"].join(
        F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    # distinct on the NARROW key pair first (16 bytes/row through the
    # dedup shuffle), then attach supplier attributes — they are
    # functionally determined by s_suppkey, so this equals the oracle's
    # distinct over the wide row but never shuffles names/balances
    pairs = (
        t["lineitem"]
        .join(
            t["part"].filter(F.col("p_size") <= 10),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select("p_partkey", "l_suppkey")
        .distinct()
    )
    ps = (
        pairs.join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("p_partkey", "s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    w = W.partitionBy("p_partkey")
    return (
        ps.withColumn("_min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("_min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey")
    )


@query(
    "tpch_q11",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS dval
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey = 3
      GROUP BY l_partkey
    )
    SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
           CAST(dval AS DOUBLE) AS value
    FROM pv
    WHERE CAST(dval AS DOUBLE) >
          (SELECT CAST(SUM(dval) AS DOUBLE) / COUNT(*) * 2.0 FROM pv)
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 — important stock (fixture adaptation: "stock value"
    is shipped quantity × price over the lineitem-derived part-supplier
    relation; the threshold is 2× the average per-part share — the
    scale-free analogue of the spec's 0.0001/SF, which shrinks as the
    part count grows). The
    scalar-subquery-in-HAVING shape: the per-part aggregate is
    materialized once (Q15's persist discipline — the per-part value
    stays DECIMAL so the grand total is an exact tree-reduced decimal
    sum, bit-identical in both engines), the threshold broadcasts
    back, lineitem is scanned once."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier"))
    s = t["supplier"].filter(F.col("s_nationkey") == 3)
    pv = (
        t["lineitem"]
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_quantity") * F.col("l_extendedprice"))
                .cast("decimal(38,4)")
            ).alias("dval")
        )
    )
    total = pv.agg(
        F.sum("dval").alias("dtotal"), F.count(F.lit(1)).alias("n_parts")
    )
    out = (
        pv.join(F.broadcast(total))
        .filter(
            F.col("dval").cast("double")
            > F.col("dtotal").cast("double") / F.col("n_parts") * 2.0
        )
        .select("l_partkey", F.col("dval").cast("double").alias("value"))
    )
    with pinned(pv):
        return out.localCheckpoint(eager=True)


@query(
    "tpch_q16",
    oracle="""
    SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 15, 22, 25, 30)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 — parts/supplier relationship (fixture adaptation:
    the part-supplier relation is the lineitem (partkey, suppkey)
    pairs; the supplier-complaint NOT IN exclusion has no comment
    column to filter on). Distinct-count per 3-key group with
    negation + IN-list predicates pushed to the part scan."""
    t = load_tables(spark, sf_dir, ("part", "lineitem"))
    p = t["part"].filter(
        (F.col("p_brand") != "Brand#5") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 22, 25, 30)
    )
    return (
        t["lineitem"]
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q20",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND EXISTS (
        SELECT 1 FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_suppkey = s_suppkey AND p_name LIKE '%widget%'
        GROUP BY l_partkey
        HAVING CAST(SUM(CAST(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                                   AND l_shipdate < TIMESTAMP '1998-01-01'
                                  THEN l_quantity ELSE 0 END
                             AS DECIMAL(38,2))) AS DOUBLE)
             > 0.2 * CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)
      )
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 — potential part promotion (fixture adaptation: no
    ps_availqty, so "excess stock" is a (supplier, part) whose 1997
    shipped quantity exceeds 20% of its all-time shipped quantity of
    that widget part). The correlated grouped-HAVING EXISTS runs as
    the set form: ONE pass builds per-(supplier, part) conditional
    decimal sums, the threshold filter reduces to qualifying
    suppliers, and a semi-join picks up the supplier/nation columns —
    lineitem is never scanned twice."""
    t = load_tables(spark, sf_dir, ("supplier", "lineitem", "part", "nation"))
    widget = t["part"].filter(F.col("p_name").like("%widget%"))
    in_97 = (
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair = (
        t["lineitem"]
        .join(widget, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            dsum(F.when(in_97, F.col("l_quantity")).otherwise(0.0)).alias("q97"),
            dsum("l_quantity").alias("qall"),
        )
        .filter(F.col("q97") > 0.2 * F.col("qall"))
        .select("l_suppkey")
    )
    n = t["nation"].filter(F.col("n_name") == "NATION_3")
    return (
        t["supplier"]
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(pair, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )
