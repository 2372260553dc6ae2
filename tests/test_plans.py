"""Physical-plan assertions: pushdown, pruning, broadcast, codegen —
the properties that decide whether a plan survives a 100× scale-up.
Mirrors the reference's annotated-EXPLAIN methodology (docs/explain.md).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_spark.catalog import load_tables
from datawarehouse_spark.plans import advisor, parity
from datawarehouse_spark.queries import QUERIES_RAW as QUERIES
from tests.conftest import SF_ORACLE


def test_filter_pushed_to_parquet_scan(spark):
    df = QUERIES["p2_filter_predicates"](spark, SF_ORACLE)
    rep = parity.analyze(df)
    assert rep.pushed_filters, "comparison predicates must reach the scan"
    assert rep.whole_stage_codegen


def test_column_pruning_reaches_scan(spark):
    df = QUERIES["s1_scan_project"](spark, SF_ORACLE)
    plan = rep = parity.analyze(df).spark_plan
    assert "ReadSchema: struct<r_regionkey:int,r_name:string>" in plan


def test_broadcast_join_chosen_for_dims(spark):
    df = QUERIES["j4_broadcast_dims"](spark, SF_ORACLE)
    rep = parity.analyze(df)
    assert rep.broadcast_joins >= 2, "both dims must broadcast (map join)"
    assert rep.shuffle_joins == 0


def test_partition_pruning_on_partitioned_layout(spark):
    df = QUERIES["s2_partition_pruned_scan"](spark, SF_ORACLE)
    rep = parity.analyze(df)
    assert rep.partition_filters, "dt range must prune partition dirs"


def test_topn_plans_take_ordered(spark):
    df = QUERIES["o1_order_by_limit"](spark, SF_ORACLE)
    assert "TakeOrderedAndProject" in parity.analyze(df).spark_plan, (
        "ORDER BY+LIMIT must not global-sort"
    )


def test_agg_is_partial_then_final(spark):
    df = QUERIES["a1_pricing_summary"](spark, SF_ORACLE)
    rep = parity.analyze(df)
    assert "Group By Operator" in rep.hive_operators
    assert rep.n_shuffles == 1, "one Map→Reduce edge for the aggregation"


def test_ngram_self_join_reuses_exchange(spark):
    """UNCAPPED path only (max_shingle_freq=None): with persist=False
    (the 100 TB regime, where the shingle set exceeds cluster cache)
    the self-join's two sides are identical subplans: Spark must
    compute their shuffle once (ReusedExchange). The capped path has
    no self-join at all since r14 — see
    test_ngram_capped_group_path_no_self_join."""
    from datawarehouse_spark.operators import dedup

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    # a persisted shingle set from an earlier test would be substituted
    # into this plan as InMemoryRelation, hiding the exchanges
    spark.catalog.clearCache()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # at sf0.01 the sides broadcast (no exchange to reuse); force the
    # at-scale shuffle-join regime, where reuse is what saves us
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        df = dedup.ngram_jaccard_pairs(
            docs, threshold=0.3, max_shingle_freq=None, persist=False
        )
        df.collect()  # AQE decides reuse at runtime — need the final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_ngram_capped_group_path_no_self_join(spark):
    """r14: the capped path (every registry call) generates pairs from
    ONE group-by-shingle collect_list instead of the shingle self-join
    — the plan must show the collect_list aggregation and must NOT
    join on the shingle hash column; and its output must be
    row-identical (bit-equal jaccard) to the uncapped self-join path
    when the cap is high enough to drop nothing."""
    from datawarehouse_spark.operators import dedup

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    spark.catalog.clearCache()
    capped = dedup.ngram_jaccard_pairs(
        docs, threshold=0.3, max_shingle_freq=10**9, persist=False
    )
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" in plan
    # the only shingle-keyed join allowed is the hot-list LeftAnti;
    # no inner equi-join of the shingle stream against itself
    import re

    self_joins = [
        ln for ln in plan.splitlines()
        if ("Inner" in ln) and re.search(r"\[s#\d+L?\], \[s#\d+L?\]", ln)
    ]
    assert not self_joins, self_joins
    uncapped = dedup.ngram_jaccard_pairs(
        docs, threshold=0.3, max_shingle_freq=None, persist=False
    )
    import struct

    k = {(r.doc_a, r.doc_b): struct.pack("<d", r.jaccard)
         for r in capped.collect()}
    u = {(r.doc_a, r.doc_b): struct.pack("<d", r.jaccard)
         for r in uncapped.collect()}
    assert k == u and len(k) > 0


def test_semi_anti_join_rewrite(spark):
    semi = QUERIES["p9_exists_semi"](spark, SF_ORACLE)
    anti = QUERIES["p10_not_exists_anti"](spark, SF_ORACLE)
    assert "LeftSemi" in parity.analyze(semi).spark_plan
    assert "LeftAnti" in parity.analyze(anti).spark_plan


def test_parity_report_matches_reference_shape(spark):
    """The reference's annotated plan (docs/explain.md:36-83):
    TableScan → Filter → Select → GroupBy(hash) → shuffle →
    GroupBy(mergepartial). Our flagship-analog plan must map onto it."""
    t = load_tables(spark, SF_ORACLE, ("part",))
    df = (
        t["part"]
        .filter((F.col("p_partkey") > 100) & F.col("p_name").like("%a%"))
        .select("p_brand", "p_partkey")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rep = parity.analyze(df)
    for op in (
        "TableScan",
        "Group By Operator",
        "Reduce Output Operator (shuffle)",
    ):
        assert op in rep.hive_operators, rep.hive_operators


def test_advisor_sql_lints():
    bad = """
    SELECT * FROM emp WHERE sal * 12 > 25000
    UNION
    SELECT * FROM emp2 ORDER BY 1
    """
    rules = {a.rule for a in advisor.lint_sql(bad)}
    assert "no-select-star" in rules
    assert "union-vs-union-all" in rules
    assert "expression-on-column" in rules


def test_advisor_plan_lint_cartesian(spark):
    t = load_tables(spark, SF_ORACLE, ("orders", "lineitem"))
    big_cross = t["orders"].crossJoin(t["lineitem"].hint("shuffle_replicate_nl"))
    rules = {a.rule for a in advisor.lint_plan(big_cross)}
    assert "cartesian-product" in rules


def test_bucketed_join_has_no_exchange(spark):
    """Bucketed fact⋈fact equi-join: both sides pre-partitioned by the
    key at write time → SortMergeJoin with NO Exchange (the co-located
    join strategy SCALE.md commits to for repeated 100 TB joins)."""
    from datawarehouse_spark.sources import io

    t = load_tables(spark, SF_ORACLE, ("lineitem", "orders"))
    io.write_bucketed(
        t["lineitem"].select("l_orderkey", "l_quantity"), "b_lineitem",
        "l_orderkey", 8,
    )
    io.write_bucketed(
        t["orders"].select("o_orderkey", "o_orderpriority"), "b_orders",
        "o_orderkey", 8,
    )
    # merge hint: at fixture scale Catalyst would broadcast instead; the
    # bucketed-SMJ path is the one that matters at fact⋈fact scale
    j = spark.table("b_lineitem").hint("merge").join(
        spark.table("b_orders").hint("merge"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = parity.analyze(j).spark_plan
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "Exchange" not in plan, plan


def test_analyze_table_feeds_cbo_stats(spark):
    """ANALYZE TABLE populates row-count stats the optimizer can read."""
    from datawarehouse_spark.sources import io

    import shutil

    load_tables(spark, SF_ORACLE, ("nation",))
    spark.sql("DROP TABLE IF EXISTS stats_nation")
    wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    shutil.rmtree(f"{wh}/stats_nation", ignore_errors=True)
    spark.table("nation").write.saveAsTable("stats_nation")
    io.analyze_table(spark, "stats_nation", columns=["n_nationkey"])
    desc = spark.sql(
        "DESCRIBE EXTENDED stats_nation"
    ).collect()
    txt = "\n".join(str(r) for r in desc)
    assert "rows" in txt or "Statistics" in txt


def test_distribute_by_hash_partitions_without_sort(spark):
    """O3 — DISTRIBUTE BY ≡ repartition(cols): one hash Exchange, no
    global sort (the reference's map-output partition columns,
    docs/explain.md:108)."""
    t = load_tables(spark, SF_ORACLE, ("orders",))
    df = t["orders"].repartition(8, F.col("o_custkey"))
    plan = parity.analyze(df).spark_plan
    assert "hashpartitioning(o_custkey" in plan
    assert "rangepartitioning" not in plan


def test_impossible_where_folds_to_empty(spark):
    """Constant-false predicate folds to an empty LocalRelation at plan
    time — the Spark analog of MySQL's `impossible where`
    (docs/explain.md:198): no scan is scheduled at all."""
    t = load_tables(spark, SF_ORACLE, ("orders",))
    df = t["orders"].filter(F.lit(1) == F.lit(0))
    plan = parity.analyze(df).spark_plan
    assert "LocalTableScan" in plan or "LocalRelation" in plan, plan
    assert "FileScan" not in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """The engine's first-line skew defense (SCALE.md): AQE detects the
    hot key at runtime and splits its partition — the final adaptive
    plan shows SortMergeJoin(skew=true). Thresholds are lowered so the
    fixture-scale hot key crosses them; production keeps defaults."""
    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        # numPartitions pinned: a 1-partition Range at local[1] already
        # satisfies the join distribution, so no shuffle and no skew split
        big = spark.range(0, 400000, numPartitions=4).select(
            F.when(F.col("id") < 300000, F.lit(7))
            .otherwise(F.pmod("id", 1000))
            .alias("k"),
            F.col("id").alias("v"),
        )
        small = spark.range(0, 1000, numPartitions=4).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = big.join(small, "k").select(F.sum("v").alias("s"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "isFinalPlan=true" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_semantic_dedup_single_shuffle(spark):
    """SemDeDup's only exchange is the hash partition on the cluster id
    feeding the per-cluster GEMM — no pair-row blowup, no extra sort."""
    import re

    from datawarehouse_spark.operators import similarity

    emb = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"]
    plan = (
        similarity.semantic_dedup(emb, 0.42, cluster_col="label")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1, plan
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_rowlevel_corpus_ops_shuffle_free(spark):
    """stratified_sample and pii_redact are pure per-row JVM projections:
    zero KEY-based Exchange, zero Python eval — the shape that is
    trivially linear at any corpus size. The one Exchange allowed is
    widen_narrow_input's RoundRobin repartition (r14): a 1:1
    volume-proportional split widen that only fires when the input has
    fewer splits than the session parallelism (a no-op at real scale —
    asserted by test_widen_narrow_input_layout_contract)."""
    import re

    from datawarehouse_spark.operators import text

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    for df in (
        text.stratified_sample(docs, {"en": 0.3, "zh": 0.8}),
        text.pii_redact(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for m in re.finditer(r"Exchange (\w+)", plan):
            assert m.group(1) == "RoundRobinPartitioning", plan
        assert "Python" not in plan, plan  # no BatchEvalPython/ArrowEval


def test_lsh_candidates_persist_path_cleans_up(spark):
    """persist=True computes the minhash pipeline once (banded rows
    cached across the self-join's two sides), materializes the small
    candidate result, and deterministically DROPS the banded cache
    before returning — a long-lived session must not accumulate
    banded blocks waiting on the ContextCleaner. At most the
    checkpointed result itself may remain in storage (freed when the
    caller releases the DataFrame)."""
    from datawarehouse_spark.operators import dedup

    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    sig = dedup.minhash_signature(docs)
    sc = spark.sparkContext._jsc.sc()
    n_before = sc.getPersistentRDDs().size()
    cand = dedup.lsh_candidates(sig, persist=True)
    n_after = sc.getPersistentRDDs().size()
    # only the materialized result may linger — never the banded rows
    assert n_after - n_before <= 1, (n_before, n_after)
    lazy = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidates(sig, persist=False).collect()
    }
    assert {(r.doc_a, r.doc_b) for r in cand.collect()} == lazy


def test_union_aggs_single_scan_scans_once_and_matches_naive(spark):
    """SURVEY §4.1 rule: the collapsed form must read the fact table
    exactly ONCE (the naive union form scans it once per branch) and
    return exactly the naive form's rows."""
    from datawarehouse_spark.plans.rewrite import union_aggs_single_scan

    e = load_tables(spark, SF_ORACLE, ("events",))["events"]
    branches = {
        "all": F.lit(True),
        "high": F.col("value") > 50,
        "purchase": F.col("event_type") == "purchase",
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    fused = union_aggs_single_scan(e, branches, ["event_type"], aggs)

    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan

    naive = None
    for tag, pred in branches.items():
        b = (
            e.filter(pred)
            .groupBy("event_type")
            .agg(*aggs)
            .select(F.lit(tag).alias("branch"), "event_type", "n")
        )
        naive = b if naive is None else naive.unionAll(b)
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert naive_plan.count("FileScan") == 3, naive_plan

    got = {tuple(r) for r in fused.collect()}
    want = {tuple(r) for r in naive.collect()}
    assert got == want


def test_advisor_flags_repeated_scan_and_not_fused_form(spark):
    """The repeated-scan lint fires on the naive N-branch union form
    and stays silent on the single-scan rewrite of the same query."""
    from datawarehouse_spark.plans.rewrite import union_aggs_single_scan

    e = load_tables(spark, SF_ORACLE, ("events",))["events"]
    aggs = [F.count(F.lit(1)).alias("n")]
    naive = (
        e.filter(F.col("value") > 50).groupBy("event_type").agg(*aggs)
        .unionAll(
            e.filter(F.col("value") <= 50).groupBy("event_type").agg(*aggs)
        )
    )
    assert "repeated-scan" in {a.rule for a in advisor.lint_plan(naive)}

    fused = union_aggs_single_scan(
        e,
        {"hi": F.col("value") > 50, "lo": F.col("value") <= 50},
        ["event_type"],
        aggs,
    )
    assert "repeated-scan" not in {a.rule for a in advisor.lint_plan(fused)}


def test_advisor_repeated_scan_silent_on_self_join(spark):
    """A broadcast self-join scans the table twice legitimately — the
    repeated-scan lint must not fire (it targets union'd re-scans)."""
    e = load_tables(spark, SF_ORACLE, ("events",))["events"]
    self_join = e.alias("a").join(
        F.broadcast(e.alias("b").filter(F.col("user_id") < 5)),
        F.col("a.user_id") == F.col("b.user_id"),
    )
    assert "repeated-scan" not in {a.rule for a in advisor.lint_plan(self_join)}


def test_entry_contract_runs_on_plain_session(spark):
    """The driver smoke-checks __spark_entry__.entry on a session WE
    did not build; entry must therefore pin every conf it needs at
    runtime. The shared `spark` fixture uses the tuned profile, so
    here we strip the two parquet-reading confs the catalog depends on
    and prove load-time normalization restores them."""
    import __spark_entry__ as E

    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.legacy.parquet.nanosAsLong",
            "spark.sql.parquet.inferTimestampNTZ.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        df = E.entry(spark)
        assert df.count() >= 0
        assert df.schema == E.entry(spark).schema
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_tpch_q6_all_predicates_pushed_single_scan(spark):
    """Q6 is the canonical pushdown check: every predicate (two dates,
    discount band, quantity cap) must reach the parquet scan, and the
    whole query is one scan + partial/final agg."""
    rep = parity.analyze(QUERIES["tpch_q6"](spark, SF_ORACLE))
    plan = rep.spark_plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, "no PushedFilters line in the plan"
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(frag in ln for ln in pushed), (
            f"{frag} predicate not pushed: {pushed}"
        )
    assert plan.count("Scan parquet") == 1
    assert "partial_sum" in plan, "aggregation must be partial→final"


def test_tpch_q3_broadcasts_and_takes_ordered(spark):
    """Q3: filtered customer/orders broadcast against lineitem; the
    top-10 must plan TakeOrderedAndProject, never a global sort."""
    rep = parity.analyze(QUERIES["tpch_q3"](spark, SF_ORACLE))
    assert rep.broadcast_joins >= 1
    assert "TakeOrderedAndProject" in rep.spark_plan


def test_tpch_q15_q17_scan_lineitem_once(spark):
    """The correlated-subquery queries must NOT duplicate the fact-table
    scan: Q17's per-partkey average is a window over the brand-filtered
    join, Q21's double correlated EXISTS is a per-(order,supplier)
    reduction plus two window aggregates — each exactly one lineitem
    scan (the naive Q21 scans it three times). Q15 materializes the
    TPC-H revenue VIEW once (persist → eager localCheckpoint →
    unpersist): the returned plan is the checkpointed result, and the
    revenue cache must not outlive the call."""
    for name in ("tpch_q17", "tpch_q21"):
        plan = parity.analyze(QUERIES[name](spark, SF_ORACLE)).spark_plan
        assert plan.count("lineitem.parquet") == 1, f"{name} re-scans lineitem"
    before = {
        r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    df = QUERIES["tpch_q15"](spark, SF_ORACLE)
    plan = parity.analyze(df).spark_plan
    assert "ExistingRDD" in plan, "q15 must return the materialized view result"
    # the only storage the call may add is its own checkpointed result —
    # the persisted revenue view must have been dropped in the finally
    new = [
        r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if r.id() not in before
    ]
    assert len(new) <= 1, f"q15 leaked cached RDDs: {[r.name() for r in new]}"


def test_runtime_bloom_filter_reduces_shuffle_join(spark):
    """Runtime bloom-filter semi-join reduction (on by default,
    spark.sql.optimizer.runtime.bloomFilter.enabled): when a selective
    dim side can't broadcast, Spark builds a bloom filter from the dim
    keys and applies `might_contain` on the fact side BEFORE its
    shuffle — the 100 TB lever that turns a full fact shuffle into a
    filtered one. The 10 GiB application-side threshold never fires at
    fixture scale, so this test lowers it to prove the plan shape the
    defaults produce at real scale."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        plan = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "bloom_filter_agg" in plan and "might_contain" in plan, (
            "selective non-broadcast join must inject a runtime bloom filter"
        )
        assert "partial_bloom_filter_agg" in plan, (
            "bloom build must itself be partial→final (map-combined)"
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_lm_and_kl_marginals_stay_in_one_lineage(spark):
    """The bigram-LM model and the domain-KL marginals derive their
    word marginals and corpus totals from ONE materialized count table
    (r10: the counted table is eagerly checkpointed; partitioned
    windows read it and the grand total is an agg scalar broadcast
    back — no global window, no per-branch re-aggregation of the
    corpus scan). The count build scans the corpus once AT CHECKPOINT
    TIME, so the returned plan must show the model side reading the
    checkpoint (Scan ExistingRDD), never a second parquet scan:
    domain_kl's final plan has ZERO corpus scans, lm_perplexity's has
    exactly two (the scoring stream + a doc_id-only pruned scan for
    the left join). The round-5 double-scan bug class, pinned."""
    kl = QUERIES["llm_domain_kl"](spark, SF_ORACLE)
    plan = kl._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan

    lm = QUERIES["llm_lm_perplexity"](spark, SF_ORACLE)
    plan = lm._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 2, plan
    assert "Scan ExistingRDD" in plan, plan
    # the left-join branch must be column-pruned to doc_id alone
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan


def test_domain_overlap_reuses_shingle_exchange(spark):
    """The distinct (domain, shingle) table must be computed ONCE and
    fanned out to its three consumers (sizes + both self-join sides),
    never rebuilt per branch. Since r14 the table is localCheckpointed,
    so the final plan reads the pinned RDD (Scan ExistingRDD) and holds
    ZERO parquet scans — the scan → explode → distinct chain ran
    exactly once, in the checkpoint job. (Before r14 this relied on
    runtime ReusedExchange, which the solo plain-session plan did not
    actually produce — 8 parquet scans, measured.)"""
    df = QUERIES["llm_domain_overlap"](spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan


def test_trailing_range_frame_single_exchange(spark):
    """w11: one Exchange on the partition key serves BOTH window
    aggregates in ONE Window operator — a second Window or Exchange
    would mean the frame pair re-shuffled."""
    df = QUERIES["w11_trailing_range_window"](spark, SF_ORACLE)
    plan = parity.analyze(df).spark_plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") == 1, plan
    assert "RangeFrame" in plan, "frame must be a value-RANGE frame"


def test_join_cardinality_estimate_never_expands_join(spark):
    """The estimator's exact join size must come from the per-key
    rollup join (two partial-agg exchanges + one final bucket agg),
    never a row-expanded orders×customer join: every join input in
    the plan is an aggregate, and the only broadcast is the scalar
    bounds row."""
    df = QUERIES["dq_join_cardinality_estimate"](spark, SF_ORACLE)
    plan = parity.analyze(df).spark_plan
    # 4 hash exchanges (rollup each side + the scalar bounds agg +
    # the final bucket agg) + 1 broadcast of the bounds row
    assert plan.count("Exchange") == 5, plan
    assert plan.count("BroadcastExchange") == 1, plan
    smj = plan.count("SortMergeJoin")
    bhj = plan.count("BroadcastHashJoin")
    assert smj + bhj == 1, f"expected exactly the rollup join: {plan}"


def test_recommend_shuffle_partitions_regimes():
    """The static partition-sizing rule: core-count floor for small
    jobs, ~128 MB per partition in the linear regime, hard cap at the
    scheduler-overhead bound (raise target size past it, not count)."""
    from datawarehouse_spark.session import _cpus, recommend_shuffle_partitions

    floor = _cpus()
    assert recommend_shuffle_partitions(0) == max(floor, 1)
    assert recommend_shuffle_partitions(10 << 30) == max(80, floor)
    assert recommend_shuffle_partitions(1 << 40) == 8192
    assert recommend_shuffle_partitions(100 << 40) == 200_000
    assert recommend_shuffle_partitions(100 << 40,
                                        target_partition_mb=1024) == 102_400
    assert recommend_shuffle_partitions(5 << 30, min_partitions=100) == 100
    import pytest as _pytest
    with _pytest.raises(ValueError):
        recommend_shuffle_partitions(-1)


def test_r9_new_ops_exchange_budgets(spark):
    """Pins the PLANS.md shuffle claims of the round-9 additions:
    f14 is a pure projection (zero Exchange); w13/w14 run ONE
    user_id Exchange; t16 and a24 stay within two Exchanges (rollup +
    regroup / window); none of them evaluates Python in the plan."""
    import re

    budgets = {
        "f14_higher_order_arrays": 0,
        "w13_windowed_count_distinct": 1,
        "w14_locf_ignore_nulls": 1,
        "t16_ewma_smoothing": 2,
        "a24_bitmap_distinct": 2,
        "w12_match_recognize": 1,
    }
    for name, budget in budgets.items():
        plan = (
            QUERIES[name](spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString()
        )
        n = len(re.findall(r"\bExchange hashpartitioning", plan))
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}\n{plan}"
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_r10_new_ops_exchange_budgets(spark):
    """Pins the shuffle claims of the round-10 additions: the Benford
    audit is one 9-key map-combined count (its corpus total is a
    scalar agg, not a window); k-anonymity is one QI-key aggregate;
    l-diversity chains class→QI→entropy aggregates (three key
    exchanges); none evaluates Python or a cartesian. The iterative
    graph ops (kcore, textrank) are covered by the registry-wide lint
    sweep instead — their exchange count is round-dependent by
    design."""
    import re

    budgets = {
        # 2: the 9-row digit-count table feeds both the output select
        # and the scalar-total branch (each re-aggregates 9 rows)
        "dq_benford": 2,
        "dq_k_anonymity": 1,
        "dq_l_diversity": 3,
    }
    for name, budget in budgets.items():
        plan = (
            QUERIES[name](spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString()
        )
        n = len(re.findall(r"\bExchange hashpartitioning", plan))
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}\n{plan}"
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_x5_rfm_has_no_single_partition_window(spark):
    """The r9 verdict's #1 scale defect, pinned dead: the RFM
    quintiles must never plan a Window over an Exchange
    SinglePartition (the classic global-NTILE funnel) — the
    distributed global-rank path (range partitions + broadcast
    triangular-join offsets + the ANSI NTILE bucket formula) leaves
    single-partition exchanges only under scalar aggregates."""
    import re

    plan = (
        QUERIES["x5_rfm_segmentation"](spark, SF_ORACLE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert not re.search(
        r"\bWindow\b[^\n]*\n(?:[^\n]*\bSort\b[^\n]*\n)?"
        r"[^\n]*Exchange SinglePartition",
        plan,
    ), plan
    # the range-partitioned rank runs inside global_rank's eager
    # localCheckpoint, so the returned plan reads the materialized
    # blocks rather than re-showing the range exchange
    assert "Scan ExistingRDD" in plan, plan


def test_r11_new_ops_exchange_budgets(spark):
    """Pins the shuffle claims of the round-11 additions: market
    basket reuses ONE checkpointed distinct basket projection (3
    exchanges: two self-join sides + the pair count; item counts ride
    a broadcast); Theil-Sen shuffles only the types×days rollup and
    its pair window (2); the FD audit is one map-combined groupBy per
    asserted FD (8 = 4 FDs × (group + the countDistinct split)); the
    HNSW dense build has NO shuffle at all (bounded driver collect +
    per-partition GEMM). The iterative LPA op is covered by the
    registry-wide lint sweep — its exchange count is round-dependent
    by design."""
    import re

    budgets = {
        "a26_market_basket": 3,
        "t21_theilsen_trend": 2,
        "dq_fd_audit": 8,
        "llm_hnsw_graph": 0,
    }
    for name, budget in budgets.items():
        plan = (
            QUERIES[name](spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString()
        )
        n = len(re.findall(r"\bExchange hashpartitioning", plan))
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}\n{plan}"
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
