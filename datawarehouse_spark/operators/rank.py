"""Distributed global-order primitives — the shared machinery behind
every operator that needs a GLOBAL rank / running total / quantile
bucket without funnelling the table through one partition's window
(the reference's "数据倾斜" sort pathology, docs/sql调优.md:115-186;
Spark plans a global `Window` as Sort over `Exchange SinglePartition`,
which is a one-task bottleneck at any real scale).

The pattern (zipWithIndex re-expressed on DataFrames):

1. ``repartitionByRange`` on the sort key → a partition-wise total
   order. Sampled range boundaries make the per-partition SPLIT
   nondeterministic, so the composite sort key must be UNIQUE — then
   the global order (and everything derived from it) is invariant to
   where the boundaries fall.
2. per-block ``row_number`` — embarrassingly parallel.
3. an ``n_blocks``-row block-count table lifted to cumulative offsets
   by a TRIANGULAR self-join (sum of strictly-earlier blocks) — tiny
   by construction, broadcast back. No window with an empty partition
   spec anywhere, so the `global-window` plan lint
   (plans/advisor.py) stays silent registry-wide.

``n_blocks`` defaults to the SESSION's configured shuffle parallelism
(resolve_n_blocks): on local[32] that is 32 range blocks; on a
1000-executor cluster whatever ``spark.sql.shuffle.partitions`` says —
the per-block sort is as parallel as every other shuffle in the job
instead of a fixed 8-way fan. The offset lift is a triangular
self-join (n_blocks² pairs) up to ONE_LEVEL_MAX_BLOCKS=4096 blocks;
past that ``block_offsets`` switches to a TWO-LEVEL lift — blocks
group into ~√n super-blocks, the super-block totals take the
triangular join, and each block adds only its same-super-block
predecessors — so the pair volume is O(n_blocks^1.5) and the resolver
cap rises to 4096² (16.7M blocks ≈ 4 KB/block at 100 TB; the
practical ceiling is now the shuffle-partition count itself, not the
lift).

Callers: x5_rfm_segmentation (exact NTILE quintiles), x8_abc_pareto
(global_cumsum), dq_equiheight_histogram (operators/layout.py),
sorted_neighborhood_pairs (operators/dedup.py), curriculum_phases
(operators/text.py), shard_pack (operators/multimodal.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from datawarehouse_spark.operators.reserved import reject_reserved

#: Largest block count the SINGLE-level triangular lift handles
#: (4096² ≈ 16.7M joined pairs — sub-second, broadcastable); past it
#: block_offsets takes the two-level lift automatically.
ONE_LEVEL_MAX_BLOCKS = 4096

#: Ceiling for the auto-sized block count. With the two-level lift the
#: pair volume at the ceiling is ~(4096²)^1.5 / √· — bounded by the
#: same 16.7M-pair budget per level — so the cap is now just a sanity
#: rail (a session would need >16.7M shuffle partitions to hit it).
MAX_AUTO_BLOCKS = ONE_LEVEL_MAX_BLOCKS**2

def resolve_n_blocks(df: DataFrame, n_blocks: int | None = None) -> int:
    """The block count for a global-order pass: the caller's explicit
    choice, else the session's configured shuffle parallelism
    (``spark.sql.shuffle.partitions``, which session.get_spark sizes
    to the core count locally and recommend_shuffle_partitions sizes
    from input volume on a cluster). The MAX_AUTO_BLOCKS cap is a
    sanity rail only — past ONE_LEVEL_MAX_BLOCKS the offset lift
    switches to the two-level form automatically (block_offsets)."""
    if n_blocks is not None:
        if int(n_blocks) < 1:
            raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
        return int(n_blocks)
    spark = df.sparkSession
    try:
        conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # non-numeric / locked-down conf
        conf = spark.sparkContext.defaultParallelism
    return max(1, min(int(conf), MAX_AUTO_BLOCKS))


def block_offsets(
    cnt: DataFrame,
    blk: str = "_blk",
    c: str = "_c",
    off_col: str = "_off",
    total_col: str | None = None,
    n_blocks: int | None = None,
) -> DataFrame:
    """Cumulative EXCLUSIVE prefix sums over a block-count table —
    (blk, off) where off = Σ counts of strictly-smaller blocks — with
    no global running-sum window anywhere. The input is n_blocks rows
    by construction, so the lift is trivial and the output broadcasts.
    With ``total_col`` the grand total (Σ all counts) rides along on
    every row, replacing the unbounded-following window variant. Sums
    keep the count column's own exact type (bigint counts stay bigint;
    decimal byte/revenue totals stay decimal — global_cumsum relies on
    this).

    Lift strategy: a triangular left self-join (n² pairs) while
    ``n_blocks`` ≤ ONE_LEVEL_MAX_BLOCKS (or is unknown); past that, a
    TWO-LEVEL lift — blocks group into super-blocks of g = ⌈√n⌉, the
    (n/g ≈ √n)-row super-block totals take the triangular join, and
    each block's offset is its super-block's offset plus the
    triangular sum of its same-super-block predecessors (an equi-join
    on the super-block id, so n·g ≈ n^1.5 pairs instead of n²). The
    two-level path needs INTEGER block ids (both internal callers use
    dense partition indexes); exactness is property-tested against
    the single-level form (tests/test_properties.py)."""
    two_level = n_blocks is not None and n_blocks > ONE_LEVEL_MAX_BLOCKS
    if two_level:
        g = math.isqrt(int(n_blocks) - 1) + 1
        sb = cnt.withColumn("_sb", (F.col(blk) / F.lit(g)).cast("bigint"))
        # level 1: triangular lift over ~√n super-block totals
        sbt = sb.groupBy("_sb").agg(F.sum(c).alias("_sc"))
        a1 = sbt.select(F.col("_sb").alias("_sa"))
        b1 = sbt.select(F.col("_sb").alias("_sbb"), "_sc")
        soff = (
            a1.join(b1, F.col("_sbb") < F.col("_sa"), "left")
            .groupBy("_sa")
            .agg(F.coalesce(F.sum("_sc"), F.lit(0)).alias("_soff"))
        )
        # level 0: same-super-block predecessors only — equi-join on
        # the super-block id bounds the pair fan-out to g per block
        a0 = sb.select("_sb", F.col(blk).alias("_ra"))
        b0 = sb.select(
            F.col("_sb").alias("_sb2"),
            F.col(blk).alias("_rb"),
            F.col(c).alias("_cb"),
        )
        ioff = (
            a0.join(
                b0,
                (F.col("_sb2") == F.col("_sb"))
                & (F.col("_rb") < F.col("_ra")),
                "left",
            )
            .groupBy("_sb", "_ra")
            .agg(F.coalesce(F.sum("_cb"), F.lit(0)).alias("_ioff"))
        )
        off = (
            ioff.join(
                F.broadcast(soff), F.col("_sb") == F.col("_sa"), "inner"
            )
            .select(
                F.col("_ra").alias(blk),
                (F.col("_ioff") + F.col("_soff")).alias(off_col),
            )
        )
    else:
        a = cnt.select(F.col(blk).alias("_ra"))
        b = cnt.select(F.col(blk).alias("_rb"), F.col(c).alias("_cb"))
        off = (
            a.join(b, F.col("_rb") < F.col("_ra"), "left")
            .groupBy("_ra")
            .agg(F.coalesce(F.sum("_cb"), F.lit(0)).alias(off_col))
            .withColumnRenamed("_ra", blk)
        )
    if total_col is not None:
        tot = cnt.agg(F.sum(c).alias(total_col))
        off = off.crossJoin(F.broadcast(tot))
    return off


def global_rank(
    df: DataFrame,
    order: list[Column],
    n_blocks: int | None = None,
    rank_col: str = "grn",
    total_col: str | None = None,
    keep: list[str] | None = None,
) -> DataFrame:
    """Attach the exact 1-based GLOBAL rank of every row under
    ``order`` (which must be a total order — include a unique tiebreak
    column) without a single-partition sort. Optionally also attaches
    the total row count (``total_col``) so rank-derived bucketings
    (NTILE, equi-height cuts) need no second pass. ``n_blocks`` is
    auto-sized from the session's shuffle parallelism when omitted
    (resolve_n_blocks).

    ONE shuffle total: the per-block row number comes from
    ``monotonically_increasing_id`` over a ``sortWithinPartitions``'d
    range shuffle (the id packs the partition index in the high 31
    bits and an in-partition row counter — assigned in sorted flow
    order — in the low 33 bits: the zipWithIndex recipe). The naive
    ``row_number OVER (PARTITION BY block)`` alternative plans a
    SECOND full-table hash exchange, because Catalyst cannot know the
    block column IS the partition id. The id expression is
    nondeterministic, which also pins it above the sort.

    The ranked frame is eagerly localCheckpoint'ed: the range shuffle
    + sort run ONCE, both consumers (the block counts and the output
    join) read the materialized blocks, and the checkpoint pins the
    sampled range boundaries so the two reads cannot disagree. The
    checkpoint's lifetime is tied to the returned DataFrame (no
    persist/unpersist pair to leak), and it keeps all ``n_blocks``
    partitions — the downstream broadcast join adds no exchange, so
    consumers inherit the full parallelism.

    ``keep`` (r14) bounds the CHECKPOINT's payload: when given, only
    those columns (+ the internal ``_mid``) are materialized, and the
    result carries exactly ``keep`` + ``rank_col`` — the caller joins
    any wide payload back by its key afterwards. The order columns are
    consumed by the range shuffle + sort BEFORE the checkpoint, so
    they need not survive it. This matters because localCheckpoint
    stores deserialized JVM objects: ranking a corpus while keeping
    full text + shingle arrays resident is what OOM'd
    suite_pair_blocking's sf1 union under the default heap (SCALE.md
    r13) — and at 100 TB a rank checkpoint must hold keys, never
    payload."""
    reject_reserved("global_rank", df.columns, ("_blk", "_rn", "_off", "_mid"))
    nb = resolve_n_blocks(df, n_blocks)
    staged = (
        df.repartitionByRange(nb, *order)
        .sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    if keep is not None:
        staged = staged.select(*keep, "_mid")
    local = (
        staged.localCheckpoint(eager=True)
        .withColumn("_blk", F.shiftright("_mid", 33).cast("int"))
        .withColumn(
            "_rn",
            F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)) + F.lit(1),
        )
    )
    cnt = local.groupBy("_blk").agg(F.count(F.lit(1)).alias("_c"))
    off = block_offsets(cnt, "_blk", "_c", total_col=total_col,
                        n_blocks=nb)
    return (
        local.join(F.broadcast(off), "_blk")
        .withColumn(rank_col, (F.col("_rn") + F.col("_off")).cast("bigint"))
        .drop("_blk", "_rn", "_off", "_mid")
    )


def global_cumsum(
    df: DataFrame,
    order: list[Column],
    value: str,
    n_blocks: int | None = None,
    cum_col: str = "cum",
    total_col: str | None = None,
) -> DataFrame:
    """Attach the INCLUSIVE global running sum of ``value`` under
    ``order`` (which must be a total order) without a single-partition
    sort — the `SUM(v) OVER (ORDER BY ...)` re-expression: per-block
    running sums lifted by the broadcast triangular-join offsets of
    per-block totals (the shard_pack byte-packing machinery,
    generalized). ``value`` should be an exact type (bigint/decimal)
    so block composition cannot reorder float additions. Optionally
    attaches the grand total (``total_col``) for share-of-total
    projections. ``n_blocks`` auto-sizes from the session's shuffle
    parallelism when omitted (resolve_n_blocks)."""
    reject_reserved("global_cumsum", df.columns, ("_blk", "_cum_in", "_off"))
    nb = resolve_n_blocks(df, n_blocks)
    ranged = df.repartitionByRange(nb, *order).withColumn(
        "_blk", F.spark_partition_id()
    )
    w_cum = (
        W.partitionBy("_blk")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    local = ranged.withColumn(
        "_cum_in", F.sum(F.col(value)).over(w_cum)
    ).localCheckpoint(eager=True)
    tot = local.groupBy("_blk").agg(F.sum(F.col(value)).alias("_c"))
    off = block_offsets(tot, "_blk", "_c", total_col=total_col,
                        n_blocks=nb)
    return (
        local.join(F.broadcast(off), "_blk")
        .withColumn(cum_col, F.col("_off") + F.col("_cum_in"))
        .drop("_blk", "_cum_in", "_off")
    )


def ntile_from_rank(rank_col: str, total_col: str, n: int) -> Column:
    """Exact SQL NTILE(n) bucket from a global rank and total count:
    with q = N div n and r = N mod n, the first r buckets hold q+1
    rows and the rest hold q (the ANSI NTILE contract, which
    approx-percentile bucketing only approximates). Integer-only, so
    the result is bit-identical to the engine's own ntile() and any
    oracle's — without the single-partition window ntile() plans."""
    if n < 1:
        raise ValueError(f"ntile_from_rank needs n >= 1, got {n}")
    q = f"({total_col} div {int(n)})"
    r = f"({total_col} % {int(n)})"
    head = f"{r} * ({q} + 1)"  # rows living in the (q+1)-sized buckets
    return F.expr(
        f"CASE WHEN {rank_col} <= {head} "
        f"THEN ({rank_col} - 1) div ({q} + 1) + 1 "
        f"ELSE {r} + ({rank_col} - {head} - 1) div {q} + 1 END"
    ).cast("bigint")
