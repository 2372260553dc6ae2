"""Temporal join operators.

As-of (most-recent-prior) join — the classic time-series operator Spark
lacks natively (reference analog: the attribution interval join,
docs/实时数仓.md; kdb/pandas `merge_asof` semantics).

The naive form is a range join (key equality + rt <= lt, then keep the
max rt per left row): O(candidate pairs) shuffle fan-out, quadratic in
per-key density. The implementation here is the scalable union-window
form: tag right rows 0 and left rows 1, union, and resolve each left
row's match with ``last(value, ignorenulls=True)`` over a
(key)-partitioned (time, tag)-ordered window — ONE shuffle on the key,
zero pair fan-out, identical result. At equal timestamps the right row
sorts first (tag 0 < 1), giving inclusive `rt <= lt` semantics — the
same as DuckDB ``ASOF JOIN ... ON l.k = r.k AND l.t >= r.t``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from datawarehouse_spark.operators.reserved import reject_reserved


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
) -> DataFrame:
    """Left as-of join: each left row gains the right row's value
    columns from the most recent right row with
    ``right_time <= left_time`` on the same key (NULLs when no prior
    right row exists — left-join semantics).

    ``right`` must be reduced to one row per (key, time) beforehand
    (otherwise "the most recent row" is ambiguous in any engine); its
    non-key columns — including ``right_time`` itself, so the caller
    sees WHEN the match happened — become the attached value columns.
    Both time columns must share a comparable type (use unix micros for
    event times — see the registry's ts conventions).
    """
    rvals = [c for c in right.columns if c != on]
    ltypes = dict(left.dtypes)
    rtypes = dict(right.dtypes)
    lcols = [c for c in left.columns if c != on]

    # the union-window plan tags rows and interleaves both schemas, so
    # the tags and (on the left) the right side's value columns are
    # working names that must not collide with an input column
    tags = ("_t", "_tag", "_rv")
    reject_reserved("asof_join", left.columns, (*tags, *rvals))
    reject_reserved("asof_join", right.columns, tags)

    # the right row travels as ONE struct, non-null exactly on right
    # rows: per-column last(ignorenulls) would skip a matched right
    # row whose individual value is NULL and stitch together columns
    # from DIFFERENT right rows — the struct keeps the match atomic
    # (a matched row with NULL members stays the match, as in DuckDB
    # ASOF / pandas merge_asof)
    rv_schema = ",".join(f"`{c}`:{rtypes[c]}" for c in rvals)
    r = right.select(
        on,
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_tag"),
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lcols],
        F.struct(*rvals).alias("_rv"),
    )
    l = left.select(
        on,
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_tag"),
        *lcols,
        F.lit(None).cast(f"struct<{rv_schema}>").alias("_rv"),
    )
    merged = r.unionByName(l)
    w = (
        W.partitionBy(on)
        .orderBy("_t", "_tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    resolved = merged.select(
        on,
        "_tag",
        *lcols,
        F.last("_rv", ignorenulls=True).over(w).alias("_rv"),
    )
    return (
        resolved.filter(F.col("_tag") == 1)
        .select(
            on, *lcols,
            *[F.col("_rv").getField(c).alias(c) for c in rvals],
        )
    )


def gap_fill(observed: DataFrame, keys: list[str], t_col: str,
             v_col: str) -> DataFrame:
    """Time-series gap filling with linear interpolation — the
    resample/densify step every metrics warehouse runs before rates,
    moving averages, or charting: given one row per ``(keys, t)`` on
    an INTEGER time grid (hour/day index — suites exclude raw
    timestamps), emit the DENSE grid from each key's min(t) to max(t),
    with missing steps linearly interpolated between their observed
    neighbors (leading/trailing edges fall back to nearest-observed;
    unreachable on a min..max grid, kept for safety). Output:
    ``(keys, t, v_filled, observed)``.

    Exactness: interpolation runs in the INTEGER MICRO DOMAIN (the
    SQ8/IVF grid trick): neighbor values lift to 1e6-scaled BIGINTs
    (exact — they sit on the round-6 grid), the lerp numerator
    ``pv6·(tn - t) + nv6·(t - tp)`` is exact integer arithmetic, and
    the single floor division by the span is BIGINT ``DIV`` — so both
    engines produce the identical 1e-6-grid result with NO float
    rounding anywhere. (A naive double ``round(..., 6)`` formulation
    ties at exact .5e-6 midpoints — even spans produce them — where
    Spark and DuckDB round differently; measured: one mismatched row
    per ~100k on the fixture.) Values must be non-negative: BIGINT
    ``DIV`` truncates toward zero while SQL ``//`` floors, which only
    agree on non-negative numerators.

    Scale shape: the bounds aggregation is map-combined; the grid is
    one generator explode (dense rows = Σ per-key span — the caller
    chooses the grid resolution, which bounds the blow-up); the
    neighbor lookups are TWO frames over the same (keys → t) sort, so
    the whole fill costs one shuffle on the key columns. No joins
    against the corpus beyond the grid's left join back to observed.
    """
    b = observed.groupBy(*keys).agg(
        F.min(t_col).alias("_mn"), F.max(t_col).alias("_mx")
    )
    grid = b.select(
        *keys, F.explode(F.sequence("_mn", "_mx")).alias(t_col)
    )
    j = grid.join(observed, [*keys, t_col], "left")
    wp = W.partitionBy(*keys).orderBy(t_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    # the "next observed" lookup runs as last() over the REVERSE order
    # with a running unbounded-PRECEDING frame: Spark executes
    # (currentRow, unboundedFollowing) frames by re-evaluating the
    # aggregate per row — O(rows²) per partition, measured 59 s vs
    # 3 s at sf0.1 on this operator — while both running frames here
    # are a single O(rows) pass
    wn = W.partitionBy(*keys).orderBy(F.desc(t_col)).rowsBetween(
        W.unboundedPreceding, 0
    )
    pv = F.last(v_col, ignorenulls=True).over(wp)
    tp = F.last(
        F.when(F.col(v_col).isNotNull(), F.col(t_col)), ignorenulls=True
    ).over(wp)
    nv = F.last(v_col, ignorenulls=True).over(wn)
    tn = F.last(
        F.when(F.col(v_col).isNotNull(), F.col(t_col)), ignorenulls=True
    ).over(wn)
    pv6 = F.round(pv * 1000000).cast("bigint")
    nv6 = F.round(nv * 1000000).cast("bigint")
    t = F.col(t_col)
    interp = (pv6 * (tn - t) + nv6 * (t - tp)).cast("bigint")
    span = (tn - tp).cast("bigint")
    # exact integer lerp: floor((pv6*(tn-t) + nv6*(t-tp)) / span) / 1e6
    # — the subtraction of the modulo makes the numerator exactly
    # divisible, so the double division returns the exact integer
    # quotient (< 2^53)
    filled = (
        F.when(F.col(v_col).isNotNull(), F.col(v_col))
        .when(pv.isNull(), nv)
        .when(nv.isNull(), pv)
        .otherwise(
            ((interp - (interp % span)) / span).cast("bigint")
            .cast("double") / F.lit(1000000.0)
        )
    )
    return j.select(
        *keys,
        F.col(t_col),
        F.round(filled, 6).alias("v_filled"),
        F.col(v_col).isNotNull().alias("observed"),
    )


def mad_outlier_scores(
    series: DataFrame,
    keys: list[str],
    value: str = "c",
    cutoff: float = 3.5,
) -> DataFrame:
    """Modified z-scores over a per-key series: ``0.6745 * (v - median)
    / MAD`` with the Iglewicz-Hoaglin cutoff — the robust twin of the
    mean/std z-score (one genuine spike inflates std and masks the
    next; median/MAD shrug it off). Medians are exact continuous
    percentiles (engine-portable, see a20); for integer inputs they
    live on the exact .25 grid, so ``rz`` is one multiply and one
    divide from exact values. MAD = 0 (constant series) yields NULL
    ``rz`` and ``is_outlier`` = false. Adds ``med_c``/``mad_c``/
    ``rz``/``is_outlier`` to the input rows.

    Scale shape: two percentile aggs and two broadcast joins on the
    keys-sized rollups — the input series is scanned twice, never
    shuffled beyond the keys.
    """
    med = series.groupBy(*keys).agg(
        F.percentile(value, F.lit(0.5)).alias("med_c"))
    dev = (
        series.join(F.broadcast(med), keys)
        .withColumn("dev", F.abs(F.col(value) - F.col("med_c")))
    )
    mad = dev.groupBy(*keys).agg(
        F.percentile("dev", F.lit(0.5)).alias("mad_c"))
    rz_raw = (F.lit(0.6745) * (F.col(value) - F.col("med_c"))
              / F.col("mad_c"))
    return (
        dev.join(F.broadcast(mad), keys)
        .drop("dev")
        .withColumn("rz", F.when(F.col("mad_c") > 0, F.round(rz_raw, 6)))
        .withColumn(
            "is_outlier",
            F.when(F.col("mad_c") > 0, F.abs(rz_raw) > cutoff)
            .otherwise(F.lit(False)),
        )
    )


def time_weighted_avg(df: DataFrame, keys: list[str], t_col: str,
                      value_col: str, order_tiebreak: str,
                      scale: int = 100) -> DataFrame:
    """Time-weighted average per key group over irregular samples —
    the hypertable-rollup aggregate (TimescaleDB `time_weight('LOCF')`
    semantics): each observation holds (last-observation-carried-
    forward) until the next one, so TWA = Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_N−t₁).
    A plain AVG over irregular samples over-weights bursts; TWA is
    the correct "average level" for sensor/metric streams.

    Exactness: t must be an integer (micros) column; values are
    snapped to an integer grid (``round(value·scale)`` — fixture
    values carry 2 decimals, so scale=100 is lossless), weighted
    contributions v_c·Δt are BIGINT products summed as DECIMAL(38,0)
    (order-independent), and the final TWA is the same two IEEE
    divisions in both engines. Groups with zero span (single sample
    or all-tied timestamps) emit NULL — no duration to average over.

    Scale shape: ONE shuffle on the group keys serves both the LOCF
    window (lead) and the final agg (map-combined after the window);
    ties contribute Δt = 0 regardless of tiebreak order, so the
    result is deterministic even under timestamp collisions. No
    self-join, no grid explode — linear in rows.
    """
    seg = df.select(
        *keys,
        F.col(t_col).alias("_t"),
        F.round(F.col(value_col) * scale).cast("bigint").alias("_v_c"),
        F.col(order_tiebreak).alias("_tb"),
    ).withColumn("_t_next", F.lead("_t").over(
        W.partitionBy(*keys).orderBy("_t", "_tb")))
    agg = seg.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("_t") - F.min("_t")).alias("span_us"),
        F.sum((F.col("_v_c") * (F.col("_t_next") - F.col("_t")))
              .cast("decimal(38,0)")).alias("_wsum"),
    )
    return agg.select(
        *keys,
        F.col("n_events"),
        F.col("span_us"),
        F.when(
            F.col("span_us") > 0,
            (F.col("_wsum").cast("double")
             / F.col("span_us").cast("double")) / F.lit(float(scale)),
        ).alias("twa"),
    )
