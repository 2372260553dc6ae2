"""Structured Streaming pipelines — SURVEY.md §2.9 (T1-T10).

Design principle T9 (reference docs/实时数仓.md:93, docs/数据湖.md:65-69):
batch and stream share the SAME transform functions — a Lambda
architecture with one code path. Every transform below takes a
DataFrame (bounded or unbounded) and returns one; batch parity is
asserted by the differential harness (T10, docs/实时数仓.md:118-124).

Kafka is the reference's source (docs/实时数仓.md:86); the container has
no broker, so sources are file-based streams with identical semantics
(the source swap is one line). Sinks use foreachBatch for multi-sink
fan-out, the idiomatic exactly-once pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from datawarehouse_spark.operators.pin import pinned
from datawarehouse_spark.session import apply_runtime_profile

#: events schema as stored (parquet TIMESTAMP µs; read LTZ, wall clock = UTC)
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _stream_source_dir(sf_dir: str) -> str:
    """The file-stream source needs a directory; expose the fixture file
    through a per-sf symlink dir (read-only, no data copied)."""
    import hashlib
    import os

    d = f"/tmp/dw_stream_src_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    os.makedirs(d, exist_ok=True)
    link = f"{d}/events.parquet"
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    return d


#: exact Kafka reader options for the events topic (reference
#: docs/实时数仓.md:86,95-97) — a FUNCTION of the broker/topic so the
#: contract test can assert the swap-ready path without a broker.
def kafka_source_options(
    bootstrap_servers: str = "localhost:9092",
    topic: str = "events",
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = True,
) -> dict[str, str]:
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # bound per-micro-batch intake: the Kafka twin of the file
        # source's maxFilesPerTrigger back-pressure
        "maxOffsetsPerTrigger": "100000",
        # default TRUE: offset loss / topic deletion aborts the query
        # instead of silently skipping events (same fail-loud stance as
        # sources/io.py::read_resilient). Swallowing data loss is an
        # explicit caller opt-in via fail_on_data_loss=False.
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }


def decode_kafka_events(raw: DataFrame) -> DataFrame:
    """Decode a Kafka wire DataFrame (key/value binary + topic/partition/
    offset/timestamp) into the events schema: value is a JSON envelope
    of the event row. Pure column expressions — works identically on
    the real Kafka source and on a synthetic batch DataFrame with the
    same wire columns (how the contract test verifies it brokerless)."""
    ev = F.from_json(
        F.col("value").cast("string"),
        StructType(
            [
                StructField("event_id", LongType()),
                StructField("ts", StringType()),
                StructField("user_id", LongType()),
                StructField("event_type", StringType()),
                StructField("value", DoubleType()),
                StructField("props", StringType()),
            ]
        ),
    ).alias("e")
    return raw.select(ev).select(
        F.col("e.event_id").alias("event_id"),
        F.to_timestamp("e.ts").alias("ts"),
        F.col("e.user_id").alias("user_id"),
        F.col("e.event_type").alias("event_type"),
        F.col("e.value").alias("value"),
        F.col("e.props").alias("props"),
    )


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    fmt: str = "files",
    **kafka_kwargs,
) -> DataFrame:
    """T1 — unbounded events source.

    ``fmt="files"`` (default): file-based stand-in for the Kafka topic;
    `maxFilesPerTrigger` gives micro-batch replay semantics.

    ``fmt="kafka"``: the real source swap (reference docs/实时数仓.md:86,
    95-97) — `spark.readStream.format("kafka")` with the exact options
    from :func:`kafka_source_options`, decoded by
    :func:`decode_kafka_events` into the SAME schema, so every
    downstream transform is source-agnostic. Needs the
    spark-sql-kafka connector jar + a broker; in this container the
    load raises the connector-missing AnalysisException (contract test
    covers the wiring up to that boundary).
    """
    apply_runtime_profile(spark)
    if fmt == "kafka":
        reader = spark.readStream.format("kafka")
        for k, v in kafka_source_options(**kafka_kwargs).items():
            reader = reader.option(k, v)
        return decode_kafka_events(reader.load())
    if fmt != "files":
        raise ValueError(f"unknown events source fmt: {fmt!r}")
    raw = (
        spark.readStream.format("parquet")
        .schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(_stream_source_dir(sf_dir))
    )
    return raw


def read_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded twin of :func:`read_events_stream` (same schema, same ts
    normalization) — the T9 parity source."""
    apply_runtime_profile(spark)
    return spark.read.schema(EVENTS_RAW_SCHEMA).parquet(f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# shared transforms (batch ≡ stream)
# ---------------------------------------------------------------------------

def cleanse(df: DataFrame) -> DataFrame:
    """DWD-layer cleansing (reference docs/实时数仓.md:103-116): drop
    malformed rows, normalize encodings, parse JSON props."""
    return (
        df.filter(F.col("event_id").isNotNull() & F.col("ts").isNotNull())
        .withColumn("event_type", F.lower(F.trim("event_type")))
        .withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
    )


def drift_filter(df: DataFrame, start: str, end: str) -> DataFrame:
    """T4 — event-time drift correction (docs/实时数仓.md:114-116): read a
    widened processing-time range, then filter on the business-time
    column so midnight-boundary rows land in the right partition."""
    return df.filter(
        (F.col("ts") >= F.lit(start).cast("timestamp"))
        & (F.col("ts") < F.lit(end).cast("timestamp"))
    )


def windowed_summary(df: DataFrame, window: str = "1 hour",
                     watermark: str = "10 minutes") -> DataFrame:
    """T2/T3 — event-time tumbling aggregation with lateness allowance.

    The watermark is the idiomatic form of the reference's manual
    "aggregate the 10:00 window at 10:00:05-10:00:10" delay
    (docs/实时数仓.md:69-73)."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("pv"),
            F.sum(F.col("value").cast("decimal(38,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "pv",
            "total_value",
        )
    )


def session_summary(df: DataFrame, gap: str = "30 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """T5 — per-user session windows (inactivity-gap) over event time,
    the ONE transform shared by batch and stream (T9 lambda parity;
    the batch driver entry t5_session_window_batch runs the same
    ``session_window`` operator without the watermark). Streaming
    session windows REQUIRE a watermark: sessions merge as events
    arrive and only finalize once the watermark passes the gap, so
    the output mode must be append/update.

    Scale shape: one shuffle on (user, session) with Spark's native
    session merge — state per OPEN session only; the watermark bounds
    state by active users × gap, not history.
    """
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def session_paths(df: DataFrame, gap: str = "30 minutes",
                  watermark: str = "10 minutes") -> DataFrame:
    """Per-session journey path (the streaming form of the
    x6_session_paths ADS report): sessionize on the inactivity gap and
    reduce each finalized session to its ordered event-type-initial
    string — one transform shared by batch and stream (T9 lambda
    parity; the driver-gated batch form aggregates these paths to the
    top-k report). The in-session order is total ((µs ts, event_id)
    struct sort), so the emitted path is deterministic regardless of
    arrival order — which is exactly what makes stream/batch replay
    parity checkable row-for-row.

    Scale shape: one shuffle on (user, session); per-OPEN-session
    state is the collected initials of one behavioral session (bounded
    by the gap), finalized and freed when the watermark passes.
    """
    src = df.withWatermark("ts", watermark) if df.isStreaming else df
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.unix_micros("ts").alias("ts_us"),
                                F.col("event_id"),
                                F.substring("event_type", 1, 1).alias("i"),
                            )
                        )
                    ),
                    lambda x: x["i"],
                ),
                "",
            ).alias("path")
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "path",
        )
    )


def dedup_within_watermark(df: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T5 — stateful dedup with bounded state (reference retains ~3 days
    of state, docs/实时数仓.md:11-13; watermark is the TTL)."""
    if df.isStreaming:
        return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return df.dropDuplicates(["event_id"])


def enrich_with_dim(df: DataFrame, dim: DataFrame, key: str = "user_id",
                    dim_key: str = "c_custkey") -> DataFrame:
    """T6/S12 — stream-static enrichment join against a broadcast
    dimension (the reference's KV-store dim lookup, docs/实时数仓.md:79)."""
    return df.join(
        F.broadcast(dim), df[key] == dim[dim_key], "left"
    ).drop(dim_key)


def stream_stream_attribution(
    views: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "2 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """T6 stretch — stream-stream interval join ("流处理引擎将数据join成宽表"
    docs/olap.md:47): attribute each purchase to the same user's views in
    the preceding ``attribution_window``.

    Both sides carry watermarks and the join predicate bounds the time
    range, so state is provably droppable — the two conditions Spark
    requires for unbounded-stream joins. Works identically on bounded
    inputs (T9): batch twins skip the watermark, the predicate is the
    same.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if views.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}")
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def realtime_tags(df: DataFrame) -> DataFrame:
    """T7 — streaming feature/tag computation (docs/实时数仓.md:27-29,
    docs/画像简介.md:11): per-user per-day behavioral counters that a
    serving store would upsert."""
    return (
        df.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("day_pv"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(0.0)
                .cast("decimal(38,2)")
            )
            .cast("double")
            .alias("purchase_amt"),
        )
        .select(F.col("w.start").cast("date").alias("dt"), "user_id", "day_pv",
                "purchases", "purchase_amt")
    )


def stateful_user_counters(df: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the
    escape hatch when built-in windowed aggregation can't express the
    state machine (north-star requirement; reference analog: the
    serving-store upsert feed of per-user lifetime counters,
    docs/实时数仓.md:54, docs/画像简介.md:11).

    Per user, arbitrary Python state (lifetime event count, purchase
    count, exact value cents) updated per micro-batch and emitted in
    update mode. Money accumulates as integer cents so replay order
    can't perturb the float total — the same exactness convention as
    the batch layer (qutil). State is per-key and Arrow-batched; at
    scale the shuffle key is user_id and state store size is
    O(active users), the same budget as any keyed aggregation.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, n_events bigint, purchases bigint, purchase_value double"
    )
    state_schema = "n_events bigint, purchases bigint, cents bigint"

    def update(key, pdfs, state: GroupState):
        n, p, cents = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            is_purchase = pdf["event_type"] == "purchase"
            p += int(is_purchase.sum())
            cents += int(
                pdf.loc[is_purchase, "value"].mul(100).round().astype("int64").sum()
            )
        state.update((n, p, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "purchases": [p],
                "purchase_value": [cents / 100.0],
            }
        )

    return df.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


# ---------------------------------------------------------------------------
# execution harnesses
# ---------------------------------------------------------------------------

def run_stream_to_memory(stream_df: DataFrame, name: str,
                         output_mode: str = "append") -> DataFrame:
    """Drive an unbounded plan to completion over the finite fixture
    replay and return the materialized result (memory sink)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return stream_df.sparkSession.table(name)


def foreach_batch_fanout(stream_df: DataFrame, sinks: dict[str, str],
                         checkpoint: str):
    """S10/S11 — multi-sink fan-out via foreachBatch: one micro-batch
    written atomically-per-sink (parquet paths here; Kudu/Kafka/DB in the
    reference, docs/实时数仓.md:54,61-63). Returns the started query.

    Exactly-once under replay: each epoch writes to its own
    ``epoch={id}`` subdirectory with mode=overwrite, keyed by the
    checkpoint's batch id. If the process dies between the sink write
    and the checkpoint commit, the restarted query re-runs that batch
    with the SAME epoch id and overwrites the same directory —
    idempotent, never double-appended (the standard foreachBatch
    idempotent-sink recipe; asserted by the kill-replay test in
    tests/test_streaming.py). Readers see the epoch id as a partition
    column — free write-lineage."""

    def write_all(batch_df: DataFrame, epoch_id: int):
        with pinned(batch_df):
            for fmt_path in sinks.values():
                batch_df.write.mode("overwrite").parquet(
                    f"{fmt_path}/epoch={epoch_id}"
                )

    return (
        stream_df.writeStream.foreachBatch(write_all)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def differential_validate(batch_result: DataFrame, stream_result: DataFrame,
                          keys: list[str]) -> DataFrame:
    """T10 — streaming-vs-batch reconciliation (docs/实时数仓.md:118-124):
    full outer join on keys, surface rows whose measures disagree."""
    b = batch_result.alias("b")
    s = stream_result.alias("s")
    cond = [F.col(f"b.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    measures = [c for c in batch_result.columns if c not in keys]
    diff = b.join(s, cond, "full_outer")
    mismatch = F.lit(False)
    for m in measures:
        mismatch = mismatch | ~F.col(f"b.{m}").eqNullSafe(F.col(f"s.{m}"))
    return diff.filter(mismatch)
