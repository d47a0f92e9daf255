"""Structured Streaming variants of the event analytics.

The reference has NO streaming surface (SURVEY §2.12) — its temporal
model is weekly batch snapshots. This module is the modernization the
north star asks for: the same aggregations as the batch registry,
expressed as incremental streams with watermarked late-data handling.

Local testing drives a parquet-directory source with
``trigger(availableNow=True)`` + a memory sink — the batch-incremental
pattern; in production the source line changes to kafka/kinesis and
nothing else moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from databeats_spark.session import apply_runtime_confs
from databeats_spark.sources.tables import _normalize_event_ts


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """readStream over an events parquet directory. Handles the
    TIMESTAMP(NANOS) quirk the same way the batch loader does."""
    apply_runtime_confs(spark)
    schema = spark.read.parquet(path).schema
    raw = spark.readStream.schema(schema).parquet(path)
    return _normalize_event_ts(raw)


def windowed_event_stats(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Tumbling-window per-type stats with a watermark: the streaming
    form of the weekly-snapshot aggregation. Late rows beyond the
    watermark are dropped deterministically instead of silently
    mutating history."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_sessionization(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 days",
) -> DataFrame:
    """Native session windows (session_window, gap-based) — the
    streaming twin of the batch gaps-and-islands sessionization in
    registry/events.py."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming exact deduplication: emit each key once, holding
    per-key state only for the watermark horizon. This is the ingest
    guard a training-data pipeline puts in front of every sink —
    re-delivered micro-batches (at-least-once sources) collapse to
    exactly-once rows. State size is bounded by (keys within the
    watermark), not by stream history, so it holds at 100 TB/day;
    unbounded ``dropDuplicates`` would OOM on day two."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_click_attribution(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 days",
) -> DataFrame:
    """Stream-stream inner join with an event-time range predicate:
    attribute each purchase to the clicks by the same user in the
    preceding hour. Both sides are watermarked, and the time-interval
    condition bounds the join state Spark must retain — the canonical
    funnel/attribution join, running incrementally.

    Batch twin: the same join expressed on static DataFrames
    (tests/test_streaming.py pins them equal)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}"))
    )
    return purchases.join(clicks, cond, "inner").select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def streaming_srm_guard(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Live sample-ratio-mismatch guardrail — the streaming sibling of
    the batch ``srm_daily_check`` registry query. A broken assignment
    (an SDK shipping one arm, a filter eating the other) should page
    BEFORE the readout runs, so the chi-square runs per tumbling
    window as events arrive.

    Streaming-state note: exact DISTINCT users per window is a second
    stateful op, so the live guard counts EVENTS per arm — the
    design-ratio test is equally valid over any unit assigned by the
    same deterministic hash, and the batch query stays the
    user-grained authority. Counts are exact per window; the two-cell
    chi-square collapses to (n1-n0)^2/n with one division, as in the
    batch form, flagged above the 1-df 95% critical value 3.841459."""
    arm = (F.col("user_id") % 2).cast("bigint")
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.sum(F.when(arm == 1, 1).otherwise(0)).cast("bigint").alias("n_treated"),
            F.sum(F.when(arm == 0, 1).otherwise(0)).cast("bigint").alias("n_control"),
        )
    )
    diff = F.col("n_treated") - F.col("n_control")
    chi2 = (diff * diff).cast("double") / (F.col("n_treated") + F.col("n_control"))
    return agg.select(
        F.col("w.start").alias("window_start"),
        "n_treated",
        "n_control",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(3.841459)).alias("srm_flag"),
    )


def run_available_now(stream_df: DataFrame, query_name: str, output_mode: str = "append") -> StreamingQuery:
    """Drain everything currently available into a memory sink and stop
    — synchronous batch-incremental execution for tests/backfills."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def user_value_segments(events: DataFrame) -> DataFrame:
    """Batch-computed per-user dimension for stream enrichment: total
    purchase value bucketed into named tiers. This is the static side
    of :func:`stream_static_enrichment` — recomputed on a batch
    cadence, joined into the live stream."""
    per_user = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("total_spend"))
    )
    return per_user.select(
        "user_id",
        F.when(F.col("total_spend") >= 1000, "whale")
        .when(F.col("total_spend") >= 100, "regular")
        .otherwise("light")
        .alias("segment"),
    )


def stream_static_enrichment(
    events_stream: DataFrame, user_segments: DataFrame
) -> DataFrame:
    """Stream-static join: attach a batch-maintained dimension to the
    live stream. Spark re-plans the static side each micro-batch, so a
    dimension refreshed by a batch job is picked up without restarting
    the query; the broadcast hint keeps the per-batch join shuffle-free
    (dimension tables are small relative to the stream). Unmatched
    events keep NULL segment (left join) rather than being dropped —
    an enrichment must never filter the stream."""
    return events_stream.join(F.broadcast(user_segments), "user_id", "left")


def event_type_moments(events: DataFrame) -> DataFrame:
    """Batch-computed per-type moments (exact decimal sums → mean and
    sigma) — the static side of :func:`streaming_anomalies`, refreshed
    on a batch cadence like :func:`user_value_segments`."""
    v = F.col("value").cast("decimal(18,2)")
    moments = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(v).alias("s"), F.sum(v * v).alias("ssq")
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ssq").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    return moments.select("event_type", mean.alias("mu"), F.sqrt(var).alias("sigma"))


def streaming_anomalies(
    events_stream: DataFrame, moments: DataFrame
) -> DataFrame:
    """Streaming z-score anomaly detection (|z| > 3): score the live
    stream against batch-maintained per-type moments (broadcast stream-static
    join — re-planned each micro-batch, so refreshed moments are
    picked up without restart). The streaming twin of the batch
    value_outliers registry query."""
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        events_stream.join(F.broadcast(moments), "event_type")
        .withColumn("z_score", z)
        .filter(F.abs(F.col("z_score")) > 3.0)
        .select("event_id", "event_type", "value", F.round("z_score", 6).alias("z_score"))
    )
