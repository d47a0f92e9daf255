"""Incremental distinct-user counting — the streaming completion of the
distinct ladder (bitmap_distinct_orders = exact rollup,
hll_distinct_users = batch sketch): per-day HLL sketches maintained
across micro-batches via foreachBatch.

Why sketches and not countDistinct: a streaming exact distinct needs
per-key state proportional to the DISTINCT VALUES seen (unbounded);
the DataSketches HLL state is a fixed ~KB per day, and sketch UNION is
idempotent and associative — re-merging a replayed micro-batch is a
no-op BY ALGEBRA, so exactly-once needs no epoch bookkeeping at all
(contrast streaming/ingest_guard.py, which must epoch-partition its
writes). That algebraic idempotence is the production reason this
pattern survives at-least-once delivery on any runner.

State table: (day, sketch BINARY) — the day axis is calendar-bounded,
so the whole-table overwrite per epoch is a tiny write regardless of
event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from databeats_spark.streaming.compaction import drain, read_state


def daily_sketch_sink(state_path: str):
    """foreachBatch merge: union each day's batch sketch into the state
    table (idempotent — replays merge to the same sketch)."""

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        day = F.date_format("ts", "yyyy-MM-dd").alias("day")
        batch_sk = batch_df.select(day, "user_id").groupBy("day").agg(
            F.hll_sketch_agg("user_id").alias("sketch")
        )
        merged = (
            read_state(spark, state_path, "day STRING, sketch BINARY")
            .unionByName(batch_sk)
            .groupBy("day")
            .agg(F.hll_union_agg("sketch").alias("sketch"))
        )
        # day axis is calendar-bounded: the overwrite is a tiny table.
        # Materialize BEFORE overwriting — the plan reads the old state.
        rows = merged.collect()
        spark.createDataFrame(rows, merged.schema).write.mode("overwrite").parquet(state_path)

    return merge


def run_incremental_distincts(
    spark: SparkSession, events_stream: DataFrame, state_path: str
) -> StreamingQuery:
    """Drain all available event files into the per-day sketch table."""
    return drain(events_stream, daily_sketch_sink(state_path), state_path + "_ckpt")


def daily_distinct_estimates(spark: SparkSession, state_path: str) -> DataFrame:
    """Serving query: estimated distinct users per day from the
    sketch state."""
    return (
        spark.read.parquet(state_path)
        .select("day", F.hll_sketch_estimate("sketch").alias("est_users"))
        .orderBy("day")
    )
