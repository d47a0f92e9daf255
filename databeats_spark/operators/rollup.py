"""Hierarchical time rollups — the continuous-aggregate pattern.

A 100 TB event store can't re-scan raw data for every dashboard
resolution. The scale pattern (TimescaleDB's continuous aggregates,
Druid rollup segments) is: materialize the finest-grain PARTIALS once
(hour × key), then derive every coarser resolution (day, week) by
re-aggregating partials — thousands of times smaller than raw.

Legality requires every aggregate to decompose over the partition:
count/sum do; avg must be carried as (sum, count) and finished late.
Exact decimal sums make the rollup bit-identical to a direct
aggregation of raw rows — which is precisely what the registry oracle
checks (daily_from_hourly_rollup: Spark rolls up partials, DuckDB
aggregates raw events directly; the hashes must match).

The reference's weekly snapshots (reference dag.py:69-76) are a
single-resolution special case of this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# decomposable partial aggregates: re-aggregation over any coarser
# bucket is exact (decimal sums; counts)
_PARTIAL_AGGS = (
    F.count(F.lit(1)).alias("n_events"),
    F.sum(F.col("value").cast("decimal(18,2)")).alias("sv_dec"),
)


def time_partials(events: DataFrame, grain: str = "hour") -> DataFrame:
    """Materialize finest-grain partials: one row per (bucket, event_type)."""
    return events.groupBy(
        F.date_trunc(grain, F.col("ts")).alias("bucket"), "event_type"
    ).agg(*_PARTIAL_AGGS)


def rollup_to(partials: DataFrame, grain: str) -> DataFrame:
    """Coarsen partials to ``grain`` by re-aggregating the partial
    columns — never touching raw rows. sum-of-sums and sum-of-counts
    are exact, so this equals the direct aggregation."""
    return partials.groupBy(
        F.date_trunc(grain, F.col("bucket")).alias("bucket"), "event_type"
    ).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("sv_dec").alias("sv_dec"),
    )


def finish(rolled: DataFrame) -> DataFrame:
    """Finalize carried partials into presentation columns."""
    return rolled.select(
        "bucket",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sv_dec").cast("double").alias("total_value"),
    )
