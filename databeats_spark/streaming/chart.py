"""Incremental weekly-chart pipeline — the streaming modernization of
the reference's weekly batch snapshot + streak rebuild (SURVEY §2.12).

The reference recomputes everything from history each run
(dag.py:408-532). The scalable form splits the work:

1. **incremental layer** (streaming): each micro-batch's per-(week,
   user) PARTIAL aggregates land in the batch's own (wk, epoch) state
   partitions via foreachBatch — idempotent by layout (a crash-replayed
   epoch overwrites exactly its own partitions), so neither replays nor
   late files can double-count into the streak;
2. **serving layer** (batch): chart membership + streak (the exact
   week_on_chart/streak operators) over the compact state table —
   (weeks × users) rows, not raw events.

At 100 TB the raw events never re-scan: the state table is smaller by
the events-per-user-week factor and the streak pass is bounded by it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from databeats_spark.functions.timeutils import week_index
from databeats_spark.operators.charts import chart_streaks
from databeats_spark.streaming.compaction import compact_epoch_partials, drain, write_epoch


def _fold_weeks(partials: DataFrame) -> DataFrame:
    """Fold (wk, epoch) partials to one row per (week, user) with the
    sink's pinned schema — shared by the serving read and compaction."""
    return partials.groupBy("wk", "user_id").agg(
        F.sum("wv_part").cast("decimal(28,2)").alias("wv_part"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


def weekly_state_sink(state_path: str):
    """foreachBatch sink: write the micro-batch's per-(week, user)
    PARTIAL aggregates into the batch's own (wk, epoch) partitions.

    A crash-replayed epoch overwrites exactly its own partitions, so
    the state is byte-identical after (pinned in test_streaming_chart.py
    by calling the sink twice with one epoch); an additive merge into
    existing week totals double-counted in that window. Late data for
    an old week simply lands as a new (old wk, new epoch) partial; the
    serving read folds partials per (week, user), so state stays
    (weeks × users × touched-epochs) compact rows. On a long-lived
    stream the touched-epochs factor grows — bound it with
    :func:`compact_chart_state`."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        weekly = batch_df.groupBy(week_index("ts").alias("wk"), F.col("user_id")).agg(
            # pin parquet types so every epoch writes the same schema
            F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(28,2)").alias("wv_part"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        write_epoch(weekly, state_path, epoch_id, ["wk", "epoch"])

    return write


def run_incremental_chart(
    spark: SparkSession,
    events_stream: DataFrame,
    state_path: str,
) -> StreamingQuery:
    """Drain all available event files into the weekly state table."""
    return drain(events_stream, weekly_state_sink(state_path), state_path + "_ckpt")


def chart_streaks_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Serving query: the batch weekly_chart_streak query's chart and
    streak (operators/charts.py::chart_streaks), computed from the
    compact state table."""
    weekly = _fold_weeks(spark.read.parquet(state_path)).select(
        "wk", "user_id", F.col("wv_part").cast("double").alias("wv")
    )
    return chart_streaks(weekly)


def compact_chart_state(
    spark: SparkSession, state_path: str, checkpoint_path: str | None = None
) -> int:
    """Compact the sink's committed (wk, epoch) partials into one
    ``epoch=-1`` base row per (wk, user) (streaming/compaction.py)."""
    return compact_epoch_partials(
        spark, state_path, _fold_weeks, ["wk", "epoch"], checkpoint_path
    )
