"""Window-function operators.

These re-express the reference's per-group Python loops (the
"analytical heart", reference dag.py:118-154) as pure Spark window
compositions: one shuffle on the partition key, vectorized JVM-side
execution, no driver-side iteration. Each helper enforces an explicit
deterministic ordering — pandas ``head(k)`` / ``iloc[-1]`` semantics
depend on prior sort stability, which a distributed engine must pin
down with tie-breaker columns instead.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_ROW = "__rn"


def _cols(spec: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in spec]


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str | Column],
    order_by: Sequence[str | Column],
    k: int,
    keep_rank: str | None = None,
) -> DataFrame:
    """Top-k rows per group — reference W1 (per-snapshot top-50 chart,
    dag.py:127-135) and W5 (first-N per parent, ETL_Experiment cell-19).

    ``order_by`` must be a total order within each partition (append a
    unique id as the last key) or results are nondeterministic.
    Physical plan: a single hash-partitioned shuffle on ``partition_by``
    + in-partition sort; no global sort, no driver collection.
    """
    w = Window.partitionBy(*_cols(partition_by)).orderBy(*_cols(order_by))
    out = df.withColumn(_ROW, F.row_number().over(w)).filter(F.col(_ROW) <= k)
    if keep_rank:
        return out.withColumnRenamed(_ROW, keep_rank)
    return out.drop(_ROW)


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str | Column],
    ts_col: str | Column,
    tie_breakers: Sequence[str | Column] = (),
) -> DataFrame:
    """Newest row per entity — reference W2 (``group.iloc[-1]`` after a
    (entity, timestamp) sort, dag.py:122, 139)."""
    ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    order = [ts.desc()] + [c.desc() for c in _cols(tie_breakers)]
    w = Window.partitionBy(*_cols(keys)).orderBy(*order)
    return df.withColumn(_ROW, F.row_number().over(w)).filter(F.col(_ROW) == 1).drop(_ROW)


def per_parent_limit(
    df: DataFrame,
    parent: str | Column,
    order_by: Sequence[str | Column],
    n: int,
) -> DataFrame:
    """First N children per parent — reference W5 (first 3 albums per
    artist / first 2 tracks per album, ETL_Experiment cell-19/27)."""
    return top_k_per_group(df, [parent], order_by, n)


def running_total(
    df: DataFrame,
    partition_by: Sequence[str | Column],
    order_by: Sequence[str | Column],
    value: str | Column,
    out_col: str = "running_total",
) -> DataFrame:
    """Cumulative sum per group with an explicit ROWS frame (so ties in
    the order key don't merge into RANGE peers — deterministic given a
    total order)."""
    w = (
        Window.partitionBy(*_cols(partition_by))
        .orderBy(*_cols(order_by))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.col(value) if isinstance(value, str) else value
    return df.withColumn(out_col, F.sum(v).over(w))


def streak_ending_at_latest(
    on_chart: DataFrame,
    entity_col: str,
    period_idx_col: str,
) -> DataFrame:
    """Consecutive-period streak ending at the latest period — the
    gaps-and-islands re-expression of reference W3 (`get_week_on_chart`,
    dag.py:137-152: walk each entity's snapshots, +1 while the gap is
    ≤ 1 period and the entity is on that period's chart, reset
    otherwise, zero if the entity missed the newest snapshot).

    ``on_chart``: one row per (entity, period) the entity qualified in;
    ``period_idx_col``: dense integer period index (e.g. week number).
    Returns (entity, streak) for entities whose island reaches the
    newest period on the chart — all other entities have streak 0 by
    definition.

    Plan shape: one shuffle on entity, two window passes, one
    aggregation — no iteration, scales linearly in rows.
    """
    from databeats_spark.operators.scale import attach_global_scalar

    w = Window.partitionBy(entity_col).orderBy(period_idx_col)
    island = (F.col(period_idx_col) - F.row_number().over(w)).alias("__island")
    grouped = (
        on_chart.select(entity_col, period_idx_col, island)
        .groupBy(entity_col, "__island")
        .agg(
            F.count(F.lit(1)).alias("streak"),
            F.max(period_idx_col).alias("__maxp"),
        )
    )
    # global newest period from the chart itself, attached as a
    # broadcast scalar (an empty-partition window would drag everything
    # to one task and warn); attach_global_scalar materializes the
    # grouped islands once instead of re-running the whole chart
    # pipeline for the scalar (AQE does not dedupe the shared exchange
    # under the broadcast side)
    grouped = attach_global_scalar(grouped, F.max("__maxp").alias("__latest"))
    return grouped.filter(F.col("__maxp") == F.col("__latest")).select(entity_col, "streak")
