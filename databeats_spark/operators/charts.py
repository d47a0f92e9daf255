"""`week_on_chart` — the reference's analytical heart, re-expressed.

Reference: `get_week_on_chart(df, col)` (dag.py:118-154). Semantics,
decomposed (SURVEY.md §2.6 W1-W3):

- W1 per-snapshot chart: for each distinct ``timestamp``, the top-50
  entities by popularity. pandas sorts (entity, ts) first, then a
  STABLE popularity sort + head(50) — so rank-50 ties cut by entity
  ascending. Re-expressed: row_number over (popularity DESC, entity
  ASC) ≤ k.
- W3 streak walk: per entity in ts order, chart += 1 while the row is
  on that snapshot's chart AND the gap from the previous row is ≤ 7
  days (the first row's gap counts as 0); otherwise chart resets to 0.
  The final value is therefore the TRAILING run length of qualifying
  rows. Note the boundary asymmetry faithfully kept: gap ``<= 7``
  continues the streak (dag.py:143) but the newest-snapshot guard
  zeroes at ``>= 7`` (dag.py:148-149).
- W2 output row: each entity's newest row's attributes + chart.

The pandas original is a per-group Python loop (O(rows) interpreter
time, single machine). Here: one shuffle on entity + two window
passes + one broadcast of the per-week chart membership — linear,
distributed, whole-stage-codegen'd.

Precondition: one row per (entity, timestamp) — the reference
pipeline dedups upstream (dag.py:462-464, 481-483); duplicate rows
would double-count the pandas walk too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from databeats_spark.operators.windows import streak_ending_at_latest, top_k_per_group


def snapshot_chart(
    df: DataFrame,
    entity_col: str,
    ts_col: str = "timestamp",
    popularity_col: str = "popularity",
    k: int = 50,
) -> DataFrame:
    """W1: the per-snapshot top-k chart → (ts, entity) membership rows."""
    deduped = df.select(ts_col, entity_col, popularity_col).dropDuplicates([ts_col, entity_col])
    return top_k_per_group(
        deduped,
        [ts_col],
        [F.col(popularity_col).desc(), F.col(entity_col).asc()],
        k,
    ).select(ts_col, entity_col)


# the weekly dashboard chart's length (weekly_chart_streak and the
# streaming chart serve)
CHART_K = 10


def chart_streaks(weekly: DataFrame) -> DataFrame:
    """Weekly totals (wk, user_id, wv) → (user_id, streak BIGINT): the
    top-CHART_K chart per week (wv desc, user_id asc), then each user's
    run of consecutive chart weeks ending at the newest chart week,
    longest first. The batch ``weekly_chart_streak`` query and the
    streaming serve path (streaming/chart.py) both run this."""
    chart = top_k_per_group(weekly, ["wk"], [F.col("wv").desc(), F.col("user_id")], CHART_K)
    return (
        streak_ending_at_latest(chart, "user_id", "wk")
        .select("user_id", F.col("streak").cast("long").alias("streak"))
        .orderBy(F.col("streak").desc(), "user_id")
    )


def week_on_chart(
    df: DataFrame,
    entity_col: str,
    ts_col: str = "timestamp",
    k: int = 50,
) -> DataFrame:
    """Full reference semantics: newest row per entity + ``chart`` streak
    ranked by ``popularity``; a gap of more than 7 days breaks a streak.

    ``ts_col`` must be a timestamp/date column (cast unix longs at the
    edge, reference C1/C2).
    """
    chart = snapshot_chart(df, entity_col, ts_col, "popularity", k).withColumn(
        "__on_chart", F.lit(True)
    )

    rows = df.join(chart, [ts_col, entity_col], "left").withColumn(
        "__on_chart", F.coalesce(F.col("__on_chart"), F.lit(False))
    )

    w = Window.partitionBy(entity_col).orderBy(ts_col)
    gap_ok = F.coalesce(
        F.datediff(F.col(ts_col).cast("date"), F.lag(F.col(ts_col).cast("date")).over(w))
        <= 7,
        F.lit(True),  # first row: pandas initializes prev=first → diff 0
    )
    qualifies = (F.col("__on_chart") & gap_ok).alias("__ok")

    ranked = rows.withColumn("__rn", F.row_number().over(w)).withColumn("__ok", qualifies)

    we = Window.partitionBy(entity_col)
    # trailing run of qualifying rows = total rows − last disqualified row
    last_bad = F.max(F.when(~F.col("__ok"), F.col("__rn")).otherwise(F.lit(0))).over(we)
    n_rows = F.max("__rn").over(we)
    # global newest snapshot as a broadcast scalar — an empty-partition
    # window here would funnel the WHOLE table through one task
    newest_df = df.agg(F.max(F.col(ts_col).cast("date")).alias("__newest"))
    ranked = ranked.crossJoin(F.broadcast(newest_df))
    newest_all = F.col("__newest")
    last_ts = F.max(F.col(ts_col).cast("date")).over(we)

    streaked = (
        ranked.withColumn("__chart_raw", n_rows - last_bad)
        .withColumn(
            # newest-snapshot guard: entity stale by >= 7 days → 0 (dag.py:148-152)
            "chart",
            F.when(F.datediff(newest_all, last_ts) >= 7, F.lit(0))
            .otherwise(F.col("__chart_raw"))
            .cast("int"),
        )
        .withColumn("__is_last", F.col("__rn") == n_rows)
    )
    return streaked.filter(F.col("__is_last")).drop(
        "__rn", "__ok", "__on_chart", "__chart_raw", "__is_last", "__newest"
    )
