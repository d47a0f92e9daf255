"""Event-table inventory: the time-series/window surface.

`weekly_chart_streak` is the faithful re-expression of the reference's
one genuinely non-trivial operator — `get_week_on_chart`
(reference dag.py:118-154): per-period top-k "chart" membership plus a
consecutive-period streak that must end at the newest period. The
pandas original walks every group row-by-row in Python; here it is
W1 (top-k window) + gaps-and-islands (two window passes), all JVM-side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databeats_spark.functions.timeutils import week_index
from databeats_spark.operators.charts import CHART_K, chart_streaks
from databeats_spark.registry import QuerySpec
from databeats_spark.registry.relational import dec
from databeats_spark.sources.tables import load_tables

SESSION_GAP_US = 1800 * 1_000_000  # 30 min


def _weekly_chart_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    weekly = t.events.groupBy(
        week_index("ts").alias("wk"), F.col("user_id")
    ).agg(F.sum(dec("value")).cast("double").alias("wv"))
    return chart_streaks(weekly)


_WEEKLY_CHART_STREAK_SQL = f"""
WITH weekly AS (
  SELECT CAST(floor(epoch(CAST(date_trunc('week', ts) AS TIMESTAMP)) / 604800) AS BIGINT) AS wk,
         user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS wv
  FROM events GROUP BY 1, 2
), chart AS (
  SELECT wk, user_id
  FROM (
    SELECT wk, user_id, row_number() OVER (PARTITION BY wk ORDER BY wv DESC, user_id) AS pos
    FROM weekly
  ) WHERE pos <= {CHART_K}
), latest AS (
  SELECT max(wk) AS maxwk FROM chart
), islands AS (
  SELECT user_id, wk,
         wk - row_number() OVER (PARTITION BY user_id ORDER BY wk) AS isl
  FROM chart
)
SELECT user_id, CAST(count(*) AS BIGINT) AS streak
FROM islands
GROUP BY user_id, isl
HAVING max(wk) = (SELECT maxwk FROM latest)
ORDER BY streak DESC, user_id
"""


def _latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.windows import latest_per_key

    t = load_tables(spark, sf_dir, ["events"])
    out = latest_per_key(t.events, ["user_id"], "ts", tie_breakers=["event_id"])
    return out.select(
        "user_id", "event_id", "event_type", "value", F.unix_micros("ts").alias("ts_us")
    ).orderBy("user_id")


_LATEST_EVENT_SQL = """
SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id
"""


def _time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t.events.filter(F.col("user_id") < 5)
        .select(
            "event_id",
            F.unix_timestamp("ts").alias("ts_unix"),
            F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias("wk_start"),
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("days_since"),
            F.hour("ts").cast("long").alias("hr"),
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        )
        .orderBy("event_id")
    )


_TIME_FEATURES_SQL = """
SELECT event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_unix,
       strftime(date_trunc('week', ts), '%Y-%m-%d') AS wk_start,
       CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS days_since,
       CAST(extract(hour FROM ts) AS BIGINT) AS hr,
       CAST(extract(dow FROM ts) AS BIGINT) AS dow
FROM events
WHERE user_id < 5
ORDER BY event_id
"""


def _json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C7: JSON parse at the edge (reference dag.py:209, 655-657).
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t.events.filter(F.col("user_id") < 3)
        .select("event_id", F.get_json_object("props", "$.k").cast("long").alias("prop_k"))
        .orderBy("event_id")
    )


_JSON_PROPS_SQL = """
SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS prop_k
FROM events
WHERE user_id < 3
ORDER BY event_id
"""


def _session_ids(ev: DataFrame) -> DataFrame:
    """``ev`` (user_id, event_id, us, ...) plus ``sid``: per user, the
    running count of session starts in (us, event_id) order, a start
    being the user's first event or one more than SESSION_GAP_US after
    the previous. Exact microsecond arithmetic (no float time math).
    The Spark half of the session rule sessionization,
    session_transcripts, peak_concurrency and markov_removal_attribution
    share; _SESSION_CTES is the DuckDB half."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    new_s = (
        F.when(F.lag("us").over(w).isNull(), 1)
        .when(F.col("us") - F.lag("us").over(w) > SESSION_GAP_US, 1)
        .otherwise(0)
    )
    sid = F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ev.withColumn("sid", sid)


# o: events with the new-session flag; s: one row per event with its sid
_SESSION_CTES = f"""o AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US} THEN 1
              ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), s AS (
  SELECT user_id, event_id, event_type, us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
)"""


def _sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: 30-min inactivity gap starts a
    new session."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t.events.select("user_id", "event_id", F.unix_micros("ts").alias("us"))
    per_session = (
        _session_ids(ev)
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("cnt").cast("long").alias("n_events"),
            F.max("cnt").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


_SESSIONIZATION_SQL = f"""
WITH {_SESSION_CTES}, per_session AS (
  SELECT user_id, sid, count(*) AS cnt FROM s GROUP BY user_id, sid
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(cnt) AS BIGINT) AS n_events,
       CAST(max(cnt) AS BIGINT) AS max_session_events
FROM per_session
GROUP BY user_id
ORDER BY user_id
"""

# --- Q: session_transcripts — dialog assembly for training data -------
# The step between event logs and a trainable corpus: per session (the
# sessionization gap rule verbatim), the ORDERED event-type sequence
# assembled into one transcript string — the chat-log → training-
# document move an interaction dataset needs. Determinism: the
# transcript order is the total order (us, event_id) via array_sort
# over structs on the Spark side and string_agg(... ORDER BY us,
# event_id) in SQL — event_id is unique, so no tie is left to the
# engine. Sessions shorter than MIN_TURNS are dropped (not trainable).
# Scale shape: the same single user-keyed window as sessionization,
# then one hash aggregate; transcript bytes ∝ session length, rows ∝
# sessions.

MIN_TURNS = 3


def _session_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    ev = t.events.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    transcript = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("us", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ),
        " ",
    )
    return (
        _session_ids(ev)
        .groupBy("user_id", F.col("sid").cast("long").alias("sid"))
        .agg(
            transcript.alias("transcript"),
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            (F.max("us") - F.min("us")).cast("long").alias("duration_us"),
        )
        .filter(F.col("n_turns") >= MIN_TURNS)
        .orderBy("user_id", "sid")
    )


_SESSION_TRANSCRIPTS_SQL = f"""
WITH {_SESSION_CTES}
SELECT user_id, CAST(sid AS BIGINT) AS sid,
       string_agg(event_type, ' ' ORDER BY us, event_id) AS transcript,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(max(us) - min(us) AS BIGINT) AS duration_us
FROM s
GROUP BY user_id, sid
HAVING count(*) >= {MIN_TURNS}
ORDER BY user_id, sid
"""


def _asof_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click enriched with the user's most recent
    prior (inclusive) purchase value. DuckDB's native ASOF JOIN is the
    oracle; Spark side is operators/joins.asof_join (union + running
    last-value window — no native as-of node exists)."""
    from databeats_spark.operators.dedup import dedup_first
    from databeats_spark.operators.joins import asof_join

    t = load_tables(spark, sf_dir, ["events"])
    clicks = t.events.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = t.events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    # one purchase per (user, instant): exact-tie picks are otherwise
    # engine-arbitrary on both sides
    purchases = dedup_first(purchases, ["user_id", "ts"], [F.col("value").desc()])
    out = asof_join(clicks, purchases, on="ts", by=["user_id"], value_cols=["value"])
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("value").alias("last_purchase_value"),
    ).orderBy("event_id")


_ASOF_PURCHASE_VALUE_SQL = """
WITH clicks AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY value DESC) AS rn
    FROM events WHERE event_type = 'purchase'
  ) WHERE rn = 1
)
SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us, p.value AS last_purchase_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
ORDER BY c.event_id
"""


def _session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window in a BATCH plan, oracle'd by gaps-and-
    islands SQL. Boundary semantics differ between the two spellings:
    session_window merges when diff < gap (STRICT — the window is
    [start, last+gap) and an event landing exactly at the end starts a
    new session), so the islands oracle uses >= gap as its new-session
    condition, unlike registry sessionization's > gap convention."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t.events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("s"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("s.start").alias("start_us"),
            F.unix_micros("s.end").alias("end_us"),
            "n_events",
        )
        .orderBy("user_id", "start_us")
    )


_SESSION_WINDOWS_SQL = f"""
WITH o AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {SESSION_GAP_US} THEN 1
              ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), s AS (
  SELECT user_id, us, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
)
SELECT user_id,
       min(us) AS start_us,
       max(us) + {SESSION_GAP_US} AS end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, sid
ORDER BY user_id, start_us
"""


def _approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch vs exact: approx_percentile (Greenwald-Khanna)
    beside the exact interpolated percentile. Sketch internals differ
    per engine → rows-only driver check; tests/test_properties bounds
    the sketch error against the exact column instead."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("approx_p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("exact_p50"),
            F.expr("approx_percentile(l_extendedprice, 0.9, 1000)").alias("approx_p90"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("exact_p90"),
        )
        .orderBy("l_returnflag")
    )


# --- Q: approx_price_quantiles_exact — oracle twin (r7 VERDICT item 6) ----
# Identical grouping pipeline with the EXACT interpolated percentile
# substituted for the Greenwald-Khanna sketch: Spark `percentile` and
# DuckDB `quantile_cont` both compute the type-7 quantile
# (lower + frac * (upper - lower) at index p*(n-1)); round(…,6) on both
# sides absorbs the float-association noise per the ratio-double
# recipe. Certifies everything but the sketch itself.

def _approx_price_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("exact_p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("exact_p90"),
        )
        .orderBy("l_returnflag")
    )


_APPROX_PRICE_QUANTILES_EXACT_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS exact_p90
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def _daily_from_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup (operators/rollup.py): daily stats
    derived by re-aggregating HOURLY PARTIALS, never raw rows. The
    oracle aggregates raw events directly — hash equality proves the
    rollup decomposition is exact (the invariant that makes
    incremental materialized views legal)."""
    from databeats_spark.operators.rollup import finish, rollup_to, time_partials

    t = load_tables(spark, sf_dir, ["events"])
    hourly = time_partials(t.events, grain="hour")
    daily = finish(rollup_to(hourly, grain="day"))
    return daily.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("day", "event_type")


_DAILY_ROLLUP_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


def _range_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (operators/joins.range_join): every
    click inside the hour before each purchase by the same user — the
    batch twin of streaming/events.stream_stream_click_attribution.
    Spark side runs the bucketed equi-join rewrite (a naive non-equi
    join is a nested-loop at scale); the oracle states the plain range
    predicate."""
    from databeats_spark.operators.joins import range_join

    t = load_tables(spark, sf_dir, ["events"])
    clicks = t.events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = (
        t.events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts"))
        .withColumn("win_start", F.col("purchase_ts") - F.expr("INTERVAL 1 hour"))
    )
    out = range_join(
        clicks,
        purchases,
        keys=["user_id"],
        point_ts="click_ts",
        start_ts="win_start",
        end_ts="purchase_ts",
        bucket="1 hour",
    )
    return out.select(
        "user_id",
        "purchase_id",
        "click_id",
        F.unix_micros("purchase_ts").alias("purchase_us"),
        F.unix_micros("click_ts").alias("click_us"),
    ).orderBy("purchase_id", "click_id")


_RANGE_ATTRIBUTION_SQL = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, p.purchase_id, c.click_id,
       epoch_us(p.purchase_ts) AS purchase_us,
       epoch_us(c.click_ts) AS click_us
FROM clicks c
JOIN purchases p
  ON c.user_id = p.user_id
 AND c.click_ts >= p.purchase_ts - INTERVAL 1 hour
 AND c.click_ts <= p.purchase_ts
ORDER BY purchase_id, click_id
"""


def _user_funnel_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cogrouped-map Pandas UDF surface (§2.13's second half):
    clicks and purchases cogrouped per user, summarized in ONE pandas
    callback per key — the shape for per-entity logic that needs both
    streams at once in Python. Integer/µs outputs keep it exactly
    hash-matchable; the oracle is the native full-outer-aggregate
    twin, so the Arrow path is value-verified, not just smoke-run."""
    import pandas as pd

    t = load_tables(spark, sf_dir, ["events"])
    ev = t.events.filter(F.col("user_id") < 50)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("us"), "value"
    )

    def summarize(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        uid = (left if len(left) else right)["user_id"].iloc[0]
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_clicks": [len(left)],
                "n_purchases": [len(right)],
                "first_click_us": [left["us"].min() if len(left) else None],
                "last_purchase_us": [right["us"].max() if len(right) else None],
                "purchase_cents": [
                    int(round(right["value"] * 100).sum()) if len(right) else 0
                ],
            }
        )

    out = (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            summarize,
            "user_id long, n_clicks long, n_purchases long, "
            "first_click_us long, last_purchase_us long, purchase_cents long",
        )
    )
    return out.orderBy("user_id")


_USER_FUNNEL_SUMMARY_SQL = """
WITH c AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks,
         min(epoch_us(ts)) AS first_click_us
  FROM events WHERE event_type = 'click' AND user_id < 50
  GROUP BY user_id
), p AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
         max(epoch_us(ts)) AS last_purchase_us,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS purchase_cents
  FROM events WHERE event_type = 'purchase' AND user_id < 50
  GROUP BY user_id
)
SELECT coalesce(c.user_id, p.user_id) AS user_id,
       coalesce(c.n_clicks, 0) AS n_clicks,
       coalesce(p.n_purchases, 0) AS n_purchases,
       c.first_click_us,
       p.last_purchase_us,
       coalesce(p.purchase_cents, 0) AS purchase_cents
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
ORDER BY user_id
"""


def _user_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.13 UDF surface done right: a grouped-map Pandas UDF
    (applyInPandas, Arrow-batched per group) where Python is the point —
    the same rank is native `row_number` (that twin IS the oracle).
    Integer output keeps the pandas path exactly hash-matchable."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t.events.filter(F.col("user_id") < 30).select("user_id", "event_id", "value")

    def rank_group(pdf):
        pdf = pdf.sort_values(["value", "event_id"], ascending=[False, True])
        pdf["value_rank"] = range(1, len(pdf) + 1)
        return pdf

    return (
        ev.groupBy("user_id")
        .applyInPandas(rank_group, schema="user_id long, event_id long, value double, value_rank long")
        .orderBy("user_id", "value_rank")
    )


_USER_VALUE_RANKS_SQL = """
SELECT user_id, event_id, value,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS value_rank
FROM events
WHERE user_id < 30
ORDER BY user_id, value_rank
"""


def _weekly_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling resample: every (user, week) cell in the observed
    range, zero-filled where the user was inactive — the dense-grid
    form time-series models consume. Grid = span sequence × distinct
    users (explode, no driver loop), left join the sparse aggregates."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t.events.filter(F.col("user_id") < 20)
    weekly = ev.groupBy(week_index("ts").alias("wk"), "user_id").agg(
        F.sum(dec("value")).cast("double").alias("wv"),
        F.count(F.lit(1)).alias("n"),
    )
    span = weekly.agg(F.min("wk").alias("lo"), F.max("wk").alias("hi"))
    # crossJoin the 1-ROW span onto the users, THEN explode the week
    # sequence per user: the bounded join side is a keyless aggregate
    # the plan lint proves structurally (≤1 row), and spine generation
    # distributes across user rows instead of materializing a spine
    # relation on one side (r7 VERDICT item 5 — this emptied
    # BOUNDED_JOIN_OK).
    grid = (
        ev.select("user_id").distinct()
        .crossJoin(span)
        .select("user_id", F.explode(F.sequence("lo", "hi")).alias("wk"))
    )
    return (
        grid.join(weekly, ["wk", "user_id"], "left")
        .select(
            "wk",
            "user_id",
            F.coalesce("wv", F.lit(0.0)).alias("wv"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
        .orderBy("wk", "user_id")
    )


_WEEKLY_RESAMPLE_SQL = """
WITH ev AS (
  SELECT * FROM events WHERE user_id < 20
), weekly AS (
  SELECT CAST(floor(epoch(CAST(date_trunc('week', ts) AS TIMESTAMP)) / 604800) AS BIGINT) AS wk,
         user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS wv,
         count(*) AS n
  FROM ev GROUP BY 1, 2
), span AS (
  SELECT min(wk) AS lo, max(wk) AS hi FROM weekly
), grid AS (
  SELECT gs.wk, u.user_id
  FROM (SELECT unnest(generate_series(lo, hi)) AS wk FROM span) gs,
       (SELECT DISTINCT user_id FROM ev) u
)
SELECT g.wk, g.user_id,
       coalesce(w.wv, 0.0) AS wv,
       CAST(coalesce(w.n, 0) AS BIGINT) AS n
FROM grid g LEFT JOIN weekly w ON g.wk = w.wk AND g.user_id = w.user_id
ORDER BY g.wk, g.user_id
"""


def _hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming tumbling-window aggregation
    (streaming/events.windowed_event_stats): F.window() in a batch
    plan, oracle'd by date_trunc — proving window() semantics match
    calendar-hour truncation for aligned windows."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t.events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


_HOURLY_EVENT_STATS_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    pivoted = t.events.groupBy("user_id").pivot("event_type", list(EVENT_TYPES)).count()
    return pivoted.select(
        "user_id", *[F.coalesce(F.col(e), F.lit(0)).cast("long").alias(e) for e in EVENT_TYPES]
    ).orderBy("user_id")


_EVENT_TYPE_PIVOT_SQL = """
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# --- Q: cuped_experiment_effect — variance-reduced A/B readout --------
# The experimentation tier: a deterministic user-level split
# (user_id % 2) read out with CUPED (Deng et al., WSDM'13) — the
# pre-period spend covariate soaks up between-user variance so the
# treatment effect needs a fraction of the sample. Per-user pre/post
# sums are exact DECIMALs (the money recipe); the regression
# coefficient theta = cov(X,Y)/var(X) and the adjusted means are the
# repo's standard round-6 ratio doubles. The global moment scalars
# come off the SHUFFLED per-user table, so they ride
# attach_global_scalar (CLAUDE.md derived-scalar rule: AQE would
# otherwise re-execute the aggregate under the broadcast side); the
# whole readout is then ONE keyless aggregate — n_users, theta, raw
# vs adjusted effect, and the realized variance-reduction ratio.

CUPED_SPLIT_TS = "2024-01-16"  # pre/post boundary (events span Jan 2024)


def _cuped_experiment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import attach_global_scalar

    t = load_tables(spark, sf_dir, ["events"])
    pre = F.col("ts") < F.lit(CUPED_SPLIT_TS).cast("timestamp")
    zero = F.lit(0).cast("decimal(18,2)")
    per_user = (
        t.events.groupBy("user_id")
        .agg(
            F.sum(F.when(pre, dec("value")).otherwise(zero)).cast("double").alias("x"),
            F.sum(F.when(~pre, dec("value")).otherwise(zero)).cast("double").alias("y"),
        )
        .withColumn("t", (F.col("user_id") % 2).cast("bigint"))
    )
    stats = attach_global_scalar(
        per_user,
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    var_x = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    theta = F.when(var_x == 0, F.lit(0.0)).otherwise(
        (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / var_x
    )
    adj = stats.withColumn("theta", theta).withColumn(
        "y_adj",
        F.col("y") - F.col("theta") * (F.col("x") - F.col("sx") / F.col("n")),
    )
    treated = F.when(F.col("t") == 1, F.col("y"))
    control = F.when(F.col("t") == 0, F.col("y"))
    treated_adj = F.when(F.col("t") == 1, F.col("y_adj"))
    control_adj = F.when(F.col("t") == 0, F.col("y_adj"))
    return adj.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.min("theta"), 6).alias("theta"),
        F.round(F.avg(treated) - F.avg(control), 6).alias("raw_effect"),
        F.round(F.avg(treated_adj) - F.avg(control_adj), 6).alias("cuped_effect"),
        F.round(
            F.when(F.var_pop("y") == 0, F.lit(0.0)).otherwise(
                F.lit(1.0) - F.var_pop("y_adj") / F.var_pop("y")
            ),
            6,
        ).alias("var_reduction"),
    )


_CUPED_EXPERIMENT_EFFECT_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT_TS}'
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS x,
         CAST(sum(CASE WHEN NOT (ts < TIMESTAMP '{CUPED_SPLIT_TS}')
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS y,
         CAST(user_id % 2 AS BIGINT) AS t
  FROM events GROUP BY user_id
), s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM per_user
), adj AS (
  SELECT p.*,
         CASE WHEN s.sxx - s.sx * s.sx / s.n = 0 THEN 0.0
              ELSE (s.sxy - s.sx * s.sy / s.n) / (s.sxx - s.sx * s.sx / s.n)
         END AS theta,
         p.y - CASE WHEN s.sxx - s.sx * s.sx / s.n = 0 THEN 0.0
                    ELSE (s.sxy - s.sx * s.sy / s.n) / (s.sxx - s.sx * s.sx / s.n)
               END * (p.x - s.sx / s.n) AS y_adj
  FROM per_user p CROSS JOIN s
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       round(min(theta), 6) AS theta,
       round(avg(CASE WHEN t = 1 THEN y END)
             - avg(CASE WHEN t = 0 THEN y END), 6) AS raw_effect,
       round(avg(CASE WHEN t = 1 THEN y_adj END)
             - avg(CASE WHEN t = 0 THEN y_adj END), 6) AS cuped_effect,
       round(CASE WHEN var_pop(y) = 0 THEN 0.0
                  ELSE 1.0 - var_pop(y_adj) / var_pop(y) END, 6) AS var_reduction
FROM adj
"""


# --- Q: did_experiment_effect — difference-in-differences readout -----
# The experimentation tier's second estimator: where CUPED adjusts
# post-period outcomes with a fitted coefficient, DiD subtracts each
# arm's own pre-period mean — no regression, so the whole readout is
# arithmetic on exact DECIMAL sums (doubles appear only in the final
# four mean divisions, per the one-division recipe). pre_gap is the
# falsification column a reviewer checks first: a deterministic
# user_id%2 split should show ~no pre-period difference between arms.

def _did_experiment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    pre = F.col("ts") < F.lit(CUPED_SPLIT_TS).cast("timestamp")
    zero = F.lit(0).cast("decimal(18,2)")
    per_user = (
        t.events.groupBy("user_id")
        .agg(
            F.sum(F.when(pre, dec("value")).otherwise(zero)).cast("double").alias("x"),
            F.sum(F.when(~pre, dec("value")).otherwise(zero)).cast("double").alias("y"),
        )
        .withColumn("t", (F.col("user_id") % 2).cast("bigint"))
    )
    tx = F.avg(F.when(F.col("t") == 1, F.col("x")))
    ty = F.avg(F.when(F.col("t") == 1, F.col("y")))
    cx = F.avg(F.when(F.col("t") == 0, F.col("x")))
    cy = F.avg(F.when(F.col("t") == 0, F.col("y")))
    return per_user.agg(
        F.sum((F.col("t") == 1).cast("bigint")).cast("bigint").alias("n_treated"),
        F.sum((F.col("t") == 0).cast("bigint")).cast("bigint").alias("n_control"),
        F.round(tx - cx, 6).alias("pre_gap"),
        F.round(ty - cy, 6).alias("raw_post_effect"),
        F.round((ty - tx) - (cy - cx), 6).alias("did_effect"),
    )


_DID_EXPERIMENT_EFFECT_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT_TS}'
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS x,
         CAST(sum(CASE WHEN NOT (ts < TIMESTAMP '{CUPED_SPLIT_TS}')
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS y,
         CAST(user_id % 2 AS BIGINT) AS t
  FROM events GROUP BY user_id
)
SELECT CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treated,
       CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
       round(avg(CASE WHEN t = 1 THEN x END)
             - avg(CASE WHEN t = 0 THEN x END), 6) AS pre_gap,
       round(avg(CASE WHEN t = 1 THEN y END)
             - avg(CASE WHEN t = 0 THEN y END), 6) AS raw_post_effect,
       round((avg(CASE WHEN t = 1 THEN y END) - avg(CASE WHEN t = 1 THEN x END))
             - (avg(CASE WHEN t = 0 THEN y END) - avg(CASE WHEN t = 0 THEN x END)),
             6) AS did_effect
FROM per_user
"""


# --- Q: stratified_effect — post-stratification A/B readout -----------
# The experimentation tier's fourth estimator: stratify users by
# PRE-period activity band (the strongest observed confounder), read
# the treatment effect within each stratum, and combine with
# population weights — the design-based alternative to CUPED's
# regression adjustment. Per-stratum sums are exact DECIMALs; each
# stratum row carries its own one-division means; the 'ALL' row's
# weighted combination sums three fixed-band doubles (round-6
# absorbs partial-agg order, the var_pop precedent). N rides
# attach_global_scalar off the stratum table (derived-scalar rule),
# and the checkpoint lets the per-stratum and ALL branches share one
# materialization.

STRAT_BANDS = (1400.0, 1800.0)  # pre-spend terciles at the test SFs


def _stratified_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import attach_global_scalar

    t = load_tables(spark, sf_dir, ["events"])
    pre = F.col("ts") < F.lit(CUPED_SPLIT_TS).cast("timestamp")
    zero = F.lit(0).cast("decimal(18,2)")
    per_user = (
        t.events.groupBy("user_id")
        .agg(
            F.sum(F.when(pre, dec("value")).otherwise(zero)).cast("decimal(18,2)").alias("x"),
            F.sum(F.when(~pre, dec("value")).otherwise(zero)).cast("decimal(18,2)").alias("y"),
        )
        .withColumn("t", (F.col("user_id") % 2).cast("bigint"))
        .withColumn(
            "stratum",
            F.when(F.col("x") < STRAT_BANDS[0], F.lit("1_low"))
            .when(F.col("x") < STRAT_BANDS[1], F.lit("2_mid"))
            .otherwise(F.lit("3_high")),
        )
    )
    st = per_user.groupBy("stratum").agg(
        F.sum((F.col("t") == 1).cast("bigint")).cast("bigint").alias("n1"),
        F.sum((F.col("t") == 0).cast("bigint")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(zero)).cast("decimal(18,2)").alias("sy1"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(zero)).cast("decimal(18,2)").alias("sy0"),
    )
    stw = attach_global_scalar(st, F.sum(F.col("n1") + F.col("n0")).cast("bigint").alias("N"))
    # a one-arm stratum (possible at tiny SFs) has no within-stratum
    # contrast: its effect is NULL and the ALL row's sum skips it —
    # identically on both engines (sum ignores NULLs)
    diff = F.when(
        (F.col("n1") == 0) | (F.col("n0") == 0), F.lit(None).cast("double")
    ).otherwise(
        F.col("sy1").cast("double") / F.col("n1") - F.col("sy0").cast("double") / F.col("n0")
    )
    w = (F.col("n1") + F.col("n0")).cast("double") / F.col("N")
    per_stratum = stw.select(
        "stratum",
        "n1",
        "n0",
        F.round(diff, 6).alias("effect"),
        F.round(w, 6).alias("weight"),
    )
    all_row = stw.agg(
        F.sum("n1").cast("bigint").alias("n1"),
        F.sum("n0").cast("bigint").alias("n0"),
        F.round(F.sum(w * diff), 6).alias("effect"),
    ).select(F.lit("4_all_stratified").alias("stratum"), "n1", "n0", "effect", F.lit(1.0).alias("weight"))
    return per_stratum.unionAll(all_row).orderBy("stratum")


_STRATIFIED_EFFECT_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT_TS}'
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS x,
         CAST(sum(CASE WHEN NOT (ts < TIMESTAMP '{CUPED_SPLIT_TS}')
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS y,
         CAST(user_id % 2 AS BIGINT) AS t
  FROM events GROUP BY user_id
), banded AS (
  SELECT *, CASE WHEN x < {STRAT_BANDS[0]} THEN '1_low'
                 WHEN x < {STRAT_BANDS[1]} THEN '2_mid'
                 ELSE '3_high' END AS stratum
  FROM per_user
), st AS (
  SELECT stratum,
         CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN t = 1 THEN y ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS sy1,
         CAST(sum(CASE WHEN t = 0 THEN y ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS sy0
  FROM banded GROUP BY stratum
), stw AS (
  SELECT *, CAST(sum(n1 + n0) OVER () AS BIGINT) AS N FROM st
)
SELECT * FROM (
  SELECT stratum, n1, n0,
         round(CASE WHEN n1 = 0 OR n0 = 0 THEN NULL
                    ELSE CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0
               END, 6) AS effect,
         round(CAST(n1 + n0 AS DOUBLE) / N, 6) AS weight
  FROM stw
  UNION ALL
  SELECT '4_all_stratified', CAST(sum(n1) AS BIGINT), CAST(sum(n0) AS BIGINT),
         round(sum((CAST(n1 + n0 AS DOUBLE) / N)
                   * (CASE WHEN n1 = 0 OR n0 = 0 THEN NULL
                           ELSE CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0
                      END)), 6),
         1.0
  FROM stw
)
ORDER BY stratum
"""


# --- Q: time_weighted_value — TWAP per user ---------------------------
# Interval-weighted average of each user's event value: value_i is
# held from ts_i until the next event (the last interval closes at
# the fixed window end). The weighted sum is DECIMAL(18,2) × BIGINT
# microseconds — exact decimal arithmetic, order-independent — and
# the single division to double happens once at the end. One
# key-partitioned window (lead) + one hash aggregate; the shape every
# billing/metering pipeline runs at scale.

TWAP_END_TS = "2024-01-31"  # events span Jan 2024


def _time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    end_us = F.unix_micros(F.to_timestamp(F.lit(TWAP_END_TS)))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    ev = t.events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), dec("value").alias("v")
    )
    with_delta = ev.withColumn(
        "delta", F.coalesce(F.lead("us").over(w), end_us) - F.col("us")
    )
    g = with_delta.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("v") * F.col("delta")).alias("wsum"),
        F.sum("delta").cast("bigint").alias("tsum"),
    )
    return g.select(
        "user_id",
        "n_events",
        F.round(F.col("wsum").cast("double") / F.col("tsum"), 6).alias("twap"),
    ).orderBy("user_id")


_TIME_WEIGHTED_VALUE_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, CAST(value AS DECIMAL(18,2)) AS v
  FROM events
), with_delta AS (
  SELECT *,
         coalesce(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id),
                  epoch_us(TIMESTAMP '{TWAP_END_TS}')) - us AS delta
  FROM ev
), g AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         sum(v * delta) AS wsum, CAST(sum(delta) AS BIGINT) AS tsum
  FROM with_delta GROUP BY user_id
)
SELECT user_id, n_events, round(CAST(wsum AS DOUBLE) / tsum, 6) AS twap
FROM g
ORDER BY user_id
"""


# --- Q: srm_daily_check — sample-ratio-mismatch audit ------------------
# The experimentation tier's health gate: before trusting CUPED/DiD
# readouts, verify the randomization itself. Per exposure day, count
# DISTINCT users per arm and test against the 50/50 design ratio with
# the 1-df chi-square (for two equal-probability cells the statistic
# collapses to (n1-n0)^2 / n — an exact BIGINT polynomial with ONE
# division, per the one-division recipe). srm_flag applies the 0.05
# critical value on the UNROUNDED statistic identically on both
# engines. At 100 TB this is one hash aggregate over (day, user, arm)
# partial-distinct — no window, no join.

SRM_CRIT_05 = 3.841459  # chi-square 1-df critical value, alpha = 0.05


def _srm_daily_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    arm = (F.col("user_id") % 2).cast("bigint")
    daily = t.events.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count_distinct(F.when(arm == 1, F.col("user_id"))).cast("bigint").alias("n_treated"),
        F.count_distinct(F.when(arm == 0, F.col("user_id"))).cast("bigint").alias("n_control"),
    )
    diff = F.col("n_treated") - F.col("n_control")
    chi2 = (diff * diff).cast("double") / (F.col("n_treated") + F.col("n_control"))
    return daily.select(
        "day",
        "n_treated",
        "n_control",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(SRM_CRIT_05)).alias("srm_flag"),
    ).orderBy("day")


_SRM_DAILY_CHECK_SQL = f"""
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(DISTINCT CASE WHEN user_id % 2 = 1 THEN user_id END) AS BIGINT) AS n_treated,
         CAST(count(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END) AS BIGINT) AS n_control
  FROM events GROUP BY 1
)
SELECT day, n_treated, n_control,
       round(CAST((n_treated - n_control) * (n_treated - n_control) AS DOUBLE)
             / (n_treated + n_control), 6) AS chi2,
       CAST((n_treated - n_control) * (n_treated - n_control) AS DOUBLE)
             / (n_treated + n_control) > {SRM_CRIT_05} AS srm_flag
FROM daily
ORDER BY day
"""


# --- Q: mann_whitney_effect — nonparametric A/B readout ----------------
# The experimentation tier's third estimator: where CUPED/DiD compare
# means, Mann-Whitney compares the whole distributions — robust to the
# heavy-tailed spend outcomes a mean-based readout is hostage to. The
# classic formulation ranks ALL users in one ordered pass (a global
# window — the single-task funnel); here the rank sum is recovered
# from the DISTINCT-value table instead: group per-user spend to
# (y, cnt, cnt1), take a distributed prefix sum of cnt over y
# (operators/scale.py::partitioned_running_total — the lint-proved
# two-phase scan), and fold tie-averaged ranks as the exact BIGINT
# identity 2*avg_rank(y) = 2*cum(y) - cnt(y) + 1. Everything through
# 2*U1 is exact integer arithmetic; AUC, rank-biserial and the
# tie-corrected z are single-expression doubles rounded per the
# ratio recipe.


def _mann_whitney_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import partitioned_running_total

    t = load_tables(spark, sf_dir, ["events"])
    per_user = (
        t.events.groupBy("user_id")
        .agg(F.sum(dec("value")).cast("decimal(18,2)").alias("y"))
        .withColumn("t", (F.col("user_id") % 2).cast("bigint"))
    )
    by_value = per_user.groupBy("y").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum((F.col("t") == 1).cast("bigint")).cast("bigint").alias("cnt1"),
    )
    ranked = partitioned_running_total(by_value, [F.col("y")], {"cum": "cnt"})
    s = ranked.agg(
        F.sum(F.col("cnt1") * (2 * F.col("cum") - F.col("cnt") + 1)).cast("bigint").alias("two_r1"),
        F.sum("cnt1").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt1")).cast("bigint").alias("n0"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).cast("bigint").alias("tie"),
    )
    two_u = F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)
    n = F.col("n1") + F.col("n0")
    var_u = (F.col("n1") * F.col("n0") / F.lit(12.0)) * (
        (n + 1) - F.col("tie").cast("double") / (n * (n - 1))
    )
    z = F.when(var_u <= 0, F.lit(0.0)).otherwise(
        ((two_u - F.col("n1") * F.col("n0")) / F.lit(2.0)) / F.sqrt(var_u)
    )
    return s.select(
        F.col("n1").alias("n_treated"),
        F.col("n0").alias("n_control"),
        two_u.cast("bigint").alias("two_u"),
        F.round(two_u.cast("double") / (2.0 * F.col("n1") * F.col("n0")), 6).alias("auc"),
        F.round((two_u - F.col("n1") * F.col("n0")).cast("double") / (F.col("n1") * F.col("n0")), 6).alias("rank_biserial"),
        F.round(z, 6).alias("z_stat"),
    )


_MANN_WHITNEY_EFFECT_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y,
         CAST(user_id % 2 AS BIGINT) AS t
  FROM events GROUP BY user_id
), by_value AS (
  SELECT y, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt1
  FROM per_user GROUP BY y
), ranked AS (
  SELECT y, cnt, cnt1, CAST(sum(cnt) OVER (ORDER BY y) AS BIGINT) AS cum
  FROM by_value
), s AS (
  SELECT CAST(sum(cnt1 * (2 * cum - cnt + 1)) AS BIGINT) AS two_r1,
         CAST(sum(cnt1) AS BIGINT) AS n1,
         CAST(sum(cnt - cnt1) AS BIGINT) AS n0,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie
  FROM ranked
)
SELECT n1 AS n_treated, n0 AS n_control,
       CAST(two_r1 - n1 * (n1 + 1) AS BIGINT) AS two_u,
       round(CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / (2.0 * n1 * n0), 6) AS auc,
       round(CAST(two_r1 - n1 * (n1 + 1) - n1 * n0 AS DOUBLE) / (n1 * n0), 6)
         AS rank_biserial,
       round(CASE WHEN (n1 * n0 / 12.0)
                       * ((n1 + n0 + 1) - CAST(tie AS DOUBLE) / ((n1 + n0) * (n1 + n0 - 1))) <= 0
                  THEN 0.0
                  ELSE ((two_r1 - n1 * (n1 + 1) - n1 * n0) / 2.0)
                       / sqrt((n1 * n0 / 12.0)
                              * ((n1 + n0 + 1) - CAST(tie AS DOUBLE) / ((n1 + n0) * (n1 + n0 - 1))))
             END, 6) AS z_stat
FROM s
"""


def _arm_ecdf(events: DataFrame) -> DataFrame:
    """The two arms' ECDF table over the per-user DECIMAL spend ``y``
    (arm = user_id % 2): one row per distinct y with the per-value arm
    counts c1/c0, their cumulative counts f1/f0 (both sums in ONE
    distributed prefix pass, operators/scale.py::
    partitioned_running_total — no global window) and the arm totals n1/n0, attached from a keyless
    aggregate by crossJoin of the ≤1-row side. The Spark half shared by
    quantile_treatment_effect, ks_two_sample and cvm_two_sample;
    _ARM_ECDF_CTES is the DuckDB half."""
    from databeats_spark.operators.scale import partitioned_running_total

    per_user = (
        events.groupBy("user_id")
        .agg(F.sum(dec("value")).cast("decimal(18,2)").alias("y"))
        .withColumn("arm", (F.col("user_id") % 2).cast("bigint"))
    )
    by_value = per_user.groupBy("y").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("c0"),
    )
    merged = partitioned_running_total(
        by_value, [F.col("y")], {"f1": "c1", "f0": "c0"}
    ).select("y", "c1", "f1", "c0", "f0")
    totals = per_user.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
    )
    return merged.crossJoin(F.broadcast(totals))


# per_user → by_value (c1, c0) → cum (+ f1, f0); totals (n1, n0)
_ARM_ECDF_CTES = """per_user AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y,
         CAST(user_id % 2 AS BIGINT) AS arm
  FROM events GROUP BY user_id
), by_value AS (
  SELECT y,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
  FROM per_user GROUP BY y
), cum AS (
  SELECT y, c1, c0,
         CAST(sum(c1) OVER (ORDER BY y) AS BIGINT) AS f1,
         CAST(sum(c0) OVER (ORDER BY y) AS BIGINT) AS f0
  FROM by_value
), totals AS (
  SELECT CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
  FROM per_user
)"""


# --- Q: quantile_treatment_effect — distributional A/B readout --------
# Where CUPED/Mann-Whitney summarize to one number, QTE reports the
# treatment effect at p25/p50/p75 — the heavy-tail question ("did the
# median user move, or only the whales?"). Rank-based order statistics
# (the conformal/robust-stats recipe, no interpolation): per-arm
# quantile = value at rank ceil(q·n/100), recovered from the SAME
# prefix-summed distinct-value table ks_two_sample uses (two
# distributed prefix scans, no global window); the effect is an exact
# DECIMAL difference cast to double once.
QTE_QUANTILES = (25, 50, 75)


def _quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    wt = _arm_ecdf(load_tables(spark, sf_dir, ["events"]).events)

    def rank_of(q: int, n):
        # ceil(q*n/100) as exact integer floor arithmetic (q*n < 2^53)
        return F.floor((n * q + 99) / 100).cast("bigint")

    aggs = []
    for q in QTE_QUANTILES:
        aggs.append(
            F.min(
                F.when(F.col("f1") >= rank_of(q, F.col("n1")), F.col("y"))
            ).alias(f"q{q}_t")
        )
        aggs.append(
            F.min(
                F.when(F.col("f0") >= rank_of(q, F.col("n0")), F.col("y"))
            ).alias(f"q{q}_c")
        )
    one = wt.groupBy("n1", "n0").agg(*aggs)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(q).cast("bigint").alias("q_pct"),
                    F.col(f"q{q}_t").cast("double").alias("q_treated"),
                    F.col(f"q{q}_c").cast("double").alias("q_control"),
                    (F.col(f"q{q}_t") - F.col(f"q{q}_c"))
                    .cast("double")
                    .alias("qte"),
                )
                for q in QTE_QUANTILES
            ]
        )
    )
    return (
        one.select(
            F.col("n1").alias("n_treated"), F.col("n0").alias("n_control"), rows.alias("r")
        )
        .select("n_treated", "n_control", "r.q_pct", "r.q_treated", "r.q_control", "r.qte")
        .orderBy("q_pct")
    )


def _qte_sql() -> str:
    per_q = []
    for q in QTE_QUANTILES:
        per_q.append(
            f"min(CASE WHEN f1 >= CAST(floor((n1 * {q} + 99) / 100) AS BIGINT) THEN y END) AS q{q}_t"
        )
        per_q.append(
            f"min(CASE WHEN f0 >= CAST(floor((n0 * {q} + 99) / 100) AS BIGINT) THEN y END) AS q{q}_c"
        )
    rows = " UNION ALL ".join(
        f"""SELECT n_treated, n_control, CAST({q} AS BIGINT) AS q_pct,
       CAST(q{q}_t AS DOUBLE) AS q_treated, CAST(q{q}_c AS DOUBLE) AS q_control,
       CAST(q{q}_t - q{q}_c AS DOUBLE) AS qte FROM one"""
        for q in QTE_QUANTILES
    )
    return f"""
WITH {_ARM_ECDF_CTES}, one AS (
  SELECT t.n1 AS n_treated, t.n0 AS n_control, {", ".join(per_q)}
  FROM cum c CROSS JOIN totals t
  GROUP BY t.n1, t.n0
)
SELECT * FROM ({rows})
ORDER BY q_pct
"""


# --- Q: ks_two_sample — exact-integer distribution-equality test ------
# Kolmogorov-Smirnov D between the two arms' per-user outcome
# distributions — the experimentation tier's distribution-level gate
# (Mann-Whitney detects location shift; KS detects ANY ECDF
# divergence). Exactness: D = max |F1 - F0| is order-independent, so
# it reduces to the INTEGER maximum of |c1*n0 - c0*n1| over the
# distinct-value table (c = cumulative per-arm counts), divided once
# by n1*n0. Cumulatives come from TWO distributed prefix sums
# (operators/scale.py::partitioned_running_total — the Mann-Whitney
# posture, no global window), joined back on the value.
def _ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    with_tot = _arm_ecdf(load_tables(spark, sf_dir, ["events"]).events)
    d_num = F.abs(F.col("f1") * F.col("n0") - F.col("f0") * F.col("n1"))
    out = with_tot.groupBy("n1", "n0").agg(
        F.max(d_num).cast("bigint").alias("d_num")
    )
    return out.select(
        F.col("n1").alias("n_treated"),
        F.col("n0").alias("n_control"),
        "d_num",
        F.round(
            F.col("d_num").cast("double")
            / (F.col("n1") * F.col("n0")).cast("double"),
            6,
        ).alias("ks_d"),
    )


_KS_TWO_SAMPLE_SQL = f"""
WITH {_ARM_ECDF_CTES}
SELECT t.n1 AS n_treated, t.n0 AS n_control,
       CAST(max(abs(c.f1 * t.n0 - c.f0 * t.n1)) AS BIGINT) AS d_num,
       round(CAST(max(abs(c.f1 * t.n0 - c.f0 * t.n1)) AS DOUBLE)
             / CAST(t.n1 * t.n0 AS DOUBLE), 6) AS ks_d
FROM cum c CROSS JOIN totals t
GROUP BY t.n1, t.n0
"""


# --- Q: sequential_test_daily — peeking-safe experiment monitoring ----
# The always-on counterpart to the one-shot readouts: a daily LOOK at
# the event-level mean difference between arms, with an O'Brien-
# Fleming-shaped boundary z_crit(t) = z_final / sqrt(tau_t) (tau =
# information fraction = cumulative n over final n) — crossing the
# boundary early is decisive, peeking at the raw 1.96 line is not.
# Shape: one (day, arm) aggregate (calendar-bounded), cumulative
# moments via a window behind an explicit LIMIT on the bounded daily
# table (lint-provable), final-n attached from the same relation's
# keyless aggregate. All moment sums are exact DECIMAL; z and the
# boundary are single fixed-shape double expressions.
SEQ_DAY_CAP = 4096  # semantic no-op bound: the calendar table is tiny
SEQ_Z_FINAL = 1.959963984540054


def _sequential_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["events"])
    arm = (F.col("user_id") % 2).cast("bigint")
    v = F.col("value").cast("decimal(18,2)")
    daily = t.events.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("bigint").alias("dn1"),
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("bigint").alias("dn0"),
        F.sum(F.when(arm == 1, v)).alias("ds1"),
        F.sum(F.when(arm == 0, v)).alias("ds0"),
        F.sum(F.when(arm == 1, v * v)).alias("dq1"),
        F.sum(F.when(arm == 0, v * v)).alias("dq0"),
    ).limit(SEQ_DAY_CAP)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        *[
            F.sum(c).over(w).alias(c[1:])
            for c in ("dn1", "dn0", "ds1", "ds0", "dq1", "dq0")
        ],
    )
    tot = daily.agg(
        (F.sum("dn1") + F.sum("dn0")).cast("bigint").alias("n_final")
    )
    withtot = cum.crossJoin(F.broadcast(tot))
    n1 = F.col("n1").cast("double")
    n0 = F.col("n0").cast("double")
    m1 = F.col("s1").cast("double") / n1
    m0 = F.col("s0").cast("double") / n0
    var1 = (n1 * F.col("q1").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double")) / (n1 * (n1 - F.lit(1.0)))
    var0 = (n0 * F.col("q0").cast("double") - F.col("s0").cast("double") * F.col("s0").cast("double")) / (n0 * (n0 - F.lit(1.0)))
    z = (m1 - m0) / F.sqrt(var1 / n1 + var0 / n0)
    tau = (F.col("n1") + F.col("n0")).cast("double") / F.col("n_final").cast("double")
    bound = F.lit(SEQ_Z_FINAL) / F.sqrt(tau)
    return withtot.select(
        "day",
        (F.col("n1") + F.col("n0")).cast("bigint").alias("n_seen"),
        F.round(z, 6).alias("z"),
        F.round(bound, 6).alias("z_boundary"),
        (F.abs(z) > bound).alias("crossed"),
    ).orderBy("day")


_SEQUENTIAL_TEST_DAILY_SQL = f"""
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dn1,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dn0,
         sum(CASE WHEN user_id % 2 = 1 THEN CAST(value AS DECIMAL(18,2)) END) AS ds1,
         sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) END) AS ds0,
         sum(CASE WHEN user_id % 2 = 1 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS dq1,
         sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS dq0
  FROM events GROUP BY 1
), cum AS (
  SELECT day,
         CAST(sum(dn1) OVER w AS BIGINT) AS n1, CAST(sum(dn0) OVER w AS BIGINT) AS n0,
         sum(ds1) OVER w AS s1, sum(ds0) OVER w AS s0,
         sum(dq1) OVER w AS q1, sum(dq0) OVER w AS q0
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
  SELECT CAST(sum(dn1) + sum(dn0) AS BIGINT) AS n_final FROM daily
)
SELECT day, CAST(n1 + n0 AS BIGINT) AS n_seen,
       round(((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
             / sqrt((((CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                      / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))) / CAST(n1 AS DOUBLE))
                    + (((CAST(n0 AS DOUBLE) * CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
                       / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0))) / CAST(n0 AS DOUBLE))), 6) AS z,
       round({SEQ_Z_FINAL!r} / sqrt(CAST(n1 + n0 AS DOUBLE) / CAST(t.n_final AS DOUBLE)), 6) AS z_boundary,
       abs(((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
             / sqrt((((CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                      / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))) / CAST(n1 AS DOUBLE))
                    + (((CAST(n0 AS DOUBLE) * CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
                       / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0))) / CAST(n0 AS DOUBLE))))
         > ({SEQ_Z_FINAL!r} / sqrt(CAST(n1 + n0 AS DOUBLE) / CAST(t.n_final AS DOUBLE))) AS crossed
FROM cum CROSS JOIN tot t
ORDER BY day
"""


# --- Q: cvm_two_sample — integrated ECDF-distance test -----------------
# The Cramér-von Mises companion to ks_two_sample (Anderson 1962): KS
# reads the MAX ECDF gap, CvM integrates the SQUARED gap against the
# pooled empirical measure — sensitive to broad shifts KS's single
# extremum misses:
#   T = Σ_k w_k · (f1_k·n0 − f0_k·n1)² / (N² · n1 · n0),
# over the SAME prefix-summed distinct-value table the KS/QTE/robust
# tier shares (w_k = pooled count at the value). The bracketed
# difference is an exact BIGINT per row (|Δ| ≤ n1·n0 ≪ 2⁶³); its
# square can exceed 2⁶³ at large SF, so the per-row term goes to
# double AFTER the exact integer subtraction (IEEE square/multiply of
# identical inputs is deterministic) and only the cross-row SUM is
# order-exposed — positive terms, round-6 absorbs it.

def _cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    with_tot = _arm_ecdf(load_tables(spark, sf_dir, ["events"]).events)
    delta = (F.col("f1") * F.col("n0") - F.col("f0") * F.col("n1")).cast("double")
    term = (F.col("c1") + F.col("c0")).cast("double") * delta * delta
    out = with_tot.groupBy("n1", "n0").agg(F.sum(term).alias("t_sum"))
    nn = (F.col("n1") + F.col("n0")).cast("double")
    return out.select(
        F.col("n1").alias("n_treated"),
        F.col("n0").alias("n_control"),
        F.round(
            F.col("t_sum")
            / (nn * nn * F.col("n1").cast("double") * F.col("n0").cast("double")),
            6,
        ).alias("cvm_t"),
    )


_CVM_TWO_SAMPLE_SQL = f"""
WITH {_ARM_ECDF_CTES}
SELECT t.n1 AS n_treated, t.n0 AS n_control,
       round(sum(CAST(c.c1 + c.c0 AS DOUBLE)
                 * CAST(c.f1 * t.n0 - c.f0 * t.n1 AS DOUBLE)
                 * CAST(c.f1 * t.n0 - c.f0 * t.n1 AS DOUBLE))
             / (CAST(t.n1 + t.n0 AS DOUBLE) * CAST(t.n1 + t.n0 AS DOUBLE)
                * CAST(t.n1 AS DOUBLE) * CAST(t.n0 AS DOUBLE)), 6) AS cvm_t
FROM cum c CROSS JOIN totals t
GROUP BY t.n1, t.n0
"""


# --- Q: sprt_evalue_monitor — anytime-valid daily e-process ------------
# The always-valid companion to sequential_test_daily's O'Brien-Fleming
# schedule: a Wald SPRT likelihood-ratio martingale (an e-process —
# Ville 1939; Ramdas et al. 2023) over the treatment arm's daily
# purchase share. Against H0: p = p0 (the control arm's full-period
# purchase share, the plug-in null — documented) and the pre-declared
# alternative p1 = min(p0·(1+SPRT_MDE), 0.99), the log e-value after
# day t is LINEAR in two cumulative BIGINTs:
#   LLR_t = S_t·ln(p1/p0) + (N_t − S_t)·ln((1−p1)/(1−p0)),
# so the whole monitor is a calendar-bounded cumulative window (the
# SEQ_DAY_CAP posture) over one daily aggregate, with p0 attached from
# a keyless aggregate. Crossing ln(1/α) at ANY look controls type-I at
# α — no alpha-spending schedule needed.

SPRT_MDE = 0.25
SPRT_ALPHA = 0.05


def sprt_readout(daily: DataFrame, p0: DataFrame) -> DataFrame:
    """The monitor's readout from per-day treatment counts (day, dn, ds)
    and the one-row control share ``p0``: cumulative n_t/s_t over the
    first SEQ_DAY_CAP days, the log e-value against the alternative
    p1 = min(p0·(1+SPRT_MDE), 0.99) and the ln(1/α) decision. The batch
    query and the streaming serve path (streaming/monitor.py) both run
    it; _sprt_evalue_monitor_sql is the DuckDB half."""
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.limit(SEQ_DAY_CAP).select(
        "day",
        F.sum("dn").over(w).cast("bigint").alias("n_t"),
        F.sum("ds").over(w).cast("bigint").alias("s_t"),
    ).crossJoin(F.broadcast(p0))
    p1 = F.least(F.col("p0") * (1.0 + SPRT_MDE), F.lit(0.99))
    llr = F.col("s_t").cast("double") * F.log(p1 / F.col("p0")) + (
        F.col("n_t") - F.col("s_t")
    ).cast("double") * F.log((1.0 - p1) / (1.0 - F.col("p0")))
    return cum.select(
        "day",
        "n_t",
        "s_t",
        F.round("p0", 6).alias("p0"),
        F.round(llr, 6).alias("log_e"),
        (llr >= math.log(1.0 / SPRT_ALPHA)).alias("decided"),
    ).orderBy("day")


def _sprt_evalue_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    arm = (F.col("user_id") % 2).cast("bigint")
    is_conv = (F.col("event_type") == "purchase").cast("bigint")
    daily = (
        t.events.filter(arm == 1)
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dn"),
            F.sum(is_conv).cast("bigint").alias("ds"),
        )
    )
    p0_tbl = t.events.filter(arm == 0).agg(
        (
            F.sum(is_conv).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("p0")
    )
    return sprt_readout(daily, p0_tbl)


def _sprt_evalue_monitor_sql() -> str:
    thresh = math.log(1.0 / SPRT_ALPHA)
    return f"""
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS dn,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ds
  FROM events WHERE user_id % 2 = 1
  GROUP BY 1
), p0t AS (
  SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS p0
  FROM events WHERE user_id % 2 = 0
), cum AS (
  SELECT day,
         CAST(sum(dn) OVER w AS BIGINT) AS n_t,
         CAST(sum(ds) OVER w AS BIGINT) AS s_t
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT day, n_t, s_t,
       round(p0, 6) AS p0,
       round(CAST(s_t AS DOUBLE) * ln(least(p0 * (1.0 + {SPRT_MDE!r}), 0.99) / p0)
             + CAST(n_t - s_t AS DOUBLE)
               * ln((1.0 - least(p0 * (1.0 + {SPRT_MDE!r}), 0.99)) / (1.0 - p0)),
             6) AS log_e,
       (CAST(s_t AS DOUBLE) * ln(least(p0 * (1.0 + {SPRT_MDE!r}), 0.99) / p0)
        + CAST(n_t - s_t AS DOUBLE)
          * ln((1.0 - least(p0 * (1.0 + {SPRT_MDE!r}), 0.99)) / (1.0 - p0)))
         >= {thresh!r} AS decided
FROM cum CROSS JOIN p0t
ORDER BY day
"""


# --- Q: cohort_retention_triangle — weekly cohort retention matrix ----
# The classic product-analytics triangle: users cohorted by FIRST
# active week, retention = share of the cohort active again k weeks
# later (k = 0..COHORT_MAX_OFFSET). All-integer until one final
# division: week index is the shared dense epoch-week int, activity is
# a (user, week)-distinct aggregate, the cohort join is user-keyed,
# and the triangle is cohorts x offsets — calendar-bounded output at
# any SF. Scale shape: one user-keyed shuffle for first-week, one
# (user, week) distinct, one broadcast of per-cohort sizes.
COHORT_MAX_OFFSET = 8


def _cohort_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    active = (
        t.events.select("user_id", week_index("ts").alias("wk")).distinct()
    )
    first = active.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = first.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    joined = active.join(first, "user_id").select(
        "cohort_wk", (F.col("wk") - F.col("cohort_wk")).cast("bigint").alias("week_offset")
    )
    tri = (
        joined.filter(F.col("week_offset") <= COHORT_MAX_OFFSET)
        .groupBy("cohort_wk", "week_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    return (
        tri.join(F.broadcast(sizes), "cohort_wk")
        .select(
            "cohort_wk",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size").cast("double"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_wk", "week_offset")
    )


_COHORT_RETENTION_SQL = f"""
WITH active AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(CAST(date_trunc('week', ts) AS TIMESTAMP)) / 604800) AS BIGINT) AS wk
  FROM events
), first AS (
  SELECT user_id, min(wk) AS cohort_wk FROM active GROUP BY user_id
), sizes AS (
  SELECT cohort_wk, CAST(count(*) AS BIGINT) AS cohort_size FROM first GROUP BY cohort_wk
), tri AS (
  SELECT f.cohort_wk, CAST(a.wk - f.cohort_wk AS BIGINT) AS week_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM active a JOIN first f ON a.user_id = f.user_id
  WHERE a.wk - f.cohort_wk <= {COHORT_MAX_OFFSET}
  GROUP BY 1, 2
)
SELECT t.cohort_wk, t.week_offset, t.n_active, s.cohort_size,
       round(CAST(t.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE), 6) AS retention
FROM tri t JOIN sizes s ON t.cohort_wk = s.cohort_wk
ORDER BY t.cohort_wk, t.week_offset
"""


# --- Q: markov_event_transitions — user-journey transition matrix -----
# First-order Markov model of the event stream: per user, consecutive
# event-type pairs (lead over the user-keyed window, total-order
# tie-break ts→event_id), transition counts, and the row-normalized
# probability (one division, round 6). The readout behind journey
# analytics, anomaly detection (improbable transitions) and synthetic
# session generation. Scale shape: ONE user-keyed shuffle feeds both
# the lead window and (via the bounded event-type catalog) the
# transition aggregate; output is |event_types|² ≤ 25 rows at any SF.
def _markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        t.events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counts = steps.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    row_tot = counts.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("n_from")
    )
    return (
        counts.join(F.broadcast(row_tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_from").cast("double"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


_MARKOV_EVENT_TRANSITIONS_SQL = """
WITH steps AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
), counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM steps WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
), row_tot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM counts GROUP BY from_type
)
SELECT c.from_type, c.to_type, c.n,
       round(CAST(c.n AS DOUBLE) / CAST(r.n_from AS DOUBLE), 6) AS p
FROM counts c JOIN row_tot r ON c.from_type = r.from_type
ORDER BY c.from_type, c.to_type
"""


SPECS = [
    QuerySpec(
        "stratified_effect",
        "post-stratification A/B readout: pre-activity bands, exact per-stratum DECIMAL sums, population-weighted combination",
        _stratified_effect,
        _STRATIFIED_EFFECT_SQL,
        tags=("agg", "ml", "audit"),
    ),
    QuerySpec(
        "time_weighted_value",
        "per-user TWAP: interval-weighted value with exact DECIMAL x microsecond arithmetic, one final division",
        _time_weighted_value,
        _TIME_WEIGHTED_VALUE_SQL,
        tags=("window", "agg", "timeseries"),
    ),
    QuerySpec(
        "srm_daily_check",
        "sample-ratio-mismatch audit: per-day arm counts vs the 50/50 design, 1-df chi-square flag",
        _srm_daily_check,
        _SRM_DAILY_CHECK_SQL,
        tags=("agg", "audit", "events"),
    ),
    QuerySpec(
        "mann_whitney_effect",
        "Mann-Whitney rank-sum A/B readout: exact 2U via distinct-value distributed prefix sum, AUC + rank-biserial + tie-corrected z",
        _mann_whitney_effect,
        _MANN_WHITNEY_EFFECT_SQL,
        tags=("agg", "ml", "audit", "scale"),
    ),
    QuerySpec(
        "did_experiment_effect",
        "difference-in-differences A/B readout with the pre-gap falsification column",
        _did_experiment_effect,
        _DID_EXPERIMENT_EFFECT_SQL,
        tags=("agg", "ml", "audit"),
    ),
    QuerySpec(
        "cuped_experiment_effect",
        "CUPED variance-reduced A/B effect: per-user DECIMAL pre/post sums, global moments via attach_global_scalar",
        _cuped_experiment_effect,
        _CUPED_EXPERIMENT_EFFECT_SQL,
        tags=("agg", "ml", "audit"),
    ),
    QuerySpec("weekly_chart_streak", "W1+W3: per-week top-k chart + consecutive-week streak (reference get_week_on_chart)", _weekly_chart_streak, _WEEKLY_CHART_STREAK_SQL, bench=True, tags=("window", "streak")),
    QuerySpec("latest_event_per_user", "W2 latest row per entity over event time", _latest_event_per_user, _LATEST_EVENT_SQL, tags=("window",)),
    QuerySpec("time_features", "C1-C5 scalar time functions", _time_features, _TIME_FEATURES_SQL, tags=("scalar",)),
    QuerySpec("json_props", "C7 JSON field extraction", _json_props, _JSON_PROPS_SQL, tags=("scalar",)),
    QuerySpec("sessionization", "gaps-and-islands sessionization (30-min gap)", _sessionization, _SESSIONIZATION_SQL, bench=True, tags=("window",)),
    QuerySpec("session_transcripts", "dialog assembly: ordered per-session event transcripts for training data", _session_transcripts, _SESSION_TRANSCRIPTS_SQL, tags=("window", "events", "text")),
    QuerySpec("session_windows", "native batch session_window vs islands oracle (strict-gap semantics)", _session_windows, _SESSION_WINDOWS_SQL, tags=("window", "timeseries")),
    QuerySpec("markov_event_transitions", "first-order Markov transition matrix of user event streams (one user-keyed shuffle, catalog-bounded output)", _markov_event_transitions, _MARKOV_EVENT_TRANSITIONS_SQL, tags=("window", "agg", "timeseries")),
    QuerySpec("cohort_retention_triangle", "weekly cohort retention matrix: first-active-week cohorts x week offsets, all-integer until one division", _cohort_retention_triangle, _COHORT_RETENTION_SQL, tags=("agg", "timeseries")),
    QuerySpec("ks_two_sample", "exact-integer Kolmogorov-Smirnov D between arms: max |c1*n0 - c0*n1| over prefix-summed distinct values, one division", _ks_two_sample, _KS_TWO_SAMPLE_SQL, tags=("stats", "scale")),
    QuerySpec("quantile_treatment_effect", "QTE at p25/50/75: rank-based per-arm order statistics off the prefix-summed distinct-value table, exact DECIMAL differences", _quantile_treatment_effect, _qte_sql, tags=("stats", "scale")),
    QuerySpec("sequential_test_daily", "peeking-safe daily experiment monitor: cumulative event-level z vs an O'Brien-Fleming-shaped boundary (exact DECIMAL moments)", _sequential_test_daily, _SEQUENTIAL_TEST_DAILY_SQL, tags=("stats", "timeseries")),
    QuerySpec("cvm_two_sample", "Cramer-von Mises T between arms: squared ECDF gap integrated against the pooled measure, off the shared prefix-summed distinct-value table", _cvm_two_sample, _CVM_TWO_SAMPLE_SQL, tags=("stats", "scale")),
    QuerySpec("sprt_evalue_monitor", "anytime-valid daily e-process: Wald SPRT log likelihood ratio on the treatment purchase share, linear in two cumulative BIGINTs", _sprt_evalue_monitor, _sprt_evalue_monitor_sql, tags=("stats", "timeseries")),
    QuerySpec("approx_price_quantiles", "quantile sketch beside exact (rows-only; error pytest-bounded)", _approx_price_quantiles, None, tags=("agg", "approx")),
    QuerySpec("approx_price_quantiles_exact", "oracle twin: identical grouping with exact type-7 percentiles (certifies all but the sketch)", _approx_price_quantiles_exact, _APPROX_PRICE_QUANTILES_EXACT_SQL, tags=("agg", "approx")),
    QuerySpec("asof_purchase_value", "backward as-of join (custom operator; DuckDB ASOF JOIN oracle)", _asof_purchase_value, _ASOF_PURCHASE_VALUE_SQL, bench=True, tags=("join", "asof")),
    QuerySpec("range_attribution", "point-in-interval range join via bucketed equi-join rewrite", _range_attribution, _RANGE_ATTRIBUTION_SQL, tags=("join", "range")),
    QuerySpec("daily_from_hourly_rollup", "continuous-aggregate rollup: daily from hourly partials", _daily_from_hourly_rollup, _DAILY_ROLLUP_SQL, tags=("agg", "timeseries")),
    QuerySpec("user_value_ranks", "grouped-map Pandas UDF (applyInPandas) vs native-window oracle", _user_value_ranks, _USER_VALUE_RANKS_SQL, tags=("udf",)),
    QuerySpec("user_funnel_summary", "cogrouped-map Pandas UDF vs full-outer-aggregate oracle", _user_funnel_summary, _USER_FUNNEL_SUMMARY_SQL, tags=("udf", "join")),
    QuerySpec("weekly_resample", "gap-filling dense resample (user x week grid, zero-filled)", _weekly_resample, _WEEKLY_RESAMPLE_SQL, tags=("window", "timeseries")),
    QuerySpec("hourly_event_stats", "tumbling-window aggregation (batch twin of the stream)", _hourly_event_stats, _HOURLY_EVENT_STATS_SQL, tags=("window", "timeseries")),
    QuerySpec("event_type_pivot", "pivot / conditional aggregation", _event_type_pivot, _EVENT_TYPE_PIVOT_SQL, tags=("agg",)),
]
