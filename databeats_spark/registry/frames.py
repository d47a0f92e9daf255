"""Advanced window-frame / grouping coverage — the analytical shapes a
chart-history engine grows into once snapshots accumulate (SURVEY §2.5/
§2.6 notes): value-range rolling frames, hopping (overlapping) windows,
ordered list aggregation, CUBE grouping sets, ntile bucketing,
FILTER-clause conditional aggregation, exact-moment statistics, fuzzy
string matching, and the classic HAVING-over-aggregate join-back.

The reference computes its rolling chart state with per-group Python
iteration (reference dag.py:330-420, transform stage); every shape here
lowers to a single declarative Spark plan instead — window frames and
grouping sets are Catalyst-native, so partial aggregation, pushdown,
and whole-stage codegen all apply unchanged at 100 TB.

Parity notes (registry/__init__ rules apply throughout):
- rolling frames order by an integer epoch ordinal on BOTH engines so
  RANGE bounds are integer comparisons, not interval arithmetic;
- hopping windows: Spark's F.window(slide) is oracle'd by the closed
  form (each event lands in exactly window/slide = 2 buckets), not by
  an engine builtin — proving the alignment convention matches;
- corr/stddev go through EXACT decimal moment sums (sum x, x², xy) and
  only then one identical double-precision formula on both engines —
  native corr()/stddev() differ in merge order across engines, exact
  moments cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databeats_spark.registry import QuerySpec
from databeats_spark.registry.relational import dec, money_sum
from databeats_spark.sources.tables import load_tables


# --- Q: rolling_7d_spend — value-RANGE window frame -----------------------

ROLLING_CUST_LIMIT = 500
_7D_SECONDS = 6 * 86400  # frame covers [ts - 6 days, ts] inclusive


def _rolling_7d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    w = (
        Window.partitionBy("o_custkey")
        # NTZ → LTZ is UTC-pinned (session.py timeZone=UTC), so this
        # epoch ordinal equals DuckDB's epoch() exactly
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-_7D_SECONDS, 0)
    )
    return (
        t.orders.filter(F.col("o_custkey") < ROLLING_CUST_LIMIT)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            F.sum(dec("o_totalprice")).over(w).cast("double").alias("spend_7d"),
            F.count(F.lit(1)).over(w).alias("orders_7d"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


_ROLLING_7D_SPEND_SQL = f"""
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_day,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_7d,
       CAST(count(*) OVER w AS BIGINT) AS orders_7d
FROM orders
WHERE o_custkey < {ROLLING_CUST_LIMIT}
WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
             RANGE BETWEEN {_7D_SECONDS} PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


# --- Q: sliding_event_stats — hopping (overlapping) windows ---------------
# 1-hour window sliding every 30 minutes: every event belongs to exactly
# window/slide = 2 buckets, epoch-aligned. The oracle derives both
# bucket starts in closed form — no window builtin on the DuckDB side.

_SLIDE_US = 1_800_000_000  # 30 min in microseconds


def _sliding_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t.events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("win_start"),
            "n_events",
            "total_value",
        )
        .orderBy("win_start")
    )


_SLIDING_EVENT_STATS_SQL = f"""
WITH buckets AS (
  SELECT make_timestamp((epoch_us(ts) // {_SLIDE_US} - o.off) * {_SLIDE_US}) AS win_start,
         value
  FROM events CROSS JOIN (VALUES (0), (1)) AS o(off)
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M') AS win_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM buckets
GROUP BY 1
ORDER BY win_start
"""


# --- Q: order_priority_paths — ordered list/string aggregation ------------
# The per-entity ordered history the reference materializes row-by-row
# in pandas (reference dag.py:352-370) — here one sorted collect_list.

PATH_CUST_LIMIT = 300


def _order_priority_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("o_orderdate").alias("d"),
                F.col("o_orderkey").alias("k"),
                F.col("o_orderpriority").alias("p"),
            )
        )
    )
    return (
        t.orders.filter(F.col("o_custkey") < PATH_CUST_LIMIT)
        .groupBy("o_custkey")
        .agg(
            F.array_join(F.transform(ordered, lambda s: s["p"]), ",").alias("priority_path"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


_ORDER_PRIORITY_PATHS_SQL = f"""
SELECT o_custkey,
       string_agg(o_orderpriority, ',' ORDER BY o_orderdate, o_orderkey) AS priority_path,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_custkey < {PATH_CUST_LIMIT}
GROUP BY o_custkey
ORDER BY o_custkey
"""


# --- Q: cube_quantity — CUBE grouping sets + GROUPING flags ---------------
# rollup_quantity covers ROLLUP; this is the full lattice, with
# grouping() flags disambiguating "(all)" from a real value.

def _cube_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (
        t.lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "sum_qty",
            "n_rows",
            "g_flag",
            "g_status",
        )
        .orderBy("g_flag", "g_status", "returnflag", "linestatus")
    )


_CUBE_QUANTITY_SQL = """
SELECT coalesce(l_returnflag, '(all)') AS returnflag,
       coalesce(l_linestatus, '(all)') AS linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       CAST(grouping(l_linestatus) AS BIGINT) AS g_status
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, returnflag, linestatus
"""


# --- Q: customer_deciles — ntile bucketing over aggregated spend ----------
# ntile is a GLOBAL-order operator; the naive Window.orderBy form
# funnels every row through one task. This build computes the exact
# same buckets distributed: row_number = two-phase prefix sum of 1s
# (operators/scale.py::partitioned_running_total), then ntile's
# remainder-to-front bucketing replicated in closed form with the
# total count broadcast as a 1-row scalar. The DuckDB oracle keeps
# plain ntile() — the differential proves the distributed form is
# bucket-for-bucket identical.

def _customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import attach_global_scalar, partitioned_running_total

    t = load_tables(spark, sf_dir, ["orders"])
    spend = t.orders.groupBy("o_custkey").agg(money_sum("o_totalprice").alias("spend"))
    rn = partitioned_running_total(
        spend.withColumn("__one", F.lit(1)),
        order_by=[F.col("spend").desc(), F.col("o_custkey")],
        sums={"rn": "__one"},
    ).drop("__one")

    # ntile(k): sz = n div k rows per bucket, the first (n mod k)
    # buckets get one extra row. All-integer closed form over rn. The
    # total count rides attach_global_scalar (count over rn == count
    # over spend) so the ranked subtree executes once, not once per
    # scalar consumer.
    def fdiv(a, b):  # exact floor-div on longs (values << 2^53)
        return F.floor(a / b).cast("long")

    k = F.lit(10)
    n = F.col("n")
    sz, r = fdiv(n, k), n % k
    big_rows = r * (sz + 1)
    ranked = attach_global_scalar(rn, F.count(F.lit(1)).alias("n")).select(
        "o_custkey",
        "spend",
        F.when(F.col("rn") <= big_rows, fdiv(F.col("rn") - 1, sz + 1) + 1)
        .otherwise(r + fdiv(F.col("rn") - big_rows - 1, F.greatest(sz, F.lit(1))) + 1)
        .cast("long")
        .alias("decile"),
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("spend").alias("floor_spend"),
            F.max("spend").alias("ceil_spend"),
        )
        .orderBy("decile")
    )


_CUSTOMER_DECILES_SQL = """
WITH spend AS (
  SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, spend,
         CAST(ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS BIGINT) AS decile
  FROM spend
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       min(spend) AS floor_spend,
       max(spend) AS ceil_spend
FROM ranked
GROUP BY decile
ORDER BY decile
"""


# --- Q: order_status_mix — FILTER-clause conditional aggregation ----------

def _order_status_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    is_open = F.col("o_orderstatus") == "O"
    is_closed = F.col("o_orderstatus") == "F"
    closed_rev = F.sum(F.when(is_closed, dec("o_totalprice"))).cast("double")
    n_closed = F.count(F.when(is_closed, F.lit(1)))
    return (
        t.orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(is_open, F.lit(1))).alias("n_open"),
            closed_rev.alias("closed_revenue"),
            F.round(closed_rev / F.nullif(n_closed.cast("double"), F.lit(0.0)), 6).alias(
                "closed_avg"
            ),
        )
        .orderBy("o_orderpriority")
    )


_ORDER_STATUS_MIX_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
         AS closed_revenue,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
             / nullif(CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE), 0.0), 6)
         AS closed_avg
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- Q: exact_moment_stats — stddev/corr via exact decimal moments --------
# Native stddev()/corr() merge partial moments in engine-specific order,
# so their low bits differ between engines AND between runs. The scale-
# safe fix: accumulate the raw moments (n, Σx, Σx², Σy, Σy², Σxy) in
# exact decimal arithmetic — order-independent — and apply ONE identical
# double-precision formula to the exact sums on both engines.

def _exact_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    x = dec("l_quantity")
    y = dec("l_extendedprice")
    m = t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, syy = F.col("sy").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return (
        m.select(
            "l_returnflag",
            "n",
            F.round(F.sqrt((sxx - sx * sx / n) / (n - F.lit(1.0))), 6).alias("sd_qty"),
            F.round(
                (n * sxy - sx * sy)
                / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
                6,
            ).alias("corr_qty_price"),
        )
        .orderBy("l_returnflag")
    )


_EXACT_MOMENT_STATS_SQL = """
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 1.0)), 6) AS sd_qty,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS corr_qty_price
FROM m
ORDER BY l_returnflag
"""


# --- Q: fuzzy_part_names — edit-distance near-dup (string fuzzy match) ----
# The string-side sibling of the MinHash/SimHash family: same-brand
# blocking (the LSH idea — never all-pairs) + exact levenshtein verify.

FUZZY_PART_LIMIT = 400
FUZZY_MAX_DIST = 4


def _fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["part"])
    p = t.part.filter(F.col("p_partkey") < FUZZY_PART_LIMIT).select(
        "p_partkey", "p_brand", "p_name"
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_b"),
    )
    return (
        a.join(b, ["brand"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
        .select("brand", "key_a", "key_b", "name_a", "name_b", "edit_dist")
        .orderBy("brand", "key_a", "key_b")
    )


_FUZZY_PART_NAMES_SQL = f"""
SELECT a.p_brand AS brand,
       a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM part a
JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE a.p_partkey < {FUZZY_PART_LIMIT} AND b.p_partkey < {FUZZY_PART_LIMIT}
  AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
ORDER BY brand, key_a, key_b
"""


# --- Q: large_volume_orders — HAVING over aggregate, joined back ----------
# TPC-H Q18 shape: aggregate the fact table, filter ON the aggregate,
# then re-attach order/customer detail. The HAVING runs BEFORE the
# joins, so at 100 TB the join input is the (tiny) qualifying set.

VOLUME_QTY_THRESHOLD = 180


def _large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "customer"])
    big = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > VOLUME_QTY_THRESHOLD)
    )
    return (
        big.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            dec("o_totalprice").cast("double").alias("total_price"),
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("sum_qty").desc(), "o_orderkey")
    )


_LARGE_VOLUME_ORDERS_SQL = f"""
WITH big AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_dec
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum_qty_dec > {VOLUME_QTY_THRESHOLD}
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
       CAST(big.sum_qty_dec AS DOUBLE) AS sum_qty
FROM big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY sum_qty DESC, o.o_orderkey
"""


# --- Q: unpivot_part_metrics — wide→long reshape (melt) -------------------
# The inverse of pivot (event_type_pivot): Spark's native unpivot node.
# Oracled by stacked SELECTs — the dialect-stable spelling of UNPIVOT.

UNPIVOT_PART_LIMIT = 500
_UNPIVOT_METRICS = ("p_retailprice", "p_size")


def _unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["part"])
    wide = t.part.filter(F.col("p_partkey") < UNPIVOT_PART_LIMIT).select(
        "p_partkey", *[F.col(c).cast("double").alias(c) for c in _UNPIVOT_METRICS]
    )
    return wide.unpivot(
        ids=["p_partkey"],
        values=list(_UNPIVOT_METRICS),
        variableColumnName="metric",
        valueColumnName="value",
    ).orderBy("p_partkey", "metric")


_UNPIVOT_PART_METRICS_SQL = " UNION ALL ".join(
    f"""SELECT p_partkey, '{m}' AS metric, CAST({m} AS DOUBLE) AS value
FROM part WHERE p_partkey < {UNPIVOT_PART_LIMIT}"""
    for m in _UNPIVOT_METRICS
) + " ORDER BY p_partkey, metric"


# --- Q: revenue_share — percent-of-total over an aggregate ----------------
# The total rides attach_global_scalar (provably-1-row broadcast side,
# single materialization of the shuffled aggregate) instead of an
# unpartitioned window — same result, no single-partition exchange,
# and the plan lint PROVES the bounded side instead of trusting an
# allowlist comment.

def _revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import attach_global_scalar

    t = load_tables(spark, sf_dir, ["orders", "customer", "nation"])
    rev = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(money_sum("o_totalprice").alias("revenue"))
    )
    sized = attach_global_scalar(rev, F.sum("revenue").alias("__total"))
    return (
        sized.select(
            "n_name",
            "revenue",
            F.round(F.col("revenue") / F.col("__total"), 6).alias("share"),
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


_REVENUE_SHARE_SQL = """
WITH rev AS (
  SELECT n.n_name,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT n_name, revenue,
       round(revenue / sum(revenue) OVER (), 6) AS share
FROM rev
ORDER BY revenue DESC, n_name
"""


# --- Q: order_nav — window navigation functions ---------------------------
# first/last/nth over an explicit full frame: both engines default
# last_value to the running frame (ROWS ... CURRENT ROW), so the frame
# is spelled out — the classic cross-engine window gotcha, pinned.

NAV_CUST_LIMIT = 200


def _order_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t.orders.filter(F.col("o_custkey") < NAV_CUST_LIMIT)
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w_seq).cast("long").alias("seq"),
            F.first_value("o_orderkey").over(w_full).alias("first_order"),
            F.last_value("o_orderkey").over(w_full).alias("last_order"),
            F.nth_value("o_orderkey", 2).over(w_full).alias("second_order"),
        )
        .orderBy("o_custkey", "seq")
    )


_ORDER_NAV_SQL = f"""
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER ws AS BIGINT) AS seq,
       first_value(o_orderkey) OVER wf AS first_order,
       last_value(o_orderkey) OVER wf AS last_order,
       nth_value(o_orderkey, 2) OVER wf AS second_order
FROM orders
WHERE o_custkey < {NAV_CUST_LIMIT}
WINDOW ws AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey, seq
"""


# --- Q: spend_percentiles — percent_rank / cume_dist distribution ranks ---
# The remaining W-series rank family: relative position within a
# segment. Both functions are exact rationals of BIGINT rank/count —
# (rank-1)/(n-1) and cume/n — so the doubles are bit-identical across
# engines once the ORDER BY is a total order (spend, then custkey).

def _spend_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    spend = (
        t.orders.groupBy("o_custkey")
        .agg(money_sum("o_totalprice").alias("total_spend"))
        .join(
            t.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("total_spend", "c_custkey")
    return spend.select(
        "c_mktsegment",
        "c_custkey",
        "total_spend",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    ).orderBy("c_mktsegment", "c_custkey")


_SPEND_PERCENTILES_SQL = """
WITH spend AS (
  SELECT c.c_mktsegment, c.c_custkey,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, c.c_custkey
)
SELECT c_mktsegment, c_custkey, total_spend,
       round(percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY total_spend, c_custkey), 6) AS pct_rank,
       round(cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY total_spend, c_custkey), 6) AS cume
FROM spend
ORDER BY c_mktsegment, c_custkey
"""


# --- Q: interpolated_daily_spend — gap-fill + linear interpolation --------
# The hypertable-style resample: per-user daily spend with missing
# days LINEARLY interpolated between the neighboring observed days
# (weekly_resample's zero-fill sibling, for quantities where zero is
# wrong — sensor readings, balances, rates). Shape: per-user date
# spine (sequence bounded by each user's observed span — the spine is
# data-bounded, never a global calendar blow-up), left join of the
# exact-decimal daily totals, then four IGNORE NULLS navigation
# windows (prev/next value and day) over the user partition — one
# shuffle on user_id serves spine, join and windows. The fractional
# mix runs in double with the identical expression tree on both
# engines; observed days pass through exactly.

def _interpolated_daily_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    daily = (
        t.events.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.sum(dec("value")).alias("total"))
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi")).alias("d"),
        )
    )
    j = spine.join(daily, ["user_id", "d"], "left")
    back = Window.partitionBy("user_id").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fwd = Window.partitionBy("user_id").orderBy("d").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("total").isNotNull(), F.col("d"))
    w = (
        j.withColumn("pv", F.last("total", ignorenulls=True).over(back))
        .withColumn("pd", F.last(obs_day, ignorenulls=True).over(back))
        .withColumn("nv", F.first("total", ignorenulls=True).over(fwd))
        .withColumn("nd", F.first(obs_day, ignorenulls=True).over(fwd))
    )
    interp = (
        F.col("pv").cast("double")
        + (F.col("nv").cast("double") - F.col("pv").cast("double"))
        * F.datediff("d", "pd")
        / F.datediff("nd", "pd")
    )
    return w.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("total").isNotNull().alias("observed"),
        F.round(
            F.when(F.col("total").isNotNull(), F.col("total").cast("double")).otherwise(interp),
            6,
        ).alias("spend"),
    ).orderBy("user_id", "day")


_INTERPOLATED_DAILY_SPEND_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         sum(CAST(value AS DECIMAL(18,2))) AS total
  FROM events
  GROUP BY user_id, d
),
bounds AS (
  SELECT user_id, min(d) AS lo, max(d) AS hi FROM daily GROUP BY user_id
),
spine AS (
  SELECT user_id, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
  FROM bounds
),
j AS (
  SELECT s.user_id, s.d, daily.total
  FROM spine s LEFT JOIN daily ON daily.user_id = s.user_id AND daily.d = s.d
),
w AS (
  SELECT user_id, d, total,
         last_value(total IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN total IS NOT NULL THEN d END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         first_value(total IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN total IS NOT NULL THEN d END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY d
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j
)
SELECT user_id,
       strftime(d, '%Y-%m-%d') AS day,
       total IS NOT NULL AS observed,
       round(CASE WHEN total IS NOT NULL THEN CAST(total AS DOUBLE)
                  ELSE CAST(pv AS DOUBLE)
                       + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                         * date_diff('day', pd, d) / date_diff('day', pd, nd)
             END, 6) AS spend
FROM w
ORDER BY user_id, day
"""


# --- Q: top_prices_with_ties — rank() keep-ties top-N per group -----------
# The ties-kept sibling of top_orders_per_customer (row_number drops
# ties deterministically; rank keeps ALL rows sharing a kept price —
# "top 3 prices" not "3 rows"). Same WindowGroupLimit map-side
# partial-top-k plan; group sizes stay bounded because ranks, not
# rows, are capped.

def _top_prices_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["part"])
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return (
        t.part.withColumn("rnk", F.rank().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rnk")
        .orderBy("p_brand", "rnk", "p_partkey")
    )


_TOP_PRICES_WITH_TIES_SQL = """
SELECT p_brand, p_partkey, p_retailprice,
       CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS rnk
FROM part
QUALIFY rnk <= 3
ORDER BY p_brand, rnk, p_partkey
"""


SPECS = [
    QuerySpec("rolling_7d_spend", "value-RANGE rolling window frame (7-day spend)", _rolling_7d_spend, _ROLLING_7D_SPEND_SQL, bench=True, tags=("window", "frame")),
    QuerySpec("sliding_event_stats", "hopping windows (1h window / 30m slide) vs closed-form oracle", _sliding_event_stats, _SLIDING_EVENT_STATS_SQL, tags=("window", "timeseries")),
    QuerySpec("order_priority_paths", "ordered list/string aggregation per entity", _order_priority_paths, _ORDER_PRIORITY_PATHS_SQL, tags=("agg",)),
    QuerySpec("cube_quantity", "CUBE grouping sets with GROUPING flags", _cube_quantity, _CUBE_QUANTITY_SQL, tags=("agg",)),
    QuerySpec("customer_deciles", "ntile bucketing over aggregated spend", _customer_deciles, _CUSTOMER_DECILES_SQL, tags=("window", "agg")),
    QuerySpec("order_status_mix", "FILTER-clause conditional aggregation", _order_status_mix, _ORDER_STATUS_MIX_SQL, tags=("agg",)),
    QuerySpec("exact_moment_stats", "stddev/corr via exact decimal moments (order-independent)", _exact_moment_stats, _EXACT_MOMENT_STATS_SQL, tags=("agg", "stats")),
    QuerySpec("fuzzy_part_names", "edit-distance near-dup with same-brand blocking", _fuzzy_part_names, _FUZZY_PART_NAMES_SQL, tags=("dedup", "similarity")),
    QuerySpec("large_volume_orders", "HAVING over aggregate joined back to dims (Q18 shape)", _large_volume_orders, _LARGE_VOLUME_ORDERS_SQL, tags=("agg", "join")),
    QuerySpec("order_nav", "first/last/nth_value navigation over explicit full frame", _order_nav, _ORDER_NAV_SQL, tags=("window",)),
    QuerySpec("unpivot_part_metrics", "wide-to-long unpivot/melt (inverse of pivot)", _unpivot_part_metrics, _UNPIVOT_PART_METRICS_SQL, tags=("reshape",)),
    QuerySpec("revenue_share", "percent-of-total window over the aggregated table", _revenue_share, _REVENUE_SHARE_SQL, tags=("window", "agg")),
    QuerySpec("spend_percentiles", "percent_rank + cume_dist distribution ranks per segment", _spend_percentiles, _SPEND_PERCENTILES_SQL, tags=("window",)),
    QuerySpec("interpolated_daily_spend", "gap-filled linear interpolation over per-user date spine", _interpolated_daily_spend, _INTERPOLATED_DAILY_SPEND_SQL, tags=("window", "timeseries")),
    QuerySpec("top_prices_with_ties", "rank() keep-ties top-N per group (row_number sibling)", _top_prices_with_ties, _TOP_PRICES_WITH_TIES_SQL, tags=("window",)),
]
