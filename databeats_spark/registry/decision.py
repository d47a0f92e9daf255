"""Classic decision-support shapes (round-3 batch) — the TPC-H query
skeletons still unexercised after shapes.py, adapted to the testdata
schema (no partsupp/shipmode/commitdate columns, so "availability"
comes from lineitem and lateness from shipdate − orderdate):

- Q3  shape: segment top-10 unshipped-revenue orders
- Q5  shape: local-supplier volume (6-way join, customer and supplier
             in the SAME nation)
- Q6  shape: single-scalar forecast revenue (pure filter-agg)
- Q7  shape: cross-nation shipping volume, both directions
- Q9  shape: product pseudo-profit per nation x year
- Q10 shape: returned-item revenue, top 20 customers
- Q12 shape: lateness bands x order-priority line counts
- Q16 shape: distinct-supplier counts with a NOT IN exclusion
- Q19 shape: disjunctive OR-of-ANDs bracket revenue
- Q20 shape: dominant suppliers of a part family (nested aggregates)

Reference parity: the reference's pandas layer has no multi-way join
planner at all (SURVEY §2.4: its joins are single-key merges,
reference dag.py pipelines); these are the canonical decision-support
completions, expressed so Catalyst picks broadcast star joins over
the dim chain. Oracle parity follows the registry recipe —
DECIMAL(18,2) money, BIGINT counts, ISO-string dates, cross-multiplied
thresholds, total-order ties (registry/__init__.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databeats_spark.registry import QuerySpec
from databeats_spark.registry.relational import dec, money_sum
from databeats_spark.sources.tables import load_tables


def _net():
    """extendedprice * (1 - discount) in exact decimal — the revenue
    expression every TPC-H query aggregates."""
    return dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))


# --- Q: shipping_priority — Q3 shape ----------------------------------
# Top 10 BUILDING-segment orders by revenue still unshipped at the
# cutoff. Orders+customer filter first (smallest fact reduction), then
# one shuffle join to lineitem on orderkey; customer is broadcast.

SHIP_PRIORITY_CUTOFF = "1998-03-15"


def _shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    cust = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t.orders.filter(F.col("o_orderdate") < SHIP_PRIORITY_CUTOFF).join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    lines = t.lineitem.filter(F.col("l_shipdate") > SHIP_PRIORITY_CUTOFF)
    return (
        lines.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(_net()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "order_date", "l_orderkey")
        .limit(10)
    )


_SHIPPING_PRIORITY_SQL = f"""
SELECT l.l_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       o.o_orderpriority,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < '{SHIP_PRIORITY_CUTOFF}'
  AND l.l_shipdate > '{SHIP_PRIORITY_CUTOFF}'
GROUP BY l.l_orderkey, order_date, o.o_orderpriority
ORDER BY revenue DESC, order_date, l.l_orderkey
LIMIT 10
"""


# --- Q: local_supplier_volume — Q5 shape ------------------------------
# Revenue where customer and supplier share a nation, per ASIA nation,
# one order-date year. The nation/region dims broadcast; the only big
# shuffle is lineitem->orders on orderkey. The c_nationkey=s_nationkey
# equality rides the join condition, not a post-filter, so Catalyst
# can use it for pruning.

LOCAL_VOLUME_START, LOCAL_VOLUME_END = "1996-01-01", "1997-01-01"


def _local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "supplier", "nation", "region"])
    asia_nations = (
        t.nation.join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    orders = t.orders.filter(
        (F.col("o_orderdate") >= LOCAL_VOLUME_START) & (F.col("o_orderdate") < LOCAL_VOLUME_END)
    ).select("o_orderkey", "o_custkey")
    cust = t.customer.join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    supp = t.supplier.select("s_suppkey", "s_nationkey")
    return (
        t.lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(_net()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


_LOCAL_SUPPLIER_VOLUME_SQL = f"""
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= '{LOCAL_VOLUME_START}'
  AND o.o_orderdate < '{LOCAL_VOLUME_END}'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
"""


# --- Q: forecast_revenue — Q6 shape -----------------------------------
# The what-if discount-elimination scalar: one filtered scan, one
# 1-row aggregate, zero joins. All three predicates reach the parquet
# reader as PushedFilters; the aggregate is map-side partial.

FORECAST_START, FORECAST_END = "1996-01-01", "1997-01-01"


def _forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (
        t.lineitem.filter(
            (F.col("l_shipdate") >= FORECAST_START)
            & (F.col("l_shipdate") < FORECAST_END)
            & (dec("l_discount") >= F.lit("0.05").cast("decimal(18,2)"))
            & (dec("l_discount") <= F.lit("0.07").cast("decimal(18,2)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount")).cast("double").alias("lost_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_FORECAST_REVENUE_SQL = f"""
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS lost_revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= '{FORECAST_START}'
  AND l_shipdate < '{FORECAST_END}'
  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN CAST('0.05' AS DECIMAL(18,2))
                                            AND CAST('0.07' AS DECIMAL(18,2))
  AND l_quantity < 24
"""


# --- Q: cross_nation_volume — Q7 shape --------------------------------
# Shipping volume between two nations, both directions, per ship year.
# Supplier and customer nation names are broadcast dim attaches; the
# pair filter ((A,B) or (B,A)) lands after both attaches so one
# lineitem pass serves both directions.

VOLUME_NATION_A, VOLUME_NATION_B = "NATION_1", "NATION_2"


def _cross_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "supplier", "nation"])
    nat = t.nation.select("n_nationkey", "n_name")
    supp = (
        t.supplier.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        t.customer.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = t.orders.select("o_orderkey", "o_custkey")
    pair = (
        ((F.col("supp_nation") == VOLUME_NATION_A) & (F.col("cust_nation") == VOLUME_NATION_B))
        | ((F.col("supp_nation") == VOLUME_NATION_B) & (F.col("cust_nation") == VOLUME_NATION_A))
    )
    return (
        t.lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("ship_year"))
        .agg(F.sum(_net()).cast("double").alias("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


_CROSS_NATION_VOLUME_SQL = f"""
SELECT ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation ns ON ns.n_nationkey = s.s_nationkey
JOIN nation nc ON nc.n_nationkey = c.c_nationkey
WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1998-01-01'
  AND ((ns.n_name = '{VOLUME_NATION_A}' AND nc.n_name = '{VOLUME_NATION_B}')
    OR (ns.n_name = '{VOLUME_NATION_B}' AND nc.n_name = '{VOLUME_NATION_A}'))
GROUP BY supp_nation, cust_nation, ship_year
ORDER BY supp_nation, cust_nation, ship_year
"""


# --- Q: product_profit — Q9 shape -------------------------------------
# Pseudo-profit of the bolt product family per supplier nation x year.
# The testdata has no partsupp.ps_supplycost, so cost is modeled as
# half the part's retail price x quantity — the shape (part-family
# filter, 4-way join, nation x year rollup, profit can go negative) is
# what matters. Part filter is broadcast; profit arithmetic stays in
# exact decimal until the final double cast.

PROFIT_PART_TOKEN = "bolt"


def _product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier", "nation"])
    parts = t.part.filter(F.col("p_name").contains(PROFIT_PART_TOKEN)).select(
        "p_partkey", "p_retailprice"
    )
    supp = (
        t.supplier.join(
            F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey")
        ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    profit = _net() - dec("p_retailprice") * dec("l_quantity") * F.lit("0.5").cast("decimal(18,2)")
    return (
        t.lineitem.join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("supp_nation", F.year("l_shipdate").cast("bigint").alias("ship_year"))
        .agg(F.sum(profit).cast("double").alias("profit"))
        .orderBy("supp_nation", F.desc("ship_year"))
    )


_PRODUCT_PROFIT_SQL = f"""
SELECT n.n_name AS supp_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
              - CAST(p.p_retailprice AS DECIMAL(18,2))
                * CAST(l.l_quantity AS DECIMAL(18,2))
                * CAST('0.5' AS DECIMAL(18,2))) AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%{PROFIT_PART_TOKEN}%'
GROUP BY supp_nation, ship_year
ORDER BY supp_nation, ship_year DESC
"""


# --- Q: returned_item_losses — Q10 shape ------------------------------
# Top 20 customers by revenue lost to returns in one quarter. Orders
# date-filter first, returned lines only, customer+nation broadcast
# re-attach after the aggregate (J6 pattern: agg on the key, then
# decorate — the dim columns never ride the big shuffle).

RETURNS_START, RETURNS_END = "1997-10-01", "1998-01-01"


def _returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    orders = t.orders.filter(
        (F.col("o_orderdate") >= RETURNS_START) & (F.col("o_orderdate") < RETURNS_END)
    ).select("o_orderkey", "o_custkey")
    returned = t.lineitem.filter(F.col("l_returnflag") == "R")
    per_cust = (
        returned.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(_net()).cast("double").alias("lost_revenue"))
    )
    cust = t.customer.join(
        F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        per_cust.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_custkey").alias("custkey"),
            "c_name",
            "lost_revenue",
            "c_acctbal",
            "n_name",
        )
        .orderBy(F.desc("lost_revenue"), "custkey")
        .limit(20)
    )


_RETURNED_ITEM_LOSSES_SQL = f"""
SELECT c.c_custkey AS custkey,
       c.c_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS lost_revenue,
       c.c_acctbal,
       n.n_name
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= '{RETURNS_START}'
  AND o.o_orderdate < '{RETURNS_END}'
  AND l.l_returnflag = 'R'
GROUP BY custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY lost_revenue DESC, custkey
LIMIT 20
"""


# --- Q: lateness_priority_mix — Q12 shape -----------------------------
# Lines shipped in one year, banded by lateness (shipdate more than 60
# days after order date = late), counting critical-priority vs other
# lines per band — Q12 with lateness bands standing in for the absent
# l_shipmode. Conditional counts are FILTER-style sums, one shuffle.

LATE_DAYS = 60


def _lateness_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    lines = t.lineitem.filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_shipdate")
    joined = lines.join(
        t.orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    band = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > LATE_DAYS, F.lit("late")
    ).otherwise(F.lit("ontime"))
    critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.groupBy(band.alias("ship_band"))
        .agg(
            F.sum(F.when(critical, 1).otherwise(0)).cast("bigint").alias("critical_lines"),
            F.sum(F.when(~critical, 1).otherwise(0)).cast("bigint").alias("other_lines"),
        )
        .orderBy("ship_band")
    )


_LATENESS_PRIORITY_MIX_SQL = f"""
SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > {LATE_DAYS}
            THEN 'late' ELSE 'ontime' END AS ship_band,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS critical_lines,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS other_lines
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= '1997-01-01' AND l.l_shipdate < '1998-01-01'
GROUP BY ship_band
ORDER BY ship_band
"""


# --- Q: part_supplier_kinds — Q16 shape -------------------------------
# How many distinct suppliers ship each (brand, type, size) of the
# larger parts, excluding deadbeat suppliers (negative balance) via an
# anti join (the oracle spells NOT IN). Part->supplier linkage comes
# from lineitem (no partsupp); distinct pairs are reduced before the
# count-distinct shuffle.

KINDS_MIN_SIZE = 40


def _part_supplier_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["part", "supplier", "lineitem"])
    parts = t.part.filter(F.col("p_size") >= KINDS_MIN_SIZE).select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    bad = t.supplier.filter(dec("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        t.lineitem.select("l_partkey", "l_suppkey")
        .join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .dropDuplicates(["l_partkey", "l_suppkey"])
    )
    return (
        pairs.join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_PART_SUPPLIER_KINDS_SQL = f"""
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size >= {KINDS_MIN_SIZE}
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier
    WHERE CAST(s_acctbal AS DECIMAL(18,2)) < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


# --- Q: bracket_revenue — Q19 shape -----------------------------------
# Revenue from three brand x quantity x size brackets OR-ed together —
# the disjunctive-predicate planner test. The whole disjunction sits in
# one join filter over a single broadcast part attach: one lineitem
# pass, no union of three scans.

def _bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    parts = t.part.select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    bracket = (
        ((F.col("p_brand") == "Brand#1") & qty.between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#2") & qty.between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & qty.between(20, 30) & F.col("p_size").between(1, 15))
    )
    return (
        t.lineitem.join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .filter(bracket)
        .agg(
            F.sum(_net()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_BRACKET_REVENUE_SQL = """
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5)
   OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
   OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)
"""


# --- Q: dominant_suppliers — Q20 shape --------------------------------
# Suppliers shipping more than a quarter of a part family's yearly
# volume for some part — the nested-aggregate (per-pair vs per-part)
# shape standing in for Q20's availability check. Both aggregates hash
# on the part key so the comparison join is co-partitioned;
# cross-multiplied threshold keeps it in exact decimal.

DOMINANT_TOKEN = "widget"
DOMINANT_YEAR_START, DOMINANT_YEAR_END = "1996-01-01", "1997-01-01"


def _dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier", "nation"])
    parts = t.part.filter(F.col("p_name").contains(DOMINANT_TOKEN)).select("p_partkey")
    fam = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= DOMINANT_YEAR_START)
            & (F.col("l_shipdate") < DOMINANT_YEAR_END)
        )
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", dec("l_quantity").alias("qty"))
    )
    per_pair = fam.groupBy("l_partkey", "l_suppkey").agg(F.sum("qty").alias("pair_qty"))
    per_part = fam.groupBy("l_partkey").agg(F.sum("qty").alias("part_qty")).withColumnRenamed("l_partkey", "pp_partkey")
    dominant = (
        per_pair.join(per_part, F.col("l_partkey") == F.col("pp_partkey"))
        .filter(F.col("pair_qty") * 4 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    supp = t.supplier.join(
        F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "n_name")
    return (
        dominant.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("s_suppkey").alias("suppkey"), "s_name", "n_name")
        .orderBy("suppkey")
    )


_DOMINANT_SUPPLIERS_SQL = f"""
WITH fam AS (
  SELECT l.l_partkey, l.l_suppkey, CAST(l.l_quantity AS DECIMAL(18,2)) AS qty
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_name LIKE '%{DOMINANT_TOKEN}%'
    AND l.l_shipdate >= '{DOMINANT_YEAR_START}'
    AND l.l_shipdate < '{DOMINANT_YEAR_END}'
),
per_pair AS (
  SELECT l_partkey, l_suppkey, sum(qty) AS pair_qty
  FROM fam GROUP BY l_partkey, l_suppkey
),
per_part AS (
  SELECT l_partkey, sum(qty) AS part_qty
  FROM fam GROUP BY l_partkey
)
SELECT DISTINCT s.s_suppkey AS suppkey, s.s_name, n.n_name
FROM per_pair pp
JOIN per_part p ON p.l_partkey = pp.l_partkey
JOIN supplier s ON s.s_suppkey = pp.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE pp.pair_qty * 4 > p.part_qty
ORDER BY suppkey
"""


# --- Q: yoy_revenue_growth — year-over-year growth self-join ----------
# The TPC-DS-flavored trend shape: yearly revenue joined to itself at
# year-1 with the growth ratio. Both sides come from ONE aggregate
# (years are a bounded axis, so the self-join is broadcast); ratio in
# double, round-6.

def _yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    yearly = (
        t.lineitem.groupBy(F.year("l_shipdate").cast("bigint").alias("ship_year"))
        .agg(F.sum(_net()).alias("rev"))
        # both join sides read this tiny aggregate: materialize it once
        # (AQE does not reuse the shared exchange under a broadcast
        # side — same posture as attach_global_scalar). eager=False
        # defers the job only with AQE off: under AQE, building the
        # query already runs the scan+agg shuffle stage, and only the
        # final stage waits for the first action.
        .localCheckpoint(eager=False)
    )
    prev = yearly.select(
        (F.col("ship_year") + 1).alias("ship_year"), F.col("rev").alias("prev_rev")
    )
    return (
        yearly.join(F.broadcast(prev), "ship_year")
        .select(
            "ship_year",
            F.col("rev").cast("double").alias("revenue"),
            F.col("prev_rev").cast("double").alias("prev_revenue"),
            F.round(F.col("rev").cast("double") / F.col("prev_rev").cast("double"), 6).alias("growth"),
        )
        .orderBy("ship_year")
    )


_YOY_REVENUE_GROWTH_SQL = """
WITH yearly AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
  FROM lineitem
  GROUP BY ship_year
)
SELECT c.ship_year,
       CAST(c.rev AS DOUBLE) AS revenue,
       CAST(p.rev AS DOUBLE) AS prev_revenue,
       round(CAST(c.rev AS DOUBLE) / CAST(p.rev AS DOUBLE), 6) AS growth
FROM yearly c
JOIN yearly p ON p.ship_year = c.ship_year - 1
ORDER BY c.ship_year
"""


# --- Q: dq_violations — declarative data-quality expectations ---------
# Deequ-style check pass (operators/quality.py): six rules over
# lineitem evaluated in ONE partial->final aggregate — never a job per
# rule. The oracle spells each rule as a conditional count.

def _dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.quality import expect

    t = load_tables(spark, sf_dir, ["lineitem"])
    return expect(
        t.lineitem,
        {
            "discount_band": F.col("l_discount").between(0.0, 0.1),
            "flag_domain": F.col("l_returnflag").isin("A", "N", "R"),
            "price_positive": F.col("l_extendedprice") > 0,
            "qty_in_range": F.col("l_quantity").between(1, 50),
            "ship_in_horizon": F.col("l_shipdate") >= "1995-01-01",
            "tax_not_null": F.col("l_tax").isNotNull(),
        },
    )


_DQ_VIOLATIONS_SQL = """
WITH agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END) AS BIGINT) AS v_discount_band,
         CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT) AS v_flag_domain,
         CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v_price_positive,
         CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT) AS v_qty_in_range,
         CAST(sum(CASE WHEN l_shipdate >= '1995-01-01' THEN 0 ELSE 1 END) AS BIGINT) AS v_ship_in_horizon,
         CAST(sum(CASE WHEN l_tax IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v_tax_not_null
  FROM lineitem
)
SELECT 'discount_band' AS rule, n_rows, v_discount_band AS n_violations, round(v_discount_band * 1.0 / n_rows, 6) AS violation_rate FROM agg
UNION ALL SELECT 'flag_domain', n_rows, v_flag_domain, round(v_flag_domain * 1.0 / n_rows, 6) FROM agg
UNION ALL SELECT 'price_positive', n_rows, v_price_positive, round(v_price_positive * 1.0 / n_rows, 6) FROM agg
UNION ALL SELECT 'qty_in_range', n_rows, v_qty_in_range, round(v_qty_in_range * 1.0 / n_rows, 6) FROM agg
UNION ALL SELECT 'ship_in_horizon', n_rows, v_ship_in_horizon, round(v_ship_in_horizon * 1.0 / n_rows, 6) FROM agg
UNION ALL SELECT 'tax_not_null', n_rows, v_tax_not_null, round(v_tax_not_null * 1.0 / n_rows, 6) FROM agg
ORDER BY rule
"""


SPECS = [
    QuerySpec("shipping_priority", "Q3 shape: segment top-10 unshipped revenue", _shipping_priority, _SHIPPING_PRIORITY_SQL, tags=("join", "agg")),
    QuerySpec("local_supplier_volume", "Q5 shape: 6-way join, same-nation customer/supplier", _local_supplier_volume, _LOCAL_SUPPLIER_VOLUME_SQL, tags=("join", "agg")),
    QuerySpec("forecast_revenue", "Q6 shape: pushdown filter-agg scalar", _forecast_revenue, _FORECAST_REVENUE_SQL, tags=("agg",)),
    QuerySpec("cross_nation_volume", "Q7 shape: two-nation volume, both directions, per year", _cross_nation_volume, _CROSS_NATION_VOLUME_SQL, tags=("join", "agg")),
    QuerySpec("product_profit", "Q9 shape: part-family pseudo-profit per nation x year", _product_profit, _PRODUCT_PROFIT_SQL, tags=("join", "agg")),
    QuerySpec("returned_item_losses", "Q10 shape: returned-item revenue, top-20 customers", _returned_item_losses, _RETURNED_ITEM_LOSSES_SQL, tags=("join", "agg")),
    QuerySpec("lateness_priority_mix", "Q12 shape: lateness bands x priority line counts", _lateness_priority_mix, _LATENESS_PRIORITY_MIX_SQL, tags=("join", "agg")),
    QuerySpec("part_supplier_kinds", "Q16 shape: distinct-supplier counts with NOT IN exclusion", _part_supplier_kinds, _PART_SUPPLIER_KINDS_SQL, tags=("join", "agg", "subquery")),
    QuerySpec("bracket_revenue", "Q19 shape: disjunctive OR-of-ANDs bracket revenue", _bracket_revenue, _BRACKET_REVENUE_SQL, tags=("join", "agg")),
    QuerySpec("dominant_suppliers", "Q20 shape: nested per-pair vs per-part aggregates", _dominant_suppliers, _DOMINANT_SUPPLIERS_SQL, tags=("join", "agg", "subquery")),
    QuerySpec("yoy_revenue_growth", "year-over-year growth self-join on the yearly aggregate", _yoy_revenue_growth, _YOY_REVENUE_GROWTH_SQL, tags=("agg", "join")),
    QuerySpec("dq_violations", "Deequ-style expectations: N rules in one aggregate pass", _dq_violations, _DQ_VIOLATIONS_SQL, tags=("profiling", "agg")),
]
