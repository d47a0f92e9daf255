"""Markov-chain channel attribution over the event stream.

``markov_removal_attribution`` implements the removal-effect
attribution model (Anderl et al. 2014, "Mapping the customer journey"):
sessions are journeys over event-type "channels", conversion = reaching
the first ``purchase``; a channel's credit is how much the chain's
absorption probability into CONV drops when every transition into that
channel is voided (journeys through it die — no renormalization).

Exactness posture — CLOSED FORM, not iteration: the absorbing-chain
conversion probability is x = (I - Q)^{-1} b solved by CRAMER'S RULE,
with every determinant expanded once by a shared Python generator into
the identical permutation-ordered sum of products on BOTH engines
(left-associated + and *, so every IEEE intermediate is bit-equal).
Matrix entries are the transition probabilities — each an exact
BIGINT/BIGINT rational divided once — pivoted into ONE keyless-
aggregate row, so the whole linear solve is a single projection over a
≤1-row relation (lint-provably bounded). No fixpoint, no truncation
residual: the HITS/k-core unrolled-rounds posture upgraded to an exact
solve, valid at any SF because the determinant arithmetic runs on
probabilities (≤1), never raw counts.

Scale shape: one user-keyed shuffle builds sessions and journey
prefixes (the sessionization windows are user-partitioned), one
(from, to)-keyed catalog aggregate (≤ (|channels|+1)² rows at any SF),
then driver-free scalar algebra on the 1-row pivot.

Reference parity: the reference has no attribution tier; this extends
the event-analytics surface (SURVEY §2 W-series) the funnel/session
queries established.
"""

from __future__ import annotations

from itertools import permutations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databeats_spark.registry import QuerySpec
from databeats_spark.registry.events import _SESSION_CTES, _session_ids
from databeats_spark.sources.tables import load_tables

CONV_EVENT = "purchase"
# transient channels, fixed order (the permutation expansion and every
# fold are generated in this order on both engines)
CHANNELS = ("click", "error", "signup", "view")
START = "START"


def _perm_terms(n: int) -> list[tuple[int, tuple[int, ...]]]:
    """Signed permutation expansion of an n x n determinant, in
    itertools.permutations order (deterministic) — shared by the Spark
    and SQL emitters so term order is identical."""
    terms = []
    for perm in permutations(range(n)):
        inv = sum(
            1
            for i in range(n)
            for j in range(i + 1, n)
            if perm[i] > perm[j]
        )
        terms.append((-1 if inv % 2 else 1, perm))
    return terms


def _journey_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_state, to_state) journey transitions: per user session
    (30-min gap, the registry sessionization convention), events up to
    and including the FIRST purchase; purchase maps to CONV, exhausted
    sessions close with an END edge, the first event gets a START edge."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = _session_ids(
        t.events.select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("us"))
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("us", "event_id")
    wsf = Window.partitionBy("user_id", "sid")
    ev = ev.withColumn("rn", F.row_number().over(ws).cast("bigint"))
    ev = ev.withColumn(
        "fp",
        F.min(F.when(F.col("event_type") == CONV_EVENT, F.col("rn"))).over(wsf),
    ).withColumn("last_rn", F.max("rn").over(wsf))
    kept = ev.filter(F.col("fp").isNull() | (F.col("rn") <= F.col("fp")))
    steps = kept.select(
        F.coalesce(F.lag("event_type").over(ws), F.lit(START)).alias("from_state"),
        F.when(F.col("event_type") == CONV_EVENT, F.lit("CONV"))
        .otherwise(F.col("event_type"))
        .alias("to_state"),
        "fp",
        "rn",
        "last_rn",
    )
    closes = kept.filter(
        F.col("fp").isNull() & (F.col("rn") == F.col("last_rn"))
    ).select(
        F.col("event_type").alias("from_state"),
        F.lit("END").alias("to_state"),
    )
    return steps.select("from_state", "to_state").unionByName(closes)


_JOURNEY_EDGES_SQL = f"""
{_SESSION_CTES}, numbered AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY user_id, sid ORDER BY us, event_id) AS BIGINT) AS rn
  FROM s
), pos AS (
  SELECT *,
         min(CASE WHEN event_type = '{CONV_EVENT}' THEN rn END)
             OVER (PARTITION BY user_id, sid) AS fp,
         max(rn) OVER (PARTITION BY user_id, sid) AS last_rn
  FROM numbered
), kept AS (
  SELECT * FROM pos WHERE fp IS NULL OR rn <= fp
), steps AS (
  SELECT COALESCE(lag(event_type) OVER (PARTITION BY user_id, sid ORDER BY us, event_id),
                  '{START}') AS from_state,
         CASE WHEN event_type = '{CONV_EVENT}' THEN 'CONV' ELSE event_type END AS to_state
  FROM kept
  UNION ALL
  SELECT event_type AS from_state, 'END' AS to_state
  FROM kept WHERE fp IS NULL AND rn = last_rn
)"""


def _spark_pivot(edges: DataFrame) -> DataFrame:
    """ONE keyless-aggregate row with a p_{from}_{to} column per cell:
    p = n(from,to) / n_out(from), both exact BIGINTs, divided once.
    Missing cells are 0.0; a never-observed from-state row is all 0.0
    (coalesce guards the 0/0)."""
    counts = edges.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    totals = counts.groupBy("from_state").agg(F.sum("n").cast("bigint").alias("tot"))
    cells = counts.join(totals, "from_state").select(
        "from_state",
        "to_state",
        (F.col("n").cast("double") / F.col("tot").cast("double")).alias("p"),
    )
    aggs = []
    for s in (START,) + CHANNELS:
        for t in CHANNELS + ("CONV",):
            aggs.append(
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("from_state") == s) & (F.col("to_state") == t),
                            F.col("p"),
                        )
                    ),
                    F.lit(0.0),
                ).alias(f"p_{s}_{t}")
            )
    return cells.agg(*aggs)


def _sql_pivot() -> str:
    cols = []
    for s in (START,) + CHANNELS:
        for t in CHANNELS + ("CONV",):
            cols.append(
                f"COALESCE(sum(CASE WHEN from_state = '{s}' AND to_state = '{t}'"
                f" THEN p END), 0.0) AS p_{s}_{t}"
            )
    return f"""counts AS (
  SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
  FROM steps GROUP BY from_state, to_state
), totals AS (
  SELECT from_state, CAST(sum(n) AS BIGINT) AS tot FROM counts GROUP BY from_state
), cells AS (
  SELECT c.from_state, c.to_state, CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
  FROM counts c JOIN totals t ON c.from_state = t.from_state
), pv AS (
  SELECT {", ".join(cols)} FROM cells
)"""


class _Emitter:
    """Emits the SAME expression tree as Spark Columns or SQL text —
    one generator, two renderings, so term order can never drift."""

    def __init__(self, sql: bool) -> None:
        self.sql = sql

    def cell(self, name: str):
        return name if self.sql else F.col(name)

    def lit(self, v: float):
        return repr(v) if self.sql else F.lit(v)

    def add(self, a, b):
        return f"({a} + {b})" if self.sql else (a + b)

    def sub(self, a, b):
        return f"({a} - {b})" if self.sql else (a - b)

    def mul(self, a, b):
        return f"({a} * {b})" if self.sql else (a * b)

    def div(self, a, b):
        return f"({a} / {b})" if self.sql else (a / b)

    def nullif0(self, a):
        """Zero-guard a divisor identically on both engines (ADVICE r9):
        a degenerate corpus with no conversions would otherwise hit
        engine-specific div-by-zero semantics (IEEE inf/nan vs NULL);
        nullif makes both sides deterministically NULL."""
        return f"nullif({a}, 0.0)" if self.sql else F.nullif(a, F.lit(0.0))

    def matrix_cell(self, channels, i, j):
        """(I - Q)[i][j] over the given transient channel subset."""
        p = self.cell(f"p_{channels[i]}_{channels[j]}")
        if i == j:
            return self.sub(self.lit(1.0), p)
        return self.sub(self.lit(0.0), p)

    def det(self, cells):
        """Permutation-expansion determinant of the n x n cell grid,
        left-folded in generation order."""
        n = len(cells)
        acc = None
        for sign, perm in _perm_terms(n):
            prod = cells[0][perm[0]]
            for i in range(1, n):
                prod = self.mul(prod, cells[i][perm[i]])
            prod = self.mul(self.lit(float(sign)), prod)
            acc = prod if acc is None else self.add(acc, prod)
        return acc

    def conv_start(self, channels):
        """Absorption probability into CONV from START with the given
        transient channel subset: Cramer solve of (I - Q)x = b, then
        conv(START) = b(START) + sum_t p(START,t) * x(t)."""
        n = len(channels)
        m = [[self.matrix_cell(channels, i, j) for j in range(n)] for i in range(n)]
        b = [self.cell(f"p_{c}_CONV") for c in channels]
        det_m = self.det(m)
        acc = self.cell(f"p_{START}_CONV")
        for k, c in enumerate(channels):
            mk = [
                [b[i] if j == k else m[i][j] for j in range(n)]
                for i in range(n)
            ]
            x_k = self.div(self.det(mk), self.nullif0(det_m))
            acc = self.add(acc, self.mul(self.cell(f"p_{START}_{c}"), x_k))
        return acc


def _markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    pivot = _spark_pivot(_journey_edges(spark, sf_dir))
    em = _Emitter(sql=False)
    base = em.conv_start(CHANNELS)
    removed = {
        c: em.conv_start(tuple(x for x in CHANNELS if x != c)) for c in CHANNELS
    }
    one_row = pivot.select(
        base.alias("base_conv"),
        *[removed[c].alias(f"conv_wo_{c}") for c in CHANNELS],
    )
    eff = {
        c: F.lit(1.0) - F.col(f"conv_wo_{c}") / F.nullif(F.col("base_conv"), F.lit(0.0))
        for c in CHANNELS
    }
    total_eff = eff[CHANNELS[0]]
    for c in CHANNELS[1:]:
        total_eff = total_eff + eff[c]
    total_eff = F.nullif(total_eff, F.lit(0.0))
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("channel"),
                    F.round(F.col("base_conv"), 6).alias("base_conv"),
                    F.round(F.col(f"conv_wo_{c}"), 6).alias("conv_without"),
                    F.round(eff[c], 6).alias("removal_effect"),
                    F.round(eff[c] / total_eff, 6).alias("attribution_share"),
                )
                for c in CHANNELS
            ]
        )
    )
    return (
        one_row.select(rows.alias("r"))
        .select("r.channel", "r.base_conv", "r.conv_without", "r.removal_effect", "r.attribution_share")
        .orderBy("channel")
    )


def _markov_removal_attribution_sql() -> str:
    em = _Emitter(sql=True)
    base = em.conv_start(CHANNELS)
    wo = {c: em.conv_start(tuple(x for x in CHANNELS if x != c)) for c in CHANNELS}
    eff = {c: f"(1.0 - (conv_wo_{c} / nullif(base_conv, 0.0)))" for c in CHANNELS}
    total = " + ".join(eff[c] for c in CHANNELS)
    selects = " UNION ALL ".join(
        f"""SELECT '{c}' AS channel, round(base_conv, 6) AS base_conv,
       round(conv_wo_{c}, 6) AS conv_without,
       round({eff[c]}, 6) AS removal_effect,
       round({eff[c]} / nullif({total}, 0.0), 6) AS attribution_share
FROM solved"""
        for c in CHANNELS
    )
    return f"""
WITH {_JOURNEY_EDGES_SQL},
{_sql_pivot()},
solved AS (
  SELECT {base} AS base_conv,
         {", ".join(f"{wo[c]} AS conv_wo_{c}" for c in CHANNELS)}
  FROM pv
)
SELECT * FROM ({selects})
ORDER BY channel
"""


SPECS = [
    QuerySpec(
        "markov_removal_attribution",
        "Markov removal-effect channel attribution: exact Cramer solve of the absorbing session chain, one keyless pivot row, no iteration",
        _markov_removal_attribution,
        _markov_removal_attribution_sql,
        tags=("timeseries", "stats", "graph"),
    ),
]
