"""Corpus-mining and behavioral-analytics shapes (round-3 batch) —
the statistics a training-data pipeline computes between dedup and
packing, plus the event-stream aggregations the reference's weekly
snapshots can't express:

- bigram_pmi:          collocation mining (pointwise mutual information)
- vocab_growth:        vocabulary-growth (Heaps) curve via first occurrence
- containment_pairs:   asymmetric n-gram containment (quote/subset dedup)
- gopher_quality_flags: rule-based quality gate pass rates per source
- source_pareto:       token-budget concentration curve across sources
- event_transitions:   event-type Markov transition matrix
- retention_cohorts:   weekly cohort retention triangle
- click_attribution:   in-window click->purchase attribution (batch twin
                       of streaming/events.py::stream_stream_click_attribution)
- grouping_sets_mix:   explicit GROUPING SETS in the ANSI intersection
- weighted_sample:     derandomized Efraimidis-Spirakis weighted sampling
- trimmed_price_stats: rank-trimmed robust group means
- incremental_corpus_dups: new-vs-previous-snapshot near-dup detection
- pagerank_docs:       PageRank centrality over the near-dup graph
- value_outliers:      z-score anomalies from exact decimal moments
- funnel_stages:       ordered signup->view->click->purchase funnel
- curation_funnel:     end-to-end curation pipeline stage counts
                       (plans/curation.py)

Reference parity: the reference's corpus ops stop at playlist joins
(SURVEY §2); these are the standard LLM-curation completions (PMI
collocations, Heaps-law vocab curves, containment dedup, Gopher-style
quality rules). Oracle parity per the registry recipe: BIGINT counts,
round(.., 6) ratio doubles, integer-microsecond time math, ISO-string
dates/weeks, total-order sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databeats_spark.operators.scale import attach_global_scalar
from databeats_spark.registry import QuerySpec
from databeats_spark.sources.tables import load_tables


# --- Q: bigram_pmi — collocation mining -------------------------------
# PMI of adjacent word pairs: ln(p(ab) / (p(a) p(b))). Bigrams come
# from one transform/sequence pass over the token array (no UDF, no
# second split); unigram and bigram counts are two hash aggregates.
# The vocabulary tables are broadcast to the bigram side (vocab ≪
# corpus — the standard skew of natural language), and the two corpus
# totals derive from the aggregates themselves, so they go through
# attach_global_scalar. The PMI expression is written with the same
# association order on both engines: IEEE double products are
# deterministic, so only ln()'s last ulp can differ — absorbed by the
# round-6 rule.

PMI_MIN_COUNT = 5
PMI_TOP = 50


def _bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    toks = t.documents.select(F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = attach_global_scalar(uni, F.sum("c").alias("n1"))
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
                )
            ).alias("b")
        )
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    # the probability denominator counts ALL bigrams, so the scalar
    # attaches BEFORE the min-count filter
    bi = attach_global_scalar(bi, F.sum("c_ab").alias("n2")).filter(
        F.col("c_ab") >= PMI_MIN_COUNT
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"), "n1")
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    return (
        bi.join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    F.col("c_ab").cast("double")
                    * F.col("n1")
                    * F.col("n1")
                    / (F.col("n2").cast("double") * F.col("c_a") * F.col("c_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_TOP)
    )


_BIGRAM_PMI_SQL = f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
uc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS w FROM toks)
  GROUP BY w
),
bc AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, CAST(count(*) AS BIGINT) AS c_ab
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
  GROUP BY 1, 2
),
totals AS (
  SELECT CAST((SELECT sum(c) FROM uc) AS BIGINT) AS n1,
         CAST((SELECT sum(c_ab) FROM bc) AS BIGINT) AS n2
)
SELECT b.w1, b.w2, b.c_ab,
       round(ln(CAST(b.c_ab AS DOUBLE) * t.n1 * t.n1
                / (CAST(t.n2 AS DOUBLE) * ua.c * ub.c)), 6) AS pmi
FROM bc b
JOIN uc ua ON ua.w = b.w1
JOIN uc ub ON ub.w = b.w2
CROSS JOIN totals t
WHERE b.c_ab >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, b.w1, b.w2
LIMIT {PMI_TOP}
"""


# --- Q: vocab_growth — Heaps-law vocabulary curve ---------------------
# New distinct terms per 50-document window of the corpus, with the
# running vocabulary size. "First occurrence" is min(doc_id) per term —
# one hash aggregate over the exploded tokens. The cumulative sum runs
# through the distributed prefix-sum operator: the bucket axis grows
# with the corpus (n_docs / 50), so a naive global window would funnel
# it through one task at scale.

VOCAB_BUCKET_DOCS = 50


def _vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import partitioned_running_total

    t = load_tables(spark, sf_dir, ["documents"])
    first_seen = (
        t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    per_bucket = (
        first_seen.groupBy(
            (F.col("first_doc") - F.col("first_doc") % VOCAB_BUCKET_DOCS).alias("doc_bucket")
        )
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    return partitioned_running_total(
        per_bucket, [F.col("doc_bucket")], "new_terms", "vocab_size"
    ).orderBy("doc_bucket")


_VOCAB_GROWTH_SQL = f"""
WITH first_seen AS (
  SELECT w, min(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
per_bucket AS (
  SELECT first_doc - first_doc % {VOCAB_BUCKET_DOCS} AS doc_bucket,
         CAST(count(*) AS BIGINT) AS new_terms
  FROM first_seen
  GROUP BY doc_bucket
)
SELECT doc_bucket, new_terms,
       CAST(sum(new_terms) OVER (ORDER BY doc_bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
FROM per_bucket
ORDER BY doc_bucket
"""


# --- Q: containment_pairs — asymmetric n-gram containment -------------
# |shingles(A) ∩ shingles(B)| / |shingles(A)|: catches quotes and
# subset documents that symmetric Jaccard under-scores (a doc fully
# contained in a much larger one has low Jaccard but containment 1).
# Same bounded-verifier posture as near_dup_pairs (documents.py:37):
# candidates come from the shingle equi-join, directional pairs kept
# both ways. Scale path: run it on the LSH candidate set instead of
# the bounded corpus.

CONTAIN_DOC_LIMIT = 300
# containment >= 1/2, expressed as 2*common >= n in exact integers below


def _containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.functions.text import word_shingles

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < CONTAIN_DOC_LIMIT)
    sh = docs.select(
        "doc_id", word_shingles(F.trim(F.col("text")), 3).alias("shingles")
    )
    sized = sh.select("doc_id", F.size("shingles").alias("n"))
    e = sh.select("doc_id", F.explode("shingles").alias("sh"))
    common = (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sized.withColumnRenamed("doc_id", "id_a"), "id_a")
        .filter(F.col("common") * 2 >= F.col("n"))  # containment >= 0.5 in exact ints
        .select(
            "id_a",
            "id_b",
            "common",
            F.round(F.col("common") / F.col("n"), 6).alias("containment"),
        )
        .orderBy("id_a", "id_b")
    )


_CONTAINMENT_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE doc_id < {CONTAIN_DOC_LIMIT}
), s AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                        i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM t
), sized AS (
  SELECT doc_id, len(shingles) AS n FROM s
), e AS (
  SELECT doc_id, unnest(shingles) AS sh FROM s
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS common
  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, common,
       round(common * 1.0 / sa.n, 6) AS containment
FROM pairs
JOIN sized sa ON sa.doc_id = id_a
WHERE common * 2 >= sa.n
ORDER BY id_a, id_b
"""


# --- Q: gopher_quality_flags — rule-gate pass rates -------------------
# Gopher/C4-style document quality rules as pure column expressions
# (token-count band, mean word length band, lexical diversity), rolled
# up to per-source pass rates — the health dashboard of an ingest
# pipeline. One projection pass + one tiny aggregate; mean word length
# uses the separator identity (chars - n_tok + 1) / n_tok instead of a
# second tokenization.

QF_MIN_TOK, QF_MAX_TOK = 60, 1000
QF_MIN_WL, QF_MAX_WL = 3.5, 6.5
QF_MIN_DIVERSITY = 0.3


def _gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    toks = F.split("text", " ")
    scored = t.documents.select(
        "source",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("n_chars"),
    )
    mean_wl = (F.col("n_chars") - F.col("n_tok") + 1) / F.col("n_tok")
    passed = (
        F.col("n_tok").between(QF_MIN_TOK, QF_MAX_TOK)
        & (mean_wl >= QF_MIN_WL)
        & (mean_wl <= QF_MAX_WL)
        & (F.col("n_distinct") >= F.col("n_tok") * QF_MIN_DIVERSITY)
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(passed.cast("bigint")).alias("n_pass"),
        )
        .select(
            "source",
            "n_docs",
            "n_pass",
            F.round(F.col("n_pass") / F.col("n_docs"), 6).alias("pass_rate"),
        )
        .orderBy("source")
    )


_GOPHER_QUALITY_SQL = f"""
WITH scored AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_distinct,
         length(text) AS n_chars
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_tok BETWEEN {QF_MIN_TOK} AND {QF_MAX_TOK}
                      AND (n_chars - n_tok + 1) * 1.0 / n_tok >= {QF_MIN_WL}
                      AND (n_chars - n_tok + 1) * 1.0 / n_tok <= {QF_MAX_WL}
                      AND n_distinct >= n_tok * {QF_MIN_DIVERSITY}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       round(sum(CASE WHEN n_tok BETWEEN {QF_MIN_TOK} AND {QF_MAX_TOK}
                       AND (n_chars - n_tok + 1) * 1.0 / n_tok >= {QF_MIN_WL}
                       AND (n_chars - n_tok + 1) * 1.0 / n_tok <= {QF_MAX_WL}
                       AND n_distinct >= n_tok * {QF_MIN_DIVERSITY}
                      THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS pass_rate
FROM scored
GROUP BY source
ORDER BY source
"""


# --- Q: source_pareto — token concentration curve ---------------------
# Per-source token totals with share and cumulative share in
# descending-volume order: "what fraction of the budget do the top k
# sources hold". The totals aggregate is the only big shuffle; the
# scalar goes through attach_global_scalar (it derives from the
# aggregate) and the cumulative window runs over n_sources rows.

def _source_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    per_source = (
        t.documents.select("source", F.size(F.split("text", " ")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").alias("tokens"))
    )
    # explicit catalog bound: sources are a catalog, not a data axis;
    # the limit is a semantic no-op that lets the plan lint PROVE the
    # cumulative window bounded instead of trusting an allowlist entry.
    # The assert makes the bound loud: if the catalog ever reaches it,
    # the query fails instead of the limit silently truncating rows
    # while `total` still reflects the full catalog.
    per_source = (
        attach_global_scalar(
            per_source,
            F.sum("tokens").alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("__n_src"),
        )
        .where(
            F.assert_true(
                F.col("__n_src") < F.lit(100_000),
                F.lit("source_pareto: catalog reached its documented bound"),
            ).isNull()
        )
        .limit(100_000)
        .drop("__n_src")
    )
    w = Window.orderBy(F.desc("tokens"), "source").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_source.withColumn("cum_tokens", F.sum("tokens").over(w))
        .select(
            "source",
            "tokens",
            F.round(F.col("tokens") / F.col("total"), 6).alias("share"),
            F.round(F.col("cum_tokens") / F.col("total"), 6).alias("cum_share"),
        )
        .orderBy(F.desc("tokens"), "source")
    )


_SOURCE_PARETO_SQL = """
WITH per_source AS (
  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents
  GROUP BY source
),
total AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM per_source)
SELECT p.source, p.tokens,
       round(p.tokens * 1.0 / t.total, 6) AS share,
       round(sum(p.tokens) OVER (ORDER BY p.tokens DESC, p.source
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / t.total, 6) AS cum_share
FROM per_source p CROSS JOIN total t
ORDER BY p.tokens DESC, p.source
"""


# --- Q: event_transitions — Markov transition matrix ------------------
# P(next event type | current): lag over (user, time) then one tiny
# aggregate. The lag window partitions by user_id — shuffles once on
# the natural key, each partition sorted locally; the share window
# runs over the 25-row transition matrix. Tie-break on event_id makes
# the sequence (and thus the matrix) engine-independent.

def _event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_w = Window.partitionBy("prev_type")
    return (
        counts.withColumn("row_total", F.sum("n").over(row_w))
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.col("row_total"), 6).alias("p_next"),
        )
        .orderBy("prev_type", "next_type")
    )


_EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY prev_type), 6) AS p_next
FROM counts
ORDER BY prev_type, next_type
"""


# --- Q: retention_cohorts — weekly retention triangle -----------------
# Users grouped by first-seen week; for each later week, how many came
# back. One min-over-user window (single shuffle on user_id), distinct
# (user, week-offset), then the triangle aggregate. Weeks are
# date_trunc('week') on both engines (ISO Monday start); the offset is
# an exact day-diff DIV 7.

def _retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("user_id")
    weekly = t.events.select(
        "user_id",
        F.date_trunc("week", "ts").alias("week"),
    ).withColumn("cohort", F.min("week").over(w))
    return (
        weekly.select(
            "user_id",
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("week", "cohort") / 7).cast("bigint").alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


_RETENTION_COHORTS_SQL = """
WITH weekly AS (
  SELECT user_id,
         date_trunc('week', ts) AS week,
         min(date_trunc('week', ts)) OVER (PARTITION BY user_id) AS cohort
  FROM events
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cohort, week) // 7 AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM (SELECT DISTINCT user_id, week, cohort FROM weekly)
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


# --- Q: click_attribution — in-window behavioral join -----------------
# Attribute each purchase to the same user's clicks in the preceding
# hour — the batch twin of the streaming stream-stream join
# (streaming/events.py::stream_stream_click_attribution), sharing its
# join predicate. Catalyst executes it as an equi-join on user_id with
# the time-range as join filter; the gap math is integer microseconds
# end-to-end (engine-independent past 2^53).

ATTRIBUTION_WINDOW_US = 3600 * 1_000_000


def _click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    clicks = t.events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = t.events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.unix_micros("click_ts")
            >= F.unix_micros("purchase_ts") - F.lit(ATTRIBUTION_WINDOW_US)
        )
    )
    return (
        purchases.join(clicks, cond, "inner")
        .groupBy("purchase_id", "purchase_ts")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.max("click_ts").alias("last_click"),
        )
        .select(
            "purchase_id",
            "n_clicks",
            (
                (F.unix_micros("purchase_ts") - F.unix_micros("last_click"))
                / 1_000_000
            ).cast("bigint").alias("gap_seconds"),
        )
        .orderBy("purchase_id")
    )


_CLICK_ATTRIBUTION_SQL = f"""
SELECT p.event_id AS purchase_id,
       CAST(count(*) AS BIGINT) AS n_clicks,
       CAST((epoch_us(p.ts) - epoch_us(max(c.ts))) // 1000000 AS BIGINT) AS gap_seconds
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts <= p.ts
 AND epoch_us(c.ts) >= epoch_us(p.ts) - {ATTRIBUTION_WINDOW_US}
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.ts
ORDER BY purchase_id
"""


# --- Q: grouping_sets_mix — explicit GROUPING SETS --------------------
# The third grouping-set form beside cube_quantity and
# rollup_quantity: an explicit, non-hierarchical set list with
# grouping() flags, in the ANSI intersection so the identical text
# runs on both engines (C9 pattern).

_GROUPING_SETS_QUERY = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


def _grouping_sets_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.sources.tables import register_views

    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_GROUPING_SETS_QUERY)


# --- Q: weighted_sample — deterministic weighted sampling (A-ES) ------
# Efraimidis-Spirakis weighted reservoir sampling, derandomized: the
# per-row uniform comes from an md5 content hash (13 hex chars = 52
# bits, exact in a double), so the SAME k documents are selected on
# any engine, any partitioning, any run — deterministic_sample's
# auditability property, extended to weight-proportional selection
# (weight = document length: longer docs carry more of the token
# budget). key = -ln(u) / w; keep the k smallest keys. One projection
# + one global top-k (TakeOrderedAndProject — no full sort).

WEIGHTED_SAMPLE_K = 100
_HASH_DENOM = float(1 << 52)


def _weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    v = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast(
        "bigint"
    )
    u = (v + 1) / F.lit(_HASH_DENOM)  # (0, 1] — ln never sees 0
    key = -F.log(u) / F.col("n_chars")
    return (
        t.documents.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            F.round(key, 6).alias("sample_key"),
        )
        .orderBy(F.col("sample_key"), "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
    )


_WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS weight,
       round(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
                 / {_HASH_DENOM!r}) / n_chars, 6) AS sample_key
FROM documents
ORDER BY sample_key, doc_id
LIMIT {WEIGHTED_SAMPLE_K}
"""


# --- Q: trimmed_price_stats — robust (trimmed) group statistics -------
# Per-brand retail-price mean with the tails dropped by rank
# (percent_rank outside [0.05, 0.95] excluded) beside the raw mean —
# the outlier-robust aggregate a quality pipeline reports. Rank-based
# trimming (not interpolated-quantile clipping) keeps every kept value
# an original DECIMAL, so the trimmed sum stays exact; percent_rank is
# the same closed form (rank-1)/(n-1) on both engines. One window
# shuffle on the brand key, then one aggregate.

TRIM_LO, TRIM_HI = 0.05, 0.95


def _trimmed_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.registry.relational import dec

    t = load_tables(spark, sf_dir, ["part"])
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    ranked = t.part.select(
        "p_brand",
        dec("p_retailprice").alias("price"),
        F.percent_rank().over(w).alias("pr"),
    )
    kept = (F.col("pr") >= TRIM_LO) & (F.col("pr") <= TRIM_HI)
    # means as exact-decimal sums divided in double (same expression
    # on both engines) — avg(decimal) returns engine-specific types
    return (
        ranked.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum("price").alias("__sum_all"),
            F.sum(F.when(kept, F.col("price"))).alias("__sum_kept"),
        )
        .select(
            "p_brand",
            "n_parts",
            "n_kept",
            F.round(F.col("__sum_all").cast("double") / F.col("n_parts"), 6).alias("raw_mean"),
            F.round(F.col("__sum_kept").cast("double") / F.col("n_kept"), 6).alias("trimmed_mean"),
        )
        .orderBy("p_brand")
    )


_TRIMMED_PRICE_STATS_SQL = f"""
WITH ranked AS (
  SELECT p_brand,
         CAST(p_retailprice AS DECIMAL(18,2)) AS price,
         percent_rank() OVER (PARTITION BY p_brand
                              ORDER BY p_retailprice, p_partkey) AS pr
  FROM part
)
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(CASE WHEN pr >= {TRIM_LO} AND pr <= {TRIM_HI} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(sum(price) AS DOUBLE) / count(*), 6) AS raw_mean,
       round(CAST(sum(CASE WHEN pr >= {TRIM_LO} AND pr <= {TRIM_HI} THEN price END) AS DOUBLE)
             / sum(CASE WHEN pr >= {TRIM_LO} AND pr <= {TRIM_HI} THEN 1 ELSE 0 END), 6) AS trimmed_mean
FROM ranked
GROUP BY p_brand
ORDER BY p_brand
"""


# --- Q: incremental_corpus_dups — dedup against a previous snapshot ---
# The crawl-over-crawl question: which NEW documents near-duplicate
# the EXISTING corpus? Candidates only cross the old/new boundary
# (old x old and new x new pairs are excluded in the join condition),
# so re-ingesting a snapshot costs old x new, never (old+new)². Same
# bounded-verifier posture as near_dup_pairs; the full-corpus scale
# path is minhash banding with a side tag on the band join.

INC_SPLIT = 250  # doc_id < INC_SPLIT = old snapshot, >= = new crawl
INC_LIMIT = 500
INC_THRESHOLD = 0.5


def _incremental_corpus_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.functions.text import word_shingles

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < INC_LIMIT)
    sh = docs.select(
        "doc_id", word_shingles(F.trim(F.col("text")), 3).alias("shingles")
    )
    sized = sh.select("doc_id", F.size("shingles").alias("n"))
    e = sh.select("doc_id", F.explode("shingles").alias("sh"))
    old = e.filter(F.col("doc_id") < INC_SPLIT)
    new = e.filter(F.col("doc_id") >= INC_SPLIT)
    common = (
        old.alias("a")
        .join(new.alias("b"), F.col("a.sh") == F.col("b.sh"))
        .groupBy(F.col("a.doc_id").alias("old_id"), F.col("b.doc_id").alias("new_id"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(
            sized.select(F.col("doc_id").alias("old_id"), F.col("n").alias("n_old")),
            "old_id",
        )
        .join(
            sized.select(F.col("doc_id").alias("new_id"), F.col("n").alias("n_new")),
            "new_id",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("n_old") + F.col("n_new") - F.col("common")), 6
            ),
        )
        .filter(
            F.col("common") * (1 + INC_THRESHOLD)
            >= (F.col("n_old") + F.col("n_new")) * INC_THRESHOLD
        )
        .select("new_id", "old_id", F.col("common").alias("common"), "jaccard")
        .orderBy("new_id", "old_id")
    )


_INCREMENTAL_CORPUS_DUPS_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE doc_id < {INC_LIMIT}
), s AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                        i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM t
), sized AS (
  SELECT doc_id, len(shingles) AS n FROM s
), e AS (
  SELECT doc_id, unnest(shingles) AS sh FROM s
), pairs AS (
  SELECT a.doc_id AS old_id, b.doc_id AS new_id, CAST(count(*) AS BIGINT) AS common
  FROM e a JOIN e b ON a.sh = b.sh
  WHERE a.doc_id < {INC_SPLIT} AND b.doc_id >= {INC_SPLIT}
  GROUP BY 1, 2
)
SELECT new_id, old_id, common,
       round(common * 1.0 / (so.n + sn.n - common), 6) AS jaccard
FROM pairs
JOIN sized so ON so.doc_id = old_id
JOIN sized sn ON sn.doc_id = new_id
WHERE common * (1 + {INC_THRESHOLD}) >= (so.n + sn.n) * {INC_THRESHOLD}
ORDER BY new_id, old_id
"""


# --- Q: bloom_incremental_dedup — anti join behind a bloom prefilter --
# Exact-fingerprint incremental dedup (new crawl vs the historical
# snapshot) routed through operators/scale.py::bloom_anti_join: the
# bloom-NEGATIVE bulk of the new crawl is provably absent from history
# (no false negatives) and passes through with ZERO join work; only
# the bloom-positive slice — true dups + the tiny false-positive
# residue — is verified by the exact anti join. Result-identical to
# the plain anti join BY CONSTRUCTION, so the sketch costs nothing in
# certifiability: the oracle is the plain NOT EXISTS. This is the
# anti-join shape Catalyst's runtime bloom filter cannot produce
# (runtime blooms prune inner/semi probes only). Fingerprint = the
# prefix_dup_groups 8-token-opener hash (the synthetic corpus has no
# byte-exact dups, so the full-text fingerprint would make removal a
# no-op; templated openers DO cross the snapshot boundary — 13 removed
# at sf0.01, 10 at sf0.001).
# At 100 TB: history compresses to a broadcastable bitmap table
# (m/8 bytes total) and the new crawl never shuffles in full.

BLOOM_SPLIT = 250  # doc_id < BLOOM_SPLIT = historical snapshot
BLOOM_M_BITS = 1 << 16


def _bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import bloom_anti_join

    t = load_tables(spark, sf_dir, ["documents"])
    fp = F.md5(F.concat_ws(" ", F.slice(F.split(F.trim("text"), r"\s+"), 1, 8)))
    docs = t.documents.select("doc_id", "source", fp.alias("fp"))
    hist = docs.filter(F.col("doc_id") < BLOOM_SPLIT)
    new = docs.filter(F.col("doc_id") >= BLOOM_SPLIT)
    out = bloom_anti_join(new, hist, "fp", m_bits=BLOOM_M_BITS)
    return out.select("doc_id", "source").orderBy("doc_id")


_BLOOM_INCREMENTAL_DEDUP_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         md5(array_to_string(string_split_regex(trim(text), '\\s+')[1:8], ' ')) AS fp
  FROM documents
)
SELECT n.doc_id, n.source
FROM d n
WHERE n.doc_id >= {BLOOM_SPLIT}
  AND NOT EXISTS (SELECT 1 FROM d h
                  WHERE h.doc_id < {BLOOM_SPLIT} AND h.fp = n.fp)
ORDER BY n.doc_id
"""


# --- Q: pagerank_docs — centrality over the near-dup graph ------------
# PageRank over the near-dup graph of the WHOLE corpus (edges =
# MinHash-LSH verified pairs at Jaccard >= 0.2, both directions): the
# centrality signal for picking the authoritative representative
# inside each boilerplate cluster. The edge generator is the LSH scale
# path — banded bucket join, candidate-only verify — not the bounded
# all-pairs verifier, so the same query shape holds at 100 TB (and at
# sf0.1, where the planted near-dups sit outside the first 300 ids
# the old bounded slice scanned — an empty-graph bench signal).
# Rows-only: iterative power iteration is not SQL-expressible;
# operator semantics are pinned against a dense numpy power iteration
# in tests/test_graph.py.

PAGERANK_EDGE_THRESHOLD = 0.2


def _pagerank_docs(
    spark: SparkSession, sf_dir: str, metrics_sink: list | None = None
) -> DataFrame:
    from databeats_spark.operators.dedup import minhash_near_duplicates
    from databeats_spark.operators.graph import pagerank

    t = load_tables(spark, sf_dir, ["documents"])
    # same num_partitions as the headline minhash call: the shingle set
    # is compute-bound (spread the single-file scan) AND the identical
    # lineage hits the operator's bounded shingle cache when both run
    # in one session (bench, dashboards)
    pairs = minhash_near_duplicates(
        t.documents, "doc_id", "text", threshold=PAGERANK_EDGE_THRESHOLD,
        num_partitions=spark.sparkContext.defaultParallelism,
    ).select("id_a", "id_b")
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    # tol early-stop: the near-dup graph is many SMALL components, so
    # the L1 delta crosses 1e-6 after 1-2 rounds — fixed 10 rounds was
    # paying ~8 no-op iterations. r6 shape: ONE eager contribution job
    # per round (flowing mass observed on it; dangling semi-join gone),
    # plus a small paired-aggregate delta job every 2nd round. The
    # rounds run at build time, so ``metrics_sink`` (one row per
    # checkpoint action, ``wall_s`` per round) is complete on return.
    out = pagerank(
        edges, "id_a", "id_b", max_iter=10, tol=1e-6, metrics_sink=metrics_sink
    )
    return out.select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank")
    ).orderBy(F.desc("rank"), "doc_id")


# --- Q: pagerank_docs_exact — hash-matched oracle twin of pagerank ----
# The driver-oracle promotion of the graph tier (VERDICT r6 item 2):
# the SAME power-iteration operator (operators/graph.py::pagerank —
# identical damping / dangling-mass / teleport arithmetic), run for a
# FIXED 10 rounds (tol=None) over the bounded exact-Jaccard edge set
# that near_dup_pairs / dedup_components already verify against DuckDB.
# The oracle unrolls the 10 rounds as chained CTEs (no recursive-CTE
# aggregate restrictions), each round mirroring the operator's exact
# expression tree:
#   rank_k(u) = B_k + d * inflow_k(u),
#   B_k = (1-d)/n + d*(1-flow_k)/n          (driver-side scalar),
#   inflow_{k+1}(v) = sum_{u->v} rank_k(u)/deg(u),
#   flow_{k+1} = sum_v inflow_{k+1}(v)      (dangling mass = 1-flow).
# Cross-engine float noise is ~1e-15 after 10 rounds (both engines sum
# IEEE doubles; only association order differs), invisible under the
# round-6 recipe — so the hash matches without an ordered fold. The
# production-scale variant stays pagerank_docs (LSH edge generator,
# early-stop); this twin pins the arithmetic, not the candidate path.
# RESIDUAL RISK (ADVICE r7): parity rests on round(…,6) absorbing that
# noise — a rank sitting within ~1e-15 of a .5e-6 rounding boundary
# would flip the hash (and the DESC output order). Probabilistic, not
# engineered, parity. Keep tol=None and PAGERANK_EXACT_ROUNDS fixed so
# a future change doesn't widen the exposure; if this ever flakes, the
# fix is an ordered-fold oracle, not a wider tolerance.

PAGERANK_EXACT_ROUNDS = 10
PAGERANK_DAMPING = 0.85


def _pagerank_docs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.dedup import ngram_jaccard_pairs
    from databeats_spark.operators.graph import pagerank
    from databeats_spark.registry.documents import JACCARD_THRESHOLD, PAIR_DOC_LIMIT

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=JACCARD_THRESHOLD
    ).select("id_a", "id_b")
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    out = pagerank(
        edges, "id_a", "id_b", damping=PAGERANK_DAMPING,
        max_iter=PAGERANK_EXACT_ROUNDS, tol=None,
    )
    return out.select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank")
    ).orderBy(F.desc("rank"), "doc_id")


def _pagerank_docs_exact_sql() -> str:
    """Unrolled power iteration: one (contribution, flow) CTE pair per
    round. Expression trees mirror operators/graph.py::pagerank exactly —
    ``(1.0 - d)/n + (d*(1.0 - flow))/n`` association order included, so
    the only cross-engine difference is summation order at ~1e-15."""
    from databeats_spark.registry.documents import (
        _PAIRS_CTES, JACCARD_THRESHOLD,
    )

    d = PAGERANK_DAMPING
    base0 = f"((1.0 - {d})/nn.n + ({d}*(1.0 - 0.0))/nn.n)"
    ctes = [
        f"""qual AS (
  SELECT id_a, id_b
  FROM pairs
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.n + sb.n - common) >= {JACCARD_THRESHOLD}
), edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM qual
  UNION ALL
  SELECT id_b, id_a FROM qual
), deg AS MATERIALIZED (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), nn AS MATERIALIZED (
  SELECT count(*) AS n FROM nodes
), c1 AS MATERIALIZED (
  SELECT e.dst AS node, sum({base0} / g.deg) AS inflow
  FROM edges e JOIN deg g ON g.src = e.src CROSS JOIN nn
  GROUP BY e.dst
), f1 AS MATERIALIZED (
  SELECT coalesce(sum(inflow), 0.0) AS flow FROM c1
)"""
    ]
    for k in range(2, PAGERANK_EXACT_ROUNDS + 1):
        p = k - 1
        base = f"((1.0 - {d})/nn.n + ({d}*(1.0 - f{p}.flow))/nn.n)"
        ctes.append(
            f"""c{k} AS MATERIALIZED (
  SELECT e.dst AS node,
         sum(({base} + {d}*coalesce(c{p}.inflow, 0.0)) / g.deg) AS inflow
  FROM edges e
  JOIN deg g ON g.src = e.src
  LEFT JOIN c{p} ON c{p}.node = e.src
  CROSS JOIN nn CROSS JOIN f{p}
  GROUP BY e.dst
), f{k} AS MATERIALIZED (
  SELECT coalesce(sum(inflow), 0.0) AS flow FROM c{k}
)"""
        )
    last = PAGERANK_EXACT_ROUNDS
    final_base = f"((1.0 - {d})/nn.n + ({d}*(1.0 - f{last}.flow))/nn.n)"
    return f"""
WITH {_PAIRS_CTES},
{", ".join(ctes)}
SELECT nodes.node AS doc_id,
       round({final_base} + {d}*coalesce(c{last}.inflow, 0.0), 6) AS rank
FROM nodes
LEFT JOIN c{last} ON c{last}.node = nodes.node
CROSS JOIN nn CROSS JOIN f{last}
ORDER BY rank DESC, doc_id
"""


# --- Q: value_outliers — exact-moment z-score anomalies ---------------
# Events whose value sits more than 3 sigma from their type's mean.
# Moments come from exact decimal sums (order-independent), variance
# is the closed form (ssq - s^2/n)/(n-1) evaluated in double with the
# same expression tree on both engines; the per-type moment table is a
# broadcast dim re-attach, so the detector is one scan + one tiny agg.

OUTLIER_Z = 3.0


def _value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    v = F.col("value").cast("decimal(18,2)")
    moments = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("ssq"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ssq").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    stats = moments.select(
        "event_type", mean.alias("mu"), F.sqrt(var).alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        t.events.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > OUTLIER_Z)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("z_score"),
        )
        .orderBy("event_id")
    )


_VALUE_OUTLIERS_SQL = f"""
WITH moments AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(value AS DECIMAL(18,2))) AS s,
         sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS ssq
  FROM events
  GROUP BY event_type
),
stats AS (
  SELECT event_type,
         CAST(s AS DOUBLE) / n AS mu,
         sqrt((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)) AS sigma
  FROM moments
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - st.mu) / st.sigma, 6) AS z_score
FROM events e
JOIN stats st ON st.event_type = e.event_type
WHERE abs((e.value - st.mu) / st.sigma) > {OUTLIER_Z}
ORDER BY e.event_id
"""


# --- Q: funnel_stages — ordered multi-step conversion funnel ----------
# How many users progress signup -> view -> click -> purchase IN ORDER
# (each stage's first event must follow the previous stage's). Four
# chained per-user aggregates, every join on the same user key (one
# partitioning reused end to end); the final rollup is four conditional
# counts over one row per user.

def _funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    base = t.events.select("user_id", "event_type", "ts")
    s1 = (
        base.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        base.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        base.filter(F.col("event_type") == "click")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    s4 = (
        base.filter(F.col("event_type") == "purchase")
        .join(s3, "user_id")
        .filter(F.col("ts") > F.col("t3"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t4"))
    )
    per_user = (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .join(s4, "user_id", "left")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_signup"),
        F.count("t2").alias("n_view"),
        F.count("t3").alias("n_click"),
        F.count("t4").alias("n_purchase"),
    )


_FUNNEL_STAGES_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'view' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > s2.t2
  GROUP BY e.user_id
),
s4 AS (
  SELECT e.user_id, min(e.ts) AS t4
  FROM events e JOIN s3 ON s3.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s3.t3
  GROUP BY e.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_signup,
       CAST(count(s2.t2) AS BIGINT) AS n_view,
       CAST(count(s3.t3) AS BIGINT) AS n_click,
       CAST(count(s4.t4) AS BIGINT) AS n_purchase
FROM s1
LEFT JOIN s2 ON s2.user_id = s1.user_id
LEFT JOIN s3 ON s3.user_id = s1.user_id
LEFT JOIN s4 ON s4.user_id = s1.user_id
"""


# --- Q: curation_funnel — end-to-end pipeline stage counts ------------
# The audit artifact of the full curation plan (plans/curation.py):
# quality gate -> exact dedup -> near-dup collapse -> decontam ->
# rebalance -> token budget, one row per stage with survivors.
# Rows-only: MinHash banding and connected components are not
# SQL-expressible; stage semantics, monotonicity and determinism are
# pinned in tests/test_curation_plan.py.

def _curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.plans.curation import curation_report

    return curation_report(spark, sf_dir, token_budget=30_000)


# --- Q: bpe_merges — distributed BPE vocabulary training --------------
# The first merge rules an LLM tokenizer would learn from this corpus
# (ml/bpe.py::train_bpe — one corpus pass to the word-frequency table,
# then driver-bounded merge rounds over the vocabulary). Exact oracle
# since r7: the merge loop is iterative but every round is pure integer
# arithmetic over the vocabulary table, so the whole training unrolls
# into one DuckDB CTE chain (one pairs/top/merge block per round).
# DuckDB lacks Java's lookaround regex, so the greedy non-overlapping
# merge pass ("a b a b" -> "ab ab", "a a a" -> "aa a") is emulated with
# plain string replace over a DOUBLED separator: each boundary carries
# two spaces, a match consumes only one of them, so consecutive
# occurrences stay matchable exactly like Spark's zero-width
# (?<!\S)/(?!\S) anchors — then the doubles collapse back. Semantics
# are additionally pinned against a pure-Python Sennrich-style
# reference in tests/test_bpe.py.

BPE_N_MERGES = 10


def _bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.ml.bpe import train_bpe

    t = load_tables(spark, sf_dir, ["documents"])
    merges, _ = train_bpe(t.documents, BPE_N_MERGES)
    rows = [(i, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_rank: long, left: string, right: string, merged: string"
    )


def _bpe_cte(n_merges: int, final_vocab: bool = False) -> str:
    """Unrolled BPE power loop as a WITH prefix: v{i} is the vocabulary
    after i merges, p{i}/t{i} the pair counts and winning pair of round
    i. Mirrors ml/bpe.py round for round (same >= 2 stop guard, same
    n DESC, a, b tie-break); the LEFT JOIN ON TRUE keeps the vocabulary
    unchanged when a round finds no pair — Spark's early stop.
    ``final_vocab`` adds v{n_merges} (all merges applied)."""
    parts = [r"""WITH v0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         array_to_string(string_split(w, ''), ' ') || ' </w>' AS syms
  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents)
  WHERE w <> ''
  GROUP BY w
)"""]
    for i in range(n_merges):
        parts.append(f"""p{i} AS (
  SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS n
  FROM (
    SELECT freq,
           unnest([{{'a': toks[i], 'b': toks[i+1]}} for i in range(1, len(toks))]) AS p
    FROM (SELECT freq, string_split(syms, ' ') AS toks FROM v{i})
  )
  GROUP BY 1, 2
),
t{i} AS (SELECT a, b FROM p{i} WHERE n >= 2 ORDER BY n DESC, a, b LIMIT 1)""")
        if i + 1 < n_merges or final_vocab:
            parts.append(f"""v{i + 1} AS (
  SELECT w, freq,
    CASE WHEN t.a IS NULL THEN syms ELSE trim(replace(
      replace(' ' || replace(syms, ' ', '  ') || ' ',
              ' ' || t.a || '  ' || t.b || ' ',
              ' ' || t.a || t.b || ' '),
      '  ', ' ')) END AS syms
  FROM v{i} LEFT JOIN t{i} AS t ON TRUE
)""")
    return ",\n".join(parts)


def _bpe_merges_sql(n_merges: int) -> str:
    union = "\nUNION ALL\n".join(
        f'SELECT CAST({i} AS BIGINT) AS merge_rank, a AS "left", b AS "right", a || b AS merged FROM t{i}'
        for i in range(n_merges)
    )
    return _bpe_cte(n_merges) + f"\nSELECT * FROM (\n{union}\n) ORDER BY merge_rank"


_BPE_MERGES_SQL = _bpe_merges_sql(BPE_N_MERGES)


# --- Q: bpe_segmentation — the APPLY side of BPE training -------------
# What the learned merges do to the corpus: the piece-count histogram
# of the post-merge vocabulary (n_pieces -> distinct words, total
# corpus tokens). This is the tokenizer-fertility curve an LLM data
# team reads before committing a vocab — the mass at high n_pieces is
# text the tokenizer fragments badly. Exact oracle: the same unrolled
# CTE chain extended one step to v10 (all merges applied), then a
# plain integer histogram. Scale shape: train_bpe returns the final
# vocabulary table as a by-product of training (Heaps-law small), so
# the apply pass costs nothing beyond the rounds themselves.

def _bpe_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.ml.bpe import train_bpe

    t = load_tables(spark, sf_dir, ["documents"])
    _, vocab = train_bpe(t.documents, BPE_N_MERGES)
    return (
        vocab.select(
            F.size(F.split("syms", " ")).cast("long").alias("n_pieces"), "freq"
        )
        .groupBy("n_pieces")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("total_tokens"),
        )
        .orderBy("n_pieces")
    )


_BPE_SEGMENTATION_SQL = _bpe_cte(BPE_N_MERGES, final_vocab=True) + f"""
SELECT CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_pieces,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(freq) AS BIGINT) AS total_tokens
FROM v{BPE_N_MERGES}
GROUP BY 1
ORDER BY 1"""


# --- Q: bpe_fertility_by_lang — tokenizer fairness across languages ---
# bpe_segmentation's fertility histogram is corpus-global; the equity
# question an LLM data team actually asks is PER LANGUAGE: a vocab
# trained on a mixed corpus over-fragments the minority languages
# (high tokens-per-word = more sequence positions per unit of text =
# less effective context and higher serving cost for those users).
# Re-attach the final vocabulary's piece counts to the corpus word
# stream by word and roll up by the document's language label. Scale
# shape: the corpus is touched once (the word explode); the join side
# is the Heaps-law-small vocabulary table keyed by word — AQE
# broadcasts it at test scale and a word-keyed shuffle join handles
# the 100 TB case; fertility is ONE division of two exact BIGINTs.

def _bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.ml.bpe import train_bpe

    t = load_tables(spark, sf_dir, ["documents"])
    _, vocab = train_bpe(t.documents, BPE_N_MERGES)
    seg = vocab.select(
        "w", F.size(F.split("syms", " ")).cast("long").alias("n_pieces")
    )
    words = (
        t.documents.select("lang", F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    return (
        words.join(seg, "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_tokens"),
            F.round(F.sum("n_pieces") / F.count(F.lit(1)), 6).alias("fertility"),
        )
        .orderBy("lang")
    )


_BPE_FERTILITY_BY_LANG_SQL = _bpe_cte(BPE_N_MERGES, final_vocab=True) + rf"""
, seg AS (
  SELECT w, CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_pieces
  FROM v{BPE_N_MERGES}
), words AS (
  SELECT lang, unnest(string_split_regex(text, '\s+')) AS w FROM documents
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(s.n_pieces) AS BIGINT) AS n_tokens,
       round(sum(s.n_pieces) * 1.0 / count(*), 6) AS fertility
FROM (SELECT lang, w FROM words WHERE w <> '') d
JOIN seg s ON s.w = d.w
GROUP BY d.lang
ORDER BY d.lang
"""


# --- Q: price_mad — median absolute deviation per group ---------------
# The robust scale estimate beside trimmed_price_stats' robust
# location: MAD = median(|x - median(x)|). Two passes over the same
# grouped data — medians first (tiny per-group table, broadcast back),
# then the deviation median. Exact interpolated percentile on both
# engines (percentile == quantile_cont), round-6 on output.

def _price_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["part"])
    med = t.part.groupBy("p_brand").agg(
        F.expr("percentile(p_retailprice, 0.5)").alias("med")
    )
    return (
        t.part.join(F.broadcast(med), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.round(F.first("med"), 6).alias("median_price"),
            F.round(
                F.expr("percentile(abs(p_retailprice - med), 0.5)"), 6
            ).alias("mad"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .orderBy("p_brand")
    )


_PRICE_MAD_SQL = """
WITH med AS (
  SELECT p_brand, quantile_cont(p_retailprice, 0.5) AS med
  FROM part GROUP BY p_brand
)
SELECT p.p_brand,
       round(any_value(m.med), 6) AS median_price,
       round(quantile_cont(abs(p.p_retailprice - m.med), 0.5), 6) AS mad,
       CAST(count(*) AS BIGINT) AS n_parts
FROM part p JOIN med m ON m.p_brand = p.p_brand
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


# --- Q: qty_width_buckets — equi-width histogram via width_bucket -----
# The ANSI width_bucket builtin (equi-WIDTH sibling of
# value_histogram's hand-rolled buckets and customer_deciles'
# equi-DEPTH ntile), one hash aggregate. DuckDB has no width_bucket,
# so the oracle spells the ANSI definition arithmetically (below-range
# -> 0, above-range -> n+1, else floor((v-lo)/w)+1) — quantities are
# integral doubles, so the bucket arithmetic is exact on both engines.

def _qty_width_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.registry.relational import money_sum

    t = load_tables(spark, sf_dir, ["lineitem"])
    bucket = F.width_bucket(F.col("l_quantity"), F.lit(1), F.lit(51), F.lit(10))
    return (
        t.lineitem.groupBy(bucket.cast("bigint").alias("qty_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money_sum("l_extendedprice").alias("revenue"),
        )
        .orderBy("qty_bucket")
    )


_QTY_WIDTH_BUCKETS_SQL = """
SELECT CAST(CASE WHEN l_quantity < 1 THEN 0
                 WHEN l_quantity >= 51 THEN 11
                 ELSE floor((l_quantity - 1) / 5.0) + 1 END AS BIGINT) AS qty_bucket,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY qty_bucket
ORDER BY qty_bucket
"""


# --- Q: sequence_packing — fixed-length training-sequence bins --------
# The GPT-style data-loader layout: documents concatenated in a
# deterministic (md5) order and cut into fixed-length sequences;
# report per-bin document counts, token mass and boundary-straddling
# docs. token_budget_pack's sibling: budget CAP there, fixed-length
# BINS here. The cumulative offset comes from the distributed prefix
# sum (never a global window); the bin arithmetic is exact integers.

SEQ_LEN = 512
SEQ_BIN_LIMIT = 200


def _sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import partitioned_running_total

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
    )
    packed = partitioned_running_total(docs, [F.col("__h")], "n_tok", "cum_tok")
    start = F.col("cum_tok") - F.col("n_tok")
    start_bin = F.floor(start / SEQ_LEN).cast("bigint")
    end_bin = F.floor((F.col("cum_tok") - 1) / SEQ_LEN).cast("bigint")
    return (
        packed.select(
            start_bin.alias("bin"),
            F.col("n_tok"),
            (end_bin > start_bin).cast("bigint").alias("straddles"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens_started"),
            F.sum("straddles").alias("n_straddling"),
        )
        .orderBy("bin")
        .limit(SEQ_BIN_LIMIT)
    )


_SEQUENCE_PACKING_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
packed AS (
  SELECT n_tok,
         sum(n_tok) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM docs
)
SELECT CAST((cum_tok - n_tok) // {SEQ_LEN} AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens_started,
       CAST(sum(CASE WHEN (cum_tok - 1) // {SEQ_LEN} > (cum_tok - n_tok) // {SEQ_LEN}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
FROM packed
GROUP BY bin
ORDER BY bin
LIMIT {SEQ_BIN_LIMIT}
"""


# --- Q: length_drift_ks — two-sample KS drift statistic ---------------
# Kolmogorov-Smirnov distance between the length distributions of two
# corpus slices (even vs odd doc_id standing in for two snapshots) —
# the data-drift gate a pipeline runs between crawls. Exact ECDFs from
# the (n_chars) histogram: the value domain is bounded (document
# lengths), so the cumulative window runs over the compact histogram,
# never the corpus (length_band_outliers' posture); slice totals
# derive from the histogram via attach_global_scalar. ECDF gaps are
# exact rationals evaluated identically in double on both engines.

LENGTH_DOMAIN_BOUND = 1_000_000  # distinct n_chars values; a domain, not data, axis


def _length_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    hist = (
        t.documents.groupBy(F.col("n_chars").alias("v"))
        .agg(
            F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("c0"),
            F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0)).alias("c1"),
        )
    )
    # explicit length-domain bound (semantic no-op): distinct n_chars
    # values are capped by maximum document length, not corpus size, so
    # the ECDF window is bounded by construction — the .limit() puts
    # that bound IN the plan for the lint, and the assert makes it loud
    # if the domain ever reached it (silent truncation would skew the
    # ECDF while n0/n1 still reflect the full histogram)
    hist = (
        attach_global_scalar(
            hist,
            F.sum("c0").alias("n0"),
            F.sum("c1").alias("n1"),
            F.count(F.lit(1)).cast("bigint").alias("__nbins"),
        )
        .where(
            F.assert_true(
                F.col("__nbins") < F.lit(LENGTH_DOMAIN_BOUND),
                F.lit("length_drift_ks: histogram reached the length-domain bound"),
            ).isNull()
        )
        .limit(LENGTH_DOMAIN_BOUND)
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "n0",
        "n1",
        F.sum("c0").over(w).alias("cum0"),
        F.sum("c1").over(w).alias("cum1"),
    )
    gap = F.abs(
        F.col("cum0").cast("double") / F.col("n0")
        - F.col("cum1").cast("double") / F.col("n1")
    )
    return cum.agg(
        F.round(F.max(gap), 6).alias("ks_stat"),
        F.first("n0").cast("bigint").alias("n_even"),
        F.first("n1").cast("bigint").alias("n_odd"),
    )


_LENGTH_DRIFT_KS_SQL = """
WITH hist AS (
  SELECT n_chars AS v,
         sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
  FROM documents
  GROUP BY v
),
tot AS (SELECT sum(c0) AS n0, sum(c1) AS n1 FROM hist),
cum AS (
  SELECT sum(c0) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0,
         sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1
  FROM hist
)
SELECT round(max(abs(CAST(cum0 AS DOUBLE) / t.n0 - CAST(cum1 AS DOUBLE) / t.n1)), 6) AS ks_stat,
       CAST(any_value(t.n0) AS BIGINT) AS n_even,
       CAST(any_value(t.n1) AS BIGINT) AS n_odd
FROM cum, tot t
GROUP BY t.n0, t.n1
"""


# --- Q: length_drift_psi — population stability index -----------------
# The banded drift sibling of length_drift_ks: PSI = sum over bands of
# (p - q) * ln(p / q), on the same even/odd snapshot split, with
# fixed-width length bands and add-one smoothing so empty bands stay
# finite. Band counts are one hash aggregate; shares are exact
# rationals; ln evaluated on identical doubles (round-6 absorbs the
# last ulp).

PSI_BAND = 50


def _length_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    band = (F.col("n_chars") - F.col("n_chars") % PSI_BAND).alias("band")
    hist = t.documents.groupBy(band).agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0)).alias("c1"),
    )
    hist = attach_global_scalar(
        hist,
        F.sum("c0").alias("n0"),
        F.sum("c1").alias("n1"),
        F.count(F.lit(1)).alias("k"),
    )
    # add-one smoothing: p = (c + 1) / (n + k)
    p = (F.col("c0") + 1).cast("double") / (F.col("n0") + F.col("k"))
    q = (F.col("c1") + 1).cast("double") / (F.col("n1") + F.col("k"))
    term = (p - q) * F.log(p / q)
    return hist.agg(
        F.round(F.sum(term), 6).alias("psi"),
        F.count(F.lit(1)).alias("n_bands"),
    )


_LENGTH_DRIFT_PSI_SQL = f"""
WITH hist AS (
  SELECT n_chars - n_chars % {PSI_BAND} AS band,
         sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
  FROM documents
  GROUP BY band
),
tot AS (SELECT sum(c0) AS n0, sum(c1) AS n1, count(*) AS k FROM hist)
SELECT round(sum(
         (CAST(c0 + 1 AS DOUBLE) / (t.n0 + t.k) - CAST(c1 + 1 AS DOUBLE) / (t.n1 + t.k))
         * ln((CAST(c0 + 1 AS DOUBLE) / (t.n0 + t.k)) / (CAST(c1 + 1 AS DOUBLE) / (t.n1 + t.k)))
       ), 6) AS psi,
       CAST(count(*) AS BIGINT) AS n_bands
FROM hist, tot t
GROUP BY t.n0, t.n1, t.k
"""


# --- Q: hits_copurchase — hubs & authorities, exact-integer rounds ----
# Kleinberg's HITS over the bipartite co-purchase graph (customer →
# part via orders ⋈ lineitem, distinct). The link-analysis pair to
# pagerank_docs: where PageRank needed round-6 to absorb ~1e-15
# float-summation noise (ADVICE r7 called it the least-engineered
# oracle), HITS is run WITHOUT per-round normalization so every
# hub/authority score stays a BIGINT sum of BIGINTs — integer-exact
# on both engines for all ROUNDS iterations — and the single L1
# division happens once at the end (round 6, ties broken by id on
# the exact integers). ROUNDS=3 keeps the worst-case magnitude
# (n·max_degᵗ) far inside BIGINT at every test SF. Each round joins
# ONE round-dependent relation against the static edge table (the
# CLAUDE.md linear-stats shape); the final authority table is pinned
# once via attach_global_scalar's checkpoint and the hub chain is
# built on top of it, so the 6-join chain executes once.

HITS_ROUNDS = 3
HITS_TOP_K = 20


def _hits_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    # the static edge table is consumed by every round's join (6+
    # consumers): ONE lazy localCheckpoint pins it (the pagerank /
    # one-materialization rule) — without it each checkpoint job
    # recomputed the orders⋈lineitem join + distinct (~4 full scans,
    # 17 shuffles / 106 MB at sf0.1), and exchange reuse cannot cross
    # the two attach_global_scalar checkpoint jobs.
    #
    # r14 attempted (and measured, and REJECTED) removing the per-round
    # edge exchanges by checkpointing one copy per join orientation
    # (hash(p)/hash(u)): with AQE OFF (the bench's tiny-input session)
    # LogicalRDD preserves the origin partitioning and the rounds plan
    # exchange-free (78.6 -> 36.9 MB, warm cpu -33% at sf0.1) — but
    # with AQE ON (every deployment-size session, and the SHUFFLE.md
    # audit session) localCheckpoint records UnknownPartitioning(0)
    # (an unexecuted AdaptiveSparkPlan has no final partitioning, and
    # this Spark version doesn't backfill it on eager execution
    # either), so every round re-shuffles the edges ANYWAY and the two
    # orientation exchanges become pure overhead: 82.5 -> 91.0 MB
    # measured. Explicit un-checkpointed repartition("p")/("u")
    # subtrees are not stage-reused across the round chain either
    # (90.1 MB measured). A win that exists only with AQE off is a
    # local-mode-only win; the r13 single-pin shape stays.
    edges = (
        t.orders.select("o_orderkey", "o_custkey")
        .join(
            t.lineitem.select("l_orderkey", "l_partkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = edges.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    for _ in range(HITS_ROUNDS - 1):
        h = edges.join(a, "p").groupBy("u").agg(F.sum("a").cast("bigint").alias("h"))
        a = edges.join(h, "u").groupBy("p").agg(F.sum("h").cast("bigint").alias("a"))
    auth = attach_global_scalar(a, F.sum("a").alias("norm"))
    h_last = (
        edges.join(auth.select("p", "a"), "p")
        .groupBy("u")
        .agg(F.sum("a").cast("bigint").alias("h"))
    )
    hubs = attach_global_scalar(h_last, F.sum("h").alias("norm"))
    top_auth = (
        auth.select(
            F.lit("authority").alias("role"),
            F.col("p").cast("bigint").alias("id"),
            F.round(F.col("a").cast("double") / F.col("norm"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), "id")
        .limit(HITS_TOP_K)
    )
    top_hubs = (
        hubs.select(
            F.lit("hub").alias("role"),
            F.col("u").cast("bigint").alias("id"),
            F.round(F.col("h").cast("double") / F.col("norm"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), "id")
        .limit(HITS_TOP_K)
    )
    return top_auth.unionAll(top_hubs).orderBy("role", F.col("score").desc(), "id")


def _hits_copurchase_sql() -> str:
    """Unrolled BIGINT hub/authority rounds mirroring the Spark chain
    exactly; the only division is the final L1 normalization."""
    ctes = [
        """edges AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), a1 AS MATERIALIZED (
  SELECT p, CAST(count(*) AS BIGINT) AS a FROM edges GROUP BY p
)"""
    ]
    for k in range(2, HITS_ROUNDS + 1):
        ctes.append(
            f"""h{k - 1} AS MATERIALIZED (
  SELECT u, CAST(sum(a) AS BIGINT) AS h FROM edges JOIN a{k - 1} USING (p) GROUP BY u
), a{k} AS MATERIALIZED (
  SELECT p, CAST(sum(h) AS BIGINT) AS a FROM edges JOIN h{k - 1} USING (u) GROUP BY p
)"""
        )
    last = HITS_ROUNDS
    return f"""
WITH {", ".join(ctes)},
h{last} AS MATERIALIZED (
  SELECT u, CAST(sum(a) AS BIGINT) AS h FROM edges JOIN a{last} USING (p) GROUP BY u
), an AS (
  SELECT CAST(sum(a) AS BIGINT) AS norm FROM a{last}
), hn AS (
  SELECT CAST(sum(h) AS BIGINT) AS norm FROM h{last}
)
SELECT * FROM (
  (SELECT 'authority' AS role, CAST(p AS BIGINT) AS id,
          round(CAST(a AS DOUBLE) / norm, 6) AS score
   FROM a{last} CROSS JOIN an
   ORDER BY score DESC, id LIMIT {HITS_TOP_K})
  UNION ALL
  (SELECT 'hub' AS role, CAST(u AS BIGINT) AS id,
          round(CAST(h AS DOUBLE) / norm, 6) AS score
   FROM h{last} CROSS JOIN hn
   ORDER BY score DESC, id LIMIT {HITS_TOP_K})
)
ORDER BY role, score DESC, id
"""


# --- Q: adamic_adar_links — co-purchase link prediction ----------------
# Adamic-Adar similarity over the customer projection of the bipartite
# co-purchase graph (Adamic & Adar 2003; the standard link-prediction
# baseline, Liben-Nowell & Kleinberg 2007): customers u,v score
# Σ_{p ∈ Γ(u)∩Γ(v)} 1/ln(deg(p)) — shared NICHE parts count, shared
# blockbusters barely do. Scale posture: the pair expansion is the
# classic Σ deg² blowup, so parts above AA_MAX_DEG are EXCLUDED (their
# 1/ln(deg) weight is the smallest in the graph and they connect
# everyone to everyone — the dropped mass is the least informative by
# the measure's own weighting; the stop-ITEM analog of TF-IDF's
# stop-word cut, and the same cap discipline as the banded near-dup
# tiers). The testdata degree distribution concentrates at 26–37 with
# max 53 across SFs, so 24 is a cap that BINDS (keeps the ~15% niche
# tail; a 64 cap kept everything and made the sf0.1 expansion 18.5M
# pairs / 37 s — measured, not guessed). The kept expansion is
# ≤ AA_MAX_DEG · |E_kept| rows, one equi-self-join on the part key —
# no cartesian, no window. Degrees and weights attach BEFORE the
# self-join so each side probes one broadcast-free shuffle; the head
# is TakeOrderedAndProject on the ROUNDED score (ties broken by the
# id pair).

AA_MAX_DEG = 24
AA_MIN_DEG = 2
AA_TOP = 50


def _adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    edges = (
        t.orders.select("o_orderkey", "o_custkey")
        .join(
            t.lineitem.select("l_orderkey", "l_partkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
        .distinct()
        # two consumers (degree aggregate + expansion probe): pin one
        # materialization of the orders⋈lineitem distinct (the
        # entity_kcore lesson — AQE re-executes shared exchanges)
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .filter((F.col("deg") >= AA_MIN_DEG) & (F.col("deg") <= AA_MAX_DEG))
    )
    kept = edges.join(deg, "p").select(
        "p", "u", (F.lit(1.0) / F.log(F.col("deg").cast("double"))).alias("wt")
    )
    a = kept.select("p", F.col("u").alias("u1"), "wt")
    b = kept.select("p", F.col("u").alias("u2"))
    return (
        a.join(b, "p")
        .filter(F.col("u1") < F.col("u2"))
        .groupBy("u1", "u2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.round(F.sum("wt"), 6).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "u1", "u2")
        .limit(AA_TOP)
    )


_ADAMIC_ADAR_LINKS_SQL = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
deg AS (
  SELECT p, CAST(count(*) AS BIGINT) AS deg
  FROM edges GROUP BY p
  HAVING count(*) >= {AA_MIN_DEG} AND count(*) <= {AA_MAX_DEG}
),
kept AS (
  SELECT e.p, e.u, 1.0 / ln(CAST(d.deg AS DOUBLE)) AS wt
  FROM edges e JOIN deg d USING (p)
)
SELECT a.u AS u1, b.u AS u2,
       CAST(count(*) AS BIGINT) AS n_common,
       round(sum(a.wt), 6) AS aa_score
FROM kept a JOIN kept b ON a.p = b.p AND a.u < b.u
GROUP BY a.u, b.u
ORDER BY aa_score DESC, u1, u2
LIMIT {AA_TOP}
"""


# --- Q: lpa_communities — synchronous label propagation ----------------
# Raghavan et al. 2007's near-linear community detection, the
# mode-of-neighbors counterpart to dedup_components' min-label
# closure: labels init to node ids and each SYNCHRONOUS round assigns
# every node the most frequent label among its neighbors, ties broken
# by the SMALLEST label — all exact-integer argmax decisions, so a
# fixed LPA_ROUNDS unroll is bit-reproducible on both engines (the
# pagerank_docs_exact posture, without even the 1e-15 float exposure).
# Each round derives the label table from ONE round-dependent relation
# joined to the STATIC edge table (the CLAUDE.md linear-stats shape —
# no compounding checkpoint trap); the edge table is checkpointed once
# and every round is edges ⋈ labels → (node, label) count → per-node
# first-row-of-sorted argmax.

LPA_ROUNDS = 3


def _lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from databeats_spark.operators.dedup import ngram_jaccard_pairs
    from databeats_spark.registry.documents import JACCARD_THRESHOLD, PAIR_DOC_LIMIT

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=JACCARD_THRESHOLD
    ).select("id_a", "id_b")
    edges = (
        pairs.union(
            pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        )
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .localCheckpoint(eager=False)
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ROUNDS):
        votes = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst"), F.col("label"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        # exact-integer argmax: max count, ties to the smallest label
        best = votes.groupBy("dst").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m")
        )
        labels = best.select(
            F.col("dst").alias("node"), (-F.col("m.neg")).cast("bigint").alias("label")
        )
    w = Window.partitionBy("label")
    return (
        labels.withColumn(
            "n_members", F.count(F.lit(1)).over(w).cast("bigint")
        )
        .select(F.col("node").alias("doc_id"), "label", "n_members")
        .orderBy("label", "doc_id")
    )


def _lpa_communities_sql() -> str:
    from databeats_spark.registry.documents import _PAIRS_CTES, JACCARD_THRESHOLD

    rounds = []
    for k in range(1, LPA_ROUNDS + 1):
        p = k - 1
        rounds.append(
            f"""v{k} AS MATERIALIZED (
  SELECT e.dst AS node, l.label, CAST(count(*) AS BIGINT) AS cnt
  FROM edges e JOIN l{p} l ON l.node = e.src
  GROUP BY 1, 2
), l{k} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
    FROM v{k}
  ) WHERE rn = 1
)"""
        )
    last = LPA_ROUNDS
    return f"""
WITH {_PAIRS_CTES},
qual AS (
  SELECT id_a, id_b
  FROM pairs
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.n + sb.n - common) >= {JACCARD_THRESHOLD}
), edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM qual
  UNION ALL
  SELECT id_b, id_a FROM qual
), l0 AS MATERIALIZED (
  SELECT src AS node, src AS label FROM (SELECT DISTINCT src FROM edges)
),
{", ".join(rounds)}
SELECT l.node AS doc_id, l.label,
       CAST(count(*) OVER (PARTITION BY l.label) AS BIGINT) AS n_members
FROM l{last} l
ORDER BY label, doc_id
"""


SPECS = [
    QuerySpec("hits_copurchase", "HITS hubs/authorities over the customer-part graph: exact-BIGINT rounds, one final L1 division", _hits_copurchase, _hits_copurchase_sql, tags=("graph", "join")),
    QuerySpec("lpa_communities", "synchronous label-propagation communities (Raghavan et al.): fixed exact-integer rounds vs an unrolled-CTE oracle", _lpa_communities, _lpa_communities_sql, tags=("graph", "join")),
    QuerySpec("adamic_adar_links", "Adamic-Adar link prediction over the co-purchase customer projection (degree-capped pair expansion)", _adamic_adar_links, _ADAMIC_ADAR_LINKS_SQL, tags=("graph", "join")),
    QuerySpec("bigram_pmi", "PMI collocation mining over adjacent word pairs", _bigram_pmi, _BIGRAM_PMI_SQL, tags=("text", "agg")),
    QuerySpec("vocab_growth", "Heaps-law vocabulary growth via first occurrence", _vocab_growth, _VOCAB_GROWTH_SQL, tags=("text", "agg")),
    QuerySpec("containment_pairs", "asymmetric n-gram containment pairs (quote/subset dedup)", _containment_pairs, _CONTAINMENT_PAIRS_SQL, tags=("text", "dedup")),
    QuerySpec("gopher_quality_flags", "rule-based quality gate pass rates per source", _gopher_quality_flags, _GOPHER_QUALITY_SQL, tags=("text", "agg")),
    QuerySpec("source_pareto", "token-budget concentration (Pareto) curve across sources", _source_pareto, _SOURCE_PARETO_SQL, tags=("text", "agg", "window")),
    QuerySpec("event_transitions", "event-type Markov transition matrix", _event_transitions, _EVENT_TRANSITIONS_SQL, tags=("events", "window")),
    QuerySpec("retention_cohorts", "weekly cohort retention triangle", _retention_cohorts, _RETENTION_COHORTS_SQL, tags=("events", "window")),
    QuerySpec("click_attribution", "in-window click->purchase attribution (streaming twin)", _click_attribution, _CLICK_ATTRIBUTION_SQL, tags=("events", "join")),
    QuerySpec("grouping_sets_mix", "explicit GROUPING SETS with grouping() flags", _grouping_sets_mix, _GROUPING_SETS_QUERY, tags=("agg",)),
    QuerySpec("weighted_sample", "deterministic weighted sampling (derandomized A-ES)", _weighted_sample, _WEIGHTED_SAMPLE_SQL, tags=("sampling",)),
    QuerySpec("trimmed_price_stats", "rank-trimmed robust group means", _trimmed_price_stats, _TRIMMED_PRICE_STATS_SQL, tags=("agg", "window")),
    QuerySpec("price_mad", "median absolute deviation (robust scale) per group", _price_mad, _PRICE_MAD_SQL, tags=("agg",)),
    QuerySpec("qty_width_buckets", "equi-width histogram via the ANSI width_bucket builtin", _qty_width_buckets, _QTY_WIDTH_BUCKETS_SQL, tags=("agg",)),
    QuerySpec("sequence_packing", "fixed-length training-sequence bin layout (GPT packing)", _sequence_packing, _SEQUENCE_PACKING_SQL, tags=("text", "sampling", "scale")),
    QuerySpec("length_drift_ks", "two-sample KS drift statistic from compact histograms", _length_drift_ks, _LENGTH_DRIFT_KS_SQL, tags=("text", "profiling", "agg")),
    QuerySpec("length_drift_psi", "population stability index with add-one smoothing", _length_drift_psi, _LENGTH_DRIFT_PSI_SQL, tags=("text", "profiling", "agg")),
    QuerySpec("incremental_corpus_dups", "near-dups of new docs vs a previous snapshot", _incremental_corpus_dups, _INCREMENTAL_CORPUS_DUPS_SQL, tags=("dedup", "text")),
    QuerySpec("bloom_incremental_dedup", "exact anti-join dedup behind a bloom prefilter: result-identical, bulk never joins", _bloom_incremental_dedup, _BLOOM_INCREMENTAL_DEDUP_SQL, tags=("dedup", "scale")),
    QuerySpec("pagerank_docs", "PageRank centrality over the near-dup graph", _pagerank_docs, None, tags=("graph", "approx")),
    QuerySpec("pagerank_docs_exact", "fixed-10-round PageRank vs an unrolled-CTE SQL power iteration", _pagerank_docs_exact, _pagerank_docs_exact_sql, tags=("graph",)),
    QuerySpec("value_outliers", "z-score anomalies from exact decimal moments", _value_outliers, _VALUE_OUTLIERS_SQL, tags=("events", "agg")),
    QuerySpec("funnel_stages", "ordered signup->view->click->purchase funnel", _funnel_stages, _FUNNEL_STAGES_SQL, tags=("events", "join", "agg")),
    QuerySpec("curation_funnel", "end-to-end curation pipeline stage counts", _curation_funnel, None, tags=("text", "dedup", "sampling", "pipeline")),
    QuerySpec("bpe_merges", "distributed BPE vocabulary training (first merge rules)", _bpe_merges, _BPE_MERGES_SQL, tags=("text", "ml", "pipeline")),
    QuerySpec("bpe_segmentation", "tokenizer-fertility histogram of the post-merge BPE vocabulary", _bpe_segmentation, _BPE_SEGMENTATION_SQL, tags=("text", "ml", "pipeline")),
    QuerySpec("bpe_fertility_by_lang", "tokenizer-fairness audit: tokens-per-word of the learned vocab per language", _bpe_fertility_by_lang, _BPE_FERTILITY_BY_LANG_SQL, tags=("text", "ml", "audit")),
]
