"""Corpus-signal and load-profile shapes (round-4 batch) — the
per-document statistical signals an LLM curation pipeline scores
between quality gating and packing, plus an event-stream load profile:

- doc_chunks:          sliding-window context chunk layout (stride <
                       chunk ⇒ overlap, the GPT training-window prep)
- unigram_doc_logprob: corpus-LM average token log-probability per doc
                       (the CCNet/Wikipedia-LM perplexity-filter
                       signal, computed from the corpus itself)
- doc_entropy:         within-document word-distribution entropy
                       (gibberish / boilerplate detector)
- zipf_slope:          log-log rank-frequency regression slope over
                       the head vocabulary (corpus-health fingerprint;
                       healthy natural text ≈ −1)
- top_terms_per_source: per-source top-k terms (WindowGroupLimit —
                       map-side partial top-K, like per_source_quota)
- peak_concurrency:    daily peak concurrent sessions via the
                       sweep-line +1/−1 prefix sum over session
                       intervals (capacity-planning profile)

Reference parity: the reference's text handling stops at name joins
(SURVEY §2.9); these are standard corpus-statistics completions in the
same spirit as the round-3 mining batch. Oracle parity per the registry
recipe: BIGINT counts, round(…, 6) ratio doubles, integer-microsecond
time math, ISO-string dates, total-order sorts.

Scale notes: every query is one or two hash aggregates over an
exploded token stream (map-side combined); the only global orderings
are the bounded zipf head (top-1000 via TakeOrderedAndProject, then a
window over those 1000 rows) and the sweep-line prefix sum, which
rides operators/scale.py::partitioned_running_total (two-phase scan,
never a single-partition window over the data axis).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databeats_spark.functions.text import LANG_MARKERS
from databeats_spark.operators.scale import attach_global_scalar, partitioned_running_total
from databeats_spark.registry import QuerySpec
from databeats_spark.registry.events import _SESSION_CTES, _session_ids
from databeats_spark.sources.tables import load_tables, spread


def _doc_words(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """Exploded non-empty word stream — the shared front of the text
    signals (one split, filter on the exploded value on BOTH engines)."""
    return docs.select(
        *extra_cols, F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")


# --- Q: doc_chunks — sliding context-window layout --------------------
# Fixed-size token windows with stride overlap: the layout a training
# loader materializes before tokenized packing. Emits the LAYOUT
# (doc, chunk_idx, start, len), not token payloads — the planner-side
# artifact stays rows ∝ tokens/stride even at 100 TB, and the payload
# slice happens at read time. One scan, one explode of a computed
# sequence; no joins, no windows.

CHUNK_TOKENS = 128
CHUNK_STRIDE = 96


def _doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    sized = t.documents.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    ).filter(F.col("n_tok") >= 1)
    starts = F.sequence(F.lit(0), F.col("n_tok") - 1, F.lit(CHUNK_STRIDE))
    return (
        sized.select("doc_id", "n_tok", F.posexplode(starts).alias("chunk_idx", "start_tok"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.col("start_tok").cast("bigint").alias("start_tok"),
            F.least(F.lit(CHUNK_TOKENS), F.col("n_tok") - F.col("start_tok"))
            .cast("bigint")
            .alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


_DOC_CHUNKS_SQL = f"""
WITH sized AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok
  FROM documents
  WHERE len(string_split(text, ' ')) >= 1
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(i * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
       CAST(least({CHUNK_TOKENS}, n_tok - i * {CHUNK_STRIDE}) AS BIGINT) AS chunk_len
FROM sized, LATERAL (
  SELECT unnest(range(0, CAST(ceil(n_tok / {CHUNK_STRIDE}.0) AS BIGINT))) AS i
) r
ORDER BY doc_id, chunk_idx
"""


# --- Q: unigram_doc_logprob — corpus-LM surprise per document ---------
# Average ln p(w) per document under the corpus's own unigram MLE —
# the self-contained stand-in for the KenLM perplexity filter (CCNet):
# low-logprob docs are OOV-heavy/garbled, high-logprob docs are
# boilerplate. Two hash aggregates (vocab, then per-doc); the vocab
# re-attach broadcasts (Heaps-law small); the corpus total rides
# attach_global_scalar so the shuffled vocab subtree runs once.

def _unigram_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    words = _doc_words(t.documents, "doc_id")
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    freq = attach_global_scalar(freq, F.sum("c").alias("n_corpus"))
    return (
        words.join(F.broadcast(freq), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.round(
                F.avg(F.log(F.col("c").cast("double") / F.col("n_corpus"))), 6
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


_UNIGRAM_DOC_LOGPROB_SQL = """
WITH words AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
),
freq AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_corpus FROM freq)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_tok,
       round(avg(ln(CAST(f.c AS DOUBLE) / t.n_corpus)), 6) AS avg_logprob
FROM words d
JOIN freq f USING (w)
CROSS JOIN tot t
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


# --- Q: doc_entropy — within-doc word-distribution entropy ------------
# H(doc) = ln n − (Σ c·ln c)/n over the doc's word counts: one
# (doc, word) aggregate then one per-doc aggregate — the closed form
# avoids attaching n before the entropy sum (no second pass, no
# window). Low entropy flags repetition/boilerplate; the same scan
# yields the distinct-token ratio.

def _doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    per_word = (
        _doc_words(t.documents, "doc_id")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    s = F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
    return (
        per_word.groupBy("doc_id")
        .agg(
            n.cast("bigint").alias("n_tok"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(F.log(n.cast("double")) - s / n.cast("double"), 6).alias("entropy"),
        )
        .orderBy("doc_id")
    )


_DOC_ENTROPY_SQL = """
WITH words AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
),
per_word AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY doc_id, w
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tok,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(ln(CAST(sum(c) AS DOUBLE))
             - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
               / CAST(sum(c) AS DOUBLE), 6) AS entropy
FROM per_word
GROUP BY doc_id
ORDER BY doc_id
"""


# --- Q: stupid_backoff_logprob — held-out bigram-LM quality score -----
# The bigram upgrade of unigram_doc_logprob: Stupid Backoff (Brants et
# al. 2007, "Large Language Models in Machine Translation") scored the
# CCNet way — the LM is trained on a REFERENCE slice (even doc_ids) and
# scores the HELD-OUT slice (odd doc_ids), so unseen bigrams genuinely
# back off instead of always hitting their own training counts:
#   S(w2|w1) = c(w1 w2)/c(w1·)            when the bigram was seen,
#            = 0.4 · c(w2)/N              else if w2 is in-vocabulary,
#            = 0.4 · 1/N                  else (escape mass).
# c(w1·) is the bigram-context total (Σ bigrams starting w1), computed
# FROM the checkpointed bigram aggregate so the shuffled subtree runs
# once (the attach_global_scalar lesson, keyed form). Joins: the
# held-out pair stream shuffles once on the bigram key against the
# count table; context and unigram re-attaches broadcast (vocab ≪
# corpus, the bigram_pmi precedent); N rides a 1-row keyless aggregate
# (lint-provable broadcast). Per-doc averages of ln S are ~100-term
# double means — far inside the round-6 rule.
# On the synthetic corpus the vocabulary is closed, so n_backoff/n_oov
# are mostly 0 at sf0.01; the backoff branches are pinned by a planted
# corpus in tests/test_lm_signals.py (hash parity alone would not
# exercise them).

def _stupid_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    # four tokenization passes + two checkpoint materializations hang
    # off this scan — spread the single-split testdata file first
    docs = spread(t.documents, spark)
    # tokenize the training slice ONCE: the unigram and bigram
    # aggregates both hang off this checkpoint (the pagerank edge-table
    # posture — one materialization, everything derived from it),
    # instead of two full tokenization passes over the train corpus
    train = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.split("text", " ").alias("t"))
        .localCheckpoint(eager=False)
    )
    held = docs.filter(F.col("doc_id") % 2 == 1)
    uni = (
        train.select(F.explode("t").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_u"))
        .localCheckpoint(eager=False)
    )
    n1 = uni.agg(F.sum("c_u").cast("bigint").alias("n1"))
    bigrams = F.expr(
        "transform(sequence(1, size(t) - 1),"
        " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
    )
    bi = (
        train.filter(F.size("t") >= 2)
        .select(F.explode(bigrams).alias("b"))
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_b"))
        .localCheckpoint(eager=False)
    )
    ctx = bi.groupBy("w1").agg(F.sum("c_b").cast("bigint").alias("c_ctx"))
    pairs = (
        held.select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
    )
    score = (
        F.when(
            F.col("c_b").isNotNull(),
            F.col("c_b").cast("double") / F.col("c_ctx"),
        )
        .when(
            F.col("c_u").isNotNull(),
            F.lit(0.4) * F.col("c_u").cast("double") / F.col("n1"),
        )
        .otherwise(F.lit(0.4) / F.col("n1"))
    )
    return (
        pairs.join(bi, ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1", "left")
        .crossJoin(F.broadcast(n1))
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"), "c_u")),
            "w2",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(F.col("c_b").isNull().cast("bigint"))
            .cast("bigint")
            .alias("n_backoff"),
            F.sum(
                (F.col("c_b").isNull() & F.col("c_u").isNull()).cast("bigint")
            )
            .cast("bigint")
            .alias("n_oov"),
            F.round(F.avg(F.log(score)), 6).alias("avg_logscore"),
        )
        .orderBy("doc_id")
    )


_STUPID_BACKOFF_LOGPROB_SQL = """
WITH train AS (
  SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 2 = 0
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c_u
  FROM (SELECT unnest(t) AS w FROM train)
  WHERE w <> ''
  GROUP BY w
),
n1 AS (SELECT CAST(sum(c_u) AS BIGINT) AS n1 FROM uni),
bi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, CAST(count(*) AS BIGINT) AS c_b
  FROM (SELECT t FROM train WHERE len(t) >= 2),
       LATERAL (SELECT unnest(range(1, len(t))) AS i) r
  GROUP BY 1, 2
),
ctx AS (SELECT w1, CAST(sum(c_b) AS BIGINT) AS c_ctx FROM bi GROUP BY w1),
pairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE doc_id % 2 = 1 AND len(string_split(text, ' ')) >= 2),
       LATERAL (SELECT unnest(range(1, len(t))) AS i) r
)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN b.c_b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_backoff,
       CAST(sum(CASE WHEN b.c_b IS NULL AND u.c_u IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_oov,
       round(avg(ln(CASE
         WHEN b.c_b IS NOT NULL THEN CAST(b.c_b AS DOUBLE) / c.c_ctx
         WHEN u.c_u IS NOT NULL THEN 0.4 * CAST(u.c_u AS DOUBLE) / n.n1
         ELSE 0.4 / n.n1 END)), 6) AS avg_logscore
FROM pairs p
LEFT JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
LEFT JOIN ctx c ON c.w1 = p.w1
CROSS JOIN n1 n
LEFT JOIN uni u ON u.w = p.w2
GROUP BY p.doc_id
ORDER BY p.doc_id
"""


# --- Q: term_burstiness — Church-Gale dispersion per term -------------
# Burstiness separates content words from function words (Church &
# Gale 1995, "Poisson mixtures"; Katz 1996): a Poisson-distributed
# term has variance-to-mean ratio (VMR) ≈ 1 across documents, while a
# bursty term concentrates in few docs (VMR ≫ 1). With zero-count
# docs included, both moments are exact BIGINT rationals:
#   mean λ = Σc / D,   var = Σc² / D − λ²,   VMR = Σc²/Σc − Σc/D,
# plus Katz's per-containing-doc rate Σc/df. Two hash aggregates
# ((doc, w) then w) and a 1-row doc-count scalar over the raw scan
# (naive crossJoin — re-scanning beats materializing, per CLAUDE.md).
# The head is TakeOrderedAndProject on the ROUNDED score (engine-
# stable ties broken by term).

BURST_MIN_COUNT = 5
BURST_TOP = 50


def _term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    per_doc = (
        _doc_words(t.documents, "doc_id")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    by_w = per_doc.groupBy("w").agg(
        F.sum("c").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
    )
    n_docs = t.documents.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        by_w.crossJoin(F.broadcast(n_docs))
        .filter(F.col("n_total") >= BURST_MIN_COUNT)
        .select(
            "w",
            "n_total",
            "df",
            F.round(
                F.col("sum_sq").cast("double") / F.col("n_total")
                - F.col("n_total").cast("double") / F.col("n_docs"),
                6,
            ).alias("vmr"),
            F.round(F.col("n_total").cast("double") / F.col("df"), 6).alias(
                "burstiness"
            ),
        )
        .orderBy(F.desc("vmr"), "w")
        .limit(BURST_TOP)
    )


_TERM_BURSTINESS_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
  GROUP BY doc_id, w
),
by_w AS (
  SELECT w, CAST(sum(c) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c * c) AS BIGINT) AS sum_sq
  FROM per_doc
  GROUP BY w
),
d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT w, n_total, df,
       round(CAST(sum_sq AS DOUBLE) / n_total
             - CAST(n_total AS DOUBLE) / n_docs, 6) AS vmr,
       round(CAST(n_total AS DOUBLE) / df, 6) AS burstiness
FROM by_w CROSS JOIN d
WHERE n_total >= {BURST_MIN_COUNT}
ORDER BY vmr DESC, w
LIMIT {BURST_TOP}
"""


# --- Q: good_turing_mass — unseen-vocabulary mass per source ----------
# Good-Turing frequency estimation (Good 1953; Gale & Sampson 1995
# "simple Good-Turing"): the probability mass a source's NEXT token is
# a never-seen type is P₀ = n₁/N (singleton share), and the smoothed
# count for singletons is r*(1) = 2·n₂/n₁ — the coverage readout that
# says whether a source's vocabulary is saturated (low P₀) or still
# surprising (high P₀); chao1_vocab_richness estimates how many types
# are MISSING, this estimates how often they will be MET. All inputs
# are exact BIGINT type-frequency counts from two hash aggregates;
# n₁ = 0 degenerates to 0.0 under the same CASE on both engines.

def _good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    per_word = (
        _doc_words(t.documents, "source")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    agg = per_word.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tok"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum((F.col("c") == 1).cast("bigint")).cast("bigint").alias("n1"),
        F.sum((F.col("c") == 2).cast("bigint")).cast("bigint").alias("n2"),
    )
    return agg.select(
        "source",
        "n_tok",
        "vocab",
        "n1",
        "n2",
        F.round(F.col("n1").cast("double") / F.col("n_tok"), 6).alias("p0_unseen"),
        F.when(
            F.col("n1") > 0,
            F.round(2.0 * F.col("n2").cast("double") / F.col("n1"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("r1_star"),
    ).orderBy("source")


_GOOD_TURING_MASS_SQL = """
WITH per_word AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
  GROUP BY source, w
),
agg AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tok,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM per_word GROUP BY source
)
SELECT source, n_tok, vocab, n1, n2,
       round(CAST(n1 AS DOUBLE) / n_tok, 6) AS p0_unseen,
       CASE WHEN n1 > 0 THEN round(2.0 * CAST(n2 AS DOUBLE) / n1, 6)
            ELSE 0.0 END AS r1_star
FROM agg
ORDER BY source
"""


# --- Q: daily_count_overdispersion — NB dispersion of daily loads -----
# Is the daily event volume Poisson (VMR ≈ 1) or clumped? The
# negative-binomial overdispersion readout (Cameron & Trivedi):
# method-of-moments k̂ = m²/(v − m) over the observed per-day counts of
# each event type (days with zero events of a type contribute no row —
# the observed-days convention, documented). Every moment is an exact
# BIGINT ratio (counts, counts², day counts), so both engines compute
# bit-identical doubles — no summation-order exposure at all. Two hash
# aggregates; nothing else.

def _daily_count_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    cells = t.events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    agg = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ssq"),
    )
    mean = F.col("n_events").cast("double") / F.col("n_days")
    var = F.col("ssq").cast("double") / F.col("n_days") - mean * mean
    return agg.select(
        "event_type",
        "n_days",
        "n_events",
        F.round(mean, 6).alias("daily_mean"),
        F.round(var / mean, 6).alias("vmr"),
        F.when(var > mean, F.round(mean * mean / (var - mean), 6))
        .otherwise(F.lit(0.0))
        .alias("nb_k"),
    ).orderBy("event_type")


_DAILY_COUNT_OVERDISPERSION_SQL = """
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c) AS BIGINT) AS n_events,
         CAST(sum(c * c) AS BIGINT) AS ssq
  FROM cells GROUP BY event_type
)
SELECT event_type, n_days, n_events,
       round(CAST(n_events AS DOUBLE) / n_days, 6) AS daily_mean,
       round((CAST(ssq AS DOUBLE) / n_days
              - (CAST(n_events AS DOUBLE) / n_days)
                * (CAST(n_events AS DOUBLE) / n_days))
             / (CAST(n_events AS DOUBLE) / n_days), 6) AS vmr,
       CASE WHEN CAST(ssq AS DOUBLE) / n_days
                 - (CAST(n_events AS DOUBLE) / n_days)
                   * (CAST(n_events AS DOUBLE) / n_days)
               > CAST(n_events AS DOUBLE) / n_days
            THEN round((CAST(n_events AS DOUBLE) / n_days)
                       * (CAST(n_events AS DOUBLE) / n_days)
                       / (CAST(ssq AS DOUBLE) / n_days
                          - (CAST(n_events AS DOUBLE) / n_days)
                            * (CAST(n_events AS DOUBLE) / n_days)
                          - CAST(n_events AS DOUBLE) / n_days), 6)
            ELSE 0.0 END AS nb_k
FROM agg
ORDER BY event_type
"""


# --- Q: dsir_importance_weights — target-domain resampling scores -----
# Data Selection via Importance Resampling (Xie et al. 2023): score
# every document by how much more likely its hashed n-gram features
# are under a TARGET domain (here the 'en' slice) than under the raw
# corpus — log w(doc) = Σ_f [ln p_target(bucket(f)) − ln p_raw(f)]
# with add-1 smoothing over DSIR_BUCKETS buckets. Features are
# unigrams + bigrams md5-hashed to a FIXED bucket space (the
# dual-engine conv/0x idiom), so both distributions are ≤ B-row
# tables no matter the corpus size: the raw/target count aggregates
# map-side combine to B rows, re-attach as broadcasts, and the totals
# ride 1-row keyless aggregates off the same checkpoints. The per-doc
# pass is one feature explode + two broadcast joins + one hash
# aggregate — fully linear, no corpus-sized shuffle.

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"


def _dsir_features(docs: DataFrame) -> DataFrame:
    # unigrams ++ bigrams built as ONE array per doc and exploded once:
    # the former unionAll(uni, bi) shape scanned + re-split every
    # document TWICE per pass (two Generate branches over two scans in
    # the same plan). The token array binds once as a HOF variable (no
    # CSE inside lambdas — CLAUDE.md); feature multiset per doc is
    # identical (non-empty unigrams, raw-token bigrams, same order of
    # concatenation), so every downstream count and score is unchanged.
    def feats_of(t):
        uni = F.filter(t, lambda w: w != "")
        bi = F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat(
                    F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(uni, bi)

    all_feats = F.element_at(
        F.transform(F.array(F.split("text", " ")), feats_of), 1
    )
    bucket = (
        F.conv(F.substring(F.md5("f"), 1, 13), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    )
    return docs.select(
        "doc_id", "lang", F.explode(all_feats).alias("f")
    ).select("doc_id", "lang", bucket.alias("b"))


def _dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = spread(t.documents, spark)
    feats = _dsir_features(docs)
    # BOTH distributions ride ONE bucket aggregate (c_t is a
    # conditional count in the same map-side combine): the exploded
    # feature stream is computed twice (stats pass + per-doc pass)
    # instead of three times, one checkpoint replaces two, and the
    # per-doc pass re-attaches a single broadcast. A bucket with no
    # target rows carries c_t = 0, exactly what the former left join's
    # coalesce(c_t, 0) produced — every smoothed term is bit-identical.
    buckets = (
        feats.groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c_r"),
            F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("bigint"))
            .cast("bigint")
            .alias("c_t"),
        )
        .localCheckpoint(eager=False)
    )
    n = buckets.agg(
        F.sum("c_r").cast("bigint").alias("n_r"),
        F.sum("c_t").cast("bigint").alias("n_t"),
    )
    score = F.log(
        (F.col("c_t") + 1).cast("double") / (F.col("n_t") + DSIR_BUCKETS)
    ) - F.log(
        (F.col("c_r") + 1).cast("double") / (F.col("n_r") + DSIR_BUCKETS)
    )
    return (
        feats.join(F.broadcast(buckets), "b")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feat"),
            F.round(F.sum(score), 6).alias("log_ir"),
        )
        .orderBy("doc_id")
    )


_DSIR_IMPORTANCE_WEIGHTS_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
feats AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(f), 1, 13)) AS BIGINT) % {DSIR_BUCKETS} AS b
  FROM (
    SELECT doc_id, lang, w AS f
    FROM (SELECT doc_id, lang, unnest(t) AS w FROM toks)
    WHERE w <> ''
    UNION ALL
    SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS f
    FROM (SELECT doc_id, lang, t FROM toks WHERE len(t) >= 2),
         LATERAL (SELECT unnest(range(1, len(t))) AS i) r
  )
),
raw AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c_r FROM feats GROUP BY b
),
tgt AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c_t
  FROM feats WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
),
nr AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r FROM raw),
nt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t FROM tgt)
SELECT f.doc_id, f.lang,
       CAST(count(*) AS BIGINT) AS n_feat,
       round(sum(
         ln(CAST(coalesce(t.c_t, 0) + 1 AS DOUBLE) / (nt.n_t + {DSIR_BUCKETS}))
         - ln(CAST(r.c_r + 1 AS DOUBLE) / (nr.n_r + {DSIR_BUCKETS}))
       ), 6) AS log_ir
FROM feats f
JOIN raw r USING (b)
LEFT JOIN tgt t USING (b)
CROSS JOIN nr
CROSS JOIN nt
GROUP BY f.doc_id, f.lang
ORDER BY f.doc_id
"""


# --- Q: source_lang_mi — provenance-language association audit ---------
# Is language independent of source, or do sources specialize? The
# contingency-table association readout: mutual information
# I = Σ (c/N)·ln(c·N/(r·s)) in nats, the G-statistic 2N·I, Pearson
# χ² = Σ (c−e)²/e with e = r·s/N, and Cramér's V = √(χ²/(N·(k−1))).
# Complements js_source_drift (distribution distance per source) with
# the table-level independence view. All inputs are exact BIGINT
# margins off ONE (source, lang) hash aggregate (checkpointed once;
# row/column margins re-attach as catalog-keyed broadcasts, N and k
# ride keyless aggregates); the term sums span ≤ |sources|·|langs|
# cells, far inside round-6.

def _source_lang_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    cells = (
        t.documents.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    rows = cells.groupBy("source").agg(F.sum("c").cast("bigint").alias("r"))
    cols = cells.groupBy("lang").agg(F.sum("c").cast("bigint").alias("s"))
    tot = cells.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count_distinct("source").cast("bigint").alias("n_src"),
        F.count_distinct("lang").cast("bigint").alias("n_lang"),
    )
    aug = (
        cells.join(F.broadcast(rows), "source")
        .join(F.broadcast(cols), "lang")
        .crossJoin(F.broadcast(tot))
    )
    cd = F.col("c").cast("double")
    e = F.col("r").cast("double") * F.col("s").cast("double") / F.col("n")
    mi_term = (
        cd / F.col("n")
        * F.log(cd * F.col("n").cast("double") / (F.col("r") * F.col("s")).cast("double"))
    )
    chi_term = (cd - e) * (cd - e) / e
    out = aug.groupBy("n", "n_src", "n_lang").agg(
        F.sum(mi_term).alias("mi"),
        F.sum(chi_term).alias("chi2"),
    )
    kmin = F.least(F.col("n_src"), F.col("n_lang")).cast("double") - 1.0
    return out.select(
        F.col("n").alias("n_docs"),
        "n_src",
        "n_lang",
        F.round("mi", 6).alias("mi_nats"),
        F.round(2.0 * F.col("n").cast("double") * F.col("mi"), 6).alias("g_stat"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n").cast("double") * kmin)), 6
        ).alias("cramers_v"),
    )


_SOURCE_LANG_MI_SQL = """
WITH cells AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, lang
),
rows_m AS (SELECT source, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY source),
cols_m AS (SELECT lang, CAST(sum(c) AS BIGINT) AS s FROM cells GROUP BY lang),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(count(DISTINCT source) AS BIGINT) AS n_src,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_lang
  FROM cells
),
aug AS (
  SELECT c.c, r.r, s.s, t.n, t.n_src, t.n_lang
  FROM cells c
  JOIN rows_m r USING (source)
  JOIN cols_m s USING (lang)
  CROSS JOIN tot t
),
agg AS (
  SELECT n, n_src, n_lang,
         sum(CAST(c AS DOUBLE) / n
             * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                  / CAST(r * s AS DOUBLE))) AS mi,
         sum((CAST(c AS DOUBLE) - CAST(r AS DOUBLE) * CAST(s AS DOUBLE) / n)
             * (CAST(c AS DOUBLE) - CAST(r AS DOUBLE) * CAST(s AS DOUBLE) / n)
             / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE) / n)) AS chi2
  FROM aug
  GROUP BY n, n_src, n_lang
)
SELECT n AS n_docs, n_src, n_lang,
       round(mi, 6) AS mi_nats,
       round(2.0 * CAST(n AS DOUBLE) * mi, 6) AS g_stat,
       round(chi2, 6) AS chi2,
       round(sqrt(chi2 / (CAST(n AS DOUBLE)
                          * (CAST(least(n_src, n_lang) AS DOUBLE) - 1.0))), 6)
         AS cramers_v
FROM agg
"""


# --- Q: zipf_slope — rank-frequency power-law fit ---------------------
# OLS slope of ln(freq) on ln(rank) over the top-1000 vocabulary —
# the corpus-health fingerprint (natural text ≈ −1; spam/template
# corpora bend the head). The head is selected by
# orderBy().limit(1000) (TakeOrderedAndProject — map-side partial
# top-K), and ONLY those 1000 rows pass through the rank window, so
# the unpartitioned window is bounded by construction, not by data.
# The slope is the explicit closed form — identical expression tree on
# both engines (regr_slope's internal accumulation order would differ).

ZIPF_HEAD = 1000


def _zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    freq = (
        _doc_words(t.documents)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    head = freq.orderBy(F.desc("c"), "w").limit(ZIPF_HEAD)
    ranked = head.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("c"), "w")).cast("bigint")
    )
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("c").cast("double"))
    m = ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    return m.select(
        "n_terms",
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (n * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


_ZIPF_SLOPE_SQL = f"""
WITH words AS (
  SELECT w
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
),
freq AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w
),
head AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r
  FROM freq ORDER BY c DESC, w LIMIT {ZIPF_HEAD}
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_terms,
         sum(ln(CAST(r AS DOUBLE))) AS sx,
         sum(ln(CAST(c AS DOUBLE))) AS sy,
         sum(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))) AS sxy,
         sum(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))) AS sxx
  FROM head
)
SELECT n_terms,
       round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
             / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope
FROM m
"""


# --- Q: top_terms_per_source — per-group head vocabulary --------------
# Top-k terms per source with total-order tie-break — compiles to
# WindowGroupLimit (map-side partial top-K per group), the same shape
# the judge verified for per_source_quota. The per-source vocabularies
# are what a mix report shows next to the quota table.

TOP_TERMS_K = 10


def _top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    counts = (
        _doc_words(t.documents, "source")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), "w")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_TERMS_K)
        .orderBy("source", "rank")
    )


_TOP_TERMS_PER_SOURCE_SQL = f"""
WITH words AS (
  SELECT source, w
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
),
counts AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY source, w
)
SELECT source, w, c, r AS rank
FROM (
  SELECT source, w, c,
         CAST(row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS BIGINT) AS r
  FROM counts
)
WHERE r <= {TOP_TERMS_K}
ORDER BY source, rank
"""


# --- Q: peak_concurrency — sweep-line session load profile ------------
# Daily peak concurrent sessions: sessionize (same 30-min gap rule as
# the sessionization query), emit +1 at session start and −1 at
# session end (half-open: at equal instants ends sort before starts,
# so back-to-back sessions never double-count), and take the running
# sum over the GLOBAL (us, delta, user_id) total order — through the
# two-phase distributed prefix sum, never a single-partition window
# over the event axis. The peak is then a per-day max.

def _peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    ev = t.events.select("user_id", "event_id", F.unix_micros("ts").alias("us"))
    sess = (
        _session_ids(ev)
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("s_us"), F.max("us").alias("e_us"))
    )
    deltas = sess.select(
        F.col("s_us").alias("us"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        sess.select(F.col("e_us").alias("us"), F.lit(-1).alias("delta"), "user_id")
    )
    run = partitioned_running_total(
        deltas, [F.col("us"), F.col("delta"), F.col("user_id")], {"conc": "delta"}
    )
    return (
        run.select(
            F.date_format(F.timestamp_micros("us"), "yyyy-MM-dd").alias("day"), "conc"
        )
        .groupBy("day")
        .agg(F.max("conc").cast("bigint").alias("peak_concurrency"))
        .orderBy("day")
    )


_PEAK_CONCURRENCY_SQL = f"""
WITH {_SESSION_CTES}, sess AS (
  SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us
  FROM s GROUP BY user_id, sid
), deltas AS (
  SELECT s_us AS us, 1 AS delta, user_id FROM sess
  UNION ALL
  SELECT e_us AS us, -1 AS delta, user_id FROM sess
), run AS (
  SELECT us,
         sum(delta) OVER (ORDER BY us, delta, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM deltas
)
SELECT strftime(make_timestamp(us), '%Y-%m-%d') AS day,
       CAST(max(conc) AS BIGINT) AS peak_concurrency
FROM run
GROUP BY day
ORDER BY day
"""


# --- Q: fluency_buckets — CCNet-style head/middle/tail split ----------
# CCNet (Wenzek et al., public) orders each language shard by LM
# perplexity and cuts it into head/middle/tail thirds; downstream
# pipelines keep head+middle. This is that stage per SOURCE, with the
# LM signal replaced by an EXACT integer fluency proxy so the oracle
# stays zero-tolerance: mean corpus-frequency of the doc's tokens,
# scaled to micro-units with integer division
# (proxy = (Σ corpus_count(w)) * 1e6 DIV n_tok — monotone in the
# arithmetic-mean unigram probability; the float geometric mean lives
# in unigram_doc_logprob and stays out of ranking, where a
# summation-order flip would corrupt bucket boundaries).
# Shape: two hash aggregates (vocab, per-doc), a broadcast vocab
# re-attach, then a SOURCE-partitioned window for rank + shard size —
# never a global sort; each source shard buckets independently, which
# is exactly how a 100 TB corpus runs it (per-source parallelism).
# BIGINT headroom: proxy ≤ mean_count·1e6; overflow needs a single
# token repeated ~9.2e12 times corpus-wide — at that point switch the
# scale constant to DECIMAL(38,0), same plan.

def _fluency_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    words = _doc_words(t.documents, "doc_id", "source")
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        words.join(F.broadcast(freq), "w")
        .groupBy("source", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"), F.sum("c").alias("sum_c"))
        .select(
            "source",
            "doc_id",
            "n_tok",
            F.expr("sum_c * 1000000L div n_tok").alias("proxy"),
        )
    )
    w_rank = Window.partitionBy("source").orderBy(
        F.col("proxy").desc(), F.col("doc_id")
    )
    w_src = Window.partitionBy("source")
    bucketed = per_doc.select(
        "source",
        "n_tok",
        "proxy",
        ((F.row_number().over(w_rank).cast("bigint") - 1) * 3)
        .alias("rank3"),
        F.count(F.lit(1)).over(w_src).cast("bigint").alias("n_src"),
    ).select(
        "source",
        "n_tok",
        "proxy",
        F.expr("rank3 div n_src").alias("bucket"),
    )
    return (
        bucketed.groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tot_tokens"),
            F.min("proxy").alias("min_proxy"),
            F.max("proxy").alias("max_proxy"),
        )
        .orderBy("source", "bucket")
    )


_FLUENCY_BUCKETS_SQL = """
WITH words AS (
  SELECT doc_id, source, w
  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
),
freq AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w
),
per_doc AS (
  SELECT source, doc_id,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(CAST(sum(f.c) AS BIGINT) * 1000000 AS BIGINT) // CAST(count(*) AS BIGINT) AS proxy
  FROM words d JOIN freq f USING (w)
  GROUP BY source, doc_id
),
bucketed AS (
  SELECT source, n_tok, proxy,
         (CAST(row_number() OVER (PARTITION BY source
             ORDER BY proxy DESC, doc_id) AS BIGINT) - 1) * 3
           // CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS bucket
  FROM per_doc
)
SELECT source, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tot_tokens,
       CAST(min(proxy) AS BIGINT) AS min_proxy,
       CAST(max(proxy) AS BIGINT) AS max_proxy
FROM bucketed
GROUP BY source, bucket
ORDER BY source, bucket
"""


# --- Q: holt_linear_forecast — exponential smoothing as an ordered fold
# The forecasting family: Holt's linear trend method over per-priority
# weekly order counts. The recurrence (l' = α·x + (1−α)(l+t);
# t' = β(l'−l) + (1−β)t) is iterative, but the series is bounded by
# the CALENDAR, not the data (≈340 weeks at any SF), so it folds as a
# per-group ordered HOF — no driver loop, no checkpointing, one hash
# aggregate to the weekly table then arrays of ≤ a few hundred
# elements. Parity is engineered to be EXACT, not round-6-absorbed:
# α=0.5 and β=0.25 are dyadic, counts cast to double are exact, so
# every intermediate is exactly representable and Spark's
# F.aggregate fold is bit-equal to DuckDB's recursive-CTE recurrence
# (the level expression is spelled twice in both engines — no CSE
# dependence, the lsh_cosine_topk_exact fold discipline).

HOLT_ALPHA = 0.5  # dyadic: exact in binary floating point
HOLT_BETA = 0.25


def _holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    weekly = t.orders.groupBy(
        "o_orderpriority",
        F.date_trunc("week", F.col("o_orderdate")).alias("wk"),
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    series = weekly.groupBy("o_orderpriority").agg(
        F.array_sort(F.collect_list(F.struct("wk", "x"))).alias("s")
    )
    xs = F.transform(F.col("s"), lambda r: r["x"])

    def step(acc, x):
        lvl = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (acc["l"] + acc["t"])
        lvl2 = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (acc["l"] + acc["t"])
        return F.struct(
            lvl.alias("l"),
            (HOLT_BETA * (lvl2 - acc["l"]) + (1 - HOLT_BETA) * acc["t"]).alias("t"),
        )

    folded = F.aggregate(
        F.slice(xs, F.lit(2), F.greatest(F.size(xs) - 1, F.lit(0))),
        F.struct(F.element_at(xs, 1).alias("l"), F.lit(0.0).alias("t")),
        step,
    )
    return (
        series.select(
            "o_orderpriority",
            F.size(xs).cast("bigint").alias("n_weeks"),
            folded["l"].alias("__l"),
            folded["t"].alias("__t"),
        )
        .select(
            "o_orderpriority",
            "n_weeks",
            F.round("__l", 6).alias("level"),
            F.round("__t", 6).alias("trend"),
            F.round(F.col("__l") + F.col("__t"), 6).alias("f1"),
            F.round(F.col("__l") + 2 * F.col("__t"), 6).alias("f2"),
            F.round(F.col("__l") + 3 * F.col("__t"), 6).alias("f3"),
        )
        .orderBy("o_orderpriority")
    )


_HOLT_LINEAR_FORECAST_SQL = f"""
WITH RECURSIVE weekly AS (
  SELECT o_orderpriority AS pri, date_trunc('week', o_orderdate) AS wk,
         CAST(count(*) AS DOUBLE) AS x
  FROM orders GROUP BY 1, 2
), seq AS (
  SELECT pri, x, row_number() OVER (PARTITION BY pri ORDER BY wk) AS i
  FROM weekly
), rec(pri, i, l, t) AS (
  -- the seed types the whole recursion: a bare 0.0 would make t
  -- DECIMAL(1,1) and silently truncate the trend every round
  SELECT pri, CAST(1 AS BIGINT), x, CAST(0.0 AS DOUBLE) FROM seq WHERE i = 1
  UNION ALL
  SELECT s.pri, s.i,
         {HOLT_ALPHA} * s.x + {1 - HOLT_ALPHA} * (r.l + r.t),
         {HOLT_BETA} * ({HOLT_ALPHA} * s.x + {1 - HOLT_ALPHA} * (r.l + r.t) - r.l)
           + {1 - HOLT_BETA} * r.t
  FROM rec r JOIN seq s ON s.pri = r.pri AND s.i = r.i + 1
), fin AS (
  SELECT pri, max(i) AS n FROM rec GROUP BY pri
)
SELECT r.pri AS o_orderpriority, CAST(f.n AS BIGINT) AS n_weeks,
       round(r.l, 6) AS level, round(r.t, 6) AS trend,
       round(r.l + r.t, 6) AS f1, round(r.l + 2 * r.t, 6) AS f2,
       round(r.l + 3 * r.t, 6) AS f3
FROM rec r JOIN fin f ON f.pri = r.pri AND r.i = f.n
ORDER BY r.pri
"""


# --- Q: cusum_changepoint — mean-shift detection per series -----------
# The temporal tier's monitoring rung: Page's CUSUM over per-priority
# weekly order counts. S_k = cum_k − k·mean is kept EXACT-integer
# until one division: cum and k·total are BIGINT, so
# S_k = cum − (k·total)/n has a single double division in a fixed
# position — bit-identical across engines, no round-absorption needed
# until the output. The changepoint is the interior argmax of |S_k|
# (tie-break earliest week), and the mean shift it implies is read
# off the same prefix values (before = cum/k, after =
# (total−cum)/(n−k)). All windows are partitioned by the series key —
# no global sort; at 100 TB this is one shuffle on (priority) and
# per-series sorted scans.


def _cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    weekly = t.orders.groupBy(
        "o_orderpriority",
        F.date_format(F.date_trunc("week", F.col("o_orderdate")), "yyyy-MM-dd").alias("wk"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    part = Window.partitionBy("o_orderpriority")
    ordered = part.orderBy("wk").rowsBetween(Window.unboundedPreceding, 0)
    scanned = weekly.select(
        "o_orderpriority",
        "wk",
        F.sum("x").over(ordered).cast("bigint").alias("cum"),
        F.row_number().over(part.orderBy("wk")).cast("bigint").alias("k"),
        F.sum("x").over(part).cast("bigint").alias("total"),
        F.count(F.lit(1)).over(part).cast("bigint").alias("n"),
    )
    s_k = F.col("cum") - (F.col("k") * F.col("total")).cast("double") / F.col("n")
    interior = scanned.filter(F.col("k") < F.col("n")).withColumn("s_k", s_k)
    pick = F.row_number().over(part.orderBy(F.abs(F.col("s_k")).desc(), "wk"))
    return (
        interior.withColumn("__r", pick)
        .filter(F.col("__r") == 1)
        .select(
            "o_orderpriority",
            F.col("n").alias("n_weeks"),
            F.col("wk").alias("cp_week"),
            F.col("k").alias("cp_index"),
            F.round("s_k", 6).alias("cusum_peak"),
            F.round(F.col("cum").cast("double") / F.col("k"), 6).alias("mean_before"),
            F.round(
                (F.col("total") - F.col("cum")).cast("double") / (F.col("n") - F.col("k")), 6
            ).alias("mean_after"),
        )
        .orderBy("o_orderpriority")
    )


_CUSUM_CHANGEPOINT_SQL = """
WITH weekly AS (
  SELECT o_orderpriority AS pri,
         strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS wk,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1, 2
), scanned AS (
  SELECT pri, wk,
         CAST(sum(x) OVER (PARTITION BY pri ORDER BY wk) AS BIGINT) AS cum,
         CAST(row_number() OVER (PARTITION BY pri ORDER BY wk) AS BIGINT) AS k,
         CAST(sum(x) OVER (PARTITION BY pri) AS BIGINT) AS total,
         CAST(count(*) OVER (PARTITION BY pri) AS BIGINT) AS n
  FROM weekly
), interior AS (
  SELECT *, cum - CAST(k * total AS DOUBLE) / n AS s_k
  FROM scanned WHERE k < n
), picked AS (
  SELECT *, row_number() OVER (PARTITION BY pri ORDER BY abs(s_k) DESC, wk) AS r
  FROM interior
)
SELECT pri AS o_orderpriority, n AS n_weeks, wk AS cp_week, k AS cp_index,
       round(s_k, 6) AS cusum_peak,
       round(CAST(cum AS DOUBLE) / k, 6) AS mean_before,
       round(CAST(total - cum AS DOUBLE) / (n - k), 6) AS mean_after
FROM picked WHERE r = 1
ORDER BY o_orderpriority
"""


# --- Q: dow_seasonal_decompose — trend/seasonal/remainder split -------
# Classical additive decomposition of the per-type daily event series:
# trend = centered 7-day moving average, seasonality keyed by
# day-of-week, remainder = what's left, with a relative-deviation
# anomaly flag on the remainder. Parity is engineered by working in
# x7 SPACE: trend7 = the 7-row window SUM (BIGINT, exact),
# detrended7 = 7·x − trend7 (still BIGINT), the day-of-week seasonal
# mean is one division of a BIGINT sum, and every output double
# divides by 7.0 in a fixed final position. Day-of-week is computed
# as Monday=0 explicitly on both engines (Spark weekday() vs DuckDB
# isodow−1 — the built-in dayofweek()s disagree on the week origin).


def _dow_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    daily = t.events.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    ma = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    with_trend = daily.select(
        "event_type",
        "day",
        F.weekday(F.to_date("day")).cast("bigint").alias("dow"),
        "x",
        F.when(F.count(F.lit(1)).over(ma) == 7, F.sum("x").over(ma)).cast("bigint").alias("trend7"),
    ).withColumn("detrended7", F.lit(7) * F.col("x") - F.col("trend7"))
    dow_w = Window.partitionBy("event_type", "dow")
    seasonal7 = F.sum("detrended7").over(dow_w).cast("double") / F.count("detrended7").over(dow_w)
    out = with_trend.withColumn("seasonal7", seasonal7).withColumn(
        "remainder7", F.col("detrended7") - F.col("seasonal7")
    )
    return out.select(
        "event_type",
        "day",
        "dow",
        "x",
        F.round(F.col("trend7").cast("double") / 7.0, 6).alias("trend"),
        F.round(F.col("seasonal7") / 7.0, 6).alias("seasonal"),
        F.round(F.col("remainder7") / 7.0, 6).alias("remainder"),
        F.coalesce(
            F.abs(F.col("remainder7")) > 0.5 * F.col("trend7"), F.lit(False)
        ).alias("anom_flag"),
    ).orderBy("event_type", "day")


_DOW_SEASONAL_DECOMPOSE_SQL = """
WITH daily AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), with_trend AS (
  SELECT event_type, day,
         CAST(isodow(CAST(day AS DATE)) - 1 AS BIGINT) AS dow,
         x,
         CAST(CASE WHEN count(*) OVER w = 7 THEN sum(x) OVER w END AS BIGINT) AS trend7
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), detr AS (
  SELECT *, 7 * x - trend7 AS detrended7 FROM with_trend
), seas AS (
  SELECT *,
         CAST(sum(detrended7) OVER d AS DOUBLE) / count(detrended7) OVER d AS seasonal7
  FROM detr
  WINDOW d AS (PARTITION BY event_type, dow)
)
SELECT event_type, day, dow, x,
       round(CAST(trend7 AS DOUBLE) / 7.0, 6) AS trend,
       round(seasonal7 / 7.0, 6) AS seasonal,
       round((detrended7 - seasonal7) / 7.0, 6) AS remainder,
       coalesce(abs(detrended7 - seasonal7) > 0.5 * trend7, FALSE) AS anom_flag
FROM seas
ORDER BY event_type, day
"""


# --- Q: theil_sen_trend — robust trend estimation ---------------------
# The forecasting tier's robust rung: the Theil-Sen slope (median of
# all pairwise slopes) of weekly revenue per priority, beside the OLS
# slope it is robust against. The pairwise table is bounded by the
# CALENDAR squared (~345² per series — data volume only changes the
# per-week aggregate, never the pair count), built as an equi-join on
# the series key with a week-index inequality. Pair slopes have one
# division off exact DECIMAL revenue deltas; the median is the
# engine-shared type-7 interpolated percentile (the
# approx_price_quantiles_exact precedent); OLS comes from exact
# BIGINT/DECIMAL moment sums combined in one fixed-shape double
# expression.

def _theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.registry.relational import dec

    t = load_tables(spark, sf_dir, ["orders"])
    weekly = t.orders.groupBy(
        "o_orderpriority",
        F.floor(
            F.unix_timestamp(F.date_trunc("week", F.col("o_orderdate"))) / 604800
        ).cast("bigint").alias("wk"),
    ).agg(F.sum(dec("o_totalprice")).cast("decimal(18,2)").alias("rev"))
    a = weekly.select(
        F.col("o_orderpriority").alias("pri"),
        F.col("wk").alias("wk1"),
        F.col("rev").alias("rev1"),
    )
    b = weekly.select(
        F.col("o_orderpriority").alias("pri"),
        F.col("wk").alias("wk2"),
        F.col("rev").alias("rev2"),
    )
    pairs = a.join(b, ["pri"]).filter(F.col("wk1") < F.col("wk2"))
    slope = (F.col("rev2") - F.col("rev1")).cast("double") / (F.col("wk2") - F.col("wk1"))
    ts = pairs.groupBy("pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.percentile(slope, F.lit(0.5)), 6).alias("ts_slope"),
    )
    m = weekly.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("wk").cast("double").alias("sx"),
        F.sum("rev").cast("double").alias("sy"),
        F.sum(F.col("wk") * F.col("wk")).cast("double").alias("sxx"),
        F.sum(F.col("wk") * F.col("rev")).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    ols = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        m.join(ts, m["o_orderpriority"] == ts["pri"])
        .select(
            "o_orderpriority",
            F.col("n").alias("n_weeks"),
            "n_pairs",
            "ts_slope",
            F.round(ols, 6).alias("ols_slope"),
        )
        .orderBy("o_orderpriority")
    )


_THEIL_SEN_TREND_SQL = """
WITH weekly AS (
  SELECT o_orderpriority AS pri,
         CAST(floor(epoch(CAST(date_trunc('week', o_orderdate) AS TIMESTAMP)) / 604800) AS BIGINT) AS wk,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
  FROM orders GROUP BY 1, 2
), pairs AS (
  SELECT a.pri, CAST(b.rev - a.rev AS DOUBLE) / (b.wk - a.wk) AS slope
  FROM weekly a JOIN weekly b ON b.pri = a.pri AND a.wk < b.wk
), ts AS (
  SELECT pri, CAST(count(*) AS BIGINT) AS n_pairs,
         round(quantile_cont(slope, 0.5), 6) AS ts_slope
  FROM pairs GROUP BY pri
), m AS (
  SELECT pri, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(wk) AS DOUBLE) AS sx, CAST(sum(rev) AS DOUBLE) AS sy,
         CAST(sum(wk * wk) AS DOUBLE) AS sxx, CAST(sum(wk * rev) AS DOUBLE) AS sxy
  FROM weekly GROUP BY pri
)
SELECT m.pri AS o_orderpriority, m.n AS n_weeks, ts.n_pairs, ts.ts_slope,
       round((CAST(m.n AS DOUBLE) * m.sxy - m.sx * m.sy)
             / (CAST(m.n AS DOUBLE) * m.sxx - m.sx * m.sx), 6) AS ols_slope
FROM m JOIN ts ON ts.pri = m.pri
ORDER BY m.pri
"""


# --- Q: holt_winters_forecast — seasonal exponential smoothing --------
# The forecasting family's seasonal rung: additive Holt-Winters with
# period 7 over per-type daily event counts. The state is
# (level, trend, seasonal[7], i) — an ordered fold like Holt linear,
# but the accumulator carries the seasonal ARRAY and each step
# rewrites exactly one slot ((i mod 7), via an indexed transform).
# Parity discipline: dyadic alpha/beta/gamma, the seed level is an
# ORDERED fold over the first season (Spark F.aggregate from 0.0 ==
# DuckDB list_reduce from the first element, because 0.0 + x == x
# bit-exactly — the LSH-twin lesson), and the level expression is
# re-spelled at every use site on BOTH engines (no CSE dependence
# inside HOF lambdas). Series shorter than season+1 are excluded on
# both engines (the seed needs one full season).

HW_ALPHA = 0.5  # dyadic: exact in binary floating point
HW_BETA = 0.25
HW_GAMMA = 0.5
HW_PERIOD = 7


def _holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    daily = t.events.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "x"))).alias("srt")
    )
    xs = F.transform(F.col("srt"), lambda r: r["x"])
    first7 = F.slice(xs, 1, HW_PERIOD)
    l0 = F.aggregate(first7, F.lit(0.0), lambda a, b: a + b) / float(HW_PERIOD)
    s0 = F.transform(first7, lambda v: v - l0)
    seed = F.struct(
        l0.alias("l"),
        F.lit(0.0).alias("b"),
        s0.alias("s"),
        F.lit(HW_PERIOD).cast("bigint").alias("i"),
    )

    def step(acc, x):
        slot = (acc["i"] % HW_PERIOD).cast("int")
        si = F.element_at(acc["s"], slot + 1)
        lvl = HW_ALPHA * (x - si) + (1 - HW_ALPHA) * (acc["l"] + acc["b"])
        lvl_b = HW_ALPHA * (x - si) + (1 - HW_ALPHA) * (acc["l"] + acc["b"])
        lvl_s = HW_ALPHA * (x - si) + (1 - HW_ALPHA) * (acc["l"] + acc["b"])
        return F.struct(
            lvl.alias("l"),
            (HW_BETA * (lvl_b - acc["l"]) + (1 - HW_BETA) * acc["b"]).alias("b"),
            F.transform(
                acc["s"],
                lambda v, j: F.when(
                    j == slot, HW_GAMMA * (x - lvl_s) + (1 - HW_GAMMA) * si
                ).otherwise(v),
            ).alias("s"),
            (acc["i"] + 1).alias("i"),
        )

    folded = F.aggregate(
        F.slice(xs, HW_PERIOD + 1, F.greatest(F.size(xs) - HW_PERIOD, F.lit(0))),
        seed,
        step,
    )

    def fc(h):
        slot = ((F.col("__i") + (h - 1)) % HW_PERIOD).cast("int")
        return F.round(
            F.col("__l") + h * F.col("__b") + F.element_at(F.col("__s"), slot + 1), 6
        )

    return (
        series.filter(F.size(xs) >= HW_PERIOD + 1)
        .select(
            "event_type",
            F.size(xs).cast("bigint").alias("n_days"),
            folded["l"].alias("__l"),
            folded["b"].alias("__b"),
            folded["s"].alias("__s"),
            folded["i"].alias("__i"),
        )
        .select(
            "event_type",
            "n_days",
            F.round("__l", 6).alias("level"),
            F.round("__b", 6).alias("trend"),
            fc(1).alias("f1"),
            fc(2).alias("f2"),
            fc(HW_PERIOD).alias("f7"),
        )
        .orderBy("event_type")
    )


_HOLT_WINTERS_FORECAST_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT event_type AS et, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT et, x, row_number() OVER (PARTITION BY et ORDER BY day) AS i FROM daily
), grp AS (
  SELECT et, list(x ORDER BY i) AS xs, CAST(count(*) AS BIGINT) AS n
  FROM seq GROUP BY et
), eligible AS (
  SELECT * FROM grp WHERE n >= {HW_PERIOD + 1}
), init AS (
  -- list_reduce seeds from the first element; 0.0 + x == x bit-exactly,
  -- so this equals Spark's F.aggregate fold from 0.0
  SELECT et, n, list_reduce(xs[1:{HW_PERIOD}], (a, b) -> a + b) / {float(HW_PERIOD)} AS l0
  FROM eligible
), rec(et, i, l, b, s) AS (
  SELECT g.et, CAST({HW_PERIOD} AS BIGINT), i0.l0, CAST(0.0 AS DOUBLE),
         list_transform(g.xs[1:{HW_PERIOD}], v -> v - i0.l0)
  FROM eligible g JOIN init i0 ON i0.et = g.et
  UNION ALL
  SELECT r.et, r.i + 1,
         {HW_ALPHA} * (q.x - r.s[CAST(r.i % {HW_PERIOD} AS INTEGER) + 1])
           + {1 - HW_ALPHA} * (r.l + r.b),
         {HW_BETA} * ({HW_ALPHA} * (q.x - r.s[CAST(r.i % {HW_PERIOD} AS INTEGER) + 1])
                      + {1 - HW_ALPHA} * (r.l + r.b) - r.l)
           + {1 - HW_BETA} * r.b,
         list_transform(generate_series(0, {HW_PERIOD - 1}),
           j -> CASE WHEN j = CAST(r.i % {HW_PERIOD} AS INTEGER)
                     THEN {HW_GAMMA} * (q.x - ({HW_ALPHA} * (q.x - r.s[CAST(r.i % {HW_PERIOD} AS INTEGER) + 1])
                                               + {1 - HW_ALPHA} * (r.l + r.b)))
                          + {1 - HW_GAMMA} * r.s[CAST(r.i % {HW_PERIOD} AS INTEGER) + 1]
                     ELSE r.s[j + 1] END)
  FROM rec r JOIN seq q ON q.et = r.et AND q.i = r.i + 1
), fin AS (
  SELECT r.et, g.n, r.l, r.b, r.s, r.i
  FROM rec r JOIN eligible g ON g.et = r.et AND r.i = g.n
)
SELECT et AS event_type, n AS n_days,
       round(l, 6) AS level, round(b, 6) AS trend,
       round(l + 1 * b + s[CAST(i % {HW_PERIOD} AS INTEGER) + 1], 6) AS f1,
       round(l + 2 * b + s[CAST((i + 1) % {HW_PERIOD} AS INTEGER) + 1], 6) AS f2,
       round(l + {HW_PERIOD} * b + s[CAST((i + {HW_PERIOD - 1}) % {HW_PERIOD} AS INTEGER) + 1], 6) AS f7
FROM fin
ORDER BY et
"""


# --- Q: acf_daily_revenue — lag-k autocorrelation of the daily series -
# Pearson autocorrelation of daily order revenue at lags 1..7 — the
# seasonality probe a forecaster runs before choosing Holt vs
# Holt-Winters (a weekly cycle shows as a lag-7 spike). Recipe =
# numeric_corr_matrix's exact DECIMAL moments applied to the
# (x_t, x_{t+k}) pair table: the lag join is on an INTEGER day index
# (datediff from a literal epoch — no cross-engine date arithmetic),
# the daily aggregate is calendar-bounded (~2.4k rows at every SF), so
# the 7 lag copies are a bounded explode, and every moment is an exact
# DECIMAL sum cast to double once before the single fixed-shape
# correlation expression. One fact scan regardless of SF.
ACF_MAX_LAG = 7
ACF_EPOCH = "1995-01-01"


def _acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    daily = (
        t.orders.groupBy(
            F.datediff(F.col("o_orderdate"), F.lit(ACF_EPOCH).cast("date"))
            .cast("bigint")
            .alias("day")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("rev")
        )
    )
    lags = F.array(*[F.lit(k).cast("bigint") for k in range(1, ACF_MAX_LAG + 1)])
    lagged = daily.select(
        F.col("rev").alias("x"), F.explode(lags).alias("lag"), F.col("day")
    ).withColumn("day2", F.col("day") + F.col("lag"))
    pairs = lagged.join(
        daily.select(F.col("day").alias("day2"), F.col("rev").alias("y")), "day2"
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n_pairs").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "lag", "n_pairs", F.round(cov / F.sqrt(vx * vy), 6).alias("autocorr")
    ).orderBy("lag")


def _acf_daily_revenue_sql() -> str:
    lag_rows = " UNION ALL ".join(f"SELECT CAST({k} AS BIGINT) AS lag" for k in range(1, ACF_MAX_LAG + 1))
    return f"""
WITH daily AS (
  SELECT CAST(date_diff('day', TIMESTAMP '{ACF_EPOCH}', o_orderdate) AS BIGINT) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
  FROM orders GROUP BY 1
), lags AS ({lag_rows}),
pairs AS (
  SELECT l.lag, a.rev AS x, b.rev AS y
  FROM daily a CROSS JOIN lags l
  JOIN daily b ON b.day = a.day + l.lag
), m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM pairs GROUP BY lag
)
SELECT lag, n_pairs,
       round((CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 6) AS autocorr
FROM m
ORDER BY lag
"""


# --- Q: forecast_backtest_mase — forecast-accuracy eval rung ----------
# The eval readout that completes the forecasting tier (the NDCG move
# applied to Holt/Holt-Winters territory): one-step naive (y_{t-1}) and
# seasonal-naive (y_{t-7}) forecasts over a literal 28-day calendar
# holdout, scored by MAE and by MASE (Hyndman & Koehler 2006 — MAE
# scaled by the IN-SAMPLE naive MAE, the scale-free standard). Every
# error is an exact DECIMAL |y_t - y_{t-k}| over the calendar-bounded
# daily aggregate (integer day-index joins, as acf_daily_revenue);
# sums stay DECIMAL until the two final divisions. A model worth
# shipping must clear MASE < 1 against these two baselines.
BACKTEST_HOLDOUT_DAYS = 28


def _daily_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    return t.orders.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit(ACF_EPOCH).cast("date"))
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("rev")
    )


def _forecast_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import attach_global_scalar

    daily = _daily_rev(spark, sf_dir)
    # cutoff rides the same shuffled aggregate → attach_global_scalar
    # (the derived-scalar rule: AQE won't reuse the exchange under a
    # naive crossJoin of a scalar over its own subtree)
    with_cut = attach_global_scalar(daily, F.max("day").alias("max_day"))
    cut = F.col("max_day") - F.lit(BACKTEST_HOLDOUT_DAYS)
    labeled = with_cut.select(
        "day", "rev", (F.col("day") > cut).alias("is_holdout")
    )
    models = []
    for name, k in (("naive", 1), ("seasonal_naive", 7)):
        pairs = labeled.alias("a").join(
            labeled.select(
                (F.col("day") + F.lit(k)).alias("day"), F.col("rev").alias("prev")
            ).alias("b"),
            "day",
        )
        err = F.abs(F.col("rev") - F.col("prev"))
        m = pairs.agg(
            F.sum(F.when(F.col("is_holdout"), err)).alias("err_hold"),
            F.sum(F.when(F.col("is_holdout"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hold"),
            F.sum(F.when(~F.col("is_holdout"), err)).alias("err_train"),
            F.sum(F.when(~F.col("is_holdout"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
        ).select(
            F.lit(name).alias("model"),
            F.col("n_hold").alias("n_eval"),
            (F.col("err_hold").cast("double") / F.col("n_hold").cast("double")).alias(
                "mae"
            ),
            (F.col("err_train").cast("double") / F.col("n_train").cast("double")).alias(
                "insample_mae"
            ),
        )
        models.append(m)
    out = models[0].unionByName(models[1])
    return out.select(
        "model",
        "n_eval",
        F.round("mae", 6).alias("mae"),
        F.round("insample_mae", 6).alias("insample_mae"),
        F.round(F.col("mae") / F.col("insample_mae"), 6).alias("mase"),
    ).orderBy("model")


def _forecast_backtest_mase_sql() -> str:
    model_sql = []
    for name, k in (("naive", 1), ("seasonal_naive", 7)):
        model_sql.append(f"""
  SELECT '{name}' AS model,
         CAST(sum(CASE WHEN a.is_holdout THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
         CAST(sum(CASE WHEN a.is_holdout THEN abs(a.rev - b.rev) END) AS DOUBLE)
           / CAST(sum(CASE WHEN a.is_holdout THEN 1 ELSE 0 END) AS DOUBLE) AS mae,
         CAST(sum(CASE WHEN NOT a.is_holdout THEN abs(a.rev - b.rev) END) AS DOUBLE)
           / CAST(sum(CASE WHEN NOT a.is_holdout THEN 1 ELSE 0 END) AS DOUBLE) AS insample_mae
  FROM labeled a JOIN daily b ON a.day = b.day + {k}""")
    return f"""
WITH daily AS (
  SELECT CAST(date_diff('day', TIMESTAMP '{ACF_EPOCH}', o_orderdate) AS BIGINT) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
  FROM orders GROUP BY 1
), cut AS (
  SELECT max(day) - {BACKTEST_HOLDOUT_DAYS} AS c FROM daily
), labeled AS (
  SELECT day, rev, day > (SELECT c FROM cut) AS is_holdout FROM daily
), models AS ({" UNION ALL ".join(model_sql)})
SELECT model, n_eval, round(mae, 6) AS mae,
       round(insample_mae, 6) AS insample_mae,
       round(mae / insample_mae, 6) AS mase
FROM models
ORDER BY model
"""


# --- Q: experiment_power_mde — pre-experiment sensitivity readout -----
# Before shipping an A/B test: the minimal detectable effect at 80%
# power / 5% two-sided alpha given the CURRENT per-user outcome
# variance and arm sizes — mde = (z_{a/2} + z_b) * sqrt(s2 * (1/n1 +
# 1/n0)). Pooled variance comes from exact DECIMAL moments (one pass),
# the z constants are full-precision literals (the inference tier's
# inverse-CDF-ladder recipe), and every expression has one fixed
# parenthesization.
Z_ALPHA_2 = 1.959963984540054  # Phi^{-1}(0.975)
Z_BETA = 0.8416212335729143  # Phi^{-1}(0.80)


def _experiment_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    per_user = t.events.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(18,2)").alias("y")
    ).withColumn("arm", (F.col("user_id") % 2).cast("bigint"))
    m = per_user.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum("y").cast("double").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("ss"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    nn = F.col("n").cast("double")
    var = (nn * F.col("ss") - F.col("s") * F.col("s")) / (nn * (nn - F.lit(1.0)))
    mean = F.col("s") / nn
    mde = F.lit(Z_ALPHA_2 + Z_BETA) * F.sqrt(
        var
        * (
            F.lit(1.0) / F.col("n1").cast("double")
            + F.lit(1.0) / F.col("n0").cast("double")
        )
    )
    return m.select(
        F.col("n1").alias("n_treated"),
        F.col("n0").alias("n_control"),
        F.round(F.sqrt(var), 6).alias("pooled_sd"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / mean, 6).alias("mde_rel"),
    )


_EXPERIMENT_POWER_MDE_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y,
         CAST(user_id % 2 AS BIGINT) AS arm
  FROM events GROUP BY user_id
), m AS (
  SELECT CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(y) AS DOUBLE) AS s,
         CAST(sum(y * y) AS DOUBLE) AS ss,
         CAST(count(*) AS BIGINT) AS n
  FROM per_user
)
SELECT n1 AS n_treated, n0 AS n_control,
       round(sqrt((CAST(n AS DOUBLE) * ss - s * s)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6) AS pooled_sd,
       round({Z_ALPHA_2 + Z_BETA!r} * sqrt(((CAST(n AS DOUBLE) * ss - s * s)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
             * ((1.0 / CAST(n1 AS DOUBLE)) + (1.0 / CAST(n0 AS DOUBLE)))), 6) AS mde_abs,
       round(({Z_ALPHA_2 + Z_BETA!r} * sqrt(((CAST(n AS DOUBLE) * ss - s * s)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
             * ((1.0 / CAST(n1 AS DOUBLE)) + (1.0 / CAST(n0 AS DOUBLE)))))
             / (s / CAST(n AS DOUBLE)), 6) AS mde_rel
FROM m
"""


# --- Q: rake_keyphrases — stopword-delimited keyphrase extraction (r11) --
# RAKE (Rose et al. 2010): candidate phrases are maximal stopword-free
# token runs (capped at RAKE_MAX_PHRASE words — the standard candidate
# filter), word score = deg(w)/freq(w) over the candidate stream, and
# a phrase scores the sum of its words' scores; top-RAKE_TOP per
# source. The stopword set is the LANG_MARKERS union (the engine's
# shared deterministic function-word lists) plus a small literal
# extra set — one inlined literal array on both engines. Exactness:
# freq/deg are exact BIGINTs, each word score is ONE division, and the
# per-phrase sum is an ORDERED F.aggregate fold over the phrase's
# token positions mirrored by a 0.0-prepended list_reduce (the
# JS-drift recipe) — so phrase scores are bit-equal doubles and the
# per-source ranking cannot diverge. Scale shape: one positional
# explode, one (source, token)-keyed aggregate, one re-join, one
# per-source WindowGroupLimit head.

RAKE_EXTRA_STOPWORDS = ("a", "an", "as", "at", "by", "for", "in", "on", "or", "with")
RAKE_STOPWORDS = tuple(
    sorted(
        {m for ms in LANG_MARKERS.values() for m in ms}
        | set(RAKE_EXTRA_STOPWORDS)
    )
)
RAKE_MAX_PHRASE = 4
RAKE_TOP = 5


def _rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 restructure (guide §2.3/§2.4 — measured 19.0 of 20.6 MB at
    # sf0.1 was ONE exchange: the per-token stream shuffled by doc_id
    # for the segment-id window, whose output then fed a per-OCCURRENCE
    # score regroup). Two observations make both exchanges unnecessary:
    # (a) a document's stopword-delimited runs are a per-row ARRAY
    #     computation — boundary positions + zip_with slices — so the
    #     candidate phrases are extracted map-side with no window and
    #     no token shuffle;
    # (b) an occurrence's score = Σ ws(source, token of phrase) is a
    #     function of (source, phrase) ALONE — every occurrence of a
    #     phrase scores identically (the old max(score) over
    #     occurrences always reduced equal doubles) — so scoring runs
    #     once per DISTINCT (source, phrase) and n_occurrences is a
    #     map-side-combined count.
    # Identical results: same candidate runs (exact array_contains
    # stop test, same ≤RAKE_MAX_PHRASE cap), same exact BIGINT
    # freq/deg over the full occurrence stream, and the same ordered
    # 0.0-seeded fold over the phrase's (idx, ws) list — bit-equal
    # doubles, same oracle SQL. Remaining movement: the vocab-keyed
    # wstats aggregate, the distinct-phrase count aggregate, and the
    # per-source top-5 head.
    t = load_tables(spark, sf_dir, ["documents"])
    stop_arr = F.array(*[F.lit(s) for s in RAKE_STOPWORDS])

    def runs_of(tk):
        n = F.size(tk)
        stop_pos = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: F.array_contains(stop_arr, F.element_at(tk, i)),
        )
        bounds = F.concat(F.array(F.lit(0)), stop_pos, F.array(n + F.lit(1)))
        lo = F.slice(bounds, 1, F.size(bounds) - 1)
        hi = F.slice(bounds, 2, F.size(bounds) - 1)
        return F.zip_with(
            lo, hi, lambda a, b: F.slice(tk, a + F.lit(1), b - a - F.lit(1))
        )

    # bind the (filtered) token array once as a HOF variable (no CSE
    # inside lambdas — the word_shingles rule); docs with zero tokens
    # emit no candidate runs on either form, and the n >= 1 guard keeps
    # sequence() from counting down on the empty array
    tk0 = F.filter(F.split(F.trim("text"), r"\s+"), lambda s: s != F.lit(""))
    runs = F.element_at(F.transform(F.array(tk0), runs_of), 1)
    occ = (
        spread(t.documents, spark)
        .filter(F.size(tk0) >= 1)
        .select("source", F.explode(runs).alias("ptoks"))
        .filter(
            (F.size("ptoks") >= 1) & (F.size("ptoks") <= RAKE_MAX_PHRASE)
        )
        .select(
            "source",
            F.concat_ws(" ", "ptoks").alias("phrase"),
            F.size("ptoks").cast("bigint").alias("plen"),
            "ptoks",
        )
    )
    # word stats over the FULL occurrence stream (freq/deg count every
    # occurrence, exactly as the per-token form did)
    wstats = (
        occ.select("source", "plen", F.explode("ptoks").alias("tok"))
        .groupBy("source", "tok")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
    )
    # occurrence counts per distinct phrase (map-side combined); the
    # token list is recovered from the phrase text itself — tokens are
    # whitespace-split and joined with one space, so the round-trip is
    # exact — and scored once per distinct phrase on the broadcast
    # wstats side, with the same ordered fold as the per-occurrence
    # form (the explode index IS the old idx order)
    phr = occ.groupBy("source", "phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    ptok = phr.select(
        "source",
        "phrase",
        "n_occurrences",
        F.posexplode(F.split("phrase", " ")).alias("idx", "tok"),
    )
    scored_tok = ptok.join(wstats, ["source", "tok"]).select(
        "source",
        "phrase",
        "n_occurrences",
        "idx",
        (F.col("deg").cast("double") / F.col("freq").cast("double")).alias("ws"),
    )
    per_phrase = scored_tok.groupBy("source", "phrase", "n_occurrences").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "ws"))),
                lambda x: x["ws"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score")
    )
    rw = Window.partitionBy("source").orderBy(F.desc("score"), "phrase")
    return (
        per_phrase.withColumn("rank", F.row_number().over(rw).cast("bigint"))
        .filter(F.col("rank") <= RAKE_TOP)
        .select(
            "source",
            "rank",
            "phrase",
            "n_occurrences",
            F.round("score", 6).alias("score"),
        )
        .orderBy("source", "rank")
    )


def _rake_keyphrases_sql() -> str:
    stoplist = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)
    return f"""
WITH toks AS (
  SELECT source, doc_id, CAST(u[2] AS BIGINT) AS pos, u[1] AS tok
  FROM (
    SELECT source, doc_id, unnest(list_zip(arr, range(0, len(arr)))) AS u
    FROM (SELECT source, doc_id, string_split_regex(trim(text), '\\s+') AS arr
          FROM documents)
  )
  WHERE u[1] <> ''
),
seg AS (
  SELECT source, doc_id, pos, tok,
         CASE WHEN tok IN ({stoplist}) THEN 1 ELSE 0 END AS st,
         SUM(CASE WHEN tok IN ({stoplist}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM toks
),
occ AS (
  SELECT source, doc_id, seg,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen,
         list(tok ORDER BY pos) AS ptoks
  FROM seg WHERE st = 0
  GROUP BY 1, 2, 3
  HAVING count(*) <= {RAKE_MAX_PHRASE}
),
ow AS (
  SELECT source, doc_id, seg, phrase, plen,
         CAST(u[2] AS BIGINT) AS idx, u[1] AS tok
  FROM (SELECT *, unnest(list_zip(ptoks, range(0, len(ptoks)))) AS u FROM occ)
),
wstats AS (
  SELECT source, tok,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(plen) AS BIGINT) AS deg
  FROM ow GROUP BY 1, 2
),
occ_score AS (
  SELECT o.source, o.doc_id, o.seg, o.phrase,
         list_reduce(
           [0.0] || list(CAST(w.deg AS DOUBLE) / CAST(w.freq AS DOUBLE)
                         ORDER BY o.idx),
           (acc, x) -> acc + x) AS score
  FROM ow o JOIN wstats w USING (source, tok)
  GROUP BY 1, 2, 3, 4
),
per_phrase AS (
  SELECT source, phrase,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         max(score) AS score
  FROM occ_score GROUP BY 1, 2
),
ranked AS (
  SELECT source, phrase, n_occurrences, score,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY score DESC, phrase) AS BIGINT) AS rank
  FROM per_phrase
)
SELECT source, rank, phrase, n_occurrences, round(score, 6) AS score
FROM ranked WHERE rank <= {RAKE_TOP}
ORDER BY source, rank
"""


# --- Q: heaps_exponent_by_source — vocabulary-growth power-law fit ------
# The per-source companion of zipf_slope: Heaps' law V(n) = K·n^beta
# fitted per source over 10 doc-prefix deciles. Natural text sits near
# beta ~ 0.5-0.7; templated/spun sources flatten early (low beta) —
# the collapse signal lexical_diversity's single-point TTR can't see
# because it has no growth axis. vocab_growth charts the global curve;
# this distills each source to its exponent. All curve inputs are
# exact BIGINTs (cumulative tokens + first-occurrence vocabulary via
# per-source windows — key-partitioned, never global); the OLS fit
# runs over <=10 ln-points per source with the zipf_slope closed form
# (identical expression text both engines, round-6 output). Decile
# membership (rank r serves decile j iff ceil(j*n/10) == r) is
# generated per row as the exact integer interval (10(r-1)/n, 10r/n]
# — floor over small-integer double ratios, exact far past any doc
# count, and a map-side explode instead of a non-equi join.

HEAPS_DECILES = 10


def _heaps_exponent_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = spread(t.documents, spark)
    words = _doc_words(docs, "source", "doc_id")
    # per-doc token counts need no explode+shuffle: count(*) over the
    # exploded non-empty words per (source, doc_id) IS the size of the
    # filtered token array — a map-side expression on the scan. This
    # removes one of the two full explode passes and the corpus-keyed
    # (source, doc_id) aggregate exchange entirely; counts are exact
    # integers either way. Docs with zero non-empty tokens produce no
    # row in the former explode-count — mirror with a filter.
    per_doc = docs.select(
        "source",
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda w: w != ""))
        .cast("bigint")
        .alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    first_occ = words.groupBy("source", "w").agg(
        F.min("doc_id").alias("fd")
    )
    new_words = first_occ.groupBy("source", F.col("fd").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nw")
    )
    wd = Window.partitionBy("source").orderBy("doc_id")
    wcum = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (
        per_doc.join(new_words, ["source", "doc_id"], "left")
        .select(
            "source",
            "doc_id",
            "n_tok",
            F.coalesce("nw", F.lit(0)).cast("bigint").alias("nw"),
        )
        .select(
            "source",
            F.row_number().over(wd).cast("bigint").alias("rank"),
            F.sum("n_tok").over(wcum).cast("bigint").alias("cum_tok"),
            F.sum("nw").over(wcum).cast("bigint").alias("cum_vocab"),
            F.count(F.lit(1)).over(Window.partitionBy("source")).cast("bigint").alias("n_docs"),
        )
    )
    # decile membership is generated PER ROW, not joined: rank r serves
    # decile j iff ceil(j*n/10) == r iff j in (10(r-1)/n, 10r/n] — a
    # map-side sequence/explode (a rank==expr(j) join condition is
    # non-equi and would plan as a BNLJ over the corpus side)
    jlo = (
        F.floor(
            (F.lit(HEAPS_DECILES) * (F.col("rank") - 1))
            / F.col("n_docs").cast("double")
        ).cast("bigint")
        + 1
    )
    jhi = F.floor(
        (F.lit(HEAPS_DECILES) * F.col("rank")) / F.col("n_docs").cast("double")
    ).cast("bigint")
    points = cum.select(
        "source",
        "cum_tok",
        "cum_vocab",
        "n_docs",
        F.explode(
            F.when(jhi >= jlo, F.sequence(jlo, jhi)).otherwise(
                F.array().cast("array<bigint>")
            )
        ).alias("j"),
    )
    x = F.log(F.col("cum_tok").cast("double"))
    y = F.log(F.col("cum_vocab").cast("double"))
    # a source whose decile points all coincide (single token-bearing
    # doc) has a zero OLS denominator — no defined slope, drop it on
    # BOTH engines (NULL-vs-inf guard; needs >= 2 distinct x points)
    m = points.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.count_distinct("cum_tok").cast("bigint").alias("nx"),
        F.max("n_docs").alias("n_docs"),
        F.max("cum_tok").alias("n_tokens"),
        F.max("cum_vocab").alias("vocab"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    ).filter(F.col("nx") >= 2)
    p = F.col("n_points").cast("double")
    beta = (p * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        p * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "source",
        "n_docs",
        "n_tokens",
        "vocab",
        "n_points",
        F.round(beta, 6).alias("heaps_beta"),
        F.round((F.col("sy") - beta * F.col("sx")) / p, 6).alias("heaps_lnk"),
    ).orderBy("source")


_HEAPS_EXPONENT_SQL = f"""
WITH words AS (
  SELECT source, doc_id, w
  FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
),
per_doc AS (
  SELECT source, doc_id, CAST(count(*) AS BIGINT) AS n_tok
  FROM words GROUP BY source, doc_id
),
first_occ AS (
  SELECT source, w, min(doc_id) AS fd FROM words GROUP BY source, w
),
new_words AS (
  SELECT source, fd AS doc_id, CAST(count(*) AS BIGINT) AS nw
  FROM first_occ GROUP BY source, fd
),
cum AS (
  SELECT p.source,
         CAST(row_number() OVER wd AS BIGINT) AS rank,
         CAST(sum(p.n_tok) OVER wc AS BIGINT) AS cum_tok,
         CAST(sum(COALESCE(n.nw, 0)) OVER wc AS BIGINT) AS cum_vocab,
         CAST(count(*) OVER (PARTITION BY p.source) AS BIGINT) AS n_docs
  FROM per_doc p LEFT JOIN new_words n USING (source, doc_id)
  WINDOW wd AS (PARTITION BY p.source ORDER BY p.doc_id),
         wc AS (PARTITION BY p.source ORDER BY p.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
points AS (
  SELECT source, cum_tok, cum_vocab, n_docs,
         unnest(range(
           CAST(floor(({HEAPS_DECILES} * (rank - 1)) / CAST(n_docs AS DOUBLE)) AS BIGINT) + 1,
           CAST(floor(({HEAPS_DECILES} * rank) / CAST(n_docs AS DOUBLE)) AS BIGINT) + 1)) AS j
  FROM cum
),
m AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_points,
         max(n_docs) AS n_docs,
         max(cum_tok) AS n_tokens,
         max(cum_vocab) AS vocab,
         sum(ln(CAST(cum_tok AS DOUBLE))) AS sx,
         sum(ln(CAST(cum_vocab AS DOUBLE))) AS sy,
         sum(ln(CAST(cum_tok AS DOUBLE)) * ln(CAST(cum_vocab AS DOUBLE))) AS sxy,
         sum(ln(CAST(cum_tok AS DOUBLE)) * ln(CAST(cum_tok AS DOUBLE))) AS sxx
  FROM points GROUP BY source
  HAVING count(DISTINCT cum_tok) >= 2
)
SELECT source, n_docs, n_tokens, vocab, n_points,
       round((CAST(n_points AS DOUBLE) * sxy - sx * sy)
             / (CAST(n_points AS DOUBLE) * sxx - sx * sx), 6) AS heaps_beta,
       round((sy - (CAST(n_points AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n_points AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n_points AS DOUBLE), 6) AS heaps_lnk
FROM m
ORDER BY source
"""


SPECS = [
    QuerySpec(
        "rake_keyphrases",
        "RAKE keyphrase extraction: stopword-delimited candidates, deg/freq word scores, ordered-fold phrase scores, top-5 per source",
        _rake_keyphrases,
        _rake_keyphrases_sql,
        tags=("text", "window", "audit"),
    ),
    QuerySpec(
        "heaps_exponent_by_source",
        "per-source Heaps-law vocabulary-growth exponent over doc-prefix deciles (template-collapse signal)",
        _heaps_exponent_by_source,
        _HEAPS_EXPONENT_SQL,
        tags=("text", "agg", "audit"),
    ),
    QuerySpec(
        "cusum_changepoint",
        "CUSUM mean-shift detection per priority series: exact-integer prefix deviations, interior argmax, before/after means",
        _cusum_changepoint,
        _CUSUM_CHANGEPOINT_SQL,
        tags=("timeseries", "window", "audit"),
    ),
    QuerySpec(
        "dow_seasonal_decompose",
        "additive trend/seasonal/remainder decomposition in exact x7 space, day-of-week seasonality + anomaly flags",
        _dow_seasonal_decompose,
        _DOW_SEASONAL_DECOMPOSE_SQL,
        tags=("timeseries", "window", "audit"),
    ),
    QuerySpec(
        "theil_sen_trend",
        "Theil-Sen robust slope (median of calendar-bounded pairwise slopes) beside the exact-moment OLS slope, per priority",
        _theil_sen_trend,
        _THEIL_SEN_TREND_SQL,
        tags=("timeseries", "ml", "join"),
    ),
    QuerySpec(
        "holt_winters_forecast",
        "additive Holt-Winters (period 7): ordered fold carrying the seasonal array, dyadic coefficients, one-slot indexed update",
        _holt_winters_forecast,
        _HOLT_WINTERS_FORECAST_SQL,
        tags=("timeseries", "ml"),
    ),
    QuerySpec(
        "holt_linear_forecast",
        "Holt linear-trend forecast per priority: calendar-bounded ordered fold, dyadic coefficients (bit-exact parity)",
        _holt_linear_forecast,
        _HOLT_LINEAR_FORECAST_SQL,
        tags=("timeseries", "ml"),
    ),
    QuerySpec(
        "acf_daily_revenue",
        "lag-1..7 Pearson autocorrelation of daily revenue from exact DECIMAL moments (integer day-index lag join, calendar-bounded)",
        _acf_daily_revenue,
        _acf_daily_revenue_sql,
        tags=("timeseries", "stats"),
    ),
    QuerySpec(
        "forecast_backtest_mase",
        "forecast eval rung: naive and seasonal-naive MAE/MASE over a literal 28-day holdout, exact DECIMAL errors",
        _forecast_backtest_mase,
        _forecast_backtest_mase_sql,
        tags=("timeseries", "eval"),
    ),
    QuerySpec(
        "experiment_power_mde",
        "pre-experiment sensitivity: minimal detectable effect at 80% power / 5% alpha from exact DECIMAL outcome moments",
        _experiment_power_mde,
        _EXPERIMENT_POWER_MDE_SQL,
        tags=("stats", "eval"),
    ),
    QuerySpec("fluency_buckets", "CCNet-style per-source head/middle/tail fluency terciles", _fluency_buckets, _FLUENCY_BUCKETS_SQL, tags=("text", "sampling", "scale")),
    QuerySpec("doc_chunks", "sliding context-window chunk layout (stride overlap)", _doc_chunks, _DOC_CHUNKS_SQL, tags=("text", "sampling")),
    QuerySpec("unigram_doc_logprob", "corpus-LM average token log-prob per document", _unigram_doc_logprob, _UNIGRAM_DOC_LOGPROB_SQL, tags=("text", "agg")),
    QuerySpec(
        "stupid_backoff_logprob",
        "held-out bigram-LM quality score (Stupid Backoff, Brants et al. 2007): train on even doc_ids, score odd",
        _stupid_backoff_logprob,
        _STUPID_BACKOFF_LOGPROB_SQL,
        tags=("text", "agg", "join"),
    ),
    QuerySpec(
        "source_lang_mi",
        "source-language association: mutual information, G-stat, chi-square and Cramer's V from one exact contingency table",
        _source_lang_mi,
        _SOURCE_LANG_MI_SQL,
        tags=("text", "stats", "audit"),
    ),
    QuerySpec(
        "good_turing_mass",
        "Good-Turing unseen-vocabulary mass per source: P0 = n1/N and smoothed singleton count from exact type frequencies",
        _good_turing_mass,
        _GOOD_TURING_MASS_SQL,
        tags=("text", "agg"),
    ),
    QuerySpec(
        "daily_count_overdispersion",
        "negative-binomial overdispersion of daily event volumes: moment k-hat from exact BIGINT day-count moments",
        _daily_count_overdispersion,
        _DAILY_COUNT_OVERDISPERSION_SQL,
        tags=("events", "stats"),
    ),
    QuerySpec(
        "dsir_importance_weights",
        "DSIR (Xie et al. 2023) target-domain importance scores from hashed unigram+bigram bucket distributions",
        _dsir_importance_weights,
        _DSIR_IMPORTANCE_WEIGHTS_SQL,
        tags=("text", "sampling", "scale"),
    ),
    QuerySpec(
        "term_burstiness",
        "Church-Gale term dispersion: variance-to-mean ratio + per-containing-doc rate from exact BIGINT moments",
        _term_burstiness,
        _TERM_BURSTINESS_SQL,
        tags=("text", "agg"),
    ),
    QuerySpec("doc_entropy", "within-document word-distribution entropy", _doc_entropy, _DOC_ENTROPY_SQL, tags=("text", "agg")),
    QuerySpec("zipf_slope", "rank-frequency power-law slope over the head vocabulary", _zipf_slope, _ZIPF_SLOPE_SQL, tags=("text", "agg")),
    QuerySpec("top_terms_per_source", "per-source top-k terms (WindowGroupLimit)", _top_terms_per_source, _TOP_TERMS_PER_SOURCE_SQL, tags=("text", "window")),
    QuerySpec("peak_concurrency", "daily peak concurrent sessions (sweep-line prefix sum)", _peak_concurrency, _PEAK_CONCURRENCY_SQL, tags=("events", "window", "scale")),
]
