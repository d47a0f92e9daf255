"""Corpus-hygiene shapes (round-4b batch) — the duplicate-structure and
blocklist signals a curation pipeline runs between near-dup detection
and mix rebalancing:

- span_dedup_docs:    C4-style duplicate-span accounting: fixed 8-token
                      non-overlapping spans, global first-occurrence
                      keep, per-doc kept fraction
- prefix_dup_groups:  exact leading-prefix dedup groups (templated
                      boilerplate openers share their first-12-token
                      prefix even when tails diverge)
- badword_doc_flags:  blocklist filter rates per source (the C4
                      badwords gate, mechanics over a tiny lit list)
- idf_doc_score:      per-document mean inverse document frequency —
                      the rare-term-heaviness twin of the
                      unigram_doc_logprob common-token signal
- cross_source_dups:  near-dup pair counts by (source, source) — which
                      sources copy from which (provenance/licensing)
- dup_graph_degree:   degree histogram of the near-dup graph (how
                      duplicated is the duplicated part of the corpus)
- dup_triangles:      triangle/edge/node counts of the near-dup graph
                      (clustering density — triangles mean dup CLUSTERS,
                      bare edges mean isolated pairs)

Reference parity: the reference has no text surface beyond equality
joins (SURVEY §2.9); this extends the training-data north star in the
same spirit as the round-3 mining batch. Oracle parity per the registry
recipe: BIGINT counts, round(…, 6) ratio doubles, total-order sorts,
md5 fingerprints compared as strings.

Scale notes: span/prefix/badword/idf queries are scans plus key-
partitioned hash aggregates or key-partitioned windows (the span
first-keep window partitions by the span value itself — never a global
sort). The three graph queries reuse the bounded exact-Jaccard pair
slice (PAIR_DOC_LIMIT) as their edge list — the same bounded-verifier
posture as near_dup_pairs; at corpus scale the edge list comes from
minhash_near_dups instead and the downstream shapes are unchanged
(equi-joins and hash aggregates on ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databeats_spark.functions.text import LANG_MARKERS, tokens
from databeats_spark.operators.dedup import ngram_jaccard_pairs
from databeats_spark.registry import QuerySpec
from databeats_spark.registry.documents import (
    JACCARD_THRESHOLD,
    PAIR_DOC_LIMIT,
    _PAIRS_CTES,
)
from databeats_spark.sources.tables import load_tables, spread


# --- Q: span_dedup_docs — C4-style duplicate-span accounting ----------
# Fixed 8-token non-overlapping spans (C4 removes duplicate three-
# sentence spans; the synthetic corpus has no sentence boundaries, so
# the span unit is a token window incl. the trailing partial span).
# Global first-occurrence keep = row_number() == 1 over a window
# PARTITIONED BY the span value — key-partitioned, never a global
# sort; the (doc_id, span_idx) tie-break is a total order.

SPAN_TOKENS = 8


def _span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    # span construction is compute-bound: spread a few-split scan before
    # the heavy HOF (no-op when the scan already has parallelism)
    docs = spread(t.documents, spark)

    def spans_of(tk):
        starts = F.sequence(F.lit(1), F.greatest(F.size(tk), F.lit(1)), F.lit(SPAN_TOKENS))
        return F.transform(starts, lambda i: F.array_join(F.slice(tk, i, SPAN_TOKENS), " "))

    # bind the token array once as a HOF variable (no CSE inside lambdas)
    spans = F.element_at(F.transform(F.array(tokens("text")), spans_of), 1)
    exploded = (
        docs.select("doc_id", F.posexplode(spans).alias("span_idx", "span"))
        .filter(F.col("span") != "")
    )
    w = Window.partitionBy("span").orderBy("doc_id", "span_idx")
    kept = exploded.withColumn("keep", (F.row_number().over(w) == 1).cast("int"))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("keep").cast("bigint").alias("n_kept"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_spans"), 6).alias("kept_frac"),
        )
        .orderBy("doc_id")
    )


_SPAN_DEDUP_DOCS_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), sp AS (
  SELECT doc_id, (i - 1) // {SPAN_TOKENS} AS span_idx,
         array_to_string(toks[i:i+{SPAN_TOKENS - 1}], ' ') AS span
  FROM t, LATERAL (
    SELECT unnest(range(1, greatest(len(toks), 1) + 1, {SPAN_TOKENS})) AS i
  ) r
), k AS (
  SELECT doc_id,
         CASE WHEN row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) = 1
              THEN 1 ELSE 0 END AS keep
  FROM sp WHERE span <> ''
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, CAST(sum(keep) AS BIGINT) AS n_kept,
       round(sum(keep) * 1.0 / count(*), 6) AS kept_frac
FROM k GROUP BY doc_id ORDER BY doc_id
"""


# --- Q: prefix_dup_groups — exact leading-prefix dedup groups ---------
# Templated/boilerplate openers share their first-12-token prefix even
# when tails diverge (symmetric Jaccard under-scores them; containment
# catches subsets but not shared openers). One scan, one hash
# aggregate on the prefix fingerprint; whole corpus, no slice.

PREFIX_TOKENS = 12


def _prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    prefix = F.array_join(F.slice(tokens("text"), 1, PREFIX_TOKENS), " ")
    return (
        t.documents.select("doc_id", F.md5(prefix).alias("prefix_md5"))
        .groupBy("prefix_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "prefix_md5")
    )


_PREFIX_DUP_GROUPS_SQL = f"""
WITH p AS (
  SELECT doc_id,
         md5(array_to_string(string_split_regex(trim(text), '\\s+')[1:{PREFIX_TOKENS}], ' ')) AS prefix_md5
  FROM documents
)
SELECT prefix_md5, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM p GROUP BY prefix_md5
HAVING count(*) >= 2
ORDER BY n_docs DESC, prefix_md5
"""


# --- Q: badword_doc_flags — blocklist filter rates per source ---------
# The C4 badwords gate: a document is flagged when ANY token hits the
# blocklist. The list is a broadcast-literal IN — bounded by the list,
# not the corpus — and the per-token test runs inside the array filter
# (codegen, no explode, no join). Output is the per-source audit a
# curation run reports before dropping documents.

BADWORDS = ("merge", "hash", "spark")


def _badword_doc_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    n_bad = F.size(F.filter(tokens("text"), lambda x: x.isin(*BADWORDS)))
    return (
        t.documents.select("source", n_bad.alias("n_bad"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_bad") > 0).cast("int")).cast("bigint").alias("n_flagged"),
            F.sum("n_bad").cast("bigint").alias("n_bad_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_flagged",
            "n_bad_tokens",
            F.round(F.col("n_flagged") / F.col("n_docs"), 6).alias("flag_rate"),
        )
        .orderBy("source")
    )


_BADWORDS_IN = ", ".join(f"'{w}'" for w in BADWORDS)

_BADWORD_DOC_FLAGS_SQL = f"""
WITH d AS (
  SELECT source,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x IN ({_BADWORDS_IN}))) AS n_bad
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(sum(n_bad) AS BIGINT) AS n_bad_tokens,
       round(sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS flag_rate
FROM d GROUP BY source ORDER BY source
"""


# --- Q: idf_doc_score — per-doc mean inverse document frequency -------
# avg ln(N/df) over a document's DISTINCT terms: high = rare-term-heavy
# (jargon/garble), low = stopword soup. The doc-frequency table is
# Heaps-law small so its re-attach broadcasts; N is a scalar over the
# raw exploded scan, so it stays a naive broadcast (re-scanning parquet
# beats materializing — the repo's derived-scalar rule).

def _idf_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    words = (
        t.documents.select(
            "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("w")
        ).filter(F.col("w") != "")
    )
    n = words.agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
    dfreq = words.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    return (
        words.crossJoin(F.broadcast(n))
        .join(F.broadcast(dfreq), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(
                F.avg(F.log(F.col("n_docs").cast("double") / F.col("df"))), 6
            ).alias("avg_idf"),
        )
        .orderBy("doc_id")
    )


_IDF_DOC_SCORE_SQL = """
WITH words AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents)
  WHERE w <> ''
),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM words),
dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM words GROUP BY w)
SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       round(avg(ln(CAST(n.n_docs AS DOUBLE) / f.df)), 6) AS avg_idf
FROM words d
JOIN dfreq f USING (w)
CROSS JOIN n
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


# --- shared edge list: the bounded exact-Jaccard near-dup graph -------
# Same slice + threshold as near_dup_pairs (the bounded verifier); at
# corpus scale the edge list is minhash_near_dups output and every
# shape below is unchanged (id equi-joins + hash aggregates).

def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=JACCARD_THRESHOLD
    ).select("id_a", "id_b", "jaccard")


_EDGES_SQL = f"""{_PAIRS_CTES}, edges AS (
  SELECT id_a, id_b, common * 1.0 / (sa.n + sb.n - common) AS jaccard
  FROM pairs
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.n + sb.n - common) >= {JACCARD_THRESHOLD}
)"""


# --- Q: cross_source_dups — near-dup pair counts by source pair -------
# Which sources copy from which: the provenance/licensing report a
# curation run publishes next to its dedup counts. Dimension re-attach
# is two broadcast joins on the bounded doc slice.

def _cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    src = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT).select("doc_id", "source")
    e = _dup_edges(spark, sf_dir)
    return (
        e.join(F.broadcast(src).withColumnsRenamed({"doc_id": "id_a", "source": "src_a"}), "id_a")
        .join(F.broadcast(src).withColumnsRenamed({"doc_id": "id_b", "source": "src_b"}), "id_b")
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


_CROSS_SOURCE_DUPS_SQL = f"""
WITH {_EDGES_SQL}
SELECT da.source AS src_a, db.source AS src_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(jaccard), 6) AS avg_jaccard
FROM edges
JOIN documents da ON da.doc_id = id_a
JOIN documents db ON db.doc_id = id_b
GROUP BY da.source, db.source
ORDER BY src_a, src_b
"""


# --- Q: dup_graph_degree — degree histogram of the near-dup graph -----
# How duplicated is the duplicated part: count-of-counts over node
# degrees (the dedup analogue of the Q13 order-count histogram).

def _dup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _dup_edges(spark, sf_dir)
    nodes = e.select(F.col("id_a").alias("id")).unionByName(
        e.select(F.col("id_b").alias("id"))
    )
    deg = nodes.groupBy("id").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("degree")
    )


_DUP_GRAPH_DEGREE_SQL = f"""
WITH {_EDGES_SQL}, nodes AS (
  SELECT id_a AS id FROM edges UNION ALL SELECT id_b FROM edges
), deg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS degree FROM nodes GROUP BY id
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
FROM deg GROUP BY degree ORDER BY degree
"""


# --- Q: dup_triangles — clustering density of the near-dup graph ------
# Triangles mean dup CLUSTERS (transitive copies), bare edges mean
# isolated pairs — the signal that decides whether component collapse
# (connected_components) is worth running. Canonical a<b<c triangle
# enumeration: two id equi-joins over the edge list, then three 1-row
# summary scalars (graph is the bounded verifier slice).

def _dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _dup_edges(spark, sf_dir).select("id_a", "id_b")
    e1 = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = e.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    nodes = e.select(F.col("id_a").alias("id")).unionByName(
        e.select(F.col("id_b").alias("id"))
    )
    n_nodes = nodes.agg(F.count_distinct("id").cast("bigint").alias("n_nodes"))
    n_edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return n_nodes.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(tri))


_DUP_TRIANGLES_SQL = f"""
WITH {_EDGES_SQL}, ed AS (
  SELECT id_a, id_b FROM edges
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM ed e1
  JOIN ed e2 ON e1.id_b = e2.id_a
  JOIN ed e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
), nn AS (
  SELECT CAST(count(DISTINCT id) AS BIGINT) AS n_nodes
  FROM (SELECT id_a AS id FROM ed UNION ALL SELECT id_b FROM ed)
), ne AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ed
)
SELECT n_nodes, n_edges, n_triangles FROM nn, ne, tri
"""


# --- Q: lang_mix_flags — code-switching / language-mixing detector ----
# Documents whose tokens hit the marker sets of TWO OR MORE languages
# (each with >= 2 marker tokens) are mixed-language — a quality gate
# lang_id's single-best-guess can't express. The token array binds
# ONCE as a HOF variable and all four marker counts evaluate inside
# the same lambda (no CSE across lambdas otherwise); the marker sets
# are literal INs, bounded by the list not the corpus.

_MIX_LANGS = ("en", "es", "fr", "de")
_MIX_MIN_HITS = 2


def _lang_mix_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])

    def counts(tk):
        return F.struct(
            *[
                F.size(F.filter(tk, lambda x: x.isin(*LANG_MARKERS[lang]))).alias(f"n_{lang}")
                for lang in _MIX_LANGS
            ]
        )

    c = F.element_at(F.transform(F.array(tokens("text")), counts), 1)
    scored = t.documents.select("doc_id", "lang", c.alias("c")).select(
        "doc_id",
        "lang",
        *[F.col(f"c.n_{lang}").cast("bigint").alias(f"n_{lang}") for lang in _MIX_LANGS],
    )
    n_langs = sum(
        (F.col(f"n_{lang}") >= _MIX_MIN_HITS).cast("int") for lang in _MIX_LANGS
    ).cast("bigint")
    return (
        scored.withColumn("n_langs", n_langs)
        .withColumn("mixed", F.col("n_langs") >= 2)
        .orderBy("doc_id")
    )


_LANG_MIX_COLS = ",\n         ".join(
    "len(list_filter(toks, x -> x IN ({}))) AS n_{}".format(
        ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang
    )
    for lang in _MIX_LANGS
)

_LANG_MIX_FLAGS_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), c AS (
  SELECT doc_id, lang,
         {_LANG_MIX_COLS}
  FROM t
)
SELECT doc_id, lang,
       {", ".join(f"CAST(n_{lang} AS BIGINT) AS n_{lang}" for lang in _MIX_LANGS)},
       CAST({" + ".join(f"(CASE WHEN n_{lang} >= {_MIX_MIN_HITS} THEN 1 ELSE 0 END)" for lang in _MIX_LANGS)} AS BIGINT) AS n_langs,
       ({" + ".join(f"(CASE WHEN n_{lang} >= {_MIX_MIN_HITS} THEN 1 ELSE 0 END)" for lang in _MIX_LANGS)}) >= 2 AS mixed
FROM c
ORDER BY doc_id
"""


# --- Q: oov_rate — out-of-vocabulary fraction vs the corpus head ------
# Per-document fraction of tokens outside the top-2000 corpus
# vocabulary — the cheap garble/jargon detector a perplexity filter
# approximates. The vocabulary cut is a TakeOrderedAndProject (bounded
# head, total-order tie-break) and re-attaches as a broadcast; the
# per-doc side is one explode + hash aggregate.

OOV_VOCAB_K = 2000


def _oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    words = _doc_words_corpus(t.documents)
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(OOV_VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tok",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tok"), 6).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


def _doc_words_corpus(docs: DataFrame) -> DataFrame:
    """Exploded non-empty word stream with doc_id (corpus.py twin of
    signals._doc_words — kept local so the modules stay independent)."""
    return docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")


_OOV_RATE_SQL = f"""
WITH words AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents)
  WHERE w <> ''
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM words GROUP BY w ORDER BY c DESC, w LIMIT {OOV_VOCAB_K}
  )
)
SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS oov_rate
FROM words d LEFT JOIN vocab v USING (w)
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


# --- Q: interleave_layout — deterministic source round-robin order ----
# The training-mix data ORDER: documents interleave across sources in
# deterministic md5 sequence (position = (per-source rank − 1) ×
# n_sources + source index), so a loader streams a stable shuffled mix
# without a global sort over the data axis. Per-source ranks are
# key-partitioned windows; the source index is a window over the
# bounded source CATALOG (a ~20-row aggregate), and n_sources rides
# the same tiny table.

def _interleave_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    src_idx = (
        t.documents.groupBy("source")
        .agg(F.count(F.lit(1)).alias("_n"))
        # explicit catalog bound (semantic no-op): lets the plan lint
        # PROVE the index window bounded instead of trusting an
        # allowlist entry
        .limit(100_000)
        .select(
            "source",
            F.row_number().over(Window.orderBy("source")).cast("bigint").alias("src_idx"),
        )
    )
    src_idx = _attach_n_sources(src_idx)
    per_src = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = t.documents.select(
        "doc_id", "source", F.row_number().over(per_src).cast("bigint").alias("r")
    )
    return (
        ranked.join(F.broadcast(src_idx), "source")
        .select(
            "doc_id",
            "source",
            "src_idx",
            "r",
            ((F.col("r") - 1) * F.col("n_sources") + F.col("src_idx") - 1).alias("pos"),
        )
        .orderBy("pos", "doc_id")
    )


def _attach_n_sources(src_idx: DataFrame) -> DataFrame:
    """n_sources as a column on the bounded source-catalog table."""
    return src_idx.crossJoin(
        F.broadcast(src_idx.agg(F.count(F.lit(1)).cast("bigint").alias("n_sources")))
    )


_INTERLEAVE_LAYOUT_SQL = """
WITH src AS (
  SELECT source,
         CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS src_idx,
         CAST(count(*) OVER () AS BIGINT) AS n_sources
  FROM (SELECT source FROM documents GROUP BY source)
), ranked AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS r
  FROM documents
)
SELECT d.doc_id, d.source, s.src_idx, d.r,
       (d.r - 1) * s.n_sources + s.src_idx - 1 AS pos
FROM ranked d JOIN src s USING (source)
ORDER BY pos, doc_id
"""


# --- Q: exposure_cap — keep at most K copies per exact content --------
# The epoch-exposure rule from the deduplication literature: exact
# duplicates are capped at K occurrences rather than collapsed to one
# (controlled repetition can be a curriculum choice; unbounded
# repetition is memorization risk). Window partitioned by the content
# fingerprint — key-partitioned, deterministic min-doc_id order.

EXPOSURE_MAX_COPIES = 2


def _exposure_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        t.documents.select("doc_id", F.md5(F.col("text")).alias("fp"))
        .withColumn("copy_idx", F.row_number().over(w).cast("bigint"))
        .filter(F.col("copy_idx") <= EXPOSURE_MAX_COPIES)
        .select("doc_id", "fp", "copy_idx")
        .orderBy("doc_id")
    )


_EXPOSURE_CAP_SQL = f"""
SELECT doc_id, fp, copy_idx
FROM (
  SELECT doc_id, md5(text) AS fp,
         CAST(row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS BIGINT) AS copy_idx
  FROM documents
)
WHERE copy_idx <= {EXPOSURE_MAX_COPIES}
ORDER BY doc_id
"""


# --- Q: stratified_split_counts — deterministic train/val/test --------
# 80/10/10 split WITHIN each language stratum, assigned by md5 order
# with pure-integer thresholds (rn·10 ≤ n·8 → train, ≤ n·9 → val) —
# engine-, partitioning- and run-invariant, and exactly proportional
# per stratum by construction. Both windows are key-partitioned on the
# stratum; output is the per-(lang, split) audit table.

def _stratified_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    wn = Window.partitionBy("lang")
    ranked = t.documents.select(
        "lang",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    split = (
        F.when(F.col("rn") * 10 <= F.col("n") * 8, "train")
        .when(F.col("rn") * 10 <= F.col("n") * 9, "val")
        .otherwise("test")
    )
    return (
        ranked.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .withColumn(
            "ratio",
            F.round(F.col("n_docs") / F.sum("n_docs").over(Window.partitionBy("lang")), 6),
        )
        .orderBy("lang", "split")
    )


_STRATIFIED_SPLIT_COUNTS_SQL = """
WITH ranked AS (
  SELECT lang,
         row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
), tagged AS (
  SELECT lang,
         CASE WHEN rn * 10 <= n * 8 THEN 'train'
              WHEN rn * 10 <= n * 9 THEN 'val'
              ELSE 'test' END AS split
  FROM ranked
)
SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
       round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang), 6) AS ratio
FROM tagged
GROUP BY lang, split
ORDER BY lang, split
"""


# --- Q: substring_dup_spans — variable-length duplicated substrings ---
# The suffix-array move of "Deduplicating Training Data Makes Language
# Models Better" (Lee et al., 2022), re-expressed Spark-first:
# span_dedup_docs removes FIXED 8-token grid spans, which misses
# shifted/partial overlap (a copy starting 3 tokens later never aligns
# with the grid). Here every token position anchors a suffix: the
# 8-token anchor window partitions the data (two occurrences of any
# >=8-token duplicate share an anchor, so no global sort and no
# cross-partition pairs are ever needed), and within an anchor group
# the suffixes sort by their continuation — the classic suffix-array
# property that the longest repeat appears as an ADJACENT pair. The
# token-level longest-common-prefix of adjacent cross-doc suffixes
# (capped at SUFFIX_CAP tokens) is the variable-length match; per doc
# pair we report the longest match and the number of adjacent anchor
# hits. LCP is one zip_with + array_position expression — identical
# tree on DuckDB via list_zip/list_transform/list_position (both
# engines return 0 for "no mismatch" — NOTE this pins DuckDB 1.0.x
# semantics; DuckDB >= 1.1 changed list_position to return NULL for
# not-found, so an engine upgrade must add coalesce(..., 0) to the
# oracle's mismatch expression).
#
# Scale shape: the suffix table is corpus_tokens rows wide (stride 1
# is the point — any shift is caught), each carrying a bounded
# SUFFIX_CAP-token tail; the window is key-partitioned by anchor and
# every downstream op is a hash aggregate. At 100 TB the anchor is
# hashed (xxhash64 → 8-byte BIGINT) to fix the key's row width — that
# variant ships as substring_dup_spans_hashed: the window only
# PARTITIONS by the anchor (ordering within a partition is by the
# continuation), so any injective anchor transform leaves the result
# identical, and the hashed twin verifies against the SAME SQL oracle.
# Measured honestly (SHUFFLE.md): the anchor hash alone cuts ~12% of
# shuffled bytes at sf0.01, not its naive share — the SUFFIX_CAP-token
# continuation dominates the row and verbatim anchors compress well
# (overlapping windows); the fixed-width key's real scale value is the
# WORST CASE (a pathological long token can't inflate the shuffle key)
# plus cheaper key comparison in the sort. The r8 packed variant
# (substring_dup_spans_packed) attacks the continuation itself:
# array_join the tail with a 0x01 separator into ONE string
# (order-isomorphic + injective, see _PACK_SEP), split it back after
# the shuffle for the LCP arithmetic — 2.68x total shuffle cut at
# sf0.01 (9.41 -> 3.52 MB), result-identical, same oracle
# (test_packed_variant_is_result_identical +
# test_packed_tail_cuts_substring_shuffle_2x). Verbatim stays the
# default so the oracle text and the Spark plan read line-for-line.

MIN_MATCH_TOKENS = 8  # anchor width: minimum duplicated span reported
SUFFIX_CAP = 32  # longest measurable match (anchor + 24-token tail)


# separator for the packed-tail encoding (pack_rest): must sort BELOW
# every content byte so string order == array-of-tokens order, and must
# never occur INSIDE a token so the encoding is injective (UTF8String
# compares unsigned bytes; every byte of a non-ASCII UTF-8 char is
# >= 0x80). Whitespace-split tokens can still carry raw control bytes
# (regex \s is only [ \t\n\x0B\f\r]) — a 0x01 in a token breaks
# injectivity, a 0x00 sorts below the separator and breaks the order
# isomorphism. So the invariant is ENFORCED, not assumed: this query
# family maps \x00/\x01 to spaces before tokenizing, on BOTH engines
# (_SCRUB_CTRL below / regexp_replace in the oracle SQL) — binary-
# contaminated crawl text then cannot diverge the packed variant from
# its siblings (pinned by test_packed_variant_survives_control_bytes).
_PACK_SEP = "\x01"

# the enforcement regex: the two bytes the packed encoding reserves,
# treated as whitespace uniformly across all three variants + oracle
_CTRL_BYTES_RE = r"[\x00\x01]"


def _substring_dup_spans(
    spark: SparkSession, sf_dir: str, hash_anchor: bool = False,
    pack_rest: bool = False,
) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = spread(t.documents, spark)

    def suffixes_of(tk):
        starts = F.sequence(F.lit(1), F.size(tk) - F.lit(MIN_MATCH_TOKENS - 1))

        def anchor_of(i):
            a = F.array_join(F.slice(tk, i, MIN_MATCH_TOKENS), " ")
            # xxhash64 fixes the shuffle key at 8 bytes no matter the
            # token widths; a collision (birthday-bounded at 2^-64 per
            # pair) merges two anchor groups and can only lengthen one
            # reported LCP — the documented trade for the fixed width
            return F.xxhash64(a) if hash_anchor else a

        def rest_of(i):
            r = F.slice(tk, i + MIN_MATCH_TOKENS, SUFFIX_CAP - MIN_MATCH_TOKENS)
            # pack_rest: ship the tail as ONE separator-joined string
            # instead of an array of up to 24 strings. UnsafeArrayData
            # costs 8 bytes of offset + 8-byte-padded content PER
            # ELEMENT, so the array's framing alone dwarfs the text;
            # packing cuts the suffix shuffle row >2x (SHUFFLE.md).
            # The encoding is injective (reserved bytes scrubbed at
            # tokenization, see _CTRL_BYTES_RE) and ORDER-ISOMORPHIC
            # (separator sorts below all remaining content bytes), so
            # the window ordering — hence the lag pair set, every LCP,
            # and the final result — is IDENTICAL to the array form
            # (pinned by test_packed_variant_is_result_identical and
            # test_packed_variant_survives_control_bytes).
            return F.array_join(r, _PACK_SEP) if pack_rest else r

        return F.transform(
            starts,
            lambda i: F.struct(
                anchor_of(i).alias("anchor"),
                rest_of(i).alias("rest"),
                i.alias("pos"),
            ),
        )

    def anchors_of(tk):
        # the hot-anchor pass builds ONLY the anchor per position —
        # same anchor_of expression as the suffix pass, no tail
        starts = F.sequence(F.lit(1), F.size(tk) - F.lit(MIN_MATCH_TOKENS - 1))

        def anchor_of(i):
            a = F.array_join(F.slice(tk, i, MIN_MATCH_TOKENS), " ")
            return F.xxhash64(a) if hash_anchor else a

        return F.transform(starts, anchor_of)

    # 8-byte prefilter key, derived from the MATERIALIZED anchor column
    # post-explode (whole-stage codegen, outside any HOF lambda — an
    # in-lambda key was measured at +7 cold cpu-s at sf0.1): the hashed
    # variants' anchor IS already a 64-bit hash; the verbatim variant
    # hashes the anchor string once per row. Identical per position
    # across both passes by construction.
    def key_of(anchor_col):
        return anchor_col if hash_anchor else F.xxhash64(anchor_col)

    # bind the token array once as a HOF variable (no CSE inside
    # lambdas). Docs shorter than the anchor are filtered FIRST —
    # sequence(start > stop) counts DOWN in Spark, so the filter is a
    # correctness guard, not an optimization. Tokenization maps the two
    # bytes the packed encoding reserves (\x00, \x01) to spaces first —
    # see _CTRL_BYTES_RE; the oracle SQL applies the same replace.
    toks = tokens(F.regexp_replace(F.col("text"), _CTRL_BYTES_RE, " "))
    suffixes = F.element_at(F.transform(F.array(toks), suffixes_of), 1)
    sfx = (
        docs.filter(F.size(toks) >= MIN_MATCH_TOKENS)
        .select("doc_id", F.explode(suffixes).alias("s"))
        .select(
            "doc_id", "s.anchor", "s.rest", "s.pos",
            key_of(F.col("s.anchor")).alias("key"),
        )
    )

    # Hot-anchor prefilter (r14, guide §2.3/§3.2 — shuffle metadata,
    # not payloads): a suffix row can only produce output when its
    # anchor group holds rows from >= 2 DISTINCT docs (singleton groups
    # emit no lag pair; same-doc-only groups are filtered by
    # p_doc != doc_id), and that is decidable from an 8-byte hash of
    # the anchor alone. Pass 1 explodes only (doc_id, anchor) — no
    # tail — hashes the anchor post-explode (codegen; see key_of) and
    # aggregates min/max doc per key (map-side combined, narrow rows);
    # the suffix shuffle then carries only rows whose key group spans
    # >= 2 docs — measured 8.9%/9.1% of positions at sf0.01/sf0.1
    # (scale-stable, so the 10x byte curve stays linear). RESULT-
    # IDENTICAL including under xxhash64 collisions: a collision can
    # only KEEP extra rows (the window still partitions by the true
    # anchor, where they stay singleton and emit nothing) and a
    # dropped group provably had min(doc)=max(doc) for every anchor
    # inside it. No broadcast hint: the hot-key set is corpus-scaled
    # in the worst case (broadcast-hint policy) — the size-based
    # planner broadcasts it at test SFs and AQE decides at scale; if
    # it ever sort-merges, the semi join and the window share the
    # anchor... key exchange is by `key` while the window partitions
    # by `anchor`, so the worst case adds one filtered-row exchange —
    # still far below the unfiltered suffix shuffle.
    anchor_keys = F.element_at(F.transform(F.array(toks), anchors_of), 1)
    hot = (
        docs.filter(F.size(toks) >= MIN_MATCH_TOKENS)
        .select("doc_id", F.explode(anchor_keys).alias("a"))
        .select("doc_id", key_of(F.col("a")).alias("key"))
        .groupBy("key")
        .agg(F.min("doc_id").alias("__mn"), F.max("doc_id").alias("__mx"))
        .filter(F.col("__mn") != F.col("__mx"))
        .select("key")
    )
    sfx = sfx.join(hot, "key", "left_semi")

    w = Window.partitionBy("anchor").orderBy("rest", "doc_id", "pos")
    lagged = sfx.select(
        "doc_id",
        "rest",
        F.lag("doc_id").over(w).alias("p_doc"),
        F.lag("rest").over(w).alias("p_rest"),
    ).filter(F.col("p_doc").isNotNull() & (F.col("p_doc") != F.col("doc_id")))
    if pack_rest:
        # decode AFTER the shuffle+window: split back to token arrays
        # for the LCP arithmetic. An empty tail packs to "" which
        # split() would turn into [""] (one empty token) — restore the
        # empty ARRAY explicitly so LCP-vs-empty stays 0, byte-for-byte
        # the array form's semantics.
        def unpack(c):
            return F.when(F.col(c) == "", F.array().cast("array<string>")).otherwise(
                F.split(F.col(c), _PACK_SEP)
            ).alias(c)

        lagged = lagged.select("doc_id", unpack("rest"), "p_doc", unpack("p_rest"))

    eqs = F.zip_with(F.col("rest"), F.col("p_rest"), lambda x, y: x.eqNullSafe(y))
    mismatch = F.array_position(eqs, F.lit(False))
    lcp = F.when(
        mismatch == 0, F.least(F.size("rest"), F.size("p_rest"))
    ).otherwise(mismatch - 1)
    pairs = lagged.select(
        F.least("doc_id", "p_doc").alias("id_a"),
        F.greatest("doc_id", "p_doc").alias("id_b"),
        (F.lit(MIN_MATCH_TOKENS) + lcp).cast("bigint").alias("match_len"),
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(
            F.max("match_len").alias("max_span_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        )
        .orderBy(F.desc("max_span_tokens"), "id_a", "id_b")
        .limit(20)
    )


def _substring_dup_spans_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _substring_dup_spans(spark, sf_dir, hash_anchor=True)


def _substring_dup_spans_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full scale posture of the substring tier (r7 VERDICT item 4):
    8-byte hashed anchor AND the suffix tail packed to one string. The
    r7 hashed twin cut only ~12% because the tail payload — not the
    anchor — dominates the suffix shuffle; packing attacks the payload
    itself (the array framing, 16 bytes/token, outweighs the text).
    Result-identical to both siblings by construction; same oracle."""
    return _substring_dup_spans(spark, sf_dir, hash_anchor=True, pack_rest=True)


_SUBSTRING_DUP_SPANS_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(
           trim(regexp_replace(text, '[\x00\x01]', ' ', 'g')), '\s+'
         ) AS toks
  FROM documents
), sfx AS (
  SELECT doc_id, i AS pos,
         array_to_string(toks[i:i+{MIN_MATCH_TOKENS - 1}], ' ') AS anchor,
         toks[i+{MIN_MATCH_TOKENS}:i+{SUFFIX_CAP - 1}] AS rest
  FROM t, LATERAL (
    SELECT unnest(range(1, greatest(len(toks) - {MIN_MATCH_TOKENS - 1}, 0) + 1)) AS i
  ) r
), lagged AS (
  SELECT doc_id, rest,
         lag(doc_id) OVER w AS p_doc, lag(rest) OVER w AS p_rest
  FROM sfx
  WINDOW w AS (PARTITION BY anchor ORDER BY rest, doc_id, pos)
), scored AS (
  SELECT doc_id, p_doc, rest, p_rest,
         list_position(
           list_transform(list_zip(rest, p_rest), x -> x[1] IS NOT DISTINCT FROM x[2]),
           false
         ) AS mismatch
  FROM lagged WHERE p_doc IS NOT NULL AND p_doc <> doc_id
), pairs AS (
  SELECT least(doc_id, p_doc) AS id_a, greatest(doc_id, p_doc) AS id_b,
         CAST({MIN_MATCH_TOKENS} + CASE WHEN mismatch = 0
              THEN least(len(rest), len(p_rest)) ELSE mismatch - 1 END AS BIGINT) AS match_len
  FROM scored
)
SELECT id_a, id_b,
       CAST(max(match_len) AS BIGINT) AS max_span_tokens,
       CAST(count(*) AS BIGINT) AS n_anchors
FROM pairs GROUP BY id_a, id_b
ORDER BY max_span_tokens DESC, id_a, id_b
LIMIT 20
"""


# --- Q: substring_scrub_stats — variable-span removal accounting ------
# The APPLY side of substring_dup_spans: how much text would actually
# be removed if every duplicated >=8-token span (first-occurrence
# keep, doc_id = arrival order) were scrubbed. An anchor position is
# duplicated when a smaller doc_id contains the same 8-gram; the
# removed token count per doc is the size of the UNION of the 8-token
# windows over its duplicated anchors — with fixed-length sorted
# intervals the union telescopes to sum(min(8, pos - lag(pos)))
# (first interval contributes 8), so the sweep is a lag window
# PARTITIONED BY doc. Two key-partitioned windows (by anchor value,
# by doc), exact integers end to end, one division per source row.

def _substring_scrub_stats(
    spark: SparkSession, sf_dir: str, hash_anchor: bool = False
) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = spread(t.documents, spark)

    def anchors_of(tk):
        starts = F.sequence(F.lit(1), F.size(tk) - F.lit(MIN_MATCH_TOKENS - 1))

        def anchor_of(i):
            a = F.array_join(F.slice(tk, i, MIN_MATCH_TOKENS), " ")
            # equality-only use (the min-doc window key), so the
            # fixed-width xxhash64 substitution is result-identical
            # modulo the documented 2^-64-per-pair collision trade
            # (a collision can only mark one extra position duplicated)
            return F.xxhash64(a) if hash_anchor else a

        return F.transform(
            starts,
            lambda i: F.struct(anchor_of(i).alias("anchor"), i.alias("pos")),
        )

    anchors = F.element_at(F.transform(F.array(tokens("text")), anchors_of), 1)
    pos_tbl = (
        docs.filter(F.size(tokens("text")) >= MIN_MATCH_TOKENS)
        .select("doc_id", "source", F.explode(anchors).alias("s"))
        .select("doc_id", "source", "s.anchor", "s.pos")
    )
    w_anchor = Window.partitionBy("anchor")
    # explicit projection before the per-doc sweep window: the second
    # shuffle needs only (doc_id, source, pos). Catalyst's column
    # pruning already drops anchor/first_doc here (verified via
    # execution_metrics); the select just makes that contract visible.
    dup = (
        pos_tbl.withColumn("first_doc", F.min("doc_id").over(w_anchor))
        .filter(F.col("first_doc") < F.col("doc_id"))
        .select("doc_id", "source", "pos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    swept = dup.withColumn(
        "removed",
        F.least(
            F.lit(MIN_MATCH_TOKENS),
            F.coalesce(
                F.col("pos") - F.lag("pos").over(w_doc), F.lit(MIN_MATCH_TOKENS)
            ),
        ).cast("bigint"),
    )
    removed_by_source = swept.groupBy("source").agg(
        F.sum("removed").cast("bigint").alias("removed_tokens")
    )
    totals = docs.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("bigint").alias("total_tokens")
    )
    return (
        totals.join(removed_by_source, "source", "left")
        .select(
            "source",
            "total_tokens",
            F.coalesce("removed_tokens", F.lit(0)).cast("bigint").alias("removed_tokens"),
            F.round(
                (F.col("total_tokens") - F.coalesce("removed_tokens", F.lit(0)))
                / F.col("total_tokens"),
                6,
            ).alias("kept_frac"),
        )
        .orderBy("source")
    )


_SUBSTRING_SCRUB_STATS_SQL = rf"""
WITH t AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks FROM documents
), pos_tbl AS (
  SELECT doc_id, source, i AS pos,
         array_to_string(toks[i:i+{MIN_MATCH_TOKENS - 1}], ' ') AS anchor
  FROM t, LATERAL (
    SELECT unnest(range(1, greatest(len(toks) - {MIN_MATCH_TOKENS - 1}, 0) + 1)) AS i
  ) r
), dup AS (
  SELECT doc_id, source, pos
  FROM (
    SELECT doc_id, source, pos, min(doc_id) OVER (PARTITION BY anchor) AS first_doc
    FROM pos_tbl
  ) WHERE first_doc < doc_id
), swept AS (
  SELECT source,
         CAST(least({MIN_MATCH_TOKENS},
              coalesce(pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                       {MIN_MATCH_TOKENS})) AS BIGINT) AS removed
  FROM dup
), removed_by_source AS (
  SELECT source, CAST(sum(removed) AS BIGINT) AS removed_tokens
  FROM swept GROUP BY source
), totals AS (
  SELECT source, CAST(sum(len(toks)) AS BIGINT) AS total_tokens
  FROM t GROUP BY source
)
SELECT tt.source, tt.total_tokens,
       CAST(coalesce(r.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       round((tt.total_tokens - coalesce(r.removed_tokens, 0)) * 1.0
             / tt.total_tokens, 6) AS kept_frac
FROM totals tt LEFT JOIN removed_by_source r ON r.source = tt.source
ORDER BY tt.source
"""


def _substring_scrub_stats_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale posture of the scrub accounting (the substring family's
    xxhash64-anchor move applied to its apply side): the 8-token
    verbatim anchor only ever serves as an equality key for the
    min-doc window, so the fixed 8-byte hash carries the same
    information through the anchor shuffle at a fraction of the row
    width. Result-identical to substring_scrub_stats modulo the
    documented 2^-64-per-pair collision trade; same oracle."""
    return _substring_scrub_stats(spark, sf_dir, hash_anchor=True)


# --- Q: k_eidetic_histogram — memorization-risk replication curve -----
# Carlini et al.'s k-eidetic framing: a span memorizable from k
# training examples is risky in proportion to how SMALL k is. The
# curve a release review reads is the replication histogram of
# MIN_MATCH_TOKENS-gram anchors: for each replication level k>=2 (doc
# count capped at 10+ for the tail band), how many distinct anchors
# and how many total positions sit at that level. Pairwise span
# length is substring_dup_spans' job; this is the ORTHOGONAL axis —
# breadth of replication, not depth of match. Scale shape: one
# explode + one anchor-keyed hash aggregate (map-side combined), then
# a 9-row histogram; the xxhash64-anchor posture of the substring
# family applies verbatim when the verbatim anchor outgrows the row.

K_EIDETIC_CAP = 10


def _k_eidetic_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = spread(t.documents, spark)

    def anchors_of(tk):
        starts = F.sequence(F.lit(1), F.size(tk) - F.lit(MIN_MATCH_TOKENS - 1))
        return F.transform(
            starts, lambda i: F.array_join(F.slice(tk, i, MIN_MATCH_TOKENS), " ")
        )

    toks = tokens(F.regexp_replace(F.col("text"), _CTRL_BYTES_RE, " "))
    anchors = F.element_at(F.transform(F.array(toks), anchors_of), 1)
    pos_tbl = (
        docs.filter(F.size(toks) >= MIN_MATCH_TOKENS)
        .select("doc_id", F.explode(anchors).alias("anchor"))
    )
    per_anchor = pos_tbl.groupBy("anchor").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_positions"),
    )
    return (
        per_anchor.filter(F.col("n_docs") >= 2)
        .select(
            F.least(F.col("n_docs"), F.lit(K_EIDETIC_CAP)).alias("replication"),
            "n_positions",
        )
        .groupBy("replication")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
            F.sum("n_positions").cast("bigint").alias("n_positions"),
        )
        .orderBy("replication")
    )


_K_EIDETIC_HISTOGRAM_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(text, '[\x00\x01]', ' ', 'g')), '\s+') AS toks
  FROM documents
), pos_tbl AS (
  SELECT doc_id, array_to_string(toks[i:i+{MIN_MATCH_TOKENS - 1}], ' ') AS anchor
  FROM t, LATERAL (
    SELECT unnest(range(1, greatest(len(toks) - {MIN_MATCH_TOKENS - 1}, 0) + 1)) AS i
  ) r
  WHERE len(toks) >= {MIN_MATCH_TOKENS}
), per_anchor AS (
  SELECT anchor, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_positions
  FROM pos_tbl GROUP BY anchor
)
SELECT least(n_docs, {K_EIDETIC_CAP}) AS replication,
       CAST(count(*) AS BIGINT) AS n_anchors,
       CAST(sum(n_positions) AS BIGINT) AS n_positions
FROM per_anchor
WHERE n_docs >= 2
GROUP BY 1
ORDER BY 1
"""


# --- Q: ngram_novelty — crawl-order novelty profile per source --------
# How much NEW text each source contributes in crawl order (doc_id
# stands in for arrival order): a distinct 3-gram is "novel" when the
# smallest doc_id containing it is this doc. Sources that mostly
# re-emit earlier grams (mirrors, spinners) score low — the
# incremental-value signal a crawl-prioritization loop feeds on.
# Scale shape: one explode + one window PARTITIONED BY the gram value
# (key-partitioned min, no join, no global sort); per-source totals
# are exact BIGINTs with novelty as ONE division, per the audits
# recipe (no float summation anywhere).

NOVELTY_NGRAM = 3


def _ngram_novelty(
    spark: SparkSession, sf_dir: str, hash_gram: bool = False
) -> DataFrame:
    from databeats_spark.functions.text import word_shingles

    t = load_tables(spark, sf_dir, ["documents"])
    # hash_gram: the 5-gram only ever serves as the novelty window's
    # equality key, so the fixed-width xxhash64 substitution halves the
    # shuffle row (documented 2^-64-per-pair collision trade: a
    # collision can only mark a novel gram as seen)
    gram = F.explode(word_shingles("text", n=NOVELTY_NGRAM)).alias("g")
    grams = spread(t.documents, spark).select("doc_id", "source", gram)
    if hash_gram:
        grams = grams.select("doc_id", "source", F.xxhash64("g").alias("g"))
    w = Window.partitionBy("g")
    flagged = grams.withColumn(
        "is_novel", (F.col("doc_id") == F.min("doc_id").over(w)).cast("long")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("is_novel").cast("bigint").alias("n_novel"),
        )
        .select(
            "source",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty_rate"),
        )
        .orderBy("source")
    )


_NGRAM_NOVELTY_SQL = rf"""
WITH t AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks FROM documents
), g AS (
  SELECT doc_id, source, unnest(
    list_distinct(list_transform(
      range(1, greatest(len(toks) - {NOVELTY_NGRAM - 1}, 0) + 1),
      i -> array_to_string(toks[i:i+{NOVELTY_NGRAM - 1}], ' ')
    ))
  ) AS g
  FROM t
), flagged AS (
  SELECT source,
         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY g) THEN 1 ELSE 0 END AS is_novel
  FROM g
)
SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(is_novel) AS BIGINT) AS n_novel,
       round(sum(is_novel) * 1.0 / count(*), 6) AS novelty_rate
FROM flagged GROUP BY source ORDER BY source
"""


def _ngram_novelty_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale posture of the novelty profile: xxhash64 the 5-gram before
    the novelty window (equality-only key). Result-identical modulo
    the 2^-64-per-pair collision trade; same oracle."""
    return _ngram_novelty(spark, sf_dir, hash_gram=True)


# --- Q: epoch_shard_layout — seeded epoch order + token-budget shards -
# The last step before a training run: permute the corpus with a
# SEEDED, engine-exact permutation and cut the permuted token stream
# into fixed-budget shards. The permutation is a Lehmer LCG
# (perm = doc_id·48271 mod (2^31−1) — pure integer arithmetic, so
# Spark and the oracle agree bit-for-bit; xxhash64/DuckDB hash() would
# diverge), a bijection on [1, 2^31−2] so distinct doc_ids keep
# distinct slots. The running token offset rides
# operators/scale.py::partitioned_running_total (two-phase scan) —
# never a single-partition global window; a doc belongs to the shard
# containing its FIRST token (concat-then-chunk semantics).

EPOCH_SHARD_TOKENS = 2_000
_LCG_A = 48271
_LCG_M = 2_147_483_647


def _epoch_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import partitioned_running_total

    t = load_tables(spark, sf_dir, ["documents"])
    sized = t.documents.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("bigint").alias("n_tok"),
        ((F.col("doc_id") + 1) * _LCG_A % _LCG_M).cast("bigint").alias("perm"),
    ).filter(F.col("n_tok") > 0)
    with_total = partitioned_running_total(
        sized,
        order_by=[F.col("perm"), F.col("doc_id")],
        sums={"end_tok": "n_tok"},
    )
    return with_total.select(
        "doc_id",
        "perm",
        "n_tok",
        (F.col("end_tok") - F.col("n_tok")).alias("start_tok"),
        F.expr(f"(end_tok - n_tok) div {EPOCH_SHARD_TOKENS}").alias("shard"),
    ).orderBy("perm", "doc_id")


_EPOCH_SHARD_LAYOUT_SQL = f"""
WITH sized AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok,
         CAST((doc_id + 1) * {_LCG_A} % {_LCG_M} AS BIGINT) AS perm
  FROM documents
),
laid AS (
  SELECT doc_id, perm, n_tok,
         sum(n_tok) OVER (ORDER BY perm, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_tok
  FROM sized WHERE n_tok > 0
)
SELECT doc_id, perm, n_tok,
       CAST(end_tok - n_tok AS BIGINT) AS start_tok,
       CAST((end_tok - n_tok) // {EPOCH_SHARD_TOKENS} AS BIGINT) AS shard
FROM laid
ORDER BY perm, doc_id
"""


# --- Q: chao1_vocab_richness — unseen-vocabulary estimation -----------
# Species-richness estimation applied to corpus planning: per source,
# the Chao1 lower bound on TOTAL vocabulary (bias-corrected form
# D + f1(f1−1)/(2(f2+1)) — total by frequency-1/2 counts alone) and the
# Good-Turing sample coverage 1 − f1/N — together they answer "how much
# new vocabulary would more crawl from this source actually buy".
# Shape: one (source, term) hash aggregate (map-side partial combine),
# then a catalog-sized per-source rollup; every estimator input is an
# exact BIGINT (D, f1, f2, N), each derived column is one fixed-order
# double expression off a SINGLE computed chao1 value reused on both
# engines — nothing accumulates in floating point.

def _chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.functions.text import tokens
    from databeats_spark.sources.tables import spread

    docs = spread(load_tables(spark, sf_dir, ["documents"]).documents, spark)
    tf = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    per_src = tf.groupBy("source").agg(
        F.sum("f").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum((F.col("f") == 1).cast("bigint")).cast("bigint").alias("f1"),
        F.sum((F.col("f") == 2).cast("bigint")).cast("bigint").alias("f2"),
    )
    chao1 = F.col("vocab").cast("double") + (
        F.col("f1") * (F.col("f1") - 1)
    ).cast("double") / (F.lit(2) * (F.col("f2") + 1)).cast("double")
    with_est = per_src.withColumn("chao1_raw", chao1)
    return with_est.select(
        "source",
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        F.round("chao1_raw", 6).alias("chao1"),
        F.round(
            F.lit(1.0) - F.col("f1").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("gt_coverage"),
        F.round(
            (F.col("chao1_raw") - F.col("vocab").cast("double")) / F.col("chao1_raw"),
            6,
        ).alias("unseen_share"),
    ).orderBy("source")


_CHAO1_SQL = r"""
WITH tf AS (
  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
), freq AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS f
  FROM tf GROUP BY source, term
), per_src AS (
  SELECT source,
         CAST(sum(f) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM freq GROUP BY source
), est AS (
  SELECT *, CAST(vocab AS DOUBLE)
           + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1_raw
  FROM per_src
)
SELECT source, n_tokens, vocab, f1, f2,
       round(chao1_raw, 6) AS chao1,
       round(1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS gt_coverage,
       round((chao1_raw - CAST(vocab AS DOUBLE)) / chao1_raw, 6) AS unseen_share
FROM est
ORDER BY source
"""


# --- Q: js_source_drift — content drift between sources ---------------
# Pairwise Jensen-Shannon divergence between source unigram
# distributions over the GLOBAL top-K vocabulary + one OOV bucket —
# the content-drift readout beside the length-drift KS/PSI pair (a mix
# planner cares whether sources differ in WHAT they say, not just how
# long the docs are). Catalog-bounded by construction: K+1 cells per
# pair regardless of corpus size (the vocabulary head is a
# TakeOrdered catalog, OOV absorbs the tail), so the per-pair fold
# input is tiny at any scale. Parity: all cell counts exact BIGINT;
# the JS sum is an ORDERED fold over the (is_oov, term)-sorted cell
# list — Spark F.aggregate from a 0.0 seed vs DuckDB list_reduce over
# the 0.0-prepended transformed list, the identical float sequence
# (the LSH-twin fold recipe), with 0·ln0 terms gated by integer
# comparisons, then round(…, 6).

JS_TOP_TERMS = 128


def _js_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.functions.text import tokens
    from databeats_spark.sources.tables import spread

    docs = spread(load_tables(spark, sf_dir, ["documents"]).documents, spark)
    tf = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    topk = (
        tf.groupBy("term")
        .agg(F.sum("c").cast("bigint").alias("tc"))
        .orderBy(F.desc("tc"), "term")
        .limit(JS_TOP_TERMS)
        .select("term", F.lit(1).alias("hit"))
    )
    cells = (
        tf.join(F.broadcast(topk), "term", "left")
        .select(
            "source",
            F.when(F.col("hit").isNotNull(), F.col("term")).otherwise(F.lit("")).alias("term"),
            F.when(F.col("hit").isNotNull(), F.lit(0)).otherwise(F.lit(1)).cast("int").alias("is_oov"),
            "c",
        )
        .groupBy("source", "term", "is_oov")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
    )
    totals = cells.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("n"))
    srcs = cells.select("source").distinct().orderBy("source").limit(KMV_SRC_CAP)
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .crossJoin(srcs.select(F.col("source").alias("sb")))
        .filter(F.col("sa") < F.col("sb"))
    )
    zero = F.lit(0).cast("bigint")
    ua = pairs.join(cells, F.col("source") == F.col("sa")).select(
        "sa", "sb", "term", "is_oov", F.col("cnt").alias("ca"), zero.alias("cb")
    )
    ub = pairs.join(cells, F.col("source") == F.col("sb")).select(
        "sa", "sb", "term", "is_oov", zero.alias("ca"), F.col("cnt").alias("cb")
    )
    g = (
        ua.unionByName(ub)
        .groupBy("sa", "sb", "term", "is_oov")
        .agg(
            F.sum("ca").cast("bigint").alias("ca"),
            F.sum("cb").cast("bigint").alias("cb"),
        )
    )
    with_tot = g.join(
        F.broadcast(totals.select(F.col("source").alias("sa"), F.col("n").alias("n_a"))), "sa"
    ).join(
        F.broadcast(totals.select(F.col("source").alias("sb"), F.col("n").alias("n_b"))), "sb"
    )
    packed = with_tot.groupBy("sa", "sb", "n_a", "n_b").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("is_oov").alias("is_oov"),
                    F.col("term").alias("term"),
                    F.col("ca").alias("ca"),
                    F.col("cb").alias("cb"),
                )
            )
        ).alias("cells")
    )

    def contrib(x):
        pi = x["ca"].cast("double") / F.col("n_a").cast("double")
        qi = x["cb"].cast("double") / F.col("n_b").cast("double")
        m = (pi + qi) / F.lit(2.0)
        return F.lit(0.5) * F.when(x["ca"] > 0, pi * F.log(pi / m)).otherwise(
            F.lit(0.0)
        ) + F.lit(0.5) * F.when(x["cb"] > 0, qi * F.log(qi / m)).otherwise(F.lit(0.0))

    js = F.aggregate(
        F.transform(F.col("cells"), contrib), F.lit(0.0), lambda a, x: a + x
    )
    return packed.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("n_a").alias("n_a_tokens"),
        F.col("n_b").alias("n_b_tokens"),
        F.round(js, 6).alias("js_divergence"),
    ).orderBy("source_a", "source_b")


_JS_SOURCE_DRIFT_SQL = rf"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
), topk AS (
  SELECT term FROM (
    SELECT term, sum(c) AS tc FROM tf GROUP BY term
    ORDER BY tc DESC, term LIMIT {JS_TOP_TERMS}
  )
), cells AS (
  SELECT source,
         CASE WHEN t.term IS NOT NULL THEN tf.term ELSE '' END AS term,
         CASE WHEN t.term IS NOT NULL THEN 0 ELSE 1 END AS is_oov,
         CAST(sum(c) AS BIGINT) AS cnt
  FROM tf LEFT JOIN topk t USING (term)
  GROUP BY 1, 2, 3
), totals AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM cells GROUP BY source
), srcs AS (
  SELECT DISTINCT source FROM cells
), pairs AS (
  SELECT a.source AS sa, b.source AS sb FROM srcs a JOIN srcs b ON a.source < b.source
), u AS (
  SELECT p.sa, p.sb, c.term, c.is_oov, c.cnt AS ca, CAST(0 AS BIGINT) AS cb
  FROM pairs p JOIN cells c ON c.source = p.sa
  UNION ALL
  SELECT p.sa, p.sb, c.term, c.is_oov, CAST(0 AS BIGINT), c.cnt
  FROM pairs p JOIN cells c ON c.source = p.sb
), g AS (
  SELECT sa, sb, term, is_oov,
         CAST(sum(ca) AS BIGINT) AS ca, CAST(sum(cb) AS BIGINT) AS cb
  FROM u GROUP BY 1, 2, 3, 4
), packed AS (
  SELECT g.sa, g.sb, na.n AS n_a, nb.n AS n_b,
         list(struct_pack(is_oov := g.is_oov, term := g.term, ca := g.ca, cb := g.cb)
              ORDER BY g.is_oov, g.term) AS cells
  FROM g
  JOIN totals na ON na.source = g.sa
  JOIN totals nb ON nb.source = g.sb
  GROUP BY g.sa, g.sb, na.n, nb.n
)
SELECT sa AS source_a, sb AS source_b, n_a AS n_a_tokens, n_b AS n_b_tokens,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(cells,
         x -> 0.5 * (CASE WHEN x.ca > 0
                     THEN (CAST(x.ca AS DOUBLE) / CAST(n_a AS DOUBLE))
                          * ln((CAST(x.ca AS DOUBLE) / CAST(n_a AS DOUBLE))
                               / (((CAST(x.ca AS DOUBLE) / CAST(n_a AS DOUBLE))
                                   + (CAST(x.cb AS DOUBLE) / CAST(n_b AS DOUBLE))) / 2.0))
                     ELSE 0.0 END)
            + 0.5 * (CASE WHEN x.cb > 0
                     THEN (CAST(x.cb AS DOUBLE) / CAST(n_b AS DOUBLE))
                          * ln((CAST(x.cb AS DOUBLE) / CAST(n_b AS DOUBLE))
                               / (((CAST(x.ca AS DOUBLE) / CAST(n_a AS DOUBLE))
                                   + (CAST(x.cb AS DOUBLE) / CAST(n_b AS DOUBLE))) / 2.0))
                     ELSE 0.0 END)
       )), (acc, v) -> acc + v), 6) AS js_divergence
FROM packed
ORDER BY source_a, source_b
"""


# --- Q: source_kmv_overlap — mergeable-sketch corpus overlap ----------
# Cross-source n-gram overlap via K-MINIMUM-VALUES sketches (Bar-Yossef
# et al. 2002), the self-auditing way: the KMV Jaccard estimate AND the
# exact shingle-set Jaccard ride ONE dual-engine plan (the
# ann_recall_audit posture), so the sketch's error column is itself
# oracle-certified. The sketch is the 100 TB product — k md5-hex
# strings per source, mergeable by construction (the union's k-min is
# the k-min of the concatenated sketches, exactly what the merged-rank
# window computes); the exact side is the verifier the registry can
# afford at correctness SFs. Hash family = md5 hex compared
# LEXICOGRAPHICALLY (the minhash_near_dups_exact recipe), so every min
# and every rank is a total order both engines share byte-for-byte;
# estimate arithmetic is BIGINT counts with one division. The source
# catalog is cross-joined behind explicit LIMITs (catalog-bounded,
# lint-provable).

KMV_K = 64
KMV_SRC_CAP = 32  # semantic no-op bound on the source catalog


def _kmv_parts(spark: SparkSession, sf_dir: str, pin_d: bool = False):
    """Shared sketch pipeline: distinct (source, shingle) table, the
    bounded source-pair catalog, and the merged-sketch KMV estimate —
    used by both the full self-auditing query (exact verifier joined
    on) and the sketch-only bench variant (VERDICT r9 item 2).

    ``pin_d``: the overlap variant consumes ``d`` through THREE more
    subtrees (both exact-verifier self-join sides + the per-source
    sizes) on top of the sketch chain — and the ``arrs`` checkpoint
    below, which fixed the sketch-only variant's double corpus chain,
    SEVERS in-plan exchange reuse between those subtrees and the
    sketch chain (a ReusedExchange cannot cross checkpoint jobs; the
    r13 shuffle audit measured the corpus distinct exchange executing
    twice, +12.5 MB at sf0.1). One lazy localCheckpoint of ``d``
    restores exactly one corpus-chain execution for the overlap
    variant (one-materialization rule). The sketch-only variant keeps
    ``pin_d=False``: its single consumer streams through the KMV
    window without materializing the corpus-scaled distinct table."""
    from pyspark.sql import Window

    from databeats_spark.functions.text import word_shingles
    from databeats_spark.sources.tables import spread

    docs = spread(load_tables(spark, sf_dir, ["documents"]).documents, spark)
    d = docs.select(
        "source", F.explode(word_shingles("text", 3)).alias("sh")
    ).distinct()
    if pin_d:
        d = d.localCheckpoint(eager=False)
    h = d.select("source", F.md5("sh").alias("h"), "sh")
    wsk = Window.partitionBy("source").orderBy("h", "sh")
    sk = (
        h.withColumn("rn", F.row_number().over(wsk))
        .filter(F.col("rn") <= KMV_K)
        .select("source", "h")
    )
    # Pair-merge as ARRAY math over per-source sketches (r13): the
    # former shape exploded every source's k minima across all its
    # pairs (k x |pairs| x 2 rows — a 4.7 MB shuffle at sf0.1), then
    # re-grouped and re-ranked per pair. A KMV sketch is mergeable by
    # construction, so each source's k minima collapse to ONE sorted
    # array row (catalog-bounded: <=KMV_SRC_CAP rows of k md5 hex
    # strings) and the per-pair estimate is pure array arithmetic on a
    # broadcast join — no fan-out shuffle, no per-pair window. Bit-
    # identical to the grouped form: array_union dedups exactly like
    # GROUP BY h, array_sort is the same lexicographic total order the
    # row_number ranked, slice(..., 1, k) is the rn <= k cut, and a
    # merged value is "common" iff it sits in both input sketches
    # (n_side = 2).
    #
    # ``srcs`` derives from the sketch table, NOT from ``d``: the
    # former d.select("source").distinct() was column-pruned to
    # [source] at the scan, so Catalyst planned a SECOND full
    # scan + shingle-explode + distinct chain just to list sources
    # (exchange reuse needs identical subtrees; pruning made them
    # differ — measured as two ~1.4 cpu-s corpus stages at sf0.1
    # where one suffices). Sources present in ``arrs`` == sources
    # with >=1 distinct shingle == sources in ``d``, so the source
    # catalog (and the pair cross join) is exactly the same set.
    # arrs has THREE consumers (srcs + both pair-join sides) and
    # column pruning would give each its own full corpus chain
    # (measured: the source-pruned srcs branch re-ran the whole
    # scan+explode+distinct+window — exchange reuse needs identical
    # subtrees). One lazy localCheckpoint of this catalog-bounded
    # table (<= KMV_SRC_CAP rows of k hashes) pins one materialization.
    arrs = (
        sk.groupBy("source")
        .agg(F.sort_array(F.collect_list("h")).alias("hs"))
        .localCheckpoint(eager=False)
    )
    srcs = arrs.select("source").orderBy("source").limit(KMV_SRC_CAP)
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .crossJoin(srcs.select(F.col("source").alias("sb")))
        .filter(F.col("sa") < F.col("sb"))
    )
    merged = F.slice(F.array_sort(F.array_union("ha", "hb")), 1, KMV_K)
    est = (
        pairs.join(
            F.broadcast(arrs.select(F.col("source").alias("sa"), F.col("hs").alias("ha"))),
            "sa",
        )
        .join(
            F.broadcast(arrs.select(F.col("source").alias("sb"), F.col("hs").alias("hb"))),
            "sb",
        )
        .select(
            "sa",
            "sb",
            F.size(F.array_intersect(merged, F.array_intersect("ha", "hb")))
            .cast("bigint")
            .alias("kmv_common"),
            F.size(merged).cast("bigint").alias("kmv_size"),
        )
    )
    return d, pairs, est


def _source_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, pairs, est = _kmv_parts(spark, sf_dir, pin_d=True)
    sizes = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    inter = (
        d.select(F.col("source").alias("sa"), "sh")
        .join(d.select(F.col("source").alias("sb"), "sh"), "sh")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    base = (
        pairs.join(est, ["sa", "sb"])
        .join(inter, ["sa", "sb"], "left")
        .join(
            F.broadcast(sizes.select(F.col("source").alias("sa"), F.col("n").alias("n_a"))),
            "sa",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("sb"), F.col("n").alias("n_b"))),
            "sb",
        )
        .withColumn("n_common", F.coalesce(F.col("n_common"), F.lit(0).cast("bigint")))
    )
    j_exact = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    j_kmv = F.col("kmv_common").cast("double") / F.col("kmv_size").cast("double")
    return base.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        "n_a",
        "n_b",
        "n_common",
        F.round(j_exact, 6).alias("j_exact"),
        F.round(j_kmv, 6).alias("j_kmv"),
        F.round(F.abs(j_kmv - j_exact), 6).alias("kmv_abs_err"),
    ).orderBy("source_a", "source_b")


# Shared CTE prefix: the sketch pipeline through ``est`` — the SQL twin
# of ``_kmv_parts`` (one definition, both the full query and the
# sketch-only variant render from it).
_KMV_CTES = rf"""tkn AS (
  SELECT source, string_split_regex(trim(text), '\s+') AS toks FROM documents
), sh3 AS (
  SELECT source, list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                  i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM tkn
), d AS (
  SELECT DISTINCT source, unnest(shingles) AS sh FROM sh3
), h AS (
  SELECT source, md5(sh) AS h, sh FROM d
), sk AS (
  SELECT source, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h, sh) AS rn
    FROM h
  ) WHERE rn <= {KMV_K}
), srcs AS (
  SELECT DISTINCT source FROM d
), pairs AS (
  SELECT a.source AS sa, b.source AS sb FROM srcs a JOIN srcs b ON a.source < b.source
), u AS (
  SELECT p.sa, p.sb, sk.h FROM pairs p JOIN sk ON sk.source = p.sa
  UNION ALL
  SELECT p.sa, p.sb, sk.h FROM pairs p JOIN sk ON sk.source = p.sb
), g AS (
  SELECT sa, sb, h, CAST(count(*) AS BIGINT) AS n_side FROM u GROUP BY 1, 2, 3
), est AS (
  SELECT sa, sb,
         CAST(sum(CASE WHEN n_side = 2 THEN 1 ELSE 0 END) AS BIGINT) AS kmv_common,
         CAST(count(*) AS BIGINT) AS kmv_size
  FROM (
    SELECT sa, sb, n_side, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
    FROM g
  ) WHERE rn <= {KMV_K}
  GROUP BY 1, 2
)"""

_SOURCE_KMV_OVERLAP_SQL = rf"""
WITH {_KMV_CTES}, sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY source
), inter AS (
  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS n_common
  FROM d a JOIN d b ON a.sh = b.sh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.sa AS source_a, p.sb AS source_b, na.n AS n_a, nb.n AS n_b,
       COALESCE(i.n_common, 0) AS n_common,
       round(CAST(COALESCE(i.n_common, 0) AS DOUBLE)
             / CAST(na.n + nb.n - COALESCE(i.n_common, 0) AS DOUBLE), 6) AS j_exact,
       round(CAST(e.kmv_common AS DOUBLE) / CAST(e.kmv_size AS DOUBLE), 6) AS j_kmv,
       round(abs(CAST(e.kmv_common AS DOUBLE) / CAST(e.kmv_size AS DOUBLE)
             - CAST(COALESCE(i.n_common, 0) AS DOUBLE)
               / CAST(na.n + nb.n - COALESCE(i.n_common, 0) AS DOUBLE)), 6) AS kmv_abs_err
FROM pairs p
JOIN est e ON e.sa = p.sa AND e.sb = p.sb
LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
JOIN sizes na ON na.source = p.sa
JOIN sizes nb ON nb.source = p.sb
ORDER BY source_a, source_b
"""


# --- Q: source_kmv_sketch — the sketch half alone (bench posture) -----
# VERDICT r9 item 2: source_kmv_overlap's exact-verifier half (the
# shingle self-join) was 27% of the audit-section CPU at sf0.1 —
# correctness-tier work the sf0.01 oracle run already certifies. This
# variant is the 100 TB product alone: k md5-hex minima per source
# (mergeable sketches), pair-merged estimate, NO exact set-Jaccard.
# Same pipeline code (_kmv_parts / _KMV_CTES — one definition per
# engine side); the full self-auditing query stays registry- and
# oracle-certified unchanged, while the sf0.1 bench audit core times
# THIS query (bench.py _AUDIT_CORE).

def _source_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    _d, _pairs, est = _kmv_parts(spark, sf_dir)
    j_kmv = F.col("kmv_common").cast("double") / F.col("kmv_size").cast("double")
    return est.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        "kmv_size",
        "kmv_common",
        F.round(j_kmv, 6).alias("j_kmv"),
    ).orderBy("source_a", "source_b")


_SOURCE_KMV_SKETCH_SQL = rf"""
WITH {_KMV_CTES}
SELECT sa AS source_a, sb AS source_b, kmv_size, kmv_common,
       round(CAST(kmv_common AS DOUBLE) / CAST(kmv_size AS DOUBLE), 6) AS j_kmv
FROM est
ORDER BY source_a, source_b
"""


# --- Q: boilerplate_prefix_audit — template/header detection ----------
# Boilerplate headers are the classic curation leak: thousands of docs
# opening with the same k tokens (licence banners, scraped nav bars)
# inflate n-gram counts and survive fuzzy dedup when the body differs.
# Per source: the top-3 most repeated 5-token prefixes with their doc
# share. One (source, prefix) hash aggregate + a source-partitioned
# top-k window (catalog partitions) + a broadcast per-source total.
BOILERPLATE_PREFIX_TOKENS = 5
BOILERPLATE_TOP = 3


def _boilerplate_prefix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    pre = t.documents.select(
        "source",
        F.array_join(
            F.slice(tokens("text"), 1, BOILERPLATE_PREFIX_TOKENS), " "
        ).alias("prefix"),
    )
    counts = pre.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    totals = pre.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_source")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("n_docs"), "prefix"
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= BOILERPLATE_TOP)
        .join(F.broadcast(totals), "source")
        .select(
            "source",
            "rank",
            "prefix",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("n_source").cast("double"), 6
            ).alias("doc_share"),
        )
        .orderBy("source", "rank")
    )


_BOILERPLATE_PREFIX_SQL = f"""
WITH pre AS (
  SELECT source,
         array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                    1, {BOILERPLATE_PREFIX_TOKENS}), ' ') AS prefix
  FROM documents
), counts AS (
  SELECT source, prefix, CAST(count(*) AS BIGINT) AS n_docs
  FROM pre GROUP BY source, prefix
), totals AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_source FROM pre GROUP BY source
), ranked AS (
  SELECT source, prefix, n_docs,
         CAST(row_number() OVER (PARTITION BY source ORDER BY n_docs DESC, prefix) AS BIGINT) AS rank
  FROM counts
)
SELECT r.source, r.rank, r.prefix, r.n_docs,
       round(CAST(r.n_docs AS DOUBLE) / CAST(t.n_source AS DOUBLE), 6) AS doc_share
FROM ranked r JOIN totals t ON r.source = t.source
WHERE r.rank <= {BOILERPLATE_TOP}
ORDER BY r.source, r.rank
"""


# --- Q: vocab_contribution_by_source — incremental vocabulary audit ---
# Which ingest batch still ADDS vocabulary? Sources are processed in
# their deterministic lexicographic order; a term is credited to the
# FIRST source containing it (min(source) — both engines agree on
# string order for these ASCII names). Per source: distinct terms,
# newly-contributed terms, and the running vocabulary size — the
# Heaps-law saturation readout that tells a curation pipeline when
# another batch of the same provenance stops paying for itself.
# Scale shape: one term-keyed aggregate (min source per term — map-side
# combinable), one catalog-keyed count, and a running sum over the
# ≤catalog-sized source list behind an explicit LIMIT (lint-provable).
VOCAB_SRC_CAP = 64  # semantic no-op bound on the source catalog


def _vocab_contribution_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    docs = spread(t.documents, spark)
    words = docs.select("source", F.explode(tokens("text")).alias("term"))
    per_src = words.groupBy("source").agg(
        F.count_distinct("term").cast("bigint").alias("n_distinct_terms")
    )
    first = words.groupBy("term").agg(F.min("source").alias("source"))
    new_terms = first.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new_terms")
    )
    joined = (
        per_src.join(new_terms, "source", "left")
        .select(
            "source",
            "n_distinct_terms",
            F.coalesce("n_new_terms", F.lit(0)).cast("bigint").alias("n_new_terms"),
        )
        .limit(VOCAB_SRC_CAP)
    )
    w = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, 0)
    return (
        joined.withColumn(
            "cum_vocab", F.sum("n_new_terms").over(w).cast("bigint")
        )
        .orderBy("source")
    )


_VOCAB_CONTRIBUTION_SQL = """
WITH words AS (
  SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents
), per_src AS (
  SELECT source, CAST(count(DISTINCT term) AS BIGINT) AS n_distinct_terms
  FROM words GROUP BY source
), first AS (
  SELECT term, min(source) AS source FROM words GROUP BY term
), new_terms AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_new_terms FROM first GROUP BY source
)
SELECT p.source, p.n_distinct_terms,
       CAST(COALESCE(n.n_new_terms, 0) AS BIGINT) AS n_new_terms,
       CAST(sum(COALESCE(n.n_new_terms, 0)) OVER (ORDER BY p.source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
FROM per_src p LEFT JOIN new_terms n ON p.source = n.source
ORDER BY p.source
"""


# --- Q: psi_length_drift — per-source distribution-shift gate ---------
# Population Stability Index of each source's doc-length distribution
# against the pooled corpus — the standard production drift monitor
# (PSI < 0.1 stable / 0.1-0.25 moderate / > 0.25 shifted), here as a
# per-ingest-source gate. Six FIXED literal bins (100-char steps,
# top bin open) so bucketing is pure integer arithmetic; +1 Laplace
# smoothing makes empty bins well-defined on both engines; the ≤6
# per-source terms fold in bucket order (F.aggregate from 0.0 mirrored
# by DuckDB's 0.0-prepended list_reduce), with ONE parenthesization of
# (p_s - p_ref) * ln(p_s / p_ref). Scale shape: one scan, a
# (source, bucket)-keyed partial aggregate, a catalog-sized dense grid
# (sources x 6 literal buckets), and bounded broadcasts.
PSI_BIN_CHARS = 100
PSI_N_BINS = 6  # [0,100) .. [400,500), [500,inf)


def _psi_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    binned = t.documents.select(
        "source",
        F.least(
            F.floor(F.col("n_chars") / PSI_BIN_CHARS), F.lit(PSI_N_BINS - 1)
        )
        .cast("bigint")
        .alias("bucket"),
    )
    obs = binned.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    lit_bins = F.array(*[F.lit(i).cast("bigint") for i in range(PSI_N_BINS)])
    # dense grid: every (source, bucket) cell, zero-filled — Laplace
    # smoothing must see the EMPTY bins; the bucket axis is a literal
    # array exploded per source row, so no join introduces it
    dense = (
        binned.select("source")
        .distinct()
        .select("source", F.explode(lit_bins).alias("bucket"))
        .join(obs, ["source", "bucket"], "left")
        .select("source", "bucket", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"))
    )
    ref = (
        spark.range(PSI_N_BINS)
        .select(F.col("id").cast("bigint").alias("bucket"))
        .join(
            binned.groupBy("bucket").agg(F.count(F.lit(1)).cast("bigint").alias("cnt_all")),
            "bucket",
            "left",
        )
        .select("bucket", F.coalesce("cnt_all", F.lit(0)).cast("bigint").alias("cnt_all"))
        .crossJoin(
            F.broadcast(binned.agg(F.count(F.lit(1)).cast("bigint").alias("n_all")))
        )
    )
    n_src = binned.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    joined = dense.join(F.broadcast(n_src), "source").join(F.broadcast(ref), "bucket")
    p_s = (F.col("cnt") + F.lit(1)).cast("double") / (
        F.col("n_docs") + F.lit(PSI_N_BINS)
    ).cast("double")
    p_r = (F.col("cnt_all") + F.lit(1)).cast("double") / (
        F.col("n_all") + F.lit(PSI_N_BINS)
    ).cast("double")
    terms = joined.select(
        "source", "n_docs", "bucket", ((p_s - p_r) * F.log(p_s / p_r)).alias("term")
    )
    packed = terms.groupBy("source", "n_docs").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("bucket").alias("b"), F.col("term").alias("t")))
        ).alias("cells")
    )
    psi = F.aggregate(
        F.transform(F.col("cells"), lambda s: s["t"]), F.lit(0.0), lambda a, x: a + x
    )
    return packed.select(
        "source", "n_docs", F.round(psi, 6).alias("psi")
    ).orderBy("source")


def _psi_length_drift_sql() -> str:
    b = PSI_N_BINS
    p_s = f"(CAST(cnt + 1 AS DOUBLE) / CAST(n_docs + {b} AS DOUBLE))"
    p_r = f"(CAST(cnt_all + 1 AS DOUBLE) / CAST(n_all + {b} AS DOUBLE))"
    return f"""
WITH binned AS (
  SELECT source,
         CAST(least(floor(n_chars / {PSI_BIN_CHARS}), {b - 1}) AS BIGINT) AS bucket
  FROM documents
), obs AS (
  SELECT source, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM binned GROUP BY source, bucket
), bins AS (
  SELECT CAST(range AS BIGINT) AS bucket FROM range({b})
), dense AS (
  SELECT s.source, bi.bucket, COALESCE(o.cnt, 0) AS cnt
  FROM (SELECT DISTINCT source FROM binned) s
  CROSS JOIN bins bi
  LEFT JOIN obs o ON o.source = s.source AND o.bucket = bi.bucket
), refc AS (
  SELECT bi.bucket, COALESCE(r.cnt_all, 0) AS cnt_all
  FROM bins bi
  LEFT JOIN (
    SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_all FROM binned GROUP BY bucket
  ) r ON r.bucket = bi.bucket
), nsrc AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM binned GROUP BY source
), nall AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all FROM binned
), terms AS (
  SELECT d.source, n.n_docs, d.bucket,
         ({p_s} - {p_r}) * ln({p_s} / {p_r}) AS term
  FROM dense d
  JOIN nsrc n ON d.source = n.source
  JOIN refc r ON d.bucket = r.bucket
  CROSS JOIN nall a
)
SELECT source, n_docs,
       round(list_reduce(list_prepend(0.0, list(term ORDER BY bucket)),
                         (x, y) -> x + y), 6) AS psi
FROM terms
GROUP BY source, n_docs
ORDER BY source
"""


SPECS = [
    QuerySpec("js_source_drift", "content drift: pairwise Jensen-Shannon over the top-K vocabulary + OOV bucket, ordered-fold exact parity", _js_source_drift, _JS_SOURCE_DRIFT_SQL, tags=("text", "audit", "stats")),
    QuerySpec("psi_length_drift", "per-source Population Stability Index of doc length vs the pooled corpus (6 literal bins, Laplace-smoothed, ordered fold)", _psi_length_drift, _psi_length_drift_sql, tags=("audit", "stats")),
    QuerySpec("vocab_contribution_by_source", "incremental vocabulary per ingest batch: first-source term credit + running vocab (Heaps saturation readout)", _vocab_contribution_by_source, _VOCAB_CONTRIBUTION_SQL, tags=("text", "audit")),
    QuerySpec("boilerplate_prefix_audit", "template/header detection: top-3 repeated 5-token prefixes per source with doc share", _boilerplate_prefix_audit, _BOILERPLATE_PREFIX_SQL, tags=("text", "audit", "dedup")),
    QuerySpec("chao1_vocab_richness", "unseen-vocabulary planning: Chao1 richness bound + Good-Turing coverage per source, all-BIGINT estimator inputs", _chao1_vocab_richness, _CHAO1_SQL, tags=("text", "audit", "stats")),
    QuerySpec("source_kmv_overlap", "cross-source shingle overlap: KMV sketch Jaccard vs exact in one self-auditing dual-engine plan", _source_kmv_overlap, _SOURCE_KMV_OVERLAP_SQL, tags=("text", "dedup", "audit", "sketch")),
    QuerySpec("source_kmv_sketch", "the mergeable KMV sketch half alone (k md5 minima per source, pair-merged Jaccard estimate) — the 100 TB posture the sf0.1 bench times", _source_kmv_sketch, _SOURCE_KMV_SKETCH_SQL, tags=("text", "dedup", "sketch")),
    QuerySpec("epoch_shard_layout", "seeded epoch permutation + token-budget shard assignment", _epoch_shard_layout, _EPOCH_SHARD_LAYOUT_SQL, tags=("sampling", "text", "scale")),
    QuerySpec("span_dedup_docs", "C4-style duplicate-span accounting (global first-occurrence keep)", _span_dedup_docs, _SPAN_DEDUP_DOCS_SQL, tags=("dedup", "text")),
    QuerySpec("substring_dup_spans", "variable-length duplicated substrings via anchored suffix sort (Lee et al. 2022)", _substring_dup_spans, _SUBSTRING_DUP_SPANS_SQL, tags=("dedup", "text", "window")),
    QuerySpec("k_eidetic_histogram", "memorization-risk curve: 8-gram replication histogram (Carlini k-eidetic axis)", _k_eidetic_histogram, _K_EIDETIC_HISTOGRAM_SQL, tags=("dedup", "text", "compliance")),
    QuerySpec("substring_dup_spans_hashed", "scale posture of the substring tier: xxhash64 BIGINT anchors fix shuffle row width, same results/oracle", _substring_dup_spans_hashed, _SUBSTRING_DUP_SPANS_SQL, tags=("dedup", "text", "window")),
    QuerySpec("substring_dup_spans_packed", "full scale posture: hashed anchor + order-isomorphic packed suffix tail (>2x shuffle cut), same results/oracle", _substring_dup_spans_packed, _SUBSTRING_DUP_SPANS_SQL, tags=("dedup", "text", "window")),
    QuerySpec("ngram_novelty", "crawl-order novelty profile: per-source share of first-seen 3-grams", _ngram_novelty, _NGRAM_NOVELTY_SQL, tags=("text", "agg", "audit")),
    QuerySpec("ngram_novelty_hashed", "scale posture of the novelty profile: xxhash64 grams fix the shuffle row width, same results/oracle", _ngram_novelty_hashed, _NGRAM_NOVELTY_SQL, tags=("text", "agg", "audit")),
    QuerySpec("substring_scrub_stats", "variable-span scrub accounting: tokens removed per source under first-occurrence keep", _substring_scrub_stats, _SUBSTRING_SCRUB_STATS_SQL, tags=("dedup", "text", "window")),
    QuerySpec("substring_scrub_stats_hashed", "scale posture of the scrub accounting: xxhash64 anchors fix the shuffle row width, same results/oracle", _substring_scrub_stats_hashed, _SUBSTRING_SCRUB_STATS_SQL, tags=("dedup", "text", "window")),
    QuerySpec("prefix_dup_groups", "exact leading-prefix dedup groups (templated openers)", _prefix_dup_groups, _PREFIX_DUP_GROUPS_SQL, tags=("dedup", "text")),
    QuerySpec("badword_doc_flags", "blocklist filter rates per source (C4 badwords gate)", _badword_doc_flags, _BADWORD_DOC_FLAGS_SQL, tags=("text", "agg")),
    QuerySpec("idf_doc_score", "per-document mean inverse document frequency", _idf_doc_score, _IDF_DOC_SCORE_SQL, tags=("text", "agg")),
    QuerySpec("cross_source_dups", "near-dup pair counts by source pair (provenance report)", _cross_source_dups, _CROSS_SOURCE_DUPS_SQL, tags=("dedup", "graph")),
    QuerySpec("dup_graph_degree", "degree histogram of the near-dup graph", _dup_graph_degree, _DUP_GRAPH_DEGREE_SQL, tags=("dedup", "graph")),
    QuerySpec("dup_triangles", "triangle/edge/node counts of the near-dup graph", _dup_triangles, _DUP_TRIANGLES_SQL, tags=("dedup", "graph")),
    QuerySpec("lang_mix_flags", "code-switching detector: per-language marker counts + mixed flag", _lang_mix_flags, _LANG_MIX_FLAGS_SQL, tags=("text", "scalar")),
    QuerySpec("oov_rate", "per-doc out-of-vocabulary fraction vs the top-2000 corpus head", _oov_rate, _OOV_RATE_SQL, tags=("text", "agg")),
    QuerySpec("interleave_layout", "deterministic source round-robin training-mix order", _interleave_layout, _INTERLEAVE_LAYOUT_SQL, tags=("text", "sampling", "window")),
    QuerySpec("exposure_cap", "keep at most K copies per exact content fingerprint", _exposure_cap, _EXPOSURE_CAP_SQL, tags=("dedup", "window")),
    QuerySpec("stratified_split_counts", "deterministic per-stratum 80/10/10 split audit (integer thresholds)", _stratified_split_counts, _STRATIFIED_SPLIT_COUNTS_SQL, tags=("sampling", "window")),
]
