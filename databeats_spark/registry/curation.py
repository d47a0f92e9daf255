"""Training-data curation operators (round-2 batch) — the quality /
mix-shaping signals a 100 TB pretraining pipeline computes over the
documents table, beyond the dedup and sampling families already in
``registry/documents.py``:

- rare_trigram_stats: character-trigram rarity scoring — the
  UDF-free stand-in for n-gram-LM quality filtering (docs dominated by
  corpus-rare trigrams are noise/garble candidates). The trigram
  document-frequency table is bounded by charset³, so it broadcasts at
  any corpus scale (same scaling argument as benchmark_decontam).
- length_band_outliers: per-language rank-based p5/p95 length band.
  Computed from a (lang, n_chars) histogram so the per-language window
  runs over distinct lengths, not documents — the per-group-window
  funnel a naive rank would create at 100 TB never materializes.
- per_source_quota: deterministic at-most-K-docs-per-source cap
  (domain caps in web-crawl curation) keyed by md5(doc_id) so the kept
  subset is engine- and partitioning-independent. Spark's
  WindowGroupLimit rewrite turns the rank filter into a map-side
  partial top-K, so no source's full document list is ever sorted in
  one task.

Oracle parity follows the registry recipe (BIGINT counts, round(…,6)
ratio doubles, total-order ties); the trigram normalization reuses the
Java/RE2-identical regex subset established by dedup_exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databeats_spark.operators.windows import top_k_per_group
from databeats_spark.registry import QuerySpec
from databeats_spark.sources.tables import load_tables


# --- Q: rare_trigram_stats -------------------------------------------
# Per-document: distinct char-trigram count, count of corpus-rare
# trigrams (document frequency below 0.5% of the corpus — the
# cross-multiplied, scale-invariant form df*200 < n_docs), and the
# rare fraction. Docs shorter than one trigram drop out of the inner
# join on both engines identically.

def _rare_trigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    norm = F.lower(F.regexp_replace("text", r"\s+", " "))
    pairs = (
        t.documents.select("doc_id", norm.alias("norm"))
        .filter(F.length("norm") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr("transform(sequence(1, length(norm) - 2), i -> substring(norm, i, 3))")
                )
            ).alias("tri"),
        )
    )
    dfreq = pairs.groupBy("tri").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    rare = F.when(F.col("df_docs") * 200 < F.col("n_docs"), F.lit(1)).otherwise(F.lit(0))
    return (
        pairs.join(F.broadcast(dfreq), "tri")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum(rare).cast("long").alias("n_rare"),
            F.round(F.sum(rare).cast("double") / F.count(F.lit(1)), 6).alias("rare_ratio"),
        )
        .orderBy("doc_id")
    )


_RARE_TRIGRAM_STATS_SQL = """
WITH norm AS (
  SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
  FROM documents
),
pairs AS (
  SELECT DISTINCT doc_id, substring(norm, CAST(i AS INTEGER), 3) AS tri
  FROM norm, unnest(range(1, greatest(length(norm) - 1, 1))) AS u(i)
),
dfreq AS (
  SELECT tri, CAST(count(*) AS BIGINT) AS df_docs FROM pairs GROUP BY tri
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_tri,
       CAST(sum(CASE WHEN d.df_docs * 200 < nd.n_docs THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       round(CAST(sum(CASE WHEN d.df_docs * 200 < nd.n_docs THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS rare_ratio
FROM pairs p
JOIN dfreq d USING (tri), nd
GROUP BY p.doc_id
ORDER BY p.doc_id
"""


# --- Q: length_band_outliers -----------------------------------------
# Documents outside their language's [p5, p95] character-length band.
# The percentile is rank-based (value at index ((n-1)*p)//100 of the
# sorted lengths — pure integer arithmetic, no interpolation, so both
# engines pick the identical element). The Spark side derives it from
# the compact (lang, n_chars) histogram: the per-language window scans
# distinct lengths only, so corpus growth widens the histogram slowly
# (distinct lengths, not documents) and no 100 TB-scale window exists.
# The oracle spells the naive per-document rank — same value, since
# rank ties share the length value.

def _length_band_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))
    hist = docs.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.partitionBy("lang").orderBy("n_chars")
    w_all = Window.partitionBy("lang")
    cum = (
        hist.withColumn("cum_end", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(w_all))
        .withColumn("lo_idx", F.expr("((n - 1) * 5) div 100"))
        .withColumn("hi_idx", F.expr("((n - 1) * 95) div 100"))
    )
    covers = lambda idx: (F.col("cum_end") - F.col("cnt") <= F.col(idx)) & (
        F.col(idx) < F.col("cum_end")
    )
    band = cum.groupBy("lang").agg(
        F.max(F.when(covers("lo_idx"), F.col("n_chars"))).alias("lo_val"),
        F.max(F.when(covers("hi_idx"), F.col("n_chars"))).alias("hi_val"),
    )
    return (
        docs.join(F.broadcast(band), "lang")
        .filter((F.col("n_chars") < F.col("lo_val")) | (F.col("n_chars") > F.col("hi_val")))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            (F.col("n_chars") < F.col("lo_val")).alias("is_short"),
            (F.col("n_chars") > F.col("hi_val")).alias("is_long"),
        )
        .orderBy("lang", "doc_id")
    )


_LENGTH_BAND_OUTLIERS_SQL = """
WITH r AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) - 1 AS rn,
         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
  FROM documents
),
band AS (
  SELECT lang,
         max(CASE WHEN rn = ((n - 1) * 5) // 100 THEN n_chars END) AS lo_val,
         max(CASE WHEN rn = ((n - 1) * 95) // 100 THEN n_chars END) AS hi_val
  FROM r GROUP BY lang
)
SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
       d.n_chars < b.lo_val AS is_short,
       d.n_chars > b.hi_val AS is_long
FROM documents d
JOIN band b USING (lang)
WHERE d.n_chars < b.lo_val OR d.n_chars > b.hi_val
ORDER BY d.lang, d.doc_id
"""


# --- Q: per_source_quota ---------------------------------------------
# At most K documents per source, chosen by md5(doc_id) order — the
# deterministic domain-cap: reproducible across engines, partitionings
# and runs (the same auditability argument as deterministic_sample).
# The rank filter compiles to Spark's WindowGroupLimit (map-side
# partial top-K per source before the shuffle), so a source with a
# billion documents ships only K candidates per input partition.

SOURCE_QUOTA_K = 15


def _per_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    key = F.md5(F.col("doc_id").cast("string"))
    kept = top_k_per_group(
        t.documents.select("doc_id", "source", key.alias("hash_key")),
        ["source"],
        ["hash_key", "doc_id"],
        SOURCE_QUOTA_K,
        keep_rank="quota_rank",
    )
    return (
        kept.select(
            "doc_id", "source", F.col("quota_rank").cast("long").alias("quota_rank")
        )
        .orderBy("source", "quota_rank")
    )


_PER_SOURCE_QUOTA_SQL = f"""
SELECT doc_id, source, CAST(quota_rank AS BIGINT) AS quota_rank
FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS quota_rank
  FROM documents
)
WHERE quota_rank <= {SOURCE_QUOTA_K}
ORDER BY source, quota_rank
"""


# --- Q: curation_funnel_exact — the whole pipeline, oracle-checked -----
# The rows-only promotion of the FLAGSHIP composition (r7): the
# curation funnel's only non-SQL-expressible stage is the MinHash+LSH
# candidate generator — swap it for the exact 3-gram Jaccard verifier
# (ngram_jaccard_pairs, the same swap near_dup_pairs/dedup_components
# already verify) and every stage becomes dual-engine:
#   quality band -> md5 exact dedup -> exact-Jaccard pairs ->
#   recursive-CTE connected components -> canonical keep ->
#   4-gram eval decontam -> Knuth-hash rebalance -> md5-order
#   prefix-sum token budget
# The oracle mirrors each stage's EXACT expression tree (single-space
# split for the quality band like plans/curation.py::quality_gate,
# \s+ tokens for shingles, the > n*0.05 double compare, integer Knuth
# math, inclusive running sum over md5(doc_id)) so the stage counts
# hash-match. The Spark side IS the production runner
# (plans/curation.py::curation_report, the same call curation_funnel
# makes) with the exact pair generator passed in, so this query
# certifies the production chain itself, not a copy of it.

FUNNEL_EXACT_BUDGET = 30_000
# stop-shingle cap for the exact pair generator: a 3-gram shared by
# more than this many documents is boilerplate, and every such shingle
# costs df² candidate-join rows — dropping them (from candidates AND
# Jaccard denominators, both engines) caps the blowup without touching
# discriminative shingles. near_dup_pairs/dedup_components bound the
# same generator by doc-id slice instead; the funnel twin must cover
# the WHOLE corpus, so it bounds by document frequency.
FUNNEL_MAX_SHINGLE_DF = 128


def _exact_pairs(docs: DataFrame) -> DataFrame:
    from databeats_spark.operators.dedup import ngram_jaccard_pairs
    from databeats_spark.plans.curation import NEAR_DUP_THRESHOLD

    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=NEAR_DUP_THRESHOLD,
        max_df=FUNNEL_MAX_SHINGLE_DF,
    )


def _curation_funnel_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.plans.curation import curation_report

    return curation_report(
        spark, sf_dir, FUNNEL_EXACT_BUDGET, pair_gen=_exact_pairs
    ).orderBy("stage_idx")


# constants mirrored from plans/curation.py (imported there; inlined in
# the SQL below): MIN_TOK=40, MAX_TOK=5000, MIN_DIVERSITY=0.2,
# NEAR_DUP_THRESHOLD=0.5, DECONTAM_N=4, DECONTAM_EVAL_MOD=20,
# DECONTAM_MAX_OVERLAP=0.05, _KNUTH=2654435761%65536=31153
_CURATION_FUNNEL_EXACT_SQL = rf"""
WITH RECURSIVE raw AS MATERIALIZED (
  SELECT doc_id, text, source FROM documents
), q0 AS (
  SELECT doc_id, text, source,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_distinct
  FROM raw
), quality AS MATERIALIZED (
  SELECT doc_id, text, source, n_tok FROM q0
  WHERE n_tok BETWEEN 40 AND 5000 AND n_distinct >= n_tok * 0.2
), fp AS (
  SELECT doc_id, text, source, n_tok,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fph
  FROM quality
), keepfp AS (
  SELECT fph, min(doc_id) AS keep_id FROM fp GROUP BY fph
), exact_dedup AS MATERIALIZED (
  SELECT f.doc_id, f.text, f.source, f.n_tok
  FROM fp f JOIN keepfp k ON k.fph = f.fph AND k.keep_id = f.doc_id
), tkn AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM exact_dedup
), sh3 AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                        i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM tkn
), ex0 AS (
  SELECT doc_id, unnest(shingles) AS sh FROM sh3
), dfreq AS (
  -- stop-shingle cap: mirror of max_df={FUNNEL_MAX_SHINGLE_DF} on the
  -- Spark side (shingles are distinct per doc, so count(*) = doc freq)
  SELECT sh FROM ex0 GROUP BY sh HAVING count(*) <= {FUNNEL_MAX_SHINGLE_DF}
), ex AS (
  SELECT e.doc_id, e.sh FROM ex0 e JOIN dfreq USING (sh)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), qual_pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM cand
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE common / (sa.n + sb.n - common) >= 0.5
), edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM qual_pairs
  UNION
  SELECT id_b, id_a FROM qual_pairs
), reach(node, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
), comp AS (
  SELECT node, min(label) AS component FROM reach GROUP BY node
), near_dup AS MATERIALIZED (
  SELECT d.doc_id, d.text, d.source, d.n_tok
  FROM exact_dedup d LEFT JOIN comp c ON c.node = d.doc_id
  WHERE c.component IS NULL OR d.doc_id = c.component
), dt AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM near_dup
), dsh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
                        i -> array_to_string(toks[i:i+3], ' '))) AS sh
  FROM dt
), eval_sh AS (
  SELECT DISTINCT unnest(sh) AS shingle FROM dsh WHERE doc_id % 20 = 0
), contaminated AS (
  SELECT c.doc_id
  FROM (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle
        FROM dsh WHERE doc_id % 20 <> 0) c
  JOIN eval_sh e USING (shingle)
  GROUP BY c.doc_id, c.n_sh
  HAVING count(*) > c.n_sh * 0.05
), decontam AS MATERIALIZED (
  SELECT d.doc_id, d.text, d.source, d.n_tok
  FROM near_dup d
  WHERE d.doc_id % 20 <> 0
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
), src_counts AS (
  SELECT source, count(*) AS n_docs FROM decontam GROUP BY source
), minc AS (
  SELECT min(n_docs) AS min_docs FROM src_counts
), rebalance AS MATERIALIZED (
  SELECT d.doc_id, d.n_tok
  FROM decontam d JOIN src_counts s USING (source) CROSS JOIN minc
  WHERE ((d.doc_id * 31153) % 65536) * s.n_docs < 65536 * minc.min_docs
), ranked AS (
  SELECT doc_id,
         sum(n_tok) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tok
  FROM rebalance
), budget AS (
  SELECT doc_id FROM ranked WHERE cum_tok <= {FUNNEL_EXACT_BUDGET}
)
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
         CAST((SELECT count(*) FROM raw) AS BIGINT) AS n_docs
  UNION ALL SELECT 1, 'quality', (SELECT count(*) FROM quality)
  UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM exact_dedup)
  UNION ALL SELECT 3, 'near_dup', (SELECT count(*) FROM near_dup)
  UNION ALL SELECT 4, 'decontam', (SELECT count(*) FROM decontam)
  UNION ALL SELECT 5, 'rebalance', (SELECT count(*) FROM rebalance)
  UNION ALL SELECT 6, 'budget', (SELECT count(*) FROM budget)
)
ORDER BY stage_idx
"""


SPECS = [
    QuerySpec("curation_funnel_exact", "end-to-end funnel with exact-Jaccard near-dup: every stage oracle-checked", _curation_funnel_exact, _CURATION_FUNNEL_EXACT_SQL, tags=("dedup", "text", "graph", "pipeline")),
    QuerySpec("rare_trigram_stats", "char-trigram rarity scoring (n-gram-LM quality proxy)", _rare_trigram_stats, _RARE_TRIGRAM_STATS_SQL, tags=("text", "quality")),
    QuerySpec("length_band_outliers", "per-language rank-based p5/p95 length band outliers", _length_band_outliers, _LENGTH_BAND_OUTLIERS_SQL, tags=("text", "quality")),
    QuerySpec("per_source_quota", "deterministic at-most-K-per-source domain cap", _per_source_quota, _PER_SOURCE_QUOTA_SQL, tags=("text", "sampling")),
]
