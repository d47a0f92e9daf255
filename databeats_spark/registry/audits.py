"""Corpus QA / audit shapes (round-5 batch) — the checks a
training-data team runs BEFORE a corpus ships, on top of the r3/r4
dedup + hygiene signals:

- split_leakage_pairs: near-dup pairs that CROSS a deterministic
                       train/val split — the contamination audit that
                       catches eval leakage exact-hash splits miss
                       (near-dups of a val doc sitting in train)
- lexical_diversity:   per-source type-token ratios, both doc-pooled
                       and source-global — the collapsed-diversity
                       signal (templated/spun text scores low)
- dup_cluster_sizes:   histogram of near-dup cluster sizes — the shape
                       of the duplication (many pairs vs few giant
                       clusters changes the dedup strategy)
- canonical_best_docs: quality-aware survivor selection — keep the
                       LONGEST doc per near-dup cluster (tie: min id)
                       instead of canonical_docs' arbitrary min-id
- near_dup_threshold_sweep: candidate-pair counts by 0.05 Jaccard
                       band — the curve that picks the dedup threshold
- token_budget_allocation: water-filling per-source quotas under a
                       total token budget — the training-mix planner
- dup_rate_by_source:  per-source near-dup membership rate — the
                       provenance pollution chart, release over release
- padding_waste_by_bucket: pad tokens burned per power-of-two length
                       bucket — the padding-vs-packing batching
                       decision, the cost sequence_packing avoids

Reference parity: the reference's dedup surface is exact
drop_duplicates (SURVEY §2.5 A2/A3); these extend the same
training-data north star as the r3 mining and r4 corpus batches.
Oracle parity per the registry recipe: BIGINT counts, round(…, 6)
ratio doubles, total-order sorts; ratios are computed as ONE division
of two exact integer sums so no float-summation order exists.

Scale notes: leakage + cluster-size + survivor queries reuse the
bounded exact-Jaccard pair slice as their edge list (the bounded-
verifier posture of near_dup_pairs — at corpus scale the edge list
comes from minhash_near_dups and the downstream shapes are
unchanged). lexical_diversity is two hash aggregates keyed by source
joined on the 5-row source catalog. The survivor window partitions by
coalesce(component, doc_id) — key-partitioned; singletons never pool
into a NULL partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databeats_spark.functions.text import tokens
from databeats_spark.operators.dedup import ngram_jaccard_pairs
from databeats_spark.operators.graph import connected_components, dedup_keep_best
from databeats_spark.operators.scale import attach_global_scalar
from databeats_spark.registry import QuerySpec
from databeats_spark.registry.documents import (
    JACCARD_THRESHOLD,
    PAIR_DOC_LIMIT,
    _CLOSURE_CTES,
    _PAIRS_CTES,
    _closure_components,
    _pairs_ctes,
    _shingle_ctes,
)
from databeats_spark.sources.tables import load_tables, spread


# --- Q: split_leakage_pairs — near-dup contamination across a split ------
# The split is the md5-threshold rule (deterministic_sample's
# auditability argument: same membership on any engine / partitioning),
# NOT seeded RNG. A pair with split_a != split_b is a leak: training on
# one side memorizes the other side's eval doc.

SPLIT_HEX_THRESHOLD = "8000"  # md5 prefix < this => train (~50%)


def _split_of(c):
    return F.when(
        F.substring(F.md5(c.cast("string")), 1, 4) < SPLIT_HEX_THRESHOLD, "train"
    ).otherwise("val")


def _split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=JACCARD_THRESHOLD)
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(F.col("jaccard"), 6).alias("jaccard"),
            _split_of(F.col("id_a")).alias("split_a"),
            _split_of(F.col("id_b")).alias("split_b"),
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .orderBy("id_a", "id_b")
    )


_SPLIT_LEAKAGE_PAIRS_SQL = f"""
WITH {_PAIRS_CTES},
qual AS (
  SELECT id_a, id_b,
         round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
  FROM pairs
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.n + sb.n - common) >= {JACCARD_THRESHOLD}
),
tagged AS (
  SELECT id_a, id_b, jaccard,
         CASE WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 4) < '{SPLIT_HEX_THRESHOLD}'
              THEN 'train' ELSE 'val' END AS split_a,
         CASE WHEN substr(md5(CAST(id_b AS VARCHAR)), 1, 4) < '{SPLIT_HEX_THRESHOLD}'
              THEN 'train' ELSE 'val' END AS split_b
  FROM qual
)
SELECT id_a, id_b, jaccard, split_a, split_b
FROM tagged
WHERE split_a <> split_b
ORDER BY id_a, id_b
"""


# --- Q: lexical_diversity — type-token ratios per source -----------------
# Both ratios divide EXACT integer sums once (no float accumulation):
# doc_ttr pools per-doc distinct counts; source_ttr counts distinct
# tokens across the whole source (the stricter global vocabulary view).

def _lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = spread(t.documents, spark)
    toked = docs.select(
        "source",
        tokens("text").alias("__toks"),
    ).select(
        "source",
        F.size("__toks").alias("__n"),
        F.size(F.array_distinct("__toks")).alias("__t"),
        F.col("__toks"),
    )
    per_doc = toked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__n").cast("bigint").alias("n_tokens"),
        F.sum("__t").cast("bigint").alias("n_doc_types"),
    )
    global_types = (
        toked.select("source", F.explode("__toks").alias("__tok"))
        .groupBy("source")
        .agg(F.count_distinct("__tok").cast("bigint").alias("n_source_types"))
    )
    return (
        per_doc.join(global_types, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_doc_types",
            F.round(F.col("n_doc_types") / F.col("n_tokens"), 6).alias("doc_ttr"),
            "n_source_types",
            F.round(F.col("n_source_types") / F.col("n_tokens"), 6).alias("source_ttr"),
        )
        .orderBy("source")
    )


_LEXICAL_DIVERSITY_SQL = r"""
WITH toked AS (
  SELECT source, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
), per_doc AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         CAST(sum(len(list_distinct(toks))) AS BIGINT) AS n_doc_types
  FROM toked
  GROUP BY source
), global_types AS (
  SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS n_source_types
  FROM (SELECT source, unnest(toks) AS tok FROM toked)
  GROUP BY source
)
SELECT p.source, p.n_docs, p.n_tokens, p.n_doc_types,
       round(p.n_doc_types * 1.0 / p.n_tokens, 6) AS doc_ttr,
       g.n_source_types,
       round(g.n_source_types * 1.0 / p.n_tokens, 6) AS source_ttr
FROM per_doc p JOIN global_types g USING (source)
ORDER BY p.source
"""


# --- Q: dup_cluster_sizes — near-dup cluster-size histogram --------------
# Wider slice + lower threshold than the pair queries so the histogram
# has structure (clusters beyond bare pairs); the recursive-CTE oracle
# recomputes the same transitive closure exactly.

DUP_HIST_DOC_LIMIT = 500
DUP_HIST_THRESHOLD = 0.35

def _dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < DUP_HIST_DOC_LIMIT)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=DUP_HIST_THRESHOLD)
    comps = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    sizes = comps.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
        )
        .select(F.col("cluster_size").cast("bigint").alias("cluster_size"), "n_clusters", "n_docs")
        .orderBy("cluster_size")
    )


_DUP_CLUSTER_SIZES_SQL = f"""
WITH RECURSIVE {_pairs_ctes(DUP_HIST_DOC_LIMIT)},
qual AS (
  SELECT id_a, id_b
  FROM pairs
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.n + sb.n - common) >= {DUP_HIST_THRESHOLD}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM qual
  UNION
  SELECT id_b, id_a FROM qual
),
reach(node, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
),
comp AS (
  SELECT node, min(label) AS component FROM reach GROUP BY node
),
sizes AS (
  SELECT component, count(*) AS cluster_size FROM comp GROUP BY component
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM sizes
GROUP BY cluster_size
ORDER BY cluster_size
"""


# --- Q: dup_rate_by_source — per-source duplication rate -----------------
# Which sources are polluted: the fraction of each source's docs (in
# the bounded verifier slice) that belong to ANY near-dup cluster.
# cross_source_dups counts pairs BETWEEN sources; this is the
# per-source membership rate — the provenance chart a curation team
# watches release over release. One exact integer ratio per source.

def _dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=JACCARD_THRESHOLD)
    members = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        docs.join(members, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))).cast("bigint").alias("n_dup_members"),
        )
        .withColumn("dup_rate", F.round(F.col("n_dup_members") / F.col("n_docs"), 6))
        .orderBy("source")
    )


_DUP_RATE_BY_SOURCE_SQL = f"""
WITH {_PAIRS_CTES},
qual AS (
  SELECT id_a, id_b
  FROM pairs
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.n + sb.n - common) >= {JACCARD_THRESHOLD}
),
members AS (
  SELECT id_a AS doc_id FROM qual
  UNION
  SELECT id_b FROM qual
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN m.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_members,
       round(sum(CASE WHEN m.doc_id IS NULL THEN 0 ELSE 1 END) * 1.0 / count(*), 6) AS dup_rate
FROM documents d
LEFT JOIN members m ON d.doc_id = m.doc_id
WHERE d.doc_id < {PAIR_DOC_LIMIT}
GROUP BY d.source
ORDER BY d.source
"""


# --- Q: canonical_best_docs — quality-aware survivor selection -----------
# Same bounded pair slice + transitive closure as canonical_docs, but
# the survivor is the LONGEST doc (tie: min doc_id) — the policy real
# curation pipelines run (keep the best copy, not an arbitrary one).

def _canonical_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    comps = _closure_components(docs)
    kept = dedup_keep_best(
        docs, comps, "doc_id", [F.col("n_chars").desc(), F.col("doc_id").asc()]
    )
    return kept.select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    ).orderBy("doc_id")


_CANONICAL_BEST_DOCS_SQL = f"""
{_CLOSURE_CTES},
ranked AS (
  SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
         row_number() OVER (
           PARTITION BY coalesce(c.component, d.doc_id)
           ORDER BY d.n_chars DESC, d.doc_id
         ) AS rn
  FROM documents d
  LEFT JOIN comp c ON d.doc_id = c.doc_id
  WHERE d.doc_id < {PAIR_DOC_LIMIT}
)
SELECT doc_id, lang, n_chars
FROM ranked
WHERE rn = 1
ORDER BY doc_id
"""


# --- Q: near_dup_threshold_sweep — pair counts by Jaccard band -----------
# The tuning curve for the dedup threshold: how many candidate pairs
# fire in each similarity band. Runs the candidate generator with NO
# threshold (every pair sharing ≥1 shingle) over the bounded verifier
# slice and buckets exact Jaccard into 0.05-wide bands. Both engines
# compute the identical double from the identical integer triple, so
# floor(j*20) lands in the same band bit-for-bit.

def _near_dup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0)
    return (
        pairs.select(
            F.floor(F.col("jaccard") * 20).cast("bigint").alias("band"),
            "jaccard",
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .select(
            "band",
            F.round(F.col("band") / 20.0, 6).alias("band_lo"),
            "n_pairs",
            "min_jaccard",
            "max_jaccard",
        )
        .orderBy("band")
    )


_NEAR_DUP_THRESHOLD_SWEEP_SQL = f"""
WITH {_PAIRS_CTES},
j AS (
  SELECT common * 1.0 / (sa.n + sb.n - common) AS jac
  FROM pairs
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
)
SELECT CAST(floor(jac * 20) AS BIGINT) AS band,
       round(CAST(floor(jac * 20) AS BIGINT) / 20.0, 6) AS band_lo,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(min(jac), 6) AS min_jaccard,
       round(max(jac), 6) AS max_jaccard
FROM j
GROUP BY 1
ORDER BY band
"""


# --- Q: lsh_parameter_audit — banding-knob planner (S-curve audit) -------
# The OTHER dedup knob next to the threshold (dedup_sensitivity_curve)
# and the estimator bias (minhash_estimate_audit): which (bands b,
# rows-per-band r) split of the 16-hash MinHash signature to run at
# corpus scale. For each config with b*r = 16 — (16,1), (8,2) [the
# production minhash_near_dups tier], (4,4), (2,8), (1,16) — the LSH
# detection probability at Jaccard j is the S-curve 1 - (1 - j^r)^b.
# Evaluated at each observed jaccard band's midpoint and multiplied by
# the band's TRUE pair count (the near_dup_threshold_sweep histogram,
# same slice and shingles), this yields the expected caught pairs per
# (config, band): the recall the config buys above the 0.5 tier
# threshold and the false-candidate verification load it pays below —
# the numbers that pick the banding for a 100-TB run.
#
# Exactness engineering: NO order-exposed double sums anywhere — the
# only aggregation is the BIGINT band histogram; every double is then
# computed row-locally. The S-curve powers use b, r ∈ {1,2,4,8,16}
# squaring ladders emitted as ONE SQL CASE text (_SCURVE_CASE) that
# Spark evaluates via F.expr and DuckDB verbatim — identical
# association, bit-equal doubles (the markov-determinant emitter
# posture). Scale posture: the histogram is ≤21 rows, the config
# table a 5-row literal with an explicit LIMIT (plan-lint bounded);
# the corpus-sized work is exactly the sweep's bounded pair subtree.

LSH_SIG_HASHES = 16
LSH_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))


def _pow_chain_sql(base: str, k: int) -> str:
    """x^k for k a power of two, as an explicit squaring ladder —
    ((x*x)*(x*x)) for k=4 — so both engines multiply in the identical
    association and the doubles stay bit-equal."""
    expr = base
    while k > 1:
        expr = f"({expr} * {expr})"
        k //= 2
    return expr


def _scurve_case_sql() -> str:
    arms = []
    for b, r in LSH_CONFIGS:
        miss = f"(1.0 - {_pow_chain_sql('__jm', r)})"
        p = f"(1.0 - {_pow_chain_sql(miss, b)})"
        arms.append(f"WHEN bands = {b} AND rows_per_band = {r} THEN {p}")
    body = "\n  ".join(arms)
    return f"CASE\n  {body}\n  END"


_SCURVE_CASE = _scurve_case_sql()
_JM_SQL = "LEAST((CAST(band AS DOUBLE) + 0.5) / 20.0, 1.0)"


def _lsh_parameter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0)
    hist = (
        pairs.select(F.floor(F.col("jaccard") * 20).cast("bigint").alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    cfg = spark.createDataFrame(
        list(LSH_CONFIGS), "bands bigint, rows_per_band bigint"
    ).limit(len(LSH_CONFIGS))
    p = F.expr(_SCURVE_CASE)
    return (
        hist.crossJoin(F.broadcast(cfg))
        .withColumn("__jm", F.expr(_JM_SQL))
        .select(
            "bands",
            "rows_per_band",
            "band",
            F.round(F.col("band") / 20.0, 6).alias("band_lo"),
            "n_pairs",
            F.round(p, 6).alias("detect_prob"),
            F.round(F.col("n_pairs").cast("double") * p, 6).alias("expected_caught"),
        )
        .orderBy("rows_per_band", "band")
    )


_LSH_PARAMETER_AUDIT_SQL = f"""
WITH {_PAIRS_CTES},
j AS (
  SELECT common * 1.0 / (sa.n + sb.n - common) AS jac
  FROM pairs
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
),
hist AS (
  SELECT CAST(floor(jac * 20) AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM j GROUP BY 1
),
cfg(bands, rows_per_band) AS (VALUES {", ".join(f"(CAST({b} AS BIGINT), CAST({r} AS BIGINT))" for b, r in LSH_CONFIGS)}),
x AS (
  SELECT bands, rows_per_band, band, n_pairs, {_JM_SQL} AS __jm
  FROM hist CROSS JOIN cfg
)
SELECT bands, rows_per_band, band,
       round(band / 20.0, 6) AS band_lo,
       n_pairs,
       round({_SCURVE_CASE}, 6) AS detect_prob,
       round(CAST(n_pairs AS DOUBLE) * {_SCURVE_CASE}, 6) AS expected_caught
FROM x
ORDER BY rows_per_band, band
"""


# --- Q: token_budget_allocation — water-filling mix under a budget ------
# The training-mix planning move: given a total token budget (60% of
# the corpus here), allocate per-source quotas so no source exceeds
# its own supply and all surplus is shared EQUALLY among the larger
# sources — the classic water-filling closed form. Small sources are
# fully taken (capped); the rest all receive the same water level L
# with sum(alloc) = budget.
#
# Exactness engineering: budget and every comparison are pure BIGINT
# arithmetic (cap*(remaining) < budget-prefix is the capped test —
# monotone in the cap-ascending order, so the capped set is a prefix);
# only the final level L is a double, divided once and rounded. The
# per-source table is explicitly .limit()-bounded (a catalog, not a
# data axis) so the rank/prefix windows are provably bounded — no
# allowlist entry; the two global scalars ride attach_global_scalar
# per the derived-scalar rule.

BUDGET_FRACTION_NUM, BUDGET_FRACTION_DEN = 3, 5  # 60%, exact integers
SOURCE_CATALOG_BOUND = 100_000  # documented max distinct sources


def _token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from databeats_spark.operators.scale import attach_global_scalar

    t = load_tables(spark, sf_dir, ["documents"])
    per_src = (
        spread(t.documents, spark)
        .groupBy("source")
        .agg(F.sum(F.size(tokens("text"))).cast("bigint").alias("cap_tokens"))
    )
    # The trailing .limit is the lint's boundedness proof; the guard
    # makes it LOUD: if the catalog ever reaches the bound, every row
    # fails the assert (one job, plan-side, no extra action) instead of
    # the limit silently truncating rows while __total/__n still
    # reflect the full catalog (a wrong allocation + oracle divergence).
    sized = (
        attach_global_scalar(
            per_src,
            F.sum("cap_tokens").cast("bigint").alias("__total"),
            F.count(F.lit(1)).cast("bigint").alias("__n"),
        )
        .where(
            F.assert_true(
                F.col("__n") < F.lit(SOURCE_CATALOG_BOUND),
                F.lit(
                    "token_budget_allocation: source catalog reached "
                    "SOURCE_CATALOG_BOUND — raise the bound; refusing to "
                    "truncate silently"
                ),
            ).isNull()
        )
        .limit(SOURCE_CATALOG_BOUND)
    )

    w = Window.orderBy("cap_tokens", "source")
    flagged = (
        sized.select(
            "source",
            "cap_tokens",
            "__n",
            F.expr(
                f"CAST((__total * {BUDGET_FRACTION_NUM}) DIV {BUDGET_FRACTION_DEN} AS BIGINT)"
            ).alias("__budget"),
            F.row_number().over(w).cast("bigint").alias("__i"),
            F.coalesce(
                F.sum("cap_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("__p"),
        )
        .withColumn(
            "is_capped",
            (F.col("cap_tokens") * (F.col("__n") - F.col("__i") + 1))
            < (F.col("__budget") - F.col("__p")),
        )
    )
    alloc = attach_global_scalar(
        flagged,
        F.sum(F.when(F.col("is_capped"), F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("__k"),
        F.sum(F.when(F.col("is_capped"), F.col("cap_tokens")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("__pk"),
    )
    level = (F.col("__budget") - F.col("__pk")) / (F.col("__n") - F.col("__k"))
    allocated = F.when(
        F.col("is_capped"), F.col("cap_tokens").cast("double")
    ).otherwise(level)
    return alloc.select(
        "source",
        "cap_tokens",
        "is_capped",
        F.round(allocated, 6).alias("allocated_tokens"),
        F.round(allocated / F.col("__budget"), 6).alias("budget_share"),
    ).orderBy("source")


_TOKEN_BUDGET_ALLOCATION_SQL = rf"""
WITH per_src AS (
  SELECT source,
         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS cap_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(cap_tokens) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n
  FROM per_src
), ranked AS (
  SELECT p.source, p.cap_tokens, t.n,
         CAST((t.total * {BUDGET_FRACTION_NUM}) // {BUDGET_FRACTION_DEN} AS BIGINT) AS budget,
         CAST(row_number() OVER (ORDER BY p.cap_tokens, p.source) AS BIGINT) AS i,
         CAST(coalesce(sum(p.cap_tokens) OVER (
           ORDER BY p.cap_tokens, p.source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx
  FROM per_src p, tot t
), flagged AS (
  SELECT *, (cap_tokens * (n - i + 1)) < (budget - pfx) AS is_capped
  FROM ranked
), scal AS (
  SELECT CAST(sum(CASE WHEN is_capped THEN 1 ELSE 0 END) AS BIGINT) AS k,
         CAST(sum(CASE WHEN is_capped THEN cap_tokens ELSE 0 END) AS BIGINT) AS pk
  FROM flagged
), final AS (
  SELECT f.source, f.cap_tokens, f.is_capped, f.budget,
         CASE WHEN f.is_capped THEN CAST(f.cap_tokens AS DOUBLE)
              ELSE (f.budget - s.pk) * 1.0 / (f.n - s.k) END AS alloc
  FROM flagged f, scal s
)
SELECT source, cap_tokens, is_capped,
       round(alloc, 6) AS allocated_tokens,
       round(alloc / budget, 6) AS budget_share
FROM final
ORDER BY source
"""


# --- Q: dedup_sensitivity_curve — threshold -> dup rate -> budget mix ----
# (VERDICT r11 item 7 capstone.) The dedup-tuning decision END-TO-END:
# sweep the exact-Jaccard threshold ladder over the bounded verifier
# slice (near_dup_threshold_sweep's candidate machinery), apply at
# each threshold the scale-friendly DOMINANCE dedup rule — drop any
# doc that has a better-ranked near-dup at >= t (one anti-join, no
# iteration; rank = n_chars DESC, doc_id ASC, the dedup_keep_best
# order; the transitive-closure variant is canonical_best_docs'
# separate tier) — then run token_budget_allocation's exact
# water-filling on each surviving per-source token table. One row per
# (threshold, source): what the dedup knob does to the corpus mix AND
# to the budget shares a training run would actually sample with.
#
# Exactness engineering: jaccard is the same long/long -> binary64
# division on both engines, compared against the same double literals
# (the ladder is shared literal text); dup_rate / water level / share
# are single divisions of exact BIGINTs rounded once at 6; the
# water-filling arithmetic is token_budget_allocation's verbatim,
# windowed PER THRESHOLD. Scale posture: the threshold ladder is a
# 6-row literal table (every BNLJ side it feeds is lint-proved
# bounded), the per-(threshold, source) relation is catalog x ladder
# bounded, and the pair machinery is the PAIR_DOC_LIMIT verifier
# slice — at corpus scale the candidate set comes from the banded
# MinHash generator, exactly as near_dup_threshold_sweep documents.

DEDUP_SWEEP_THRESHOLDS = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8)


def _water_fill_keyed(per: DataFrame):
    """The keyed water-filling block shared by BOTH sensitivity
    queries (r13 review: the curve and the delta carried verbatim
    copies — a future fix to the capped-prefix arithmetic would have
    had to land in two Spark builders or silently diverge a
    certifying query). Input: one row per (threshold, source) with a
    BIGINT ``cap_tokens`` plus any carry columns. Returns
    ``(df, allocated)`` — the frame with ``__budget``/``is_capped``
    attached and the unrounded allocation Column for the caller to
    round/project. Arithmetic is token_budget_allocation's verbatim,
    windowed PER THRESHOLD; that query keeps its own GLOBAL form on
    purpose (its scalars must ride attach_global_scalar per the
    derived-scalar rule — a different plan shape, not a third copy of
    this one)."""
    from pyspark.sql import Window

    wt = Window.partitionBy("threshold")
    wo = wt.orderBy("cap_tokens", "source")
    flagged = (
        per.select(
            "*",
            F.count(F.lit(1)).over(wt).cast("bigint").alias("__n"),
            F.sum("cap_tokens").over(wt).cast("bigint").alias("__total"),
            F.row_number().over(wo).cast("bigint").alias("__i"),
            F.coalesce(
                F.sum("cap_tokens").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("__p"),
        )
        .withColumn(
            "__budget",
            F.expr(
                f"CAST((__total * {BUDGET_FRACTION_NUM}) DIV {BUDGET_FRACTION_DEN} AS BIGINT)"
            ),
        )
        .withColumn(
            "is_capped",
            (F.col("cap_tokens") * (F.col("__n") - F.col("__i") + 1))
            < (F.col("__budget") - F.col("__p")),
        )
    )
    scal = flagged.select(
        "*",
        F.sum(F.when(F.col("is_capped"), F.lit(1)).otherwise(F.lit(0)))
        .over(wt)
        .cast("bigint")
        .alias("__k"),
        F.sum(F.when(F.col("is_capped"), F.col("cap_tokens")).otherwise(F.lit(0)))
        .over(wt)
        .cast("bigint")
        .alias("__pk"),
    )
    level = (F.col("__budget") - F.col("__pk")) / (F.col("__n") - F.col("__k"))
    allocated = F.when(
        F.col("is_capped"), F.col("cap_tokens").cast("double")
    ).otherwise(level)
    return scal, allocated


def _dedup_sensitivity_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    base = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
    )
    # the ladder is literal, but createDataFrame plans it as RDDScan
    # (Arrow conversion), which the lint rightly refuses to trust —
    # the semantic no-op .limit puts the 6-row bound IN THE PLAN
    # (CLAUDE.md: bounded-by-construction relations, never an
    # allowlist entry), proving both BNLJ sides it feeds
    thr = spark.createDataFrame(
        [(float(x),) for x in DEDUP_SWEEP_THRESHOLDS], "threshold double"
    ).limit(len(DEDUP_SWEEP_THRESHOLDS))
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0)
    # rank attrs ride broadcast joins of the id-capped slice (r9 hint
    # policy: bounded by construction), then each pair names its loser
    ranked_pairs = (
        pairs.join(
            F.broadcast(
                base.select(F.col("doc_id").alias("id_a"), F.col("n_chars").alias("__ca"))
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                base.select(F.col("doc_id").alias("id_b"), F.col("n_chars").alias("__cb"))
            ),
            "id_b",
        )
        .select(
            "jaccard",
            F.when(
                (F.col("__ca") > F.col("__cb"))
                | ((F.col("__ca") == F.col("__cb")) & (F.col("id_a") < F.col("id_b"))),
                F.col("id_b"),
            )
            .otherwise(F.col("id_a"))
            .alias("loser"),
        )
    )
    losers = (
        ranked_pairs.join(F.broadcast(thr), F.col("jaccard") >= F.col("threshold"))
        .select("threshold", F.col("loser").alias("doc_id"))
        .distinct()
    )
    kept = base.crossJoin(F.broadcast(thr)).join(
        losers, ["threshold", "doc_id"], "left_anti"
    )
    slice_src = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("__all_docs")
    )
    per = kept.groupBy("threshold", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_docs"),
        F.sum("n_tok").cast("bigint").alias("cap_tokens"),
    ).join(F.broadcast(slice_src), "source")

    scal, allocated = _water_fill_keyed(per)
    return scal.select(
        "threshold",
        "source",
        "kept_docs",
        F.round(
            (F.col("__all_docs") - F.col("kept_docs")) / F.col("__all_docs"), 6
        ).alias("dup_rate"),
        "cap_tokens",
        "is_capped",
        F.round(allocated, 6).alias("allocated_tokens"),
        F.round(allocated / F.col("__budget"), 6).alias("budget_share"),
    ).orderBy("threshold", "source")


_DEDUP_SENSITIVITY_CURVE_SQL = rf"""
WITH {_PAIRS_CTES},
thr(threshold) AS (VALUES (CAST(0.3 AS DOUBLE)), (CAST(0.4 AS DOUBLE)),
                          (CAST(0.5 AS DOUBLE)), (CAST(0.6 AS DOUBLE)),
                          (CAST(0.7 AS DOUBLE)), (CAST(0.8 AS DOUBLE))),
meta AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
  FROM documents WHERE doc_id < {PAIR_DOC_LIMIT}
),
jp AS (
  SELECT common * 1.0 / (sa.n + sb.n - common) AS jac,
         CASE WHEN ma.n_chars > mb.n_chars
                OR (ma.n_chars = mb.n_chars AND id_a < id_b)
              THEN id_b ELSE id_a END AS loser
  FROM pairs
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
  JOIN meta ma ON ma.doc_id = id_a
  JOIN meta mb ON mb.doc_id = id_b
),
losers AS (
  SELECT DISTINCT t.threshold, jp.loser AS doc_id
  FROM jp JOIN thr t ON jp.jac >= t.threshold
),
kept AS (
  SELECT t.threshold, m.source, m.doc_id, m.n_tok
  FROM meta m CROSS JOIN thr t
  WHERE NOT EXISTS (
    SELECT 1 FROM losers l
    WHERE l.threshold = t.threshold AND l.doc_id = m.doc_id
  )
),
allsrc AS (
  SELECT source, CAST(count(*) AS BIGINT) AS all_docs FROM meta GROUP BY source
),
per AS (
  SELECT k.threshold, k.source,
         CAST(count(*) AS BIGINT) AS kept_docs,
         CAST(sum(k.n_tok) AS BIGINT) AS cap_tokens,
         a.all_docs
  FROM kept k JOIN allsrc a ON a.source = k.source
  GROUP BY k.threshold, k.source, a.all_docs
),
ranked AS (
  SELECT *,
         CAST(count(*) OVER (PARTITION BY threshold) AS BIGINT) AS n,
         CAST((CAST(sum(cap_tokens) OVER (PARTITION BY threshold) AS BIGINT)
               * {BUDGET_FRACTION_NUM}) // {BUDGET_FRACTION_DEN} AS BIGINT) AS budget,
         CAST(row_number() OVER (PARTITION BY threshold ORDER BY cap_tokens, source) AS BIGINT) AS i,
         CAST(coalesce(sum(cap_tokens) OVER (
           PARTITION BY threshold ORDER BY cap_tokens, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx
  FROM per
),
flagged AS (
  SELECT *, (cap_tokens * (n - i + 1)) < (budget - pfx) AS is_capped
  FROM ranked
),
scal AS (
  SELECT *,
         CAST(sum(CASE WHEN is_capped THEN 1 ELSE 0 END)
              OVER (PARTITION BY threshold) AS BIGINT) AS k,
         CAST(sum(CASE WHEN is_capped THEN cap_tokens ELSE 0 END)
              OVER (PARTITION BY threshold) AS BIGINT) AS pk
  FROM flagged
),
final AS (
  SELECT threshold, source, kept_docs, all_docs, cap_tokens, is_capped, budget,
         CASE WHEN is_capped THEN CAST(cap_tokens AS DOUBLE)
              ELSE (budget - pk) * 1.0 / (n - k) END AS alloc
  FROM scal
)
SELECT threshold, source, kept_docs,
       round((all_docs - kept_docs) * 1.0 / all_docs, 6) AS dup_rate,
       cap_tokens, is_capped,
       round(alloc, 6) AS allocated_tokens,
       round(alloc / budget, 6) AS budget_share
FROM final
ORDER BY threshold, source
"""


# --- Q: dedup_sensitivity_delta — the curve's CDC form (r13 capstone) ----
# (VERDICT r12 item 7.) The incremental dedup-knob decision: a new
# crawl (doc_id >= SENS_DELTA_SPLIT within the verifier slice) lands
# on an EXISTING corpus, and per threshold the question is what the
# ingest does to the corpus and to the budget mix — WITHOUT re-running
# old x old pair work. The pair generator structurally excludes
# old x old (the join condition requires at least one new side, the
# incremental_corpus_dups posture), so re-ingesting costs
# old x new + new x new, never (old+new)². Dominance semantics are the
# curve's verbatim (rank = n_chars DESC, doc_id ASC): a NEW doc is
# dropped when any better-ranked near-dup at >= t exists (old or new
# winner); an OLD doc is DISPLACED only by a better new doc (old
# winners over old docs cannot exist here — those pairs are excluded,
# which is exactly the CDC contract: the existing corpus's internal
# dedup decisions are settled). Output per (threshold, source): new
# docs kept, old docs displaced, the post-ingest token caps, and the
# water-filled budget share NEXT TO its pre-ingest baseline
# (share_delta) — the number a mix owner actually reads.
#
# Exactness engineering: identical to the curve (BIGINT counts/caps,
# one double division per ratio, round-6 once). The pre-ingest
# baseline rides the SAME water-filling plan as a sentinel
# threshold=-1 partition (one windowed pass computes ladder + baseline
# together; a per-source window MAX lifts the baseline share onto
# every ladder row — deterministic: exactly one non-null per source).
# Scale posture: ladder literal (lint-proved), catalog x ladder
# relations, PAIR_DOC_LIMIT verifier slice; at corpus scale the
# candidate generator is minhash banding with a side tag on the band
# join, exactly as incremental_corpus_dups documents.

SENS_DELTA_SPLIT = 150  # doc_id < SPLIT = existing corpus, >= = new crawl


def _dedup_sensitivity_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from databeats_spark.functions.text import word_shingles

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    base = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
        (F.col("doc_id") < SENS_DELTA_SPLIT).alias("is_old"),
    )
    thr = spark.createDataFrame(
        [(float(x),) for x in DEDUP_SWEEP_THRESHOLDS], "threshold double"
    ).limit(len(DEDUP_SWEEP_THRESHOLDS))

    # boundary-only candidate generation: the shingle self-join
    # REQUIRES a new-side doc, so old x old never materializes
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("sh")
    )
    # one-materialization rule (r13 review): the shingle explode +
    # per-doc count shuffle feeds TWO broadcast consumers below
    # (id_a/__na and id_b/__nb projections, which AQE cannot
    # exchange-reuse across broadcast sides) — checkpoint once so the
    # explode/aggregate executes once per run
    sized = (
        sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                (F.col("a.doc_id") >= SENS_DELTA_SPLIT)
                | (F.col("b.doc_id") >= SENS_DELTA_SPLIT)
            ),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    # size/rank attrs ride broadcasts of the id-capped slice (r9 hint
    # policy: bounded by construction)
    pairs = (
        common.join(
            F.broadcast(sized.select(F.col("doc_id").alias("id_a"), F.col("n").alias("__na"))),
            "id_a",
        )
        .join(
            F.broadcast(sized.select(F.col("doc_id").alias("id_b"), F.col("n").alias("__nb"))),
            "id_b",
        )
        .join(
            F.broadcast(base.select(F.col("doc_id").alias("id_a"), F.col("n_chars").alias("__ca"))),
            "id_a",
        )
        .join(
            F.broadcast(base.select(F.col("doc_id").alias("id_b"), F.col("n_chars").alias("__cb"))),
            "id_b",
        )
        .select(
            (F.col("common") / (F.col("__na") + F.col("__nb") - F.col("common"))).alias(
                "jaccard"
            ),
            F.when(
                (F.col("__ca") > F.col("__cb"))
                | ((F.col("__ca") == F.col("__cb")) & (F.col("id_a") < F.col("id_b"))),
                F.col("id_b"),
            )
            .otherwise(F.col("id_a"))
            .alias("loser"),
        )
    )
    # two consumers below (new-side anti join, old-side inner join):
    # one lazy materialization per the one-materialization rule
    losers = (
        pairs.join(F.broadcast(thr), F.col("jaccard") >= F.col("threshold"))
        .select("threshold", F.col("loser").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # per-source token mass of the existing corpus; two consumers
    # (ladder spine + baseline sentinel partition)
    src = (
        base.groupBy("source")
        .agg(
            F.sum(F.when(F.col("is_old"), F.col("n_tok")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("__old_tok")
        )
        .localCheckpoint(eager=False)
    )
    kept_new = (
        base.filter(~F.col("is_old"))
        .crossJoin(F.broadcast(thr))
        .join(losers, ["threshold", "doc_id"], "left_anti")
        .groupBy("threshold", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__nk_docs"),
            F.sum("n_tok").cast("bigint").alias("__nk_tok"),
        )
    )
    displ = (
        base.filter(F.col("is_old"))
        .join(losers, ["doc_id"])
        .groupBy("threshold", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__d_docs"),
            F.sum("n_tok").cast("bigint").alias("__d_tok"),
        )
    )
    caps = (
        src.crossJoin(F.broadcast(thr))
        .join(kept_new, ["threshold", "source"], "left")
        .join(displ, ["threshold", "source"], "left")
        .select(
            "threshold",
            "source",
            F.coalesce("__nk_docs", F.lit(0)).cast("bigint").alias("new_kept_docs"),
            F.coalesce("__d_docs", F.lit(0)).cast("bigint").alias("old_displaced_docs"),
            (
                F.col("__old_tok")
                - F.coalesce("__d_tok", F.lit(0))
                + F.coalesce("__nk_tok", F.lit(0))
            )
            .cast("bigint")
            .alias("cap_tokens"),
        )
        .unionByName(
            src.select(
                F.lit(-1.0).alias("threshold"),
                "source",
                F.lit(0).cast("bigint").alias("new_kept_docs"),
                F.lit(0).cast("bigint").alias("old_displaced_docs"),
                F.col("__old_tok").alias("cap_tokens"),
            )
        )
    )

    scal, allocated = _water_fill_keyed(caps)
    shared = scal.withColumn("__share_raw", allocated / F.col("__budget")).withColumn(
        "__share_before_raw",
        F.max(F.when(F.col("threshold") == -1.0, F.col("__share_raw"))).over(
            Window.partitionBy("source")
        ),
    )
    return (
        shared.filter(F.col("threshold") >= 0)
        .select(
            "threshold",
            "source",
            "new_kept_docs",
            "old_displaced_docs",
            (F.col("new_kept_docs") - F.col("old_displaced_docs"))
            .cast("bigint")
            .alias("delta_docs"),
            "cap_tokens",
            "is_capped",
            F.round(allocated, 6).alias("allocated_tokens"),
            F.round(F.col("__share_raw"), 6).alias("budget_share"),
            # + 0.0 normalizes the sign of zero: a tiny-negative true
            # delta rounds to -0.0 in DuckDB but +0.0 in Spark
            # (BigDecimal HALF_UP drops the sign), and %.6f CSV
            # formatting tells them apart — first seen at sf0.1 where
            # every share_delta collapses to zero
            (F.round(F.col("__share_raw") - F.col("__share_before_raw"), 6) + F.lit(0.0)).alias(
                "share_delta"
            ),
        )
        .orderBy("threshold", "source")
    )


_DEDUP_SENSITIVITY_DELTA_SQL = rf"""
WITH {_shingle_ctes(PAIR_DOC_LIMIT)}, pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
  WHERE a.doc_id >= {SENS_DELTA_SPLIT} OR b.doc_id >= {SENS_DELTA_SPLIT}
  GROUP BY 1, 2
),
thr(threshold) AS (VALUES (CAST(0.3 AS DOUBLE)), (CAST(0.4 AS DOUBLE)),
                          (CAST(0.5 AS DOUBLE)), (CAST(0.6 AS DOUBLE)),
                          (CAST(0.7 AS DOUBLE)), (CAST(0.8 AS DOUBLE))),
meta AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
  FROM documents WHERE doc_id < {PAIR_DOC_LIMIT}
),
jp AS (
  SELECT common * 1.0 / (sa.n + sb.n - common) AS jac,
         CASE WHEN ma.n_chars > mb.n_chars
                OR (ma.n_chars = mb.n_chars AND id_a < id_b)
              THEN id_b ELSE id_a END AS loser
  FROM pairs
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
  JOIN meta ma ON ma.doc_id = id_a
  JOIN meta mb ON mb.doc_id = id_b
),
losers AS (
  SELECT DISTINCT t.threshold, jp.loser AS doc_id
  FROM jp JOIN thr t ON jp.jac >= t.threshold
),
src AS (
  SELECT source,
         CAST(sum(CASE WHEN doc_id < {SENS_DELTA_SPLIT} THEN n_tok ELSE 0 END)
              AS BIGINT) AS old_tok
  FROM meta GROUP BY source
),
kept_new AS (
  SELECT t.threshold, m.source,
         CAST(count(*) AS BIGINT) AS nk_docs,
         CAST(sum(m.n_tok) AS BIGINT) AS nk_tok
  FROM meta m CROSS JOIN thr t
  WHERE m.doc_id >= {SENS_DELTA_SPLIT} AND NOT EXISTS (
    SELECT 1 FROM losers l
    WHERE l.threshold = t.threshold AND l.doc_id = m.doc_id
  )
  GROUP BY 1, 2
),
displ AS (
  SELECT l.threshold, m.source,
         CAST(count(*) AS BIGINT) AS d_docs,
         CAST(sum(m.n_tok) AS BIGINT) AS d_tok
  FROM losers l JOIN meta m ON m.doc_id = l.doc_id
  WHERE m.doc_id < {SENS_DELTA_SPLIT}
  GROUP BY 1, 2
),
caps AS (
  SELECT t.threshold, s.source,
         CAST(coalesce(k.nk_docs, 0) AS BIGINT) AS new_kept_docs,
         CAST(coalesce(d.d_docs, 0) AS BIGINT) AS old_displaced_docs,
         CAST(s.old_tok - coalesce(d.d_tok, 0) + coalesce(k.nk_tok, 0)
              AS BIGINT) AS cap_tokens
  FROM src s CROSS JOIN thr t
  LEFT JOIN kept_new k ON k.threshold = t.threshold AND k.source = s.source
  LEFT JOIN displ d ON d.threshold = t.threshold AND d.source = s.source
  UNION ALL
  SELECT CAST(-1.0 AS DOUBLE) AS threshold, source,
         CAST(0 AS BIGINT) AS new_kept_docs,
         CAST(0 AS BIGINT) AS old_displaced_docs,
         old_tok AS cap_tokens
  FROM src
),
ranked AS (
  SELECT *,
         CAST(count(*) OVER (PARTITION BY threshold) AS BIGINT) AS n,
         CAST((CAST(sum(cap_tokens) OVER (PARTITION BY threshold) AS BIGINT)
               * {BUDGET_FRACTION_NUM}) // {BUDGET_FRACTION_DEN} AS BIGINT) AS budget,
         CAST(row_number() OVER (PARTITION BY threshold ORDER BY cap_tokens, source) AS BIGINT) AS i,
         CAST(coalesce(sum(cap_tokens) OVER (
           PARTITION BY threshold ORDER BY cap_tokens, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx
  FROM caps
),
flagged AS (
  SELECT *, (cap_tokens * (n - i + 1)) < (budget - pfx) AS is_capped
  FROM ranked
),
scal AS (
  SELECT *,
         CAST(sum(CASE WHEN is_capped THEN 1 ELSE 0 END)
              OVER (PARTITION BY threshold) AS BIGINT) AS k,
         CAST(sum(CASE WHEN is_capped THEN cap_tokens ELSE 0 END)
              OVER (PARTITION BY threshold) AS BIGINT) AS pk
  FROM flagged
),
sharing AS (
  SELECT *,
         (CASE WHEN is_capped THEN CAST(cap_tokens AS DOUBLE)
               ELSE (budget - pk) * 1.0 / (n - k) END) AS alloc,
         (CASE WHEN is_capped THEN CAST(cap_tokens AS DOUBLE)
               ELSE (budget - pk) * 1.0 / (n - k) END) / budget AS share_raw
  FROM scal
),
with_before AS (
  SELECT *,
         max(CASE WHEN threshold = -1.0 THEN share_raw END)
           OVER (PARTITION BY source) AS share_before_raw
  FROM sharing
)
SELECT threshold, source, new_kept_docs, old_displaced_docs,
       CAST(new_kept_docs - old_displaced_docs AS BIGINT) AS delta_docs,
       cap_tokens, is_capped,
       round(alloc, 6) AS allocated_tokens,
       round(share_raw, 6) AS budget_share,
       round(share_raw - share_before_raw, 6) + 0.0 AS share_delta
FROM with_before
WHERE threshold >= 0
ORDER BY threshold, source
"""


# --- Q: temperature_mix_allocation — n^alpha sampling weights ------------
# The other half of training-mix planning next to the water-filling
# budget: exponentially-smoothed sampling (p_s ∝ n_s^alpha, alpha=0.7
# — the multilingual-mix move of XLM-R/mT5) that upweights small
# sources without letting the biggest source dominate. Exactness
# engineering: raw shares are ONE division of exact BIGINTs; the
# n^0.7 weights are identical pow() expression trees on both engines,
# and their SUM — the one float reduction — is an ORDERED sequential
# fold in source order on BOTH engines (Spark: aggregate() over the
# array_sort'ed collect_list; DuckDB: list_reduce over list(... ORDER
# BY source)), so no engine-dependent summation order exists. The
# scalar pair rides attach_global_scalar per the derived-scalar rule.

MIX_ALPHA = 0.7


def _temperature_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import attach_global_scalar

    t = load_tables(spark, sf_dir, ["documents"])
    per_src = (
        spread(t.documents, spark)
        .groupBy("source")
        .agg(F.sum(F.size(tokens("text"))).cast("bigint").alias("n_tok"))
        .withColumn("__w", F.pow(F.col("n_tok").cast("double"), F.lit(MIX_ALPHA)))
    )
    ordered_fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("source", "__w"))),
            lambda x: x["__w"],
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sized = attach_global_scalar(
        per_src,
        F.sum("n_tok").cast("bigint").alias("__total"),
        ordered_fold.alias("__wsum"),
    )
    raw_share = F.col("n_tok") / F.col("__total")
    temp_share = F.col("__w") / F.col("__wsum")
    return sized.select(
        "source",
        "n_tok",
        F.round(raw_share, 6).alias("raw_share"),
        F.round(temp_share, 6).alias("temp_share"),
        F.round(temp_share / raw_share, 6).alias("boost"),
    ).orderBy("source")


_TEMPERATURE_MIX_ALLOCATION_SQL = rf"""
WITH per_src AS (
  SELECT source,
         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tok
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tok) AS BIGINT) AS total,
         list_reduce(
           list(pow(CAST(n_tok AS DOUBLE), {MIX_ALPHA}) ORDER BY source),
           (acc, x) -> acc + x
         ) AS wsum
  FROM per_src
)
SELECT p.source, p.n_tok,
       round(p.n_tok * 1.0 / t.total, 6) AS raw_share,
       round(pow(CAST(p.n_tok AS DOUBLE), {MIX_ALPHA}) / t.wsum, 6) AS temp_share,
       round((pow(CAST(p.n_tok AS DOUBLE), {MIX_ALPHA}) / t.wsum)
             / (p.n_tok * 1.0 / t.total), 6) AS boost
FROM per_src p, tot t
ORDER BY p.source
"""


# --- Q: length_percentiles_by_source — exact per-source quantiles --------
# The corpus-profiling staple, done EXACTLY: p50/p90/p99 of document
# length per source as the k-th smallest value with k = ceil(q*n) —
# rank arithmetic in pure integers on both engines (approx_percentile
# / quantile functions have engine-specific interpolation and are
# banned from the oracle recipe). One window partitioned by source
# (key-partitioned), ties broken by doc_id, conditional-agg pivot.

def _length_percentiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = t.documents.select(
        "source",
        "n_chars",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).cast("bigint").alias("n"),
    )

    def pick(q_num: int, q_den: int, name: str):
        # k = ceil(n * q) in pure integers: (n*q_num + q_den - 1) DIV q_den
        k = F.expr(f"CAST((n * {q_num} + {q_den - 1}) DIV {q_den} AS BIGINT)")
        return F.max(F.when(F.col("rn") == k, F.col("n_chars"))).cast("bigint").alias(name)

    return (
        ranked.groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            pick(1, 2, "p50_chars"),
            pick(9, 10, "p90_chars"),
            pick(99, 100, "p99_chars"),
        )
        .select("source", F.col("n_docs").cast("bigint").alias("n_docs"),
                "p50_chars", "p90_chars", "p99_chars")
        .orderBy("source")
    )


_LENGTH_PERCENTILES_BY_SOURCE_SQL = """
WITH ranked AS (
  SELECT source, n_chars,
         CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM documents
)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_docs,
       CAST(max(CASE WHEN rn = (n * 1 + 1) // 2 THEN n_chars END) AS BIGINT) AS p50_chars,
       CAST(max(CASE WHEN rn = (n * 9 + 9) // 10 THEN n_chars END) AS BIGINT) AS p90_chars,
       CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_chars END) AS BIGINT) AS p99_chars
FROM ranked GROUP BY source ORDER BY source
"""


# --- Q: corpus_summary_cube — the dataset-card rollup -----------------
# One pass over documents producing the full (source × lang) grouping
# lattice: doc counts, token and char volumes at every granularity —
# the numbers a dataset card / release report prints. CUBE is one
# expand + one hash aggregate (Spark plans grouping sets as a single
# Expand node, so 4 granularities cost one shuffle, not four jobs);
# tokens come from a pure HOF filter over the split array (no explode
# — the summary never materializes the token stream). grouping()
# flags disambiguate "(all)" from a literal value on both engines.

def _corpus_summary_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    toks = F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("bigint")
    return (
        t.documents.select("source", "lang", "n_chars", toks.alias("n_tok"))
        .cube("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tot_tokens"),
            F.sum("n_chars").alias("tot_chars"),
            F.grouping("source").cast("long").alias("g_source"),
            F.grouping("lang").cast("long").alias("g_lang"),
        )
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source_g"),
            F.coalesce("lang", F.lit("(all)")).alias("lang_g"),
            "n_docs",
            "tot_tokens",
            "tot_chars",
            "g_source",
            "g_lang",
        )
        .orderBy("g_source", "g_lang", "source_g", "lang_g")
    )


_CORPUS_SUMMARY_CUBE_SQL = """
SELECT coalesce(source, '(all)') AS source_g,
       coalesce(lang, '(all)') AS lang_g,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS tot_tokens,
       CAST(sum(n_chars) AS BIGINT) AS tot_chars,
       CAST(grouping(source) AS BIGINT) AS g_source,
       CAST(grouping(lang) AS BIGINT) AS g_lang
FROM documents
GROUP BY CUBE (source, lang)
ORDER BY g_source, g_lang, source_g, lang_g
"""


# --- Q: padding_waste_by_bucket — batching efficiency audit ----------
# The padding-vs-packing decision a trainer makes per dataset: if
# batches are formed by LENGTH BUCKET (pad every doc up to its bucket
# cap) instead of packed (sequence_packing / token_budget_pack), how
# many pad tokens does each bucket burn? Fixed power-of-two caps via a
# CASE ladder — pure integer comparisons, no log2 floats that could
# bucket-flip across engines; docs longer than the top cap sit there
# with zero waste (they'd be split, not padded). One hash aggregate;
# the bucket domain is the 8-row CASE ladder, never the data.

# power-of-two ladder from 16: spans the synthetic corpus (10–99
# tokens, so 4 populated rows at test scale) AND real pretraining
# shard caps at the top
PAD_BUCKETS = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192)


def _padding_waste_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    n_tok = F.size(tokens("text"))
    bucket = F.lit(PAD_BUCKETS[-1])
    for cap in reversed(PAD_BUCKETS):
        bucket = F.when(n_tok <= cap, F.lit(cap)).otherwise(bucket)
    docs = t.documents.select(
        n_tok.cast("bigint").alias("n_tok"), bucket.cast("bigint").alias("bucket")
    ).withColumn(
        "pad", F.greatest(F.lit(0), F.col("bucket") - F.col("n_tok")).cast("bigint")
    )
    return (
        docs.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tok"),
            F.sum("pad").cast("bigint").alias("total_pad"),
            F.round(
                F.sum("pad") / (F.sum("pad") + F.sum("n_tok")), 6
            ).alias("pad_frac"),
        )
        .orderBy("bucket")
    )


_PAD_CASE = " ".join(
    f"WHEN n_tok <= {cap} THEN {cap}" for cap in PAD_BUCKETS
)

_PADDING_WASTE_BY_BUCKET_SQL = rf"""
WITH d AS (
  SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
  FROM documents
), b AS (
  SELECT n_tok,
         CAST(CASE {_PAD_CASE} ELSE {PAD_BUCKETS[-1]} END AS BIGINT) AS bucket
  FROM d
), p AS (
  SELECT bucket, n_tok,
         CAST(greatest(0, bucket - n_tok) AS BIGINT) AS pad
  FROM b
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tok,
       CAST(sum(pad) AS BIGINT) AS total_pad,
       round(sum(pad) * 1.0 / (sum(pad) + sum(n_tok)), 6) AS pad_frac
FROM p GROUP BY bucket ORDER BY bucket
"""


# --- Q: normalized_dedup_delta — casefold/punct-masked duplication -------
# Exact dedup keyed on raw bytes misses duplicates that differ only in
# case, punctuation, or whitespace — the delta between raw-hash and
# normalized-hash duplication is the mass a normalization pass would
# recover before dedup. Normalization is engine-identical by
# construction: lowercase → strip everything outside [a-z0-9 +
# explicit whitespace] → collapse runs → trim, with the whitespace
# class spelled out as [ \t\n\r\f] on BOTH engines (Java \s includes
# \x0B, RE2 \s does not — the control-byte lesson applied
# preemptively). Scale shape: project each doc to (source, md5(raw),
# md5(norm)) FIRST, so the two per-hash count windows shuffle two
# 32-char digests per row, never the text.

_NORM_WS = r"[ \t\n\r\f]"


def _normalized_text_col():
    stripped = F.regexp_replace(
        F.lower(F.col("text")), f"[^a-z0-9{_NORM_WS[1:-1]}]", ""
    )
    return F.trim(F.regexp_replace(stripped, f"{_NORM_WS}+", " "))


def _normalized_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    slim = t.documents.select(
        "source",
        F.md5(F.col("text")).alias("h_raw"),
        F.md5(_normalized_text_col()).alias("h_norm"),
    )
    cnt_raw = F.count(F.lit(1)).over(Window.partitionBy("h_raw"))
    cnt_norm = F.count(F.lit(1)).over(Window.partitionBy("h_norm"))
    flagged = slim.select(
        "source",
        (cnt_raw > 1).cast("bigint").alias("raw_dup"),
        (cnt_norm > 1).cast("bigint").alias("norm_dup"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("raw_dup").cast("bigint").alias("raw_dup_docs"),
            F.sum("norm_dup").cast("bigint").alias("norm_dup_docs"),
            F.sum(F.col("norm_dup") - F.col("raw_dup")).cast("bigint").alias("masked_dup_docs"),
        )
        .withColumn("masked_share", F.round(F.col("masked_dup_docs") / F.col("n_docs"), 6))
        .orderBy("source")
    )


_NORMALIZED_DEDUP_DELTA_SQL = r"""
WITH slim AS (
  SELECT source, md5(text) AS h_raw,
         md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 \t\n\r\f]', '', 'g'),
               '[ \t\n\r\f]+', ' ', 'g'))) AS h_norm
  FROM documents
), flagged AS (
  SELECT source,
         CASE WHEN count(*) OVER (PARTITION BY h_raw) > 1 THEN 1 ELSE 0 END AS raw_dup,
         CASE WHEN count(*) OVER (PARTITION BY h_norm) > 1 THEN 1 ELSE 0 END AS norm_dup
  FROM slim
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(raw_dup) AS BIGINT) AS raw_dup_docs,
       CAST(sum(norm_dup) AS BIGINT) AS norm_dup_docs,
       CAST(sum(norm_dup - raw_dup) AS BIGINT) AS masked_dup_docs,
       round(sum(norm_dup - raw_dup) * 1.0 / count(*), 6) AS masked_share
FROM flagged
GROUP BY source
ORDER BY source
"""


# --- Q: dedup_upsample_weights — duplication-corrected mix weights -------
# The sampling-weights table a mix planner consumes: weighting every
# doc by 1/(global exact-dup group size) makes each distinct text
# count once no matter how many sources re-crawled it, so
# sum(eff_docs) == |distinct texts| corpus-wide (pinned in pytest) and
# per-source dup_inflation = n_docs / eff_docs is the factor by which
# raw counts overstate that source's real contribution. Char-weighted
# twins (eff_chars) give the token-budget view. Same slim-projection
# posture as normalized_dedup_delta: one digest window, never the text.


def _dedup_upsample_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    slim = t.documents.select(
        "source", F.col("n_chars").cast("double").alias("nc"),
        F.md5(F.col("text")).alias("h_raw"),
    )
    g = F.count(F.lit(1)).over(Window.partitionBy("h_raw"))
    per_doc = slim.select(
        "source", "nc", (F.lit(1.0) / g).alias("w"), (F.col("nc") / g).alias("wc")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.sum("w"), 6).alias("eff_docs"),
            F.round(F.count(F.lit(1)) / F.sum("w"), 6).alias("dup_inflation"),
            F.sum("nc").cast("bigint").alias("n_chars"),
            F.round(F.sum("wc"), 6).alias("eff_chars"),
        )
        .orderBy("source")
    )


_DEDUP_UPSAMPLE_WEIGHTS_SQL = """
WITH slim AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS nc, md5(text) AS h_raw FROM documents
), per_doc AS (
  SELECT source, nc,
         1.0 / count(*) OVER (PARTITION BY h_raw) AS w,
         nc / count(*) OVER (PARTITION BY h_raw) AS wc
  FROM slim
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(sum(w), 6) AS eff_docs,
       round(count(*) / sum(w), 6) AS dup_inflation,
       CAST(CAST(sum(nc) AS DOUBLE) AS BIGINT) AS n_chars,
       round(sum(wc), 6) AS eff_chars
FROM per_doc
GROUP BY source
ORDER BY source
"""


# --- Q: benford_first_digit — fabricated-number fraud audit -----------
# First-digit distribution of order totals vs Benford's law — the
# classic synthetic/fabricated-data detector for a numeric column.
# Counts are exact BIGINT (first digit via string head — no float
# log tricks on the data side); the Benford expectation
# log10(1 + 1/d) and the per-digit excess are the only doubles,
# computed in identical expression order on both engines. Per-digit
# ROWS, not a cross-digit chi-square scalar — the readout a reviewer
# actually scans, and no cross-row double summation to absorb.

def _benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    digit = F.substring(F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
    per_digit = t.orders.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    stats = attach_global_scalar(per_digit, F.sum("n_obs").cast("bigint").alias("n"))
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    obs = F.col("n_obs").cast("double") / F.col("n")
    return stats.select(
        "digit",
        "n_obs",
        F.round(obs, 6).alias("obs_share"),
        F.round(benford, 6).alias("benford_share"),
        F.round(obs - benford, 6).alias("excess"),
    ).orderBy("digit")


_BENFORD_FIRST_DIGIT_SQL = """
WITH per_digit AS (
  SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM orders GROUP BY 1
), s AS (
  SELECT *, CAST(sum(n_obs) OVER () AS BIGINT) AS n FROM per_digit
)
SELECT digit, n_obs,
       round(CAST(n_obs AS DOUBLE) / n, 6) AS obs_share,
       round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford_share,
       round(CAST(n_obs AS DOUBLE) / n - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS excess
FROM s
ORDER BY digit
"""


# --- Q: gini_by_source — corpus-mass inequality scalar ----------------
# The Gini coefficient of document char mass per source — the scalar
# summary of source_pareto's concentration curve. Ranks come from a
# key-partitioned row_number (ties carry equal x, so the Σ i·x_i fold
# is invariant to tie order); Σ i·x_i and Σ x_i are exact BIGINTs, and
# G = (2·Σi·x_i)/(n·Σx) − (n+1)/n has two divisions in fixed
# positions. One shuffle on source at any scale.

def _gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = t.documents.select(
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        F.row_number().over(w).cast("bigint").alias("i"),
    )
    g = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("bigint").alias("six"),
    )
    gini = (2 * F.col("six")).cast("double") / (F.col("n") * F.col("sx")) - (
        F.col("n") + 1
    ).cast("double") / F.col("n")
    return g.select(
        "source", "n", F.col("sx").alias("total_chars"), F.round(gini, 6).alias("gini")
    ).orderBy("source")


_GINI_BY_SOURCE_SQL = """
WITH ranked AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x,
         CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS i
  FROM documents
), g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(i * x) AS BIGINT) AS six
  FROM ranked GROUP BY source
)
SELECT source, n, sx AS total_chars,
       round(CAST(2 * six AS DOUBLE) / (n * sx) - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
FROM g
ORDER BY source
"""


# --- Q: numeric_corr_matrix — column-profiling correlations -----------
# Pairwise Pearson correlation of the lineitem numeric columns from
# EXACT DECIMAL moment sums (sums and sums-of-products are
# order-independent decimals; each sum is cast to double once and the
# correlation is a single fixed-shape expression). The profiling
# readout a feature platform runs before training; one hash aggregate
# over the scan — the six pairs reuse the same ten moments.

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _numeric_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    d = {c: F.col(c).cast("decimal(18,2)") for c in _CORR_COLS}
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(d[c]).cast("double").alias(f"s_{c}"))
        aggs.append(F.sum(d[c] * d[c]).cast("double").alias(f"s_{c}_{c}"))
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            aggs.append(F.sum(d[a] * d[b]).cast("double").alias(f"s_{a}_{b}"))
    m = t.lineitem.agg(*aggs)
    # one scan, six output rows: the pair table explodes out of the
    # single moment row instead of unioning six scalar branches
    pair_structs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            n = F.col("n").cast("double")
            cov = n * F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
            va = n * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
            vb = n * F.col(f"s_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
            pair_structs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col("n").alias("n"),
                    F.round(cov / F.sqrt(va * vb), 6).alias("corr"),
                )
            )
    return (
        m.select(F.explode(F.array(*pair_structs)).alias("r"))
        .select("r.col_a", "r.col_b", "r.n", "r.corr")
        .orderBy("col_a", "col_b")
    )


def _numeric_corr_matrix_sql() -> str:
    moment_cols = ["CAST(count(*) AS BIGINT) AS n"]
    for c in _CORR_COLS:
        moment_cols.append(f"CAST(sum(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS s_{c}")
        moment_cols.append(
            f"CAST(sum(CAST({c} AS DECIMAL(18,2)) * CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS s_{c}_{c}"
        )
    pairs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            moment_cols.append(
                f"CAST(sum(CAST({a} AS DECIMAL(18,2)) * CAST({b} AS DECIMAL(18,2))) AS DOUBLE) AS s_{a}_{b}"
            )
            pairs.append(
                f"""SELECT '{a}' AS col_a, '{b}' AS col_b, n,
       round((CAST(n AS DOUBLE) * s_{a}_{b} - s_{a} * s_{b})
             / sqrt((CAST(n AS DOUBLE) * s_{a}_{a} - s_{a} * s_{a})
                    * (CAST(n AS DOUBLE) * s_{b}_{b} - s_{b} * s_{b})), 6) AS corr
FROM m"""
            )
    return f"""
WITH m AS (
  SELECT {", ".join(moment_cols)} FROM lineitem
)
SELECT * FROM (
  {" UNION ALL ".join(pairs)}
)
ORDER BY col_a, col_b
"""


# --- Q: robust_spend_stats — trimmed / winsorized segment means --------
# Heavy-tail-proof spend summary per market segment: 5%-trimmed mean,
# 5%-winsorized mean, and the rank-based p05/p95 cut values. The whole
# pipeline is the mann_whitney posture — NO global or fact-sized
# window: per-(segment, value) counts, ONE distributed prefix sum over
# the (segment, value) total order (operators/scale.py::
# partitioned_running_total), per-segment cumulative recovered by
# subtracting broadcast segment offsets (the ≤SEG_CAP-row offset window
# is behind an explicit LIMIT, lint-provable). Trim bounds are integer
# (n*5 DIV 100 / n*95 DIV 100 — the rank-based order-statistic recipe,
# no interpolation); kept mass per distinct value is an interval
# overlap in BIGINT; sums stay DECIMALxBIGINT exact until the final
# divisions.
TRIM_PCT_LO = 5
TRIM_PCT_HI = 95
SEG_CAP = 32  # semantic no-op bound: segment catalogs are tiny


def _robust_spend_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import partitioned_running_total
    from databeats_spark.registry.relational import dec

    t = load_tables(spark, sf_dir, ["orders", "customer"])
    vals = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_mktsegment").alias("seg"), dec("o_totalprice").alias("y"))
    )
    # by_val has TWO consumers (the prefix-sum chain and seg_tot): one
    # lazy localCheckpoint pins it — without it the final plan re-ran
    # the whole orders⋈customer join + (seg, y) aggregate a second time
    # for seg_tot (the eager checkpoint inside partitioned_running_total
    # runs first, so its exchange is gone when seg_tot plans)
    by_val = vals.groupBy("seg", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).localCheckpoint(eager=False)
    ranked = partitioned_running_total(
        by_val, [F.col("seg"), F.col("y")], {"cum": "cnt"}
    )
    from pyspark.sql import Window

    seg_tot = by_val.groupBy("seg").agg(F.sum("cnt").cast("bigint").alias("n")).limit(SEG_CAP)
    w = Window.orderBy("seg").rowsBetween(Window.unboundedPreceding, -1)
    offsets = seg_tot.select(
        "seg",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("bigint").alias("seg_off"),
        # integer floor-div (n*pct is < 2^53, so the double path is
        # exact; DuckDB mirrors with its // operator)
        F.floor(F.col("n") * TRIM_PCT_LO / 100).cast("bigint").alias("lo"),
        F.floor(F.col("n") * TRIM_PCT_HI / 100).cast("bigint").alias("hi"),
    )
    r = (
        ranked.join(F.broadcast(offsets), "seg")
        .withColumn("scum", (F.col("cum") - F.col("seg_off")).cast("bigint"))
    )
    kept = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("scum"), F.col("hi"))
        - F.greatest(F.col("scum") - F.col("cnt"), F.col("lo")),
    )
    is_lo = (F.col("scum") > F.col("lo")) & (F.col("scum") - F.col("cnt") <= F.col("lo"))
    is_hi = (F.col("scum") >= F.col("hi")) & (F.col("scum") - F.col("cnt") < F.col("hi"))
    agg = r.groupBy("seg", "n", "lo", "hi").agg(
        F.sum(F.col("y") * kept).alias("trimmed_sum"),
        F.min(F.when(is_lo, F.col("y"))).alias("p05"),
        F.min(F.when(is_hi, F.col("y"))).alias("p95"),
    )
    trimmed_mean = F.col("trimmed_sum").cast("double") / (
        F.col("hi") - F.col("lo")
    ).cast("double")
    wins_sum = (
        F.col("p05") * F.col("lo")
        + F.col("trimmed_sum")
        + F.col("p95") * (F.col("n") - F.col("hi"))
    )
    return agg.select(
        "seg",
        "n",
        F.round(trimmed_mean, 6).alias("trimmed_mean"),
        F.round(wins_sum.cast("double") / F.col("n").cast("double"), 6).alias(
            "winsorized_mean"
        ),
        F.col("p05").cast("double").alias("p05"),
        F.col("p95").cast("double").alias("p95"),
    ).orderBy("seg")


_ROBUST_SPEND_STATS_SQL = f"""
WITH vals AS (
  SELECT c.c_mktsegment AS seg, CAST(o.o_totalprice AS DECIMAL(18,2)) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), by_val AS (
  SELECT seg, y, CAST(count(*) AS BIGINT) AS cnt FROM vals GROUP BY seg, y
), ranked AS (
  SELECT seg, y, cnt,
         CAST(sum(cnt) OVER (PARTITION BY seg ORDER BY y) AS BIGINT) AS scum
  FROM by_val
), seg_tot AS (
  SELECT seg, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(cnt) * {TRIM_PCT_LO} // 100 AS BIGINT) AS lo,
         CAST(sum(cnt) * {TRIM_PCT_HI} // 100 AS BIGINT) AS hi
  FROM by_val GROUP BY seg
), r AS (
  SELECT rk.seg, rk.y, rk.cnt, rk.scum, s.n, s.lo, s.hi,
         greatest(CAST(0 AS BIGINT),
                  least(rk.scum, s.hi) - greatest(rk.scum - rk.cnt, s.lo)) AS kept,
         rk.scum > s.lo AND rk.scum - rk.cnt <= s.lo AS is_lo,
         rk.scum >= s.hi AND rk.scum - rk.cnt < s.hi AS is_hi
  FROM ranked rk JOIN seg_tot s ON rk.seg = s.seg
), agg AS (
  SELECT seg, n, lo, hi,
         sum(y * kept) AS trimmed_sum,
         min(CASE WHEN is_lo THEN y END) AS p05,
         min(CASE WHEN is_hi THEN y END) AS p95
  FROM r GROUP BY seg, n, lo, hi
)
SELECT seg, n,
       round(CAST(trimmed_sum AS DOUBLE) / CAST(hi - lo AS DOUBLE), 6) AS trimmed_mean,
       round(CAST(p05 * lo + trimmed_sum + p95 * (n - hi) AS DOUBLE)
             / CAST(n AS DOUBLE), 6) AS winsorized_mean,
       CAST(p05 AS DOUBLE) AS p05, CAST(p95 AS DOUBLE) AS p95
FROM agg
ORDER BY seg
"""


# --- Q: contamination_scorecard — per-source leak-type rollup (r11) ------
# The audit-tier capstone a training org actually consumes: ONE
# per-source scorecard folding the three contamination signals that
# already exist as per-doc queries —
#   ngram_contam : benchmark_decontam's flag (4-gram overlap with the
#                  doc_id%10 eval split at frac >= 0.05), counted over
#                  the TRAIN side;
#   split_leak   : split_leakage_pairs' docs (either side of a 3-gram
#                  near-dup pair crossing the md5 train/val split,
#                  bounded verifier slice doc_id < PAIR_DOC_LIMIT),
#                  counted over the slice;
#   boilerplate  : shared_shingle_stats docs whose shared 5-gram
#                  fraction >= 0.5 (2*n_shared >= n_shingles — integer
#                  compare, no float threshold), counted over all docs.
# Each sub-signal keeps ITS constituent query's exact constants and
# shingle definitions so the three stay mutually certifiable. Spark
# plan: three independent per-source aggregates (each ends <=|sources|
# rows — catalog-keyed, broadcast-joinable under the r9 hint policy)
# left-joined onto one per-source base count; the heavy lifting
# (shingle explode -> DF agg / broadcast eval-set semijoin / bounded
# pair verify) is the SAME shapes the constituents audit in
# SHUFFLE.md. Rates are ONE integer division each, round-6 both sides.

def _contamination_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.functions.text import word_shingles
    from databeats_spark.registry.documents import (
        DECONTAM_EVAL_MOD,
        DECONTAM_N,
        SHARED_SHINGLE_N,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    docs = spread(t.documents, spark).select("doc_id", "source", "text")

    # n_docs_sh (docs with >=1 five-shingle, the boiler denominator's
    # presence set) rides this aggregate as a map-side size() of the
    # HOF — no explode, no extra shuffle (the heaps_exponent recipe);
    # it is consumed below by the boiler complement and then dropped.
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("doc_id") % DECONTAM_EVAL_MOD != 0).cast("bigint"))
        .cast("bigint")
        .alias("n_train"),
        F.sum((F.col("doc_id") < PAIR_DOC_LIMIT).cast("bigint"))
        .cast("bigint")
        .alias("n_slice"),
        F.sum(
            (F.size(word_shingles("text", n=SHARED_SHINGLE_N)) > 0).cast("bigint")
        )
        .cast("bigint")
        .alias("n_docs_sh"),
    )

    # 1) benchmark_decontam's rule, rolled per source over train docs
    sh4 = docs.select(
        "doc_id", "source", word_shingles("text", n=DECONTAM_N).alias("sh")
    )
    is_eval = F.col("doc_id") % DECONTAM_EVAL_MOD == 0
    eval_sh = sh4.filter(is_eval).select(F.explode("sh").alias("shingle")).distinct()
    contam = (
        sh4.filter(~is_eval)
        .select(
            "doc_id",
            "source",
            F.size("sh").alias("n_shingles"),
            F.explode("sh").alias("shingle"),
        )
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id", "source", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") * 20 >= F.col("n_shingles"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ngram_contam_docs"))
    )

    # 2) split_leakage_pairs' docs, rolled per source over the slice
    slice_docs = docs.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    pairs = ngram_jaccard_pairs(
        slice_docs, "doc_id", "text", n=3, threshold=JACCARD_THRESHOLD
    )
    leak = (
        pairs.filter(_split_of(F.col("id_a")) != _split_of(F.col("id_b")))
        .select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
        .distinct()
        .join(slice_docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("split_leak_docs"))
    )

    # 3) shared_shingle_stats' boilerplate flag, rolled per source.
    # r13 rewrite (guide §2.3/§2.4): the former shape planned the
    # exploded 5-shingle chain TWICE (df aggregate + join-left side —
    # column pruning makes the subtrees differ, so exchange reuse
    # never fires) and then joined corpus-exploded rows against the
    # df table by shingle: at test SF the planner broadcasts df, at
    # 100 TB that join is an exploded-row x exploded-row SMJ. Shingles
    # are per-doc DISTINCT (word_shingles ends in array_distinct), so
    # df == 1 identifies a shingle owned by exactly ONE doc and the
    # min() aggregates over that singleton group recover the owner
    # row exactly. Complement: n_shared = n_shingles - n_unique, so
    # the oracle's boiler predicate n_shared*2 >= n_shingles fails
    # iff 2*n_unique > n_shingles — count those non-boiler docs from
    # the df==1 slice alone and subtract from base's n_docs_sh
    # (docs with zero shingles have no exploded rows on either side,
    # matching the oracle's per_doc5 membership). ONE exploded pass,
    # ONE exploded-row exchange, no exploded join.
    ex5 = docs.select(
        "doc_id",
        "source",
        word_shingles("text", n=SHARED_SHINGLE_N).alias("sh"),
    ).select(
        "doc_id",
        "source",
        F.size("sh").alias("n_shingles"),
        F.explode("sh").alias("shingle"),
    )
    nonboiler = (
        ex5.groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("owner"),
            F.min("source").alias("owner_src"),
            F.min("n_shingles").alias("owner_n_sh"),
        )
        .filter(F.col("df") == 1)
        .groupBy("owner", "owner_src", "owner_n_sh")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .filter(F.col("n_unique") * 2 > F.col("owner_n_sh"))
        .groupBy(F.col("owner_src").alias("source"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("nonboiler_docs"))
    )

    zero = F.lit(0).cast("bigint")
    boiler_docs = (
        F.col("n_docs_sh") - F.coalesce("nonboiler_docs", zero)
    ).cast("bigint")
    return (
        base.join(F.broadcast(contam), "source", "left")
        .join(F.broadcast(leak), "source", "left")
        .join(F.broadcast(nonboiler), "source", "left")
        .select(
            "source",
            "n_docs",
            "n_train",
            "n_slice",
            F.coalesce("ngram_contam_docs", zero).alias("ngram_contam_docs"),
            F.round(
                F.coalesce("ngram_contam_docs", zero)
                / F.greatest("n_train", F.lit(1)),
                6,
            ).alias("ngram_contam_rate"),
            F.coalesce("split_leak_docs", zero).alias("split_leak_docs"),
            F.round(
                F.coalesce("split_leak_docs", zero)
                / F.greatest("n_slice", F.lit(1)),
                6,
            ).alias("split_leak_rate"),
            boiler_docs.alias("boilerplate_docs"),
            F.round(
                boiler_docs / F.greatest("n_docs", F.lit(1)),
                6,
            ).alias("boilerplate_rate"),
        )
        .orderBy("source")
    )


def _contamination_scorecard_sql() -> str:
    from databeats_spark.registry.documents import (
        DECONTAM_EVAL_MOD,
        DECONTAM_N,
        PAIR_DOC_LIMIT,
        SHARED_SHINGLE_N,
        _PAIRS_CTES,
    )

    return f"""
WITH {_PAIRS_CTES},
base AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN doc_id % {DECONTAM_EVAL_MOD} <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN doc_id < {PAIR_DOC_LIMIT} THEN 1 ELSE 0 END) AS BIGINT) AS n_slice
  FROM documents GROUP BY source
),
tokall AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
),
s4 AS (
  SELECT doc_id, source,
         list_distinct(list_transform(range(1, greatest(len(toks) - {DECONTAM_N - 1}, 0) + 1),
                        i -> array_to_string(toks[i:i+{DECONTAM_N - 1}], ' '))) AS sh
  FROM tokall
),
eval_sh AS (
  SELECT DISTINCT unnest(sh) AS shingle FROM s4 WHERE doc_id % {DECONTAM_EVAL_MOD} = 0
),
corpus4 AS (
  SELECT doc_id, source, len(sh) AS n_shingles, unnest(sh) AS shingle
  FROM s4 WHERE doc_id % {DECONTAM_EVAL_MOD} <> 0
),
contam_docs AS (
  SELECT c.doc_id, c.source, c.n_shingles, count(*) AS n_overlap
  FROM corpus4 c JOIN eval_sh e USING (shingle)
  GROUP BY 1, 2, 3
  HAVING count(*) * 20 >= c.n_shingles
),
contam AS (
  SELECT source, CAST(count(*) AS BIGINT) AS ngram_contam_docs
  FROM contam_docs GROUP BY source
),
qual AS (
  SELECT id_a, id_b FROM pairs
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.n + sb.n - common) >= {JACCARD_THRESHOLD}
    AND (CASE WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 4) < '{SPLIT_HEX_THRESHOLD}'
              THEN 'train' ELSE 'val' END)
     <> (CASE WHEN substr(md5(CAST(id_b AS VARCHAR)), 1, 4) < '{SPLIT_HEX_THRESHOLD}'
              THEN 'train' ELSE 'val' END)
),
leak_ids AS (
  SELECT DISTINCT doc_id
  FROM (SELECT id_a AS doc_id FROM qual UNION ALL SELECT id_b AS doc_id FROM qual)
),
leak AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS split_leak_docs
  FROM leak_ids l JOIN documents d USING (doc_id)
  GROUP BY d.source
),
s5 AS (
  SELECT doc_id, source,
         list_distinct(list_transform(range(1, greatest(len(toks) - {SHARED_SHINGLE_N - 1}, 0) + 1),
                        i -> array_to_string(toks[i:i+{SHARED_SHINGLE_N - 1}], ' '))) AS sh
  FROM tokall
),
ex5 AS (
  SELECT doc_id, source, len(sh) AS n_shingles, unnest(sh) AS shingle FROM s5
),
df5 AS (
  SELECT shingle, count(*) AS df FROM ex5 GROUP BY 1
),
per_doc5 AS (
  SELECT e.doc_id, e.source, e.n_shingles,
         sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS n_shared
  FROM ex5 e JOIN df5 f USING (shingle)
  GROUP BY 1, 2, 3
),
boiler AS (
  SELECT source, CAST(count(*) AS BIGINT) AS boilerplate_docs
  FROM per_doc5 WHERE n_shared * 2 >= n_shingles GROUP BY source
)
SELECT b.source, b.n_docs, b.n_train, b.n_slice,
       CAST(COALESCE(c.ngram_contam_docs, 0) AS BIGINT) AS ngram_contam_docs,
       round(COALESCE(c.ngram_contam_docs, 0) * 1.0 / greatest(b.n_train, 1), 6) AS ngram_contam_rate,
       CAST(COALESCE(l.split_leak_docs, 0) AS BIGINT) AS split_leak_docs,
       round(COALESCE(l.split_leak_docs, 0) * 1.0 / greatest(b.n_slice, 1), 6) AS split_leak_rate,
       CAST(COALESCE(p.boilerplate_docs, 0) AS BIGINT) AS boilerplate_docs,
       round(COALESCE(p.boilerplate_docs, 0) * 1.0 / greatest(b.n_docs, 1), 6) AS boilerplate_rate
FROM base b
LEFT JOIN contam c USING (source)
LEFT JOIN leak l USING (source)
LEFT JOIN boiler p USING (source)
ORDER BY b.source
"""


SPECS = [
    QuerySpec(
        "contamination_scorecard",
        "per-source contamination scorecard: ngram-eval overlap, cross-split near-dup leak, and boilerplate rates in one rollup",
        _contamination_scorecard,
        _contamination_scorecard_sql,
        tags=("dedup", "agg", "audit"),
    ),
    QuerySpec(
        "benford_first_digit",
        "Benford's-law first-digit audit of order totals: exact digit counts, per-digit expectation and excess",
        _benford_first_digit,
        _BENFORD_FIRST_DIGIT_SQL,
        tags=("agg", "audit"),
    ),
    QuerySpec(
        "gini_by_source",
        "Gini coefficient of per-source doc char mass: exact BIGINT rank-weighted sums, two fixed divisions",
        _gini_by_source,
        _GINI_BY_SOURCE_SQL,
        tags=("agg", "window", "audit"),
    ),
    QuerySpec(
        "robust_spend_stats",
        "trimmed/winsorized segment spend means + rank-based p05/p95 via ONE distributed prefix sum (no fact-sized window)",
        _robust_spend_stats,
        _ROBUST_SPEND_STATS_SQL,
        tags=("stats", "agg", "scale"),
    ),
    QuerySpec(
        "numeric_corr_matrix",
        "pairwise Pearson correlations of lineitem numerics from exact DECIMAL moments (one aggregate, six pairs)",
        _numeric_corr_matrix,
        _numeric_corr_matrix_sql,
        tags=("agg", "audit"),
    ),
    QuerySpec(
        "normalized_dedup_delta",
        "duplication masked by case/punct/whitespace: raw-hash vs normalized-hash dup counts per source",
        _normalized_dedup_delta,
        _NORMALIZED_DEDUP_DELTA_SQL,
        tags=("dedup", "text", "audit"),
    ),
    QuerySpec(
        "dedup_upsample_weights",
        "duplication-corrected mix weights: 1/cluster-size effective doc and char mass per source",
        _dedup_upsample_weights,
        _DEDUP_UPSAMPLE_WEIGHTS_SQL,
        tags=("dedup", "sampling", "audit"),
    ),
    QuerySpec(
        "corpus_summary_cube",
        "dataset-card rollup: (source x lang) grouping lattice in one pass",
        _corpus_summary_cube,
        _CORPUS_SUMMARY_CUBE_SQL,
        tags=("agg", "audit"),
    ),
    QuerySpec(
        "length_percentiles_by_source",
        "exact p50/p90/p99 document length per source (integer rank arithmetic)",
        _length_percentiles_by_source,
        _LENGTH_PERCENTILES_BY_SOURCE_SQL,
        tags=("agg", "window", "audit"),
    ),
    QuerySpec(
        "temperature_mix_allocation",
        "n^0.7 exponential-smoothing sampling weights per source (XLM-R mix move)",
        _temperature_mix_allocation,
        _TEMPERATURE_MIX_ALLOCATION_SQL,
        tags=("sampling", "agg", "audit"),
    ),
    QuerySpec(
        "token_budget_allocation",
        "water-filling per-source quotas under a 60% total token budget",
        _token_budget_allocation,
        _TOKEN_BUDGET_ALLOCATION_SQL,
        tags=("sampling", "window", "audit"),
    ),
    QuerySpec(
        "near_dup_threshold_sweep",
        "candidate-pair counts by Jaccard band (dedup threshold tuning curve)",
        _near_dup_threshold_sweep,
        _NEAR_DUP_THRESHOLD_SWEEP_SQL,
        tags=("dedup", "audit"),
    ),
    QuerySpec(
        "dedup_sensitivity_curve",
        "threshold ladder -> dominance-dedup dup rate -> water-filled budget mix per source",
        _dedup_sensitivity_curve,
        _DEDUP_SENSITIVITY_CURVE_SQL,
        tags=("dedup", "sampling", "window", "audit"),
    ),
    QuerySpec(
        "dedup_sensitivity_delta",
        "incremental (CDC) dedup-knob curve: new-crawl ingest vs existing corpus, boundary pairs only, budget-share delta per source",
        _dedup_sensitivity_delta,
        _DEDUP_SENSITIVITY_DELTA_SQL,
        tags=("dedup", "sampling", "window", "audit"),
    ),
    QuerySpec(
        "lsh_parameter_audit",
        "LSH banding planner: S-curve detection probability and expected caught pairs per (bands, rows) split of the 16-hash signature, against the observed jaccard histogram",
        _lsh_parameter_audit,
        _LSH_PARAMETER_AUDIT_SQL,
        tags=("dedup", "audit"),
    ),
    QuerySpec(
        "split_leakage_pairs",
        "near-dup pairs crossing a deterministic train/val split (eval-leakage audit)",
        _split_leakage_pairs,
        _SPLIT_LEAKAGE_PAIRS_SQL,
        tags=("dedup", "sampling", "audit"),
    ),
    QuerySpec(
        "lexical_diversity",
        "per-source type-token ratios, doc-pooled and source-global",
        _lexical_diversity,
        _LEXICAL_DIVERSITY_SQL,
        tags=("text", "agg", "audit"),
    ),
    QuerySpec(
        "dup_cluster_sizes",
        "near-dup cluster-size histogram (shape of the duplication)",
        _dup_cluster_sizes,
        _DUP_CLUSTER_SIZES_SQL,
        tags=("dedup", "graph", "audit"),
    ),
    QuerySpec(
        "dup_rate_by_source",
        "per-source near-dup membership rate (provenance pollution chart)",
        _dup_rate_by_source,
        _DUP_RATE_BY_SOURCE_SQL,
        tags=("dedup", "agg", "audit"),
    ),
    QuerySpec(
        "padding_waste_by_bucket",
        "batching-efficiency audit: pad tokens burned per power-of-two length bucket",
        _padding_waste_by_bucket,
        _PADDING_WASTE_BY_BUCKET_SQL,
        tags=("agg", "audit", "sampling"),
    ),
    QuerySpec(
        "canonical_best_docs",
        "quality-aware survivor selection: keep the longest doc per near-dup cluster",
        _canonical_best_docs,
        _CANONICAL_BEST_DOCS_SQL,
        tags=("dedup", "graph", "audit"),
    ),
]
