"""Embedding-table inventory: similarity search + LSH-family operators.

``cosine_topk`` is the exact brute-force baseline with a DuckDB oracle
(list_cosine_similarity). The LSH / MinHash / SimHash / IVF entries are
the scale paths — their production hash/cluster machinery (xxhash64,
KMeans) isn't DuckDB-reproducible, so they carry rows-only checks
pinned by pytest against the exact operators (tests/test_near_dup.py).
Since r7 each tier ALSO has an ``*_exact`` oracle twin that runs the
production operator with an engine-shared deterministic substitute
injected (md5 hash family / md5 signature bits / fixed centroids) and
hash-matches DuckDB end to end — the approximation is the only thing
left uncertified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databeats_spark.functions.similarity import cosine_top_k, lsh_cosine_top_k
from databeats_spark.operators.dedup import (
    MinHashFamily,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    semantic_near_duplicates,
    signature_agreement,
    simhash_near_duplicates,
)
from databeats_spark.registry import QuerySpec
from databeats_spark.sources.tables import load_tables

N_QUERY_VECS = 5
TOP_K = 10
EMBED_DIM = 64


def _cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    # the trailing .limit is a semantic no-op (ids below N_QUERY_VECS
    # number at most N_QUERY_VECS) that lets the plan lint PROVE the
    # broadcast side bounded instead of trusting an allowlist entry
    q = t.embeddings.filter(F.col("vec_id") < N_QUERY_VECS).limit(N_QUERY_VECS)
    out = cosine_top_k(t.embeddings, q, k=TOP_K)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


_COSINE_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERY_VECS}
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cs
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cs,
         row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim, CAST(rnk AS BIGINT) AS rank
FROM ranked WHERE rnk <= {TOP_K}
ORDER BY query_id, rank
"""


def _lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate ANN: random-hyperplane bucket join (rows-only check;
    # recall vs the exact oracle is asserted in tests/test_similarity.py)
    t = load_tables(spark, sf_dir, ["embeddings"])
    q = t.embeddings.filter(F.col("vec_id") < N_QUERY_VECS)
    out = lsh_cosine_top_k(t.embeddings, q, dim=EMBED_DIM, k=TOP_K, n_planes=8)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


# --- lsh_cosine_topk_exact: oracle promotion of the hyperplane tier --
# Unlike the other *_exact twins, the Spark side here needs no
# substitute at all (lsh_cosine_top_k, 4 tables x 8 planes,
# Hamming-1 multiprobe): its plane vectors are seeded NumPy literals
# folded into the plan, so the oracle can inline the SAME 32 plane
# rows as VALUES and replay the whole pipeline — signature bits from
# an ORDERED left fold of the per-dimension products (list_reduce
# mirrors Spark's F.aggregate element order; 0.0+p1 == p1 exactly, so
# the missing initial accumulator cannot change a sign), bucket
# equi-join per table, XOR multiprobe, exact cosine + rank. The one
# cross-engine hazard is a dot product EXACTLY at a sign boundary;
# both engines evaluate the identical float sequence, so the fold
# values are bit-equal and the hazard is vacuous.


def _lsh_cosine_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    q = t.embeddings.filter(F.col("vec_id") < N_QUERY_VECS).limit(N_QUERY_VECS)
    out = lsh_cosine_top_k(t.embeddings, q, dim=EMBED_DIM, k=TOP_K, n_planes=8)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


def _lsh_exact_sql() -> str:
    # replicate hyperplane_signature's literals: table t uses
    # default_rng(42 + 1000*t) -> standard_normal((8, EMBED_DIM));
    # repr() floats round-trip to the identical double in both engines
    import numpy as np

    rows = []
    for t in range(4):
        planes = np.random.default_rng(42 + 1000 * t).standard_normal((8, EMBED_DIM))
        for i in range(8):
            vec = ", ".join(repr(float(x)) for x in planes[i])
            rows.append(f"({t}, {1 << i}, [{vec}])")
    plane_rows = ",\n    ".join(rows)
    probe_rows = ", ".join(f"({o})" for o in [0] + [1 << i for i in range(8)])
    return f"""
WITH ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), planes(t, w, vec) AS (
  VALUES
    {plane_rows}
), sigs AS (
  SELECT e.vec_id, p.t,
         CAST(sum(CASE WHEN list_reduce(
             list_transform(range(1, {EMBED_DIM} + 1), j -> e.v[j] * p.vec[j]),
             (acc, x) -> acc + x) > 0 THEN p.w ELSE 0 END) AS BIGINT) AS sig
  FROM ev e CROSS JOIN planes p
  GROUP BY e.vec_id, p.t
), probes(o) AS (
  VALUES {probe_rows}
), qp AS (
  SELECT s.vec_id AS query_id, s.t, xor(s.sig, CAST(pr.o AS BIGINT)) AS b
  FROM sigs s CROSS JOIN probes pr
  WHERE s.vec_id < {N_QUERY_VECS}
), cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM qp q JOIN sigs c ON c.t = q.t AND c.sig = q.b AND c.vec_id <> q.query_id
), scored AS (
  SELECT cd.query_id, cd.neighbor_id,
         list_cosine_similarity(eq.v, en.v) AS cs,
         row_number() OVER (
           PARTITION BY cd.query_id
           ORDER BY list_cosine_similarity(eq.v, en.v) DESC, cd.neighbor_id
         ) AS rnk
  FROM cand cd
  JOIN ev eq ON eq.vec_id = cd.query_id
  JOIN ev en ON en.vec_id = cd.neighbor_id
)
SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim, CAST(rnk AS BIGINT) AS rank
FROM scored WHERE rnk <= {TOP_K}
ORDER BY query_id, rank
"""


def _ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF index path: KMeans-partitioned corpus, n_probe nearest lists
    # probed per query (rows-only check; recall gate in tests/test_ml)
    from databeats_spark.ml.ann import IVFIndex

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t.embeddings
    idx = IVFIndex.fit(emb, n_lists=8)
    # no-op bound, provable broadcast side (see _cosine_topk)
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).limit(N_QUERY_VECS)
    out = idx.search(q, k=TOP_K, n_probe=4)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


# shared by the ivf/semdedup oracle twins: corpus vector -> nearest of
# the first n_lists vectors (argmax cosine, centroid_id tie-break).
# ONE definition on each engine side so a fix to the assignment
# arithmetic can never update one twin and silently leave the other
# certifying different bucketing.
def _fixed_centroids(emb: DataFrame, n_lists: int) -> DataFrame:
    return (
        emb.filter(F.col("vec_id") < n_lists)
        .limit(n_lists)  # lint-visible bound for the broadcast side
        .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("__cv"))
    )


def _fixed_centroid_assign(emb: DataFrame, n_lists: int) -> DataFrame:
    from pyspark.sql import Window

    from databeats_spark.functions.similarity import cosine

    cents = _fixed_centroids(emb, n_lists)
    aw = Window.partitionBy("vec_id").orderBy(F.desc("__acs"), "centroid_id")
    return (
        emb.join(F.broadcast(cents))
        .withColumn("__acs", cosine("embedding", "__cv"))
        .withColumn("__arn", F.row_number().over(aw))
        .filter(F.col("__arn") == 1)
        .select("vec_id", "embedding", "centroid_id")
    )


def _fixed_assign_ctes(n_lists: int) -> str:
    """The DuckDB mirror of :func:`_fixed_centroid_assign` — c + assign
    CTE text shared by both twins' oracles."""
    return f"""c AS (
  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < {n_lists}
), assign AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id
           ) AS arn
    FROM embeddings e CROSS JOIN c
  ) WHERE arn = 1
)"""


# --- semdedup_near_dups_exact: oracle promotion of the SemDeDup tier --
# The production within-cluster pair search
# (operators/dedup.py::semantic_near_duplicates) with its one
# non-SQL-expressible piece, the KMeans bucketing, replaced: the
# centroids are fixed (first SEMDEDUP_EXACT_LISTS corpus vectors) and
# each vector goes to its argmax-cosine centroid. The candidate SHAPE
# (compare pairs only within a cluster — n²/k, never n²) and the
# exact-cosine verification then run dual-engine and hash-match.
# Cluster QUALITY stays KMeans' job (recall-floor pytest on the
# production op); this certifies the bucketed self-join + threshold
# arithmetic.
SEMDEDUP_EXACT_LISTS = 8
SEMDEDUP_EXACT_THRESHOLD = 0.4


def _semdedup_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.sources.tables import spread

    # the cosine HOF chains are compute-bound: spread the (often
    # single-split) embeddings scan before them (CLAUDE.md rule)
    emb = spread(load_tables(spark, sf_dir, ["embeddings"]).embeddings, spark)
    pairs = semantic_near_duplicates(
        emb, threshold=SEMDEDUP_EXACT_THRESHOLD,
        assign=lambda e: _fixed_centroid_assign(e, SEMDEDUP_EXACT_LISTS),
    )
    return pairs.select(
        "id_a", "id_b",
        F.col("centroid_id").cast("long").alias("cluster"),
        F.round("cos_sim", 6).alias("cos_sim"),
    ).orderBy("id_a", "id_b")


_SEMDEDUP_NEAR_DUPS_EXACT_SQL = f"""
WITH {_fixed_assign_ctes(SEMDEDUP_EXACT_LISTS)}, scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(a.centroid_id AS BIGINT) AS cluster,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) AS cs
  FROM assign a JOIN assign b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cluster, round(cs, 6) AS cos_sim
FROM scored WHERE cs >= {SEMDEDUP_EXACT_THRESHOLD}
ORDER BY id_a, id_b
"""


def _minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinHash+LSH banding over the FULL corpus (the scale path; the
    # bounded-exact oracle twin is documents.near_dup_pairs)
    t = load_tables(spark, sf_dir, ["documents"])
    out = minhash_near_duplicates(
        t.documents, "doc_id", "text", threshold=0.5,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy("id_a", "id_b")


# --- minhash_near_dups_exact: oracle promotion of the MinHash tier ----
# The production op (minhash_near_dups) hashes shingles with xxhash64 +
# integer universal hashing — fast, but not reproducible in DuckDB, so
# it stays rows-only. THIS twin runs the same operator
# (operators/dedup.py::minhash_near_duplicates: signature → bands →
# bucket-join candidates → exact-Jaccard verify) with the md5 hash
# family below: h_i(sh) = md5('i:' || sh), min taken LEXICOGRAPHICALLY
# over the hex strings — a total order both engines share
# byte-for-byte. Band keys differ by engine (xxhash64 of the joined
# slice in Spark, md5 in the oracle), but both are equal exactly when
# the band's R mins are, so the candidate pairs — and the verified
# list — hash-match. B*R kept small (4x3) — the twin proves the
# pipeline, the production op owns the recall/threshold tuning.
MINHASH_EXACT_HASHES = 12  # 4 bands x 3 rows
MINHASH_EXACT_BANDS = 4
MINHASH_EXACT_ROWS = 3
MINHASH_EXACT_THRESHOLD = 0.5

_MD5_FAMILY = MinHashFamily(
    key=lambda sh: sh, hash=lambda i, sh: F.md5(F.concat(F.lit(f"{i}:"), sh))
)


def _minhash_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    out = minhash_near_duplicates(
        t.documents, "doc_id", "text",
        num_hashes=MINHASH_EXACT_HASHES, bands=MINHASH_EXACT_BANDS,
        threshold=MINHASH_EXACT_THRESHOLD,
        num_partitions=spark.sparkContext.defaultParallelism, family=_MD5_FAMILY,
    )
    return out.select(
        "id_a", "id_b",
        F.col("common").cast("long").alias("common"),
        F.round("jaccard", 6).alias("jaccard"),
    ).orderBy("id_a", "id_b")


_SIG_COLS = ",\n         ".join(
    f"min(md5('{i}:' || sh)) AS h{i}" for i in range(MINHASH_EXACT_HASHES)
)
_BAND_SELECTS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {b} AS band_idx, md5({expr}) AS key FROM sig".format(
        b=b,
        expr=" || '|' || ".join(
            f"h{b * MINHASH_EXACT_ROWS + r}" for r in range(MINHASH_EXACT_ROWS)
        ),
    )
    for b in range(MINHASH_EXACT_BANDS)
)
_MINHASH_NEAR_DUPS_EXACT_SQL = rf"""
WITH tkn AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), sh3 AS (
  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                  i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM tkn
), ex AS (
  SELECT doc_id, unnest(shingles) AS sh FROM sh3
), sig AS (
  SELECT doc_id,
         {_SIG_COLS}
  FROM ex GROUP BY doc_id
), bands AS (
{_BAND_SELECTS}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, len(shingles) AS n FROM sh3
), cm AS (
  SELECT c.id_a, c.id_b, count(*) AS common
  FROM cand c
  JOIN ex ea ON ea.doc_id = c.id_a
  JOIN ex eb ON eb.doc_id = c.id_b AND eb.sh = ea.sh
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b, CAST(c.common AS BIGINT) AS common,
       round(c.common / (sa.n + sb.n - c.common), 6) AS jaccard
FROM cm c JOIN sizes sa ON sa.doc_id = c.id_a
          JOIN sizes sb ON sb.doc_id = c.id_b
WHERE c.common / (sa.n + sb.n - c.common) >= {MINHASH_EXACT_THRESHOLD}
ORDER BY c.id_a, c.id_b
"""


# --- Q: minhash_estimate_audit — sketch calibration curve (r11) ----------
# The audit that justifies the banding thresholds the MinHash tier
# runs on: for every co-shingle pair in the bounded verifier slice,
# compare the H-hash MinHash Jaccard ESTIMATE (signature agreement
# share — E[est] = J, Broder 1997) against the exact Jaccard, rolled
# up per 0.1 exact-Jaccard band: mean estimate, bias, and MAE. Both
# sides are fully dual-engine: signatures use the md5-lexicographic
# hash family (the minhash_near_dups_exact recipe, same H), agreement
# counts are exact BIGINTs (mean_est is ONE division of two BIGINTs),
# and the banding floor runs on bit-identical jaccard doubles (the
# near_dup_threshold_sweep posture). At corpus scale the same audit
# runs on a deterministic doc sample — the slice bound is the
# verifier posture, not a data assumption.

def _minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.registry.documents import PAIR_DOC_LIMIT
    from databeats_spark.sources.tables import spread

    H = MINHASH_EXACT_HASHES
    docs = spread(load_tables(spark, sf_dir, ["documents"]).documents, spark)
    docs = docs.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    sig = minhash_signatures(docs, "doc_id", "text", num_hashes=H, family=_MD5_FAMILY)
    ga = sig.select(F.col("__id").alias("id_a"), F.col("signature").alias("sig_a"))
    gb = sig.select(F.col("__id").alias("id_b"), F.col("signature").alias("sig_b"))
    # every co-shingle pair: the exact Jaccard at threshold 0
    scored = (
        ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0)
        .join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            F.col("jaccard").alias("jac"),
            signature_agreement("sig_a", "sig_b").cast("bigint").alias("matches"),
        )
    )
    est = F.col("matches").cast("double") / float(H)
    band = F.least(F.floor(F.col("jac") * 10), F.lit(9)).cast("bigint")
    g = scored.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("matches").cast("bigint").alias("sum_matches"),
        F.sum("jac").alias("sum_jac"),
        F.sum(F.abs(est - F.col("jac"))).alias("sum_abs_err"),
    )
    mean_est = F.col("sum_matches").cast("double") / (
        float(H) * F.col("n_pairs").cast("double")
    )
    mean_exact = F.col("sum_jac") / F.col("n_pairs").cast("double")
    return g.select(
        "band",
        F.round(F.col("band").cast("double") / 10.0, 6).alias("band_lo"),
        "n_pairs",
        F.round(mean_est, 6).alias("mean_est"),
        F.round(mean_exact, 6).alias("mean_exact"),
        F.round(mean_est - mean_exact, 6).alias("bias"),
        F.round(F.col("sum_abs_err") / F.col("n_pairs").cast("double"), 6).alias(
            "mae"
        ),
    ).orderBy("band")


def _minhash_estimate_audit_sql() -> str:
    from databeats_spark.registry.documents import _PAIRS_CTES

    H = MINHASH_EXACT_HASHES
    sig_cols = ",\n         ".join(
        f"min(md5('{i}:' || sh)) AS h{i}" for i in range(H)
    )
    match_expr = " + ".join(
        f"CASE WHEN ga.h{i} = gb.h{i} THEN 1 ELSE 0 END" for i in range(H)
    )
    return f"""
WITH {_PAIRS_CTES},
sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM e GROUP BY doc_id
),
scored AS (
  SELECT CAST(p.common AS DOUBLE) / CAST(sa.n + sb.n - p.common AS DOUBLE) AS jac,
         CAST({match_expr} AS BIGINT) AS matches
  FROM pairs p
  JOIN sized sa ON sa.doc_id = p.id_a
  JOIN sized sb ON sb.doc_id = p.id_b
  JOIN sig ga ON ga.doc_id = p.id_a
  JOIN sig gb ON gb.doc_id = p.id_b
),
g AS (
  SELECT CAST(least(floor(jac * 10), 9) AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(matches) AS BIGINT) AS sum_matches,
         sum(jac) AS sum_jac,
         sum(abs(CAST(matches AS DOUBLE) / {float(H)!r} - jac)) AS sum_abs_err
  FROM scored GROUP BY 1
)
SELECT band,
       round(CAST(band AS DOUBLE) / 10.0, 6) AS band_lo,
       n_pairs,
       round(CAST(sum_matches AS DOUBLE) / ({float(H)!r} * CAST(n_pairs AS DOUBLE)), 6) AS mean_est,
       round(sum_jac / CAST(n_pairs AS DOUBLE), 6) AS mean_exact,
       round(CAST(sum_matches AS DOUBLE) / ({float(H)!r} * CAST(n_pairs AS DOUBLE))
             - sum_jac / CAST(n_pairs AS DOUBLE), 6) AS bias,
       round(sum_abs_err / CAST(n_pairs AS DOUBLE), 6) AS mae
FROM g
ORDER BY band
"""


def _simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    out = simhash_near_duplicates(
        t.documents, "doc_id", "text",
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming")).orderBy(
        "id_a", "id_b"
    )


# --- ivf_cosine_topk_exact: oracle promotion of the IVF probe path ---
# The production IVF (ml/ann.py) is rows-only because its list
# structure comes from MLlib KMeans, which DuckDB can't reproduce.
# Everything ELSE about IVF search is deterministic arithmetic: assign
# each corpus vector to its nearest list, probe the n_probe nearest
# lists per query, exact top-k within the probed union. This twin
# fixes the centroids DETERMINISTICALLY (the first IVF_EXACT_LISTS
# corpus vectors — a seeding both engines can name) and runs that
# identical assign → probe → rank pipeline dual-engine, so the probe
# arithmetic the production index executes at scale is hash-certified;
# KMeans itself stays covered by the recall-floor pytest. Like the
# production path, a query vector only meets the lists it probes —
# the pruning IS the operator — and the per-query candidate set is
# the probed lists' union, never the corpus.
IVF_EXACT_LISTS = 8
IVF_EXACT_PROBE = 2


def _ivf_cosine_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from databeats_spark.functions.similarity import cosine
    from databeats_spark.sources.tables import spread

    # spread the (often single-split) embeddings scan before the
    # compute-bound cosine HOF chains (CLAUDE.md rule)
    emb = spread(load_tables(spark, sf_dir, ["embeddings"]).embeddings, spark)
    cents = _fixed_centroids(emb, IVF_EXACT_LISTS)
    assign = _fixed_centroid_assign(emb, IVF_EXACT_LISTS)
    # query -> its n_probe nearest lists
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).limit(N_QUERY_VECS)
    pw = Window.partitionBy("query_id").orderBy(F.desc("__pcs"), "centroid_id")
    probe = (
        q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
        .join(F.broadcast(cents))
        .withColumn("__pcs", cosine("__qv", "__cv"))
        .withColumn("__prn", F.row_number().over(pw))
        .filter(F.col("__prn") <= IVF_EXACT_PROBE)
        .select("query_id", "__qv", "centroid_id")
    )
    # search only the probed lists; exact rank within the union
    rw = Window.partitionBy("query_id").orderBy(F.desc("__cs"), "neighbor_id")
    return (
        assign.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__nv"),
            "centroid_id",
        )
        .join(F.broadcast(probe), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__cs", cosine("__qv", "__nv"))
        .withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "neighbor_id", F.round("__cs", 6).alias("cos_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


_IVF_COSINE_TOPK_EXACT_SQL = f"""
WITH {_fixed_assign_ctes(IVF_EXACT_LISTS)}, probe AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id
           ) AS prn
    FROM embeddings e CROSS JOIN c
    WHERE e.vec_id < {N_QUERY_VECS}
  ) WHERE prn <= {IVF_EXACT_PROBE}
), ranked AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(p.qv, CAST(a.embedding AS DOUBLE[])) AS cs,
         row_number() OVER (
           PARTITION BY p.query_id
           ORDER BY list_cosine_similarity(p.qv, CAST(a.embedding AS DOUBLE[])) DESC,
                    a.vec_id
         ) AS rnk
  FROM probe p JOIN assign a ON a.centroid_id = p.centroid_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim, CAST(rnk AS BIGINT) AS rank
FROM ranked WHERE rnk <= {TOP_K}
ORDER BY query_id, rank
"""


# --- simhash_near_dups_exact: oracle promotion of the SimHash tier ---
# Same promotion pattern as minhash_near_dups_exact: the production op
# (operators/dedup.py::simhash_near_duplicates — xxhash64 feature bits,
# 64-bit signature) is not reproducible in DuckDB, so the twin runs it
# with a 32-bit md5 feature hash instead — bit b of a shingle's vote
# vector is the HIGH BIT of hex digit b of md5(shingle) (digit >= '8'),
# which both engines read off the same lowercase hex string. The oracle
# carries the signature as a 32-char '0'/'1' string and bands/verifies
# it per character; the Spark side packs the same bits into a BIGINT
# (registry/documents.py::_md5_bits) for the production banding —
# hamming_max+1=4 blocks of 8 bits, so any pair within hamming 3
# collides on >=1 block, recall GUARANTEED — and bit_count verify.
SIMHASH_EXACT_BITS = 32
SIMHASH_EXACT_HAMMING_MAX = 3


def _simhash_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.registry.documents import _md5_bits

    t = load_tables(spark, sf_dir, ["documents"])
    out = simhash_near_duplicates(
        t.documents, "doc_id", "text", hamming_max=SIMHASH_EXACT_HAMMING_MAX,
        num_partitions=spark.sparkContext.defaultParallelism,
        bits=SIMHASH_EXACT_BITS,
        feature_hash=lambda sh: _md5_bits(F.md5(sh), SIMHASH_EXACT_BITS),
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("id_a", "id_b")


_SIM_VOTES = ",\n         ".join(
    f"sum(CASE WHEN strpos('89abcdef', substr(md5(sh), {b + 1}, 1)) > 0 "
    f"THEN 1 ELSE -1 END) AS b{b}"
    for b in range(SIMHASH_EXACT_BITS)
)
_SIM_SIG = " || ".join(
    f"CASE WHEN b{b} > 0 THEN '1' ELSE '0' END" for b in range(SIMHASH_EXACT_BITS)
)
_SIM_BLOCKS = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, sig, {i} AS block, substr(sig, {i * (SIMHASH_EXACT_BITS // (SIMHASH_EXACT_HAMMING_MAX + 1)) + 1}, "
    f"{SIMHASH_EXACT_BITS // (SIMHASH_EXACT_HAMMING_MAX + 1)}) AS value FROM sig"
    for i in range(SIMHASH_EXACT_HAMMING_MAX + 1)
)
_SIM_HAMMING = " + ".join(
    f"CASE WHEN substr(a.sig, {p + 1}, 1) <> substr(b.sig, {p + 1}, 1) THEN 1 ELSE 0 END"
    for p in range(SIMHASH_EXACT_BITS)
)
_SIMHASH_NEAR_DUPS_EXACT_SQL = rf"""
WITH tkn AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), sh2 AS (
  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                  i -> array_to_string(toks[i:i+1], ' '))) AS shingles
  FROM tkn
), ex AS (
  SELECT doc_id, unnest(shingles) AS sh FROM sh2
), votes AS (
  SELECT doc_id,
         {_SIM_VOTES}
  FROM ex GROUP BY doc_id
), sig AS (
  SELECT doc_id, {_SIM_SIG} AS sig FROM votes
), banded AS (
{_SIM_BLOCKS}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST({_SIM_HAMMING} AS BIGINT) AS hamming
FROM banded a JOIN banded b
  ON a.block = b.block AND a.value = b.value AND a.doc_id < b.doc_id
WHERE {_SIM_HAMMING} <= {SIMHASH_EXACT_HAMMING_MAX}
ORDER BY id_a, id_b
"""


def _semdedup_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup: KMeans-clustered embedding space, pairs compared only
    # within a cluster (operators/dedup.py::semantic_near_duplicates).
    # Rows-only: the seeded KMeans fit is not SQL-expressible; the
    # recall floor vs exact brute force is pinned in test_near_dup.py.
    t = load_tables(spark, sf_dir, ["embeddings"])
    # n_lists=None → auto max(8, n // 400): constant per-cluster pair
    # budget as the corpus grows (fixed k re-quadratizes at scale)
    out = semantic_near_duplicates(
        t.embeddings, "vec_id", "embedding", n_lists=None, threshold=0.4
    )
    # pin the (tiny) pair list before the global sort: orderBy plans a
    # range exchange whose SAMPLING pass re-executes the child, and the
    # within-cluster pair join is all narrow (broadcast) compute — the
    # n²/k cosine evaluation ran TWICE per action (measured: two equal
    # ~10 cpu-s stages at sf0.1). The lazy checkpoint materializes the
    # few surviving pairs once; sampling + sort read cached blocks.
    return out.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    ).localCheckpoint(eager=False).orderBy("id_a", "id_b")


def _embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # array-function surface over the vector column: elementwise
    # aggregates in double precision, sequential fold order on both
    # engines so values match exactly
    t = load_tables(spark, sf_dir, ["embeddings"])
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    total = F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x)
    sq = F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    return (
        t.embeddings.select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.size("embedding").cast("long").alias("dim"),
            F.round(F.array_min(vec), 6).alias("min_val"),
            F.round(F.array_max(vec), 6).alias("max_val"),
            F.round(total / F.size("embedding"), 6).alias("mean_val"),
            F.round(F.sqrt(sq), 6).alias("l2_norm"),
        )
        .orderBy("vec_id")
    )


_EMBEDDING_STATS_SQL = """
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT vec_id, CAST(label AS BIGINT) AS label,
       CAST(len(e) AS BIGINT) AS dim,
       round(list_aggregate(e, 'min'), 6) AS min_val,
       round(list_aggregate(e, 'max'), 6) AS max_val,
       round(list_aggregate(e, 'sum') / len(e), 6) AS mean_val,
       round(sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')), 6) AS l2_norm
FROM v
ORDER BY vec_id
"""


# --- Q: label_centroid_distance — per-label centroids + distances ---------
# The clustering-quality primitive (and the exact twin of what IVF's
# KMeans does per list): positional explode → per-(label, dimension)
# mean → join back → L2 distance to own centroid. Centroids round to
# 6 before the distance so both engines compute from identical
# doubles; the 16-term distance sum is then stable far below 1e-6.

CENTROID_VEC_LIMIT = 500


def _label_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    expl = (
        t.embeddings.filter(F.col("vec_id") < CENTROID_VEC_LIMIT)
        .select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
                "pos", "val"
            ),
        )
    )
    cent = expl.groupBy("label", F.col("pos").alias("cpos")).agg(
        F.round(F.avg("val"), 6).alias("c")
    )
    return (
        expl.join(
            cent, (expl["label"] == cent["label"]) & (expl["pos"] == cent["cpos"])
        )
        .drop(cent["label"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(F.sqrt(F.sum(F.pow(F.col("val") - F.col("c"), F.lit(2.0)))), 6).alias(
                "dist_to_centroid"
            )
        )
        .orderBy("vec_id")
    )


_LABEL_CENTROID_DISTANCE_SQL = f"""
WITH expl AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(u[2] AS BIGINT) AS pos, CAST(u[1] AS DOUBLE) AS val
  FROM (
    SELECT vec_id, label,
           unnest(list_zip(CAST(embedding AS DOUBLE[]),
                           range(0, len(embedding)))) AS u
    FROM embeddings WHERE vec_id < {CENTROID_VEC_LIMIT}
  )
), cent AS (
  SELECT label, pos, round(avg(val), 6) AS c
  FROM expl GROUP BY label, pos
)
SELECT e.vec_id, e.label,
       round(sqrt(sum(pow(e.val - c.c, 2.0))), 6) AS dist_to_centroid
FROM expl e
JOIN cent c ON e.label = c.label AND e.pos = c.pos
GROUP BY e.vec_id, e.label
ORDER BY e.vec_id
"""


# --- Q: canonical_docs — end-to-end fuzzy-dedup pipeline -----------------
# The full training-data dedup chain in one query: exact n-gram Jaccard
# pairs → connected components (registry/documents.py::
# _closure_components) → dedup_keep_canonical keeps the min-id doc per
# cluster plus all singletons. Oracle = recursive-CTE reachability over
# the same pair predicate, anti-joined to non-canonical members.


def _canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.graph import dedup_keep_canonical
    from databeats_spark.registry.documents import PAIR_DOC_LIMIT, _closure_components

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    comps = _closure_components(docs)
    kept = dedup_keep_canonical(docs, comps, "doc_id")
    return kept.select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    ).orderBy("doc_id")


def _canonical_docs_sql() -> str:
    from databeats_spark.registry.documents import _CLOSURE_CTES, PAIR_DOC_LIMIT

    return f"""
{_CLOSURE_CTES}
SELECT d.doc_id, d.lang, CAST(length(d.text) AS BIGINT) AS n_chars
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.doc_id
WHERE d.doc_id < {PAIR_DOC_LIMIT}
  AND (c.doc_id IS NULL OR d.doc_id = c.component)
ORDER BY d.doc_id
"""


# --- Q: embedding_quantization — int8 scalar quantization audit -------
# The storage path a 100 TB embedding table actually ships: per-vector
# min/max scalar quantization to 8-bit codes (256 levels) plus the
# reconstruction-error audit that decides whether int8 recall is
# acceptable before swapping the float column out. Pure elementwise
# array expressions — codes and error terms are computed in ONE
# transform over the double-cast vector with the identical IEEE
# operation order on both engines (floor/least are exact, so the only
# rounding is the final round(…, 6) on the two error metrics);
# code_sum is an exact integer pin of the quantizer itself.

Q_LEVELS = 256  # 8-bit codes


def _embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    lo, hi = F.col("lo"), F.col("hi")

    def code(x):
        return F.least(F.lit(255), F.floor((x - lo) / (hi - lo) * Q_LEVELS))

    def err(x):
        dq = lo + (code(x) + F.lit(0.5)) * (hi - lo) / Q_LEVELS
        return (x - dq) * (x - dq)

    base = (
        t.embeddings.select("vec_id", e.alias("e"))
        .withColumn("lo", F.array_min("e"))
        .withColumn("hi", F.array_max("e"))
        .filter(hi > lo)
        .select(
            "vec_id",
            F.size("e").cast("bigint").alias("dim"),
            F.aggregate(
                F.transform("e", code), F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("code_sum"),
            F.transform("e", err).alias("errs"),
        )
    )
    return base.select(
        "vec_id",
        "dim",
        "code_sum",
        F.round(
            F.sqrt(
                F.aggregate("errs", F.lit(0.0), lambda a, x: a + x) / F.col("dim")
            ),
            6,
        ).alias("rmse"),
        F.round(F.sqrt(F.array_max("errs")), 6).alias("max_abs_err"),
    ).orderBy("vec_id")


# the error term spells the code expression out twice because HOF
# lambdas get no CSE on either engine — duplication keeps the IEEE
# operation sequence literally identical on both sides
_EMBEDDING_QUANTIZATION_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), b AS (
  SELECT vec_id, e, list_aggregate(e, 'min') AS lo, list_aggregate(e, 'max') AS hi FROM v
), q AS (
  SELECT vec_id, len(e) AS dim,
         list_transform(e, x -> least(255, floor((x - lo) / (hi - lo) * {Q_LEVELS}))) AS codes,
         list_transform(e, x ->
           (x - (lo + (least(255, floor((x - lo) / (hi - lo) * {Q_LEVELS})) + 0.5) * (hi - lo) / {Q_LEVELS}))
           * (x - (lo + (least(255, floor((x - lo) / (hi - lo) * {Q_LEVELS})) + 0.5) * (hi - lo) / {Q_LEVELS}))
         ) AS errs
  FROM b WHERE hi > lo
)
SELECT vec_id, CAST(dim AS BIGINT) AS dim,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       round(sqrt(list_sum(errs) / dim), 6) AS rmse,
       round(sqrt(list_max(errs)), 6) AS max_abs_err
FROM q ORDER BY vec_id
"""


# --- Q: class_weights — inverse-frequency label balancing -------------
# The sklearn-style "balanced" class-weight table: weight(label) =
# n_total / (n_classes · n_label), computed from one hash aggregate on
# the label column; totals ride attach_global_scalar on the
# checkpointed counts (no second scan). The table a trainer broadcasts
# to reweight a skewed label distribution.

def _class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import attach_global_scalar

    t = load_tables(spark, sf_dir, ["embeddings"])
    counts = t.embeddings.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    counts = attach_global_scalar(
        counts,
        F.sum("n_vecs").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
    )
    return counts.select(
        F.col("label").cast("bigint").alias("label"),
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.round(
            F.col("n_total") / (F.col("n_classes") * F.col("n_vecs").cast("double")), 6
        ).alias("weight"),
    ).orderBy("label")


_CLASS_WEIGHTS_SQL = """
WITH counts AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY label
), tot AS (
  SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS n_classes
  FROM counts
)
SELECT CAST(label AS BIGINT) AS label, n_vecs,
       round(t.n_total / (t.n_classes * CAST(n_vecs AS DOUBLE)), 6) AS weight
FROM counts CROSS JOIN tot t
ORDER BY label
"""


# --- Q: hard_negatives — contrastive-training negative mining ---------
# Embedding-model training (public recipe: sentence-transformers,
# DPR) needs, per anchor, the most-similar vectors with a DIFFERENT
# label — "hard" negatives that actually move the loss. Same broadcast
# anchor + one-corpus-pass shape as cosine_topk, with the label
# mismatch folded into the join predicate so the filter runs BEFORE
# scoring (never score-then-filter: at 100 TB the predicate prunes the
# pair stream inside the same codegen stage).

N_ANCHORS = 8
N_NEGATIVES = 5


def _hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.functions.similarity import cosine
    from databeats_spark.operators.windows import top_k_per_group

    t = load_tables(spark, sf_dir, ["embeddings"])
    # .limit is the lint-provable no-op bound (ids < N_ANCHORS number
    # at most N_ANCHORS) — same posture as _cosine_topk
    q = (
        t.embeddings.filter(F.col("vec_id") < N_ANCHORS)
        .limit(N_ANCHORS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            F.col("embedding").alias("__qv"),
        )
    )
    c = t.embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("__cv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_label") != F.col("neighbor_label"))
        .withColumn("cos_sim", cosine("__qv", "__cv"))
        .select("query_id", "query_label", "neighbor_id", "neighbor_label", "cos_sim")
    )
    out = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cos_sim").desc(), F.col("neighbor_id")],
        N_NEGATIVES,
        keep_rank="rank",
    )
    return out.select(
        "query_id",
        F.col("query_label").cast("long").alias("query_label"),
        "neighbor_id",
        F.col("neighbor_label").cast("long").alias("neighbor_label"),
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


_HARD_NEGATIVES_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS query_label, embedding AS qv
  FROM embeddings WHERE vec_id < {N_ANCHORS}
), scored AS (
  SELECT q.query_id, q.query_label, e.vec_id AS neighbor_id, e.label AS neighbor_label,
         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cs
  FROM q JOIN embeddings e ON e.label <> q.query_label
), ranked AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label, cs,
         row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, CAST(query_label AS BIGINT) AS query_label,
       neighbor_id, CAST(neighbor_label AS BIGINT) AS neighbor_label,
       round(cs, 6) AS cos_sim, CAST(rnk AS BIGINT) AS rank
FROM ranked WHERE rnk <= {N_NEGATIVES}
ORDER BY query_id, rank
"""


# --- Q: retrieval_label_precision — retrieval-quality eval ------------
# The eval loop that closes the ANN ladder: treat the label as the
# relevance judgment and measure precision@k of exact cosine retrieval
# per query — the harness that scores any index variant (PCA-reduced,
# IVF, SQ8) against the same metric. Integer relevant-counts, ONE
# division, round(…, 6): oracle-exact.

N_EVAL_QUERIES = 20
EVAL_K = 10


def _retrieval_label_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.functions.similarity import cosine
    from databeats_spark.operators.windows import top_k_per_group

    t = load_tables(spark, sf_dir, ["embeddings"])
    q = (
        t.embeddings.filter(F.col("vec_id") < N_EVAL_QUERIES)
        .limit(N_EVAL_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            F.col("embedding").alias("__qv"),
        )
    )
    c = t.embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("__cv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine("__qv", "__cv"))
        .select("query_id", "query_label", "neighbor_id", "neighbor_label", "cos_sim")
    )
    topk = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cos_sim").desc(), F.col("neighbor_id")],
        EVAL_K,
    )
    return (
        topk.groupBy("query_id", "query_label")
        .agg(
            F.sum(
                (F.col("neighbor_label") == F.col("query_label")).cast("bigint")
            ).alias("n_relevant"),
            F.count(F.lit(1)).alias("k"),
        )
        .select(
            "query_id",
            F.col("query_label").cast("long").alias("query_label"),
            "n_relevant",
            F.round(F.col("n_relevant") / F.col("k"), 6).alias("precision_at_k"),
        )
        .orderBy("query_id")
    )


_RETRIEVAL_LABEL_PRECISION_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS query_label, embedding AS qv
  FROM embeddings WHERE vec_id < {N_EVAL_QUERIES}
), scored AS (
  SELECT q.query_id, q.query_label, e.label AS neighbor_label, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cs
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, query_label, neighbor_label, cs,
         row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, CAST(query_label AS BIGINT) AS query_label,
       CAST(sum(CASE WHEN neighbor_label = query_label THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant,
       round(sum(CASE WHEN neighbor_label = query_label THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS precision_at_k
FROM ranked WHERE rnk <= {EVAL_K}
GROUP BY query_id, query_label
ORDER BY query_id
"""


# --- Q: takedown_blast_radius — source removal over dedup clusters ----
# The compliance tier meets the dedup tier: a takedown (copyright /
# licensing / GDPR) removes every document of ONE source — what does
# the deduplicated corpus lose? For each source, the what-if audit in
# one pass over ALL sources at once: n_canonical_lost = clusters whose
# min-id canonical came from that source (singletons included — a
# singleton is its own canonical), split into n_reelected (another
# source survives in the cluster and the canonical is re-elected) and
# n_dissolved (the whole cluster was that source — content genuinely
# gone). Invariant pinned in pytest: lost = reelected + dissolved.
# Scale shape: the pairs→components pass is the same bounded
# verifier-slice pipeline canonical_docs runs; everything after is
# per-(component, source) hash aggregates — bounded by cluster
# membership, never pairs². Output aggregates per source, so no
# cross-engine component-ID parity is even required (it holds anyway).

def _takedown_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.registry.documents import PAIR_DOC_LIMIT, _closure_components

    t = load_tables(spark, sf_dir, ["documents"])
    sliced = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    docs = sliced.select("doc_id", "source")
    comps = _closure_components(sliced)
    members = docs.join(
        comps.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", "source", F.coalesce("component", "doc_id").alias("component")
    )
    comp_stats = members.groupBy("component").agg(
        F.min("doc_id").alias("canonical"),
        F.count(F.lit(1)).alias("n_members"),
    )
    canon = comp_stats.join(
        members.select(
            F.col("doc_id").alias("canonical"),
            F.col("source").alias("canonical_source"),
        ),
        "canonical",
    )
    per_cs = members.groupBy("component", "source").agg(
        F.count(F.lit(1)).alias("n_from_s")
    )
    affected = per_cs.join(canon, "component").filter(
        F.col("source") == F.col("canonical_source")
    )
    lost = affected.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_canonical_lost"),
        F.sum((F.col("n_members") > F.col("n_from_s")).cast("bigint"))
        .cast("bigint")
        .alias("n_reelected"),
        F.sum((F.col("n_members") == F.col("n_from_s")).cast("bigint"))
        .cast("bigint")
        .alias("n_dissolved"),
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return (
        totals.join(lost, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_canonical_lost", F.lit(0)).cast("bigint").alias("n_canonical_lost"),
            F.coalesce("n_reelected", F.lit(0)).cast("bigint").alias("n_reelected"),
            F.coalesce("n_dissolved", F.lit(0)).cast("bigint").alias("n_dissolved"),
        )
        .orderBy("source")
    )


def _takedown_blast_radius_sql() -> str:
    from databeats_spark.registry.documents import _CLOSURE_CTES, PAIR_DOC_LIMIT

    return f"""
{_CLOSURE_CTES},
members AS (
  SELECT d.doc_id, d.source, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
  WHERE d.doc_id < {PAIR_DOC_LIMIT}
),
comp_stats AS (
  SELECT component, min(doc_id) AS canonical, count(*) AS n_members
  FROM members GROUP BY component
),
canon AS (
  SELECT cs.component, cs.n_members, m.source AS canonical_source
  FROM comp_stats cs JOIN members m ON m.doc_id = cs.canonical
),
per_cs AS (
  SELECT component, source, count(*) AS n_from_s FROM members GROUP BY 1, 2
),
affected AS (
  SELECT p.source, c.n_members, p.n_from_s
  FROM per_cs p
  JOIN canon c ON p.component = c.component AND p.source = c.canonical_source
),
lost AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_canonical_lost,
         CAST(sum(CASE WHEN n_members > n_from_s THEN 1 ELSE 0 END) AS BIGINT) AS n_reelected,
         CAST(sum(CASE WHEN n_members = n_from_s THEN 1 ELSE 0 END) AS BIGINT) AS n_dissolved
  FROM affected GROUP BY source
)
SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(coalesce(l.n_canonical_lost, 0) AS BIGINT) AS n_canonical_lost,
       CAST(coalesce(l.n_reelected, 0) AS BIGINT) AS n_reelected,
       CAST(coalesce(l.n_dissolved, 0) AS BIGINT) AS n_dissolved
FROM (SELECT source, count(*) AS n_docs FROM documents
      WHERE doc_id < {PAIR_DOC_LIMIT} GROUP BY source) t
LEFT JOIN lost l ON l.source = t.source
ORDER BY t.source
"""


# --- Q: semantic_decontam — embedding-space benchmark decontamination --
# The semantic counterpart of benchmark_decontam: n-gram overlap misses
# paraphrased eval leakage, so the FineWeb/phi-style second gate scores
# every corpus vector against the EVAL-SET embeddings and flags cosine
# hits. Eval set = the first SEM_EVAL_N corpus vectors (the repo's
# fixed-slice idiom — deterministic, lint-provable via the no-op
# .limit). Scale shape: the eval side is benchmark-sized at ANY corpus
# scale, so it broadcasts and the corpus is touched exactly once — the
# identical plan at 100 TB; no corpus self-join exists. Per flagged
# corpus vector: hit count (exact BIGINT) and max cosine (max commutes
# with round — both order-free), so no float accumulates across rows.

SEM_EVAL_N = 32
SEM_DECON_THRESHOLD = 0.4


def _semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.functions.similarity import cosine

    t = load_tables(spark, sf_dir, ["embeddings"])
    ev = (
        t.embeddings.filter(F.col("vec_id") < SEM_EVAL_N)
        .limit(SEM_EVAL_N)
        .select(F.col("vec_id").alias("eval_id"), F.col("embedding").alias("__ev"))
    )
    corpus = t.embeddings.filter(F.col("vec_id") >= SEM_EVAL_N).select(
        "vec_id", F.col("embedding").alias("__cv")
    )
    hits = (
        corpus.crossJoin(F.broadcast(ev))
        .withColumn("cos_sim", cosine("__cv", "__ev"))
        .filter(F.col("cos_sim") >= SEM_DECON_THRESHOLD)
    )
    return (
        hits.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval_hits"),
            F.round(F.max("cos_sim"), 6).alias("max_cos"),
        )
        .orderBy("vec_id")
    )


_SEMANTIC_DECONTAM_SQL = f"""
WITH ev AS (
  SELECT vec_id AS eval_id, embedding AS ev
  FROM embeddings WHERE vec_id < {SEM_EVAL_N}
), hits AS (
  SELECT c.vec_id,
         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                CAST(ev.ev AS DOUBLE[])) AS cs
  FROM embeddings c, ev
  WHERE c.vec_id >= {SEM_EVAL_N}
)
SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
       round(max(cs), 6) AS max_cos
FROM hits
WHERE cs >= {SEM_DECON_THRESHOLD}
GROUP BY vec_id
ORDER BY vec_id
"""


# --- Q: ann_recall_audit — recall@k of the IVF probe path, in-engine -----
# The evaluation harness every ANN deployment needs: recall@k of the
# approximate index against the exact brute-force top-k, computed as
# ONE plan (no driver-side set math). Ground truth = the cosine_topk
# pipeline; candidate = the fixed-centroid IVF probe path (the same
# assign→probe→rank arithmetic ivf_cosine_topk_exact certifies), so
# the whole recall computation is dual-engine and hash-matched — at
# scale you swap the fixed centroids for the KMeans index and the
# recall query is unchanged. Both inputs are k×N_QUERY_VECS-bounded
# top-k slices, so the audit join moves O(k·q) rows regardless of
# corpus size; recall is one integer division per query.


def _ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = _cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        _ivf_cosine_topk_exact(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("bigint").alias("hits"),
        )
        .withColumn("recall", F.round(F.col("hits") / F.col("k"), 6))
        .orderBy("query_id")
    )


def _ann_recall_audit_sql() -> str:
    return f"""
WITH {_fixed_assign_ctes(IVF_EXACT_LISTS)}, probe AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id
           ) AS prn
    FROM embeddings e CROSS JOIN c
    WHERE e.vec_id < {N_QUERY_VECS}
  ) WHERE prn <= {IVF_EXACT_PROBE}
), ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY list_cosine_similarity(p.qv, CAST(a.embedding AS DOUBLE[])) DESC,
                      a.vec_id
           ) AS rnk
    FROM probe p JOIN assign a ON a.centroid_id = p.centroid_id
    WHERE a.vec_id <> p.query_id
  ) WHERE rnk <= {TOP_K}
), q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {N_QUERY_VECS}
), exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) DESC,
                      e.vec_id
           ) AS rnk
    FROM q JOIN embeddings e ON e.vec_id <> q.query_id
  ) WHERE rnk <= {TOP_K}
)
SELECT x.query_id,
       CAST(count(*) AS BIGINT) AS k,
       CAST(sum(CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS hits,
       round(sum(CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END)
             * 1.0 / count(*), 6) AS recall
FROM exact x
LEFT JOIN ivf i ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
GROUP BY x.query_id
ORDER BY x.query_id
"""


# --- Q: embedding_isotropy_audit — collapsed-embedding detector ----------
# The pre-ANN health check: per label, L2-norm dispersion and the mean
# cosine to the GLOBAL corpus centroid. Anisotropic / collapsed
# embedding spaces (a failed encoder run, a dominant principal
# direction) show up as mean_cos_centroid near 1 long before ANN
# recall quietly degrades. One corpus pass: positional explode →
# 64-row global centroid (map-side partial agg collapses the explode
# before the shuffle) → broadcast back by position; the centroid's
# self-norm is folded into the SAME per-vector aggregate (sum of c²
# over the 64 joined positions) so no derived-scalar crossJoin exists.
# Centroid rounds to 6 before use so both engines fold identical
# doubles (the label_centroid_distance recipe).


def _embedding_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    expl = load_tables(spark, sf_dir, ["embeddings"]).embeddings.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "val"
        ),
    )
    cent = expl.groupBy(F.col("pos").alias("cpos")).agg(
        F.round(F.avg("val"), 6).alias("c")
    )
    per_vec = (
        expl.join(F.broadcast(cent), expl["pos"] == cent["cpos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("val") * F.col("c")).alias("__dot"),
            F.sum(F.col("val") * F.col("val")).alias("__v2"),
            F.sum(F.col("c") * F.col("c")).alias("__c2"),
        )
        .select(
            "label",
            F.sqrt("__v2").alias("__norm"),
            (F.col("__dot") / (F.sqrt("__v2") * F.sqrt("__c2"))).alias("__cos"),
        )
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.avg("__norm"), 6).alias("mean_norm"),
            F.round(F.stddev_pop("__norm"), 6).alias("sd_norm"),
            F.round(F.avg("__cos"), 6).alias("mean_cos_centroid"),
            F.round(F.min("__cos"), 6).alias("min_cos_centroid"),
        )
        .orderBy("label")
    )


_EMBEDDING_ISOTROPY_AUDIT_SQL = """
WITH expl AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(u[2] AS BIGINT) AS pos, CAST(u[1] AS DOUBLE) AS val
  FROM (
    SELECT vec_id, label,
           unnest(list_zip(CAST(embedding AS DOUBLE[]),
                           range(0, len(embedding)))) AS u
    FROM embeddings
  )
), cent AS (
  SELECT pos, round(avg(val), 6) AS c FROM expl GROUP BY pos
), per_vec AS (
  SELECT e.vec_id, e.label,
         sqrt(sum(e.val * e.val)) AS nrm,
         sum(e.val * c.c)
           / (sqrt(sum(e.val * e.val)) * sqrt(sum(c.c * c.c))) AS cos_c
  FROM expl e JOIN cent c ON e.pos = c.pos
  GROUP BY e.vec_id, e.label
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(nrm), 6) AS mean_norm,
       round(stddev_pop(nrm), 6) AS sd_norm,
       round(avg(cos_c), 6) AS mean_cos_centroid,
       round(min(cos_c), 6) AS min_cos_centroid
FROM per_vec
GROUP BY label
ORDER BY label
"""


# --- Q: matryoshka_energy_audit — truncation-readiness of embeddings -
# Matryoshka representation learning (Kusupati et al. 2022) serves the
# SAME embedding at several truncated dims; before shipping a
# truncated index you audit how much of each vector's energy the
# prefix retains. Per vector and truncation dim d: ratio =
# sqrt(ssq(v[:d]) / ssq(v)) — both sums ORDERED left folds over the
# array (the hyperplane-LSH recipe: F.aggregate from 0.0 mirrored by
# DuckDB's 0.0-prepended list_reduce on the DOUBLE[]-cast list, so
# every intermediate is bit-equal) — then histogrammed as
# floor(ratio * 20): buckets 0..19 are the half-open 5%-wide bands and
# ratio == 1.0 (prefix carries ALL the energy, e.g. trunc_dim >= the
# vector length) lands in an inclusive top bucket 20, so 21 bucket
# values exist (ADVICE r9 — identical on both engines by construction).
# Output is all-BIGINT (dim, bucket, n_vecs): no corpus-level
# double sum exists to order. One scan, one bounded-key aggregate —
# at 100 TB this is a single map-side-combinable pass.
MATRYOSHKA_DIMS = (8, 16, 32)
MATRYOSHKA_BUCKETS = 20


def _ssq_fold(arr):
    return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x)


def _matryoshka_energy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.sources.tables import spread

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = spread(t.embeddings, spark).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    full = _ssq_fold(F.col("v"))
    per_dim = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("bigint").alias("trunc_dim"),
                        F.floor(
                            F.sqrt(_ssq_fold(F.slice("v", 1, d)) / full)
                            * F.lit(float(MATRYOSHKA_BUCKETS))
                        )
                        .cast("bigint")
                        .alias("ratio_bucket"),
                    )
                    for d in MATRYOSHKA_DIMS
                ]
            )
        ).alias("s"),
    ).select("s.trunc_dim", "s.ratio_bucket")
    return (
        per_dim.groupBy("trunc_dim", "ratio_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .orderBy("trunc_dim", "ratio_bucket")
    )


def _matryoshka_energy_audit_sql() -> str:
    ssq = "list_reduce(list_prepend(0.0, list_transform({arr}, x -> x * x)), (a, b) -> a + b)"
    rows = "\n  UNION ALL\n".join(
        "  SELECT CAST({d} AS BIGINT) AS trunc_dim, "
        "CAST(floor(sqrt({num} / {den}) * {b}) AS BIGINT) AS ratio_bucket "
        "FROM v".format(
            d=d,
            num=ssq.format(arr=f"list_slice(v, 1, {d})"),
            den=ssq.format(arr="v"),
            b=float(MATRYOSHKA_BUCKETS),
        )
        for d in MATRYOSHKA_DIMS
    )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), per_dim AS (
{rows}
)
SELECT trunc_dim, ratio_bucket, CAST(count(*) AS BIGINT) AS n_vecs
FROM per_dim
GROUP BY trunc_dim, ratio_bucket
ORDER BY trunc_dim, ratio_bucket
"""


SPECS = [
    QuerySpec("hard_negatives", "contrastive hard-negative mining: top-k cross-label cosine", _hard_negatives, _HARD_NEGATIVES_SQL, tags=("similarity", "ml")),
    QuerySpec("ann_recall_audit", "recall@k of the IVF probe path vs exact top-k, one dual-engine plan", _ann_recall_audit, _ann_recall_audit_sql, tags=("similarity", "audit")),
    QuerySpec("embedding_isotropy_audit", "per-label norm dispersion + mean cosine to the global centroid (collapse detector)", _embedding_isotropy_audit, _EMBEDDING_ISOTROPY_AUDIT_SQL, tags=("similarity", "audit")),
    QuerySpec("retrieval_label_precision", "precision@k retrieval eval with label relevance", _retrieval_label_precision, _RETRIEVAL_LABEL_PRECISION_SQL, tags=("similarity", "ml", "audit")),
    QuerySpec("cosine_topk", "exact brute-force cosine top-k ANN baseline", _cosine_topk, _COSINE_TOPK_SQL, bench=True, tags=("similarity",)),
    QuerySpec("matryoshka_energy_audit", "truncation-readiness: retained-energy histogram of embedding prefixes at dims 8/16/32 (ordered ssq folds, all-BIGINT output)", _matryoshka_energy_audit, _matryoshka_energy_audit_sql, tags=("vectors", "eval")),
    QuerySpec("label_centroid_distance", "per-label centroids + L2 distance (clustering primitive)", _label_centroid_distance, _LABEL_CENTROID_DISTANCE_SQL, tags=("similarity", "agg")),
    QuerySpec("embedding_stats", "array-function aggregates over vector columns", _embedding_stats, _EMBEDDING_STATS_SQL, tags=("similarity", "scalar")),
    QuerySpec("semantic_decontam", "embedding-space eval-set decontamination: broadcast eval side, corpus touched once", _semantic_decontam, _SEMANTIC_DECONTAM_SQL, tags=("similarity", "compliance")),
    QuerySpec("takedown_blast_radius", "per-source takedown what-if over dedup clusters: canonicals lost, re-elected, dissolved", _takedown_blast_radius, _takedown_blast_radius_sql, tags=("dedup", "graph", "compliance")),
    QuerySpec("embedding_quantization", "int8 scalar quantization codes + reconstruction-error audit", _embedding_quantization, _EMBEDDING_QUANTIZATION_SQL, tags=("similarity", "scalar")),
    QuerySpec("class_weights", "inverse-frequency balanced class-weight table", _class_weights, _CLASS_WEIGHTS_SQL, tags=("agg", "ml")),
    QuerySpec("lsh_cosine_topk", "random-hyperplane LSH approximate top-k", _lsh_cosine_topk, None, tags=("similarity", "approx")),
    QuerySpec("lsh_cosine_topk_exact", "oracle twin of the hyperplane-LSH tier: the production op vs its plane literals replayed in SQL", _lsh_cosine_topk_exact, _lsh_exact_sql, tags=("similarity", "vector")),
    QuerySpec("ivf_cosine_topk_exact", "oracle twin of the IVF probe path: fixed first-N centroids, argmax assign, n_probe lists, exact in-list top-k", _ivf_cosine_topk_exact, _IVF_COSINE_TOPK_EXACT_SQL, tags=("similarity", "vector")),
    QuerySpec("ivf_cosine_topk", "IVF (KMeans-partitioned) approximate top-k", _ivf_cosine_topk, None, tags=("similarity", "approx")),
    QuerySpec("minhash_near_dups", "MinHash+LSH banded near-dup detection (full corpus)", _minhash_near_dups, None, bench=True, tags=("dedup", "approx")),
    QuerySpec("minhash_near_dups_exact", "oracle twin of the MinHash tier: md5-family LSH banding, every stage dual-engine", _minhash_near_dups_exact, _MINHASH_NEAR_DUPS_EXACT_SQL, tags=("dedup", "text")),
    QuerySpec("minhash_estimate_audit", "MinHash estimator calibration: signature-agreement estimate vs exact Jaccard, bias + MAE per band", _minhash_estimate_audit, _minhash_estimate_audit_sql, tags=("dedup", "text", "audit")),
    QuerySpec("simhash_near_dups", "SimHash bucketed near-dup detection", _simhash_near_dups, None, tags=("dedup", "approx")),
    QuerySpec("simhash_near_dups_exact", "oracle twin of the SimHash tier: md5-bit signatures, pigeonhole banding, exact Hamming verify", _simhash_near_dups_exact, _SIMHASH_NEAR_DUPS_EXACT_SQL, tags=("dedup", "text")),
    QuerySpec("semdedup_near_dups_exact", "oracle twin of the SemDeDup tier: fixed-centroid bucketing, within-cluster exact cosine pairs", _semdedup_near_dups_exact, _SEMDEDUP_NEAR_DUPS_EXACT_SQL, tags=("dedup", "similarity")),
    QuerySpec("semdedup_near_dups", "SemDeDup: within-KMeans-cluster cosine near-dup pairs", _semdedup_near_dups, None, tags=("dedup", "similarity", "approx")),
    QuerySpec("canonical_docs", "end-to-end fuzzy dedup: pairs → star-alternation components → canonical rows", _canonical_docs, _canonical_docs_sql(), tags=("dedup", "graph")),
]
