"""Vector-similarity functions and ANN search over embedding columns.

Embeddings live as ``array<float>`` columns (the driver's
embeddings.parquet). Dot/norm/cosine are pure ``zip_with`` /
``aggregate`` expressions (JVM-side, no Python). Search ladder:

- :func:`cosine_top_k` — exact brute force (query-set broadcast × full
  scan); the baseline and the verifier.
- :func:`lsh_cosine_top_k` — random-hyperplane LSH bucketing: each
  vector hashes to a ``n_planes``-bit signature; candidates share a
  signature. Approximate, one equi-join instead of a cross join.
- :func:`ivf_top_k` (in ml/ann.py) — KMeans-partitioned IVF index, the
  100 TB path: probe only ``n_probe`` nearest centroids' partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from databeats_spark.operators.windows import top_k_per_group


def _c(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: str | Column, b: str | Column) -> Column:
    """Σ aᵢbᵢ in double precision, left-to-right (oracle-stable order)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: str | Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sq8_dequantize(a: str | Column) -> Column:
    """Simulate int8 scalar-quantized storage: per-vector min/max
    quantization to 256 codes, decoded back to bucket midpoints
    (array<double>). The quantization arithmetic matches the
    embedding_quantization registry audit (registry/vectors.py) bit for
    bit; searching over this column measures exactly the recall a
    corpus stored as codes+(lo,hi) would see, without needing a binary
    codec in the pipeline. Degenerate constant vectors pass through
    unchanged (hi == lo carries no quantization error)."""
    v = F.transform(_c(a), lambda x: x.cast("double"))
    levels = 256

    def dq(arr):
        lo, hi = F.array_min(arr), F.array_max(arr)

        def decode(x):
            code = F.least(F.lit(levels - 1), F.floor((x - lo) / (hi - lo) * levels))
            return lo + (code + F.lit(0.5)) * (hi - lo) / levels

        return F.when(hi > lo, F.transform(arr, decode)).otherwise(arr)

    # bind the double array once as a HOF variable (no CSE inside lambdas)
    return F.element_at(F.transform(F.array(v), dq), 1)


def cosine_top_k(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` (small) is broadcast; the corpus is scanned once — at
    cluster scale this is one pass over 100 TB with no shuffle of the
    corpus, only of the (n_queries × k) result via the window.
    Deterministic tie-break on neighbor id.
    Returns (query_id, neighbor_id, cos_sim, rank).
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    c = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine("__qv", "__cv"))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cos_sim").desc(), F.col("neighbor_id")],
        k,
        keep_rank="rank",
    )


def hyperplane_signature(
    vec_col: str | Column,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
) -> Column:
    """Random-hyperplane LSH signature: bit i = sign(v · rᵢ).

    The planes are deterministic literals (seeded NumPy normals) folded
    into the plan — no broadcast variable, no UDF.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    v = _c(vec_col)
    sig = F.lit(0).cast("long")
    for i in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        d = F.aggregate(
            F.zip_with(v, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, p: acc + p,
        )
        sig = sig + F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig


def lsh_cosine_top_k(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k over ``(vec_id, embedding)`` rows: candidates
    share an LSH bucket with the query in ANY of ``n_tables`` independent
    hash tables, then exact cosine + window. The recall dials, in the
    standard LSH design:

    - ``n_planes`` (bits per table): fewer → bigger buckets → recall up,
      candidate count up;
    - ``n_tables``: per-table miss probabilities multiply, so recall
      1-(1-p)^L — the lever that works even for weakly-similar
      neighbors.

    Each query also probes the ``n_planes`` buckets at Hamming distance
    1 (multiprobe) — recall without growing the corpus index.

    The corpus side carries n_tables signatures per vector (the usual
    LSH index cost); at cluster scale each table is an equi-join on its
    bucket column."""
    c = embeddings.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"))
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))

    table_sigs_c = [
        hyperplane_signature("__cv", dim, n_planes, 42 + 1000 * t).alias(f"__b{t}")
        for t in range(n_tables)
    ]
    table_sigs_q = [
        hyperplane_signature("__qv", dim, n_planes, 42 + 1000 * t).alias(f"__b{t}")
        for t in range(n_tables)
    ]
    # (table, bucket) rows for corpus and queries; the query side fans
    # out to the n_planes hamming-1 probes per table
    c_rows = c.select("neighbor_id", "__cv", *table_sigs_c).select(
        "neighbor_id",
        "__cv",
        F.explode(
            F.array(*[F.struct(F.lit(t).alias("t"), F.col(f"__b{t}").alias("b")) for t in range(n_tables)])
        ).alias("tb"),
    ).select("neighbor_id", "__cv", F.col("tb.t").alias("__t"), F.col("tb.b").alias("__b"))

    def q_probes(t: int) -> list[Column]:
        base = F.col(f"__b{t}")
        probes = [base] + [base.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
        return [F.struct(F.lit(t).alias("t"), p.alias("b")) for p in probes]

    q_rows = q.select("query_id", "__qv", *table_sigs_q).select(
        "query_id",
        "__qv",
        F.explode(F.array(*[s for t in range(n_tables) for s in q_probes(t)])).alias("tb"),
    ).select("query_id", "__qv", F.col("tb.t").alias("__t"), F.col("tb.b").alias("__b"))

    scored = (
        c_rows.join(
            F.broadcast(q_rows),
            (c_rows["__t"] == q_rows["__t"])
            & (c_rows["__b"] == q_rows["__b"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id", "__qv", "__cv")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos_sim", cosine("__qv", "__cv"))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cos_sim").desc(), F.col("neighbor_id")],
        k,
        keep_rank="rank",
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    *,
    dim: int,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH bucketing: pairs sharing
    a hyperplane bucket with cosine ≥ threshold. (id_a < id_b).

    ``dim`` is required (like ``lsh_cosine_top_k``/``ivf``) — inferring
    it would cost a driver round-trip per call.
    """
    sig = hyperplane_signature(vec_col, dim, n_planes)
    e = embeddings.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"), sig.alias("__bucket"))
    return (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.__bucket") == F.col("b.__bucket")) & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            cosine(F.col("a.__v"), F.col("b.__v")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
