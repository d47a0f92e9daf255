"""Deduplication operators — exact and near-duplicate.

The reference's only dedup is ``drop_duplicates`` (reference
dag.py:462-464, 725-733); at 100 TB a training-data pipeline needs the
full ladder: exact content hashing, candidate generation that avoids
the O(n²) cross join (MinHash+LSH banding, SimHash bucketing), and an
exact-Jaccard verifier for the candidates. Everything below is built
from shuffle-conscious DataFrame primitives:

- exact dedup = one hash-aggregate on a fingerprint (single shuffle);
- MinHash/LSH = explode shingles → per-doc signature agg → band
  bucket join (pairs only meet inside a bucket — the join key is the
  band hash, so the shuffle moves signatures, not documents);
- SimHash = one 64-bit signature per doc, self-join on signature
  prefix bucket + Hamming filter.

No Python UDFs: signatures use xxhash64 + arithmetic on exploded
rows, so the whole pipeline stays in whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from databeats_spark.functions.text import fingerprint, word_shingles

# Mersenne prime 2^31-1: universal-hash modulus. With a, b, x all
# < 2^31, a*x + b < 2^62 — no 64-bit overflow (Spark 4 runs ANSI mode:
# overflow throws, it doesn't wrap). 31-bit minhash space is ample for
# per-document shingle sets; candidates are exact-verified anyway.
_MERSENNE_31 = (1 << 31) - 1


def dedup_first(df: DataFrame, keys: Sequence[str], order_by: Sequence[str | Column]) -> DataFrame:
    """Deterministic ``drop_duplicates(subset=keys)`` — pandas keeps the
    FIRST row in current order (reference dag.py:462-464); Spark's
    ``dropDuplicates`` keeps an arbitrary row, so we pin the choice with
    an explicit in-group ordering (reference A3 hazard, SURVEY §2.5)."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) if isinstance(c, str) else c for c in order_by])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def dedup_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact content dedup: md5 fingerprint of normalized text, keep the
    lowest id per fingerprint. One hash-partitioned aggregate — the
    map-side partial min/count makes the shuffle tiny regardless of
    corpus size."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard over all pairs sharing ≥1 shingle.

    The shingle-equijoin is the candidate generator: pairs that share
    no shingle (Jaccard 0) never materialize. Correct but quadratic in
    the worst case — at scale use :func:`minhash_near_duplicates` and
    keep this as the verifier on the candidate set, OR pass ``max_df``:
    shingles appearing in more than ``max_df`` documents (boilerplate
    n-grams — the k² join-blowup keys) are dropped from BOTH candidate
    generation and the Jaccard denominators, capping per-shingle join
    fan-out at ``max_df``² while leaving discriminative shingles — and
    therefore near-identical pairs — intact (stop-shingle filtering,
    the standard shingling-at-scale move).

    Returns (id_a, id_b, common, jaccard) with id_a < id_b.
    """
    sh = df.select(
        F.col(id_col).alias("__id"),
        F.explode(word_shingles(text_col, n)).alias("__sh"),
    )
    if max_df is not None:
        keep = (
            sh.groupBy("__sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("__sh")
        )
        sh = sh.join(keep, "__sh")
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.__sh") == F.col("b.__sh")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("n_a"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "jaccard")
    )


class MinHashFamily(NamedTuple):
    """A MinHash hash family. ``key(shingle)`` is projected once per
    shingle row; ``hash(i, key)`` is the family's i-th hash of it, and
    signature position i is its min over a document's shingles."""

    key: Callable[[Column], Column]
    hash: Callable[[int, Column], Column]


def universal_family() -> MinHashFamily:
    """The production family: h_i(x) = (a_i * x + b_i) mod p over the
    shingle's positive xxhash64. Catalyst folds the (a, b) literals; the
    per-row cost is pure arithmetic. Pair i is the i-th draw of
    ``Random(42)``, whatever the number of hashes."""
    import random

    rng = random.Random(42)
    coeffs: list[tuple[int, int]] = []

    def universal(i: int, key: Column) -> Column:
        while len(coeffs) <= i:
            coeffs.append((rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31)))
        a, b = coeffs[i]
        x = F.pmod(key, F.lit(_MERSENNE_31))  # positive 31-bit shingle hash
        return F.pmod(F.lit(a) * x + F.lit(b), F.lit(_MERSENNE_31))

    return MinHashFamily(lambda sh: F.abs(F.xxhash64(sh)), universal)


def _shingled_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """(__id, __shingles): one row per doc with a non-empty distinct
    shingle set. A caller that consumes it more than once pins it."""
    # shingling is compute-bound: when the source collapses to few
    # input splits (small files), spread it before the heavy expression
    if num_partitions:
        df = df.repartition(num_partitions)
    return df.select(
        F.col(id_col).alias("__id"), word_shingles(text_col, shingle_n).alias("__shingles")
    ).filter(F.size("__shingles") > 0)


def _signatures(shingled: DataFrame, num_hashes: int, family: MinHashFamily) -> DataFrame:
    """(__id, signature): the array of ``num_hashes`` per-position mins."""
    exploded = shingled.select(
        "__id", F.explode("__shingles").alias("__sh")
    ).withColumn("__h", family.key(F.col("__sh")))
    mins = [F.min(family.hash(i, F.col("__h"))).alias(f"__h{i}") for i in range(num_hashes)]
    sig = exploded.groupBy("__id").agg(*mins)
    return sig.select("__id", F.array(*[f"__h{i}" for i in range(num_hashes)]).alias("signature"))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    family: MinHashFamily | None = None,
) -> DataFrame:
    """Per-document MinHash signature table (__id, signature) over word
    3-shingles — the compact sketch an ingest guard persists instead of
    text: estimated Jaccard between two docs is the fraction of agreeing
    signature positions (see :func:`signature_jaccard`). ``family``
    defaults to :func:`universal_family`."""
    shingled = _shingled_docs(df, id_col, text_col, 3)
    return _signatures(shingled, num_hashes, family or universal_family())


def lsh_band_keys(sig: DataFrame, num_hashes: int = 16, bands: int = 8) -> DataFrame:
    """Explode a signature table to (__id, band, key) LSH bucket rows —
    the banded candidate-generation key (band key = hash of the
    signature slice)."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands
    return sig.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.xxhash64(F.concat_ws(",", F.transform(
                        F.slice("signature", bi * r + 1, r), lambda v: v.cast("string")
                    ))).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("__id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def signature_agreement(sig_a: Column, sig_b: Column) -> Column:
    """Number of positions where two equal-length signatures agree."""
    return F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda b: b))


def signature_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard from two equal-length MinHash signatures: the
    fraction of agreeing positions (the standard unbiased estimator).
    Pure array expressions — usable on persisted signature sketches
    with no access to the original text."""
    return signature_agreement(sig_a, sig_b) / F.size(sig_a)


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.6,
    num_partitions: int | None = None,
    family: MinHashFamily | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-duplicate detection, scale path.

    word 3-shingle → family hash → ``num_hashes`` min-hash signature → split
    into ``bands`` bands of r = num_hashes/bands rows → bucket-join on
    (band index, band hash) → verify candidates with exact shingle
    Jaccard (via :func:`ngram_jaccard_pairs`'s math on the candidate
    set only). With b=8, r=2 the LSH S-curve crosses ~0.5 at
    J ≈ (1/8)^(1/2) ≈ 0.35 — generous candidate generation whose false
    positives the exact verifier discards. ``family`` defaults to
    :func:`universal_family`.

    Returns (id_a, id_b, common, jaccard) with jaccard ≥ threshold —
    the shape of :func:`ngram_jaccard_pairs`.
    """
    # shared LSH front half (shingles + signatures + band keys): the
    # streaming ingest guard reuses exactly these pieces. The shingle
    # set has three consumers (signatures and both verify sides), so
    # one lazy checkpoint shingles each document once.
    shingled = _shingled_docs(
        df, id_col, text_col, 3, num_partitions
    ).localCheckpoint(eager=False)
    sig = _signatures(shingled, num_hashes, family or universal_family())
    band_rows = lsh_band_keys(sig, num_hashes=num_hashes, bands=bands)

    cand = (
        band_rows.alias("a")
        .join(
            band_rows.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )

    # exact-Jaccard verification restricted to candidates: join the
    # (small) candidate list back to the per-doc shingle ARRAYS and
    # intersect in-memory — no shingle-level shuffle, the candidate
    # count (not the corpus size) drives the cost.
    #
    # The scored candidate list is pinned (ONE lazy localCheckpoint)
    # BEFORE the threshold filter, for two reasons measured at sf0.1:
    # (a) filtering on the projected jaccard lets Catalyst push the
    # predicate into the verify join's CONDITION, where the
    # array_intersect is evaluated twice per candidate (inter + union
    # reference it and join-condition codegen does no subexpression
    # elimination) — in ONE Project the intersect is CSE'd and runs
    # once; (b) every consumer re-executes the narrow verify tail —
    # the registry query's global orderBy re-runs it in the range
    # exchange's SAMPLING pass, and pagerank/connected-components
    # symmetrize pairs with a UNION whose branches each re-run it.
    # The materialized rows are (id_a, id_b, common, jaccard) for the
    # BANDED candidate set only — bounded by the LSH posture, never corpus².
    sa = shingled.select(F.col("__id").alias("id_a"), F.col("__shingles").alias("__sh_a"))
    sb = shingled.select(F.col("__id").alias("id_b"), F.col("__shingles").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    scored = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", inter.alias("common"), (inter / union).alias("jaccard"))
        .localCheckpoint(eager=False)
    )
    return scored.filter(F.col("jaccard") >= threshold)


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hamming_max: int = 3,
    num_partitions: int | None = None,
    bits: int = 64,
    feature_hash: Callable[[Column], Column] = F.xxhash64,
) -> DataFrame:
    """SimHash near-dup: ``bits``-bit signature = sign(Σ ±bit per
    feature hash, ``feature_hash(shingle)`` a BIGINT, over word
    2-shingles); candidate
    generation is :func:`banded_hamming_pairs` — by pigeonhole, any
    pair within ``hamming_max`` Hamming distance matches exactly on at
    least one block, so recall at the threshold is GUARANTEED, not
    probabilistic. Exact Hamming verification filters the candidates.

    Returns (id_a, id_b, hamming).
    """
    if num_partitions:
        df = df.repartition(num_partitions)
    feats = df.select(
        F.col(id_col).alias("__id"),
        F.explode(word_shingles(text_col, 2)).alias("__sh"),
    ).withColumn("__h", feature_hash(F.col("__sh")))

    # per-bit vote: for each bit, +1 if set else -1; sum per doc.
    # Bit masks via shiftleft (1<<63 literal would overflow a signed long).
    def _mask(b: int) -> Column:
        return F.shiftleft(F.lit(1).cast("long"), b)

    bit_votes = [
        F.sum(
            F.when(F.col("__h").bitwiseAND(_mask(b)) != 0, 1).otherwise(-1)
        ).alias(f"__b{b}")
        for b in range(bits)
    ]
    voted = feats.groupBy("__id").agg(*bit_votes)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig.bitwiseOR(F.when(F.col(f"__b{b}") > 0, _mask(b)).otherwise(F.lit(0).cast("long")))
    signed = voted.select("__id", sig.alias("simhash"))
    return banded_hamming_pairs(signed, "__id", "simhash", hamming_max, bits)


def banded_hamming_pairs(
    signed: DataFrame, id_col: str, sig_col: str, hamming_max: int, bits: int = 64
) -> DataFrame:
    """Pigeonhole-banded Hamming search over ``bits``-bit BIGINT
    signatures (bits above ``bits`` must be zero) — the candidate
    generation and verify shared by SimHash (text), the perceptual-hash
    tier (media payloads, operators/multimodal.py) and their md5
    oracle twins.

    Bands the signature into ``hamming_max + 1`` bit-blocks: any pair
    within ``hamming_max`` Hamming distance matches exactly on at
    least one block, so recall at the threshold is GUARANTEED, not
    probabilistic; exact ``bit_count(xor)`` verification filters the
    candidates. Returns (id_a, id_b, hamming).
    """
    signed = signed.select(F.col(id_col).alias("__id"), F.col(sig_col).alias("__sig"))
    n_blocks = hamming_max + 1
    width = bits // n_blocks
    # block i = bits [i*width, (i+1)*width) (last block absorbs the
    # remainder); explode each signature into its blocks
    def block_value(i: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("__sig"), i * width)
        if i == n_blocks - 1:
            return shifted  # top block: high bits are already zero
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    blocks = F.array(
        *[
            F.struct(F.lit(i).alias("block"), block_value(i).alias("value"))
            for i in range(n_blocks)
        ]
    )
    banded = signed.select("__id", "__sig", F.explode(blocks).alias("b")).select(
        "__id", "__sig", F.col("b.block").alias("__block"), F.col("b.value").alias("__value")
    )
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.__block") == F.col("b.__block"))
            & (F.col("a.__value") == F.col("b.__value"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__sig").bitwiseXOR(F.col("b.__sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= hamming_max)
    )
    return pairs


def semantic_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    threshold: float = 0.95,
    assign: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster the
    embedding space (distributed KMeans), then compare pairs only
    WITHIN a cluster (Abbas et al. 2023, arXiv:2303.09540 — the
    semantic dedup used for LAION/web-scale corpora).

    Scale shape: the candidate join key is ``centroid_id``, so the
    shuffle co-locates each cluster and the pair blow-up is bounded by
    the largest cluster, never the corpus (all-pairs within k balanced
    clusters is n²/k comparisons). ``n_lists=None`` (default) scales k
    with the corpus — max(8, n // 400), one cheap count over the input
    — keeping the per-cluster pair budget roughly constant as the
    corpus grows (a FIXED k would make total comparisons quadratic
    again at scale; the SemDeDup paper's k likewise grows with n).
    The bucketing KMeans runs random init + a bounded maxIter=4:
    cluster assignment only gates candidate generation, so k-means||
    seeding and tight convergence buy recall nothing measurable (326 vs
    324 candidate pairs at sf0.1) while costing 2-3 extra full corpus
    passes — each a cluster-wide synchronization barrier at scale.
    Precision is exact by construction (every emitted pair carries its
    true cosine); recall misses only pairs that straddle a cluster
    boundary — the documented SemDeDup trade-off
    (tests/test_near_dup.py pins a recall floor against the exact
    brute-force pairs).

    Reuses the IVF index's seeded KMeans assignment (ml/ann.py), so a
    corpus written with ``IVFIndex.write_partitioned`` dedups with
    zero extra clustering cost. ``assign`` replaces that bucketing: it
    maps ``embeddings`` to the same rows plus an integer
    ``centroid_id``. Returns (id_a, id_b, centroid_id, cos_sim).
    """
    from databeats_spark.functions.similarity import dot, norm

    if assign is None:
        from databeats_spark.ml.ann import IVFIndex

        if n_lists is None:
            n_lists = max(8, embeddings.count() // 400)
        assigned = IVFIndex.fit(
            embeddings, id_col, vec_col, n_lists=n_lists, seed=42,
            max_iter=4, init_mode="random",
        ).assigned
    else:
        assigned = assign(embeddings)
    # pin the assignment once: both sides of the self-join read the same
    # blocks instead of re-running the KMeans transform + scan twice.
    # Each row also carries its precomputed L2 norm: the candidate join
    # evaluates the cosine on every within-cluster pair (n²/k of them),
    # and cosine(a, b) = dot/(norm·norm) re-derived BOTH norms per pair
    # — three interpreted HOF aggregates per candidate where one
    # suffices. norm(v) here is the same sqrt(dot(v, v)) expression
    # cosine() expands to, so dot/(n_a·n_b) is bit-identical to the
    # former per-pair arithmetic — only computed n times instead of n²/k.
    e = assigned.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        "centroid_id",
        norm(F.col(vec_col)).alias("__n"),
    ).localCheckpoint(eager=False)
    return (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.centroid_id").alias("centroid_id"),
            (
                dot(F.col("a.__v"), F.col("b.__v"))
                / (F.col("a.__n") * F.col("b.__n"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
