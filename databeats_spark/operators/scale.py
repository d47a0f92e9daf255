"""Scale-path join strategies: skew salting and bucketed co-location.

Neither exists in the reference (single-process pandas has no shuffle
to optimize); both are load-bearing at 100 TB:

- **salted join**: a handful of hot keys (the reference data model has
  them — a few artists own most tracks, SURVEY §1) overload one
  shuffle partition. Salting fans the hot key's rows across
  ``salt_factor`` partitions by joining on (key, salt) with the small
  side replicated per salt value. AQE's skew-join split handles
  moderate skew automatically; explicit salting is for the pathological
  keys AQE can't subdivide (single-key aggregation hotspots).
- **bucketed tables**: pre-hash-partitioning both join sides on the
  key at WRITE time means later joins co-locate with no exchange at
  all — the bucketing discipline the README's 100 TB posture calls
  for. Verified by plan assertion (no Exchange above the join).
- **bloom anti join**: incremental dedup of a new crawl against a
  huge historical key set without shuffling the bulk — the
  block-partitioned bitmap broadcasts, bloom-negative rows are
  provably new (no false negatives) and skip the join entirely, and
  the exact anti join verifies only the candidate slice. Result-
  identical to the plain anti join by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the large side's hot keys fanned across
    ``salt_factor`` sub-partitions.

    The large side gets a random-but-deterministic salt per row
    (hash of the full row id space would do; xxhash64 of monotonic id
    keeps it cheap); the small side is exploded ×salt_factor so every
    (key, salt) bucket finds its match. Result is row-identical to the
    plain join — only the shuffle layout changes.
    """
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_factor)).cast("int")
    salted_large = large.withColumn("__salt", salt)
    salted_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1)).cast("array<int>"))
    )
    out = salted_large.join(salted_small, [key, "__salt"], how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    buckets: int = 16,
) -> None:
    """Persist hash-bucketed + sorted by ``key``: subsequent joins and
    aggregations on ``key`` between same-bucketed tables require no
    shuffle (SortMergeJoin reads co-located buckets directly)."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table_name)
    )


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key: str) -> DataFrame:
    """Inner-join two same-key bucketed tables — exchange-free by layout."""
    return spark.table(left_table).join(spark.table(right_table), key, "inner")


def partitioned_running_total(
    df: DataFrame,
    order_by: list[Column],
    sums: dict[str, str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed prefix sum: for each ``out_col: value_col`` entry of
    ``sums``, the running total of ``value_col`` over a GLOBAL total
    order, without the single-partition window funnel. Every entry
    rides the same range exchange, checkpoint and offsets broadcast.

    ``Window.orderBy(...)`` with no partitionBy collapses all rows into
    ONE task — the classic scale-killer for cumulative metrics. The
    scalable form is the textbook two-phase scan:

    1. range-repartition on the order key (parallel, range-disjoint);
    2. per-partition subtotal (tiny: one row per partition);
    3. exclusive prefix over the subtotals (window over #partitions
       rows — negligible);
    4. broadcast the offsets back; within-partition running sum +
       offset = the exact global running total.

    ``order_by`` must be a TOTAL order (append a unique id) — ties that
    straddle a range boundary would otherwise make step 4 ambiguous.
    The range-partitioned input is localCheckpoint'd so the subtotal
    branch and the main branch cannot re-sample different range
    boundaries (blocks are released when the result is GC'd). The
    checkpoint stays EAGER on purpose: lazy would defer the whole
    range shuffle into the offsets BROADCAST's build, racing
    spark.sql.broadcastTimeout at scale (the attach_global_scalar
    caveat); eager runs it as its own job first.

    Partition count (r14): when the caller doesn't pass one, the range
    exchange is sized like every other shuffle in the session —
    ``repartitionByRange`` with no explicit count uses
    spark.sql.shuffle.partitions (data-sized by the session policy,
    e.g. 4 at the sf0.1 bench, thousands at deployment size) and, with
    AQE on, stays eligible for partition coalescing (adjacent-range
    merges keep "__pid" order/disjointness, so steps 2-4 are
    unaffected).
    The old default — defaultParallelism — was a constant tuned to the
    local core count: at sf0.1 it paid 32 tasks' worth of sorter-page
    allocation + checkpoint row-copy constants to prefix-sum 150k rows
    (measured 17.3 of robust_spend_stats' 30.7 cpu-s in that one
    stage), and at a 1000-core deployment it would UNDERSIZE the
    exchange relative to the data.
    """
    ranged = (
        (
            df.repartitionByRange(num_partitions, *order_by)
            if num_partitions
            else df.repartitionByRange(*order_by)
        )
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # (out, value, subtotal, offset) per entry; the first keeps the
    # unsuffixed helper names
    cols = [
        (out, value, f"__sub{i or ''}", f"__offset{i or ''}")
        for i, (out, value) in enumerate(sums.items())
    ]
    subtotals = ranged.groupBy("__pid").agg(*[F.sum(v).alias(sub) for _, v, sub, _ in cols])
    prior = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = subtotals.select(
        "__pid",
        *[F.coalesce(F.sum(sub).over(prior), F.lit(0)).alias(off) for _, _, sub, off in cols],
    )
    upto = Window.partitionBy("__pid").orderBy(*order_by).rowsBetween(Window.unboundedPreceding, 0)
    out = ranged.join(F.broadcast(offsets), "__pid")
    for out_col, value, _, off in cols:
        out = out.withColumn(out_col, F.sum(value).over(upto) + F.col(off))
    return out.drop("__pid", *[off for *_, off in cols])


def top_key_share(df: DataFrame, key: str) -> float:
    """Fraction of rows held by the single heaviest ``key`` value — the
    one-number form of the key_skew_profile diagnosis
    (registry/lifecycle.py), for guards that decide whether to salt a
    join. One hash-aggregate job, two rows back to the driver.

    Returns 0.0 for an empty input (nothing to skew)."""
    row = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("__top"), F.sum("__n").alias("__total"))
        .collect()[0]
    )
    if not row["__total"]:
        return 0.0
    return float(row["__top"]) / float(row["__total"])


def attach_global_scalar(df: DataFrame, *aggs: Column) -> DataFrame:
    """Attach global aggregate(s) of ``df`` as columns on every row of
    ``df``, computing ``df`` exactly once.

    The naive form — ``df.crossJoin(broadcast(df.agg(...)))`` — leaves
    ``df`` with two consumers. Static planning dedupes the shared
    subtree (ReusedExchange), but AQE in this Spark version does NOT
    reuse canonically-equal exchanges when one sits under the broadcast
    side, so a shared AGGREGATE would scan and shuffle twice. A lazy
    ``localCheckpoint`` pins one materialization: the broadcast scalar
    and the main branch both read the checkpointed blocks. Storage is
    executor-local and freed with the RDD by the context cleaner.

    Use when ``df`` contains a shuffle (an aggregate/join result). For
    a raw filtered scan, skip the helper: re-scanning parquet twice is
    cheaper than materializing the table to executor storage.

    At very large scale note spark.sql.broadcastTimeout: the scalar's
    broadcast waits on the checkpoint materialization, so the timeout
    must cover the shared subtree's runtime (or pre-materialize with
    ``df.localCheckpoint(eager=True)`` before calling).
    """
    base = df.localCheckpoint(eager=False)
    return base.crossJoin(F.broadcast(base.agg(*aggs)))


# seeded xxhash64 draws per key: the bitmap build and the probe agree on it
BLOOM_HASHES = 2


def bloom_bitmap(history: DataFrame, key: str, m_bits: int = 1 << 20) -> DataFrame:
    """Build a block-partitioned Bloom bitmap over ``history[key]``:
    one row per 64-bit block that has any bit set — ``(block BIGINT,
    bits BIGINT)``. Positions come from ``BLOOM_HASHES`` seeded xxhash64
    draws mod ``m_bits``; blocks fold with the ``bit_or`` partial
    aggregate, so the build is one hash aggregate whose output is
    ``<= m_bits/64`` rows (8 bytes of payload per block) no matter how
    large the history is — at 10 bits/key a 1B-key history compresses
    to a ~160 MB bitmap table vs terabytes of raw keys.

    Deterministic (seeded hashes, integer bit ops), so build and probe
    agree across runs and engines."""
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    pos = history.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(m_bits))
                    for i in range(BLOOM_HASHES)
                ]
            )
        ).alias("p")
    )
    return (
        pos.select(
            F.floor(F.col("p") / 64).cast("long").alias("block"),
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("mask"),
        )
        .groupBy("block")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    new: DataFrame,
    bitmap: DataFrame,
    key: str,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Attach ``__bloom_hit`` to ``new``: true iff every one of the
    key's ``BLOOM_HASHES`` bloom positions is set in ``bitmap``. The
    bitmap side broadcasts (one equi-join per hash);
    a false NEVER occurs for a key present in the history (no false
    negatives), so ``__bloom_hit = false`` rows are PROVABLY absent
    from the history without touching it."""
    probed = new
    for i in range(BLOOM_HASHES):
        probed = probed.withColumn(
            f"__p{i}", F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(m_bits))
        )
        bm = bitmap.select(
            F.col("block").alias(f"__blk{i}"), F.col("bits").alias(f"__bits{i}")
        )
        probed = probed.join(
            F.broadcast(bm),
            F.floor(F.col(f"__p{i}") / 64).cast("long") == F.col(f"__blk{i}"),
            "left",
        )
    hit = F.lit(True)
    for i in range(BLOOM_HASHES):
        test = (
            F.coalesce(F.col(f"__bits{i}"), F.lit(0)).bitwiseAND(
                F.expr(f"shiftleft(1L, CAST(__p{i} % 64 AS INT))")
            )
            != 0
        )
        hit = hit & test
    drop = [c for i in range(BLOOM_HASHES) for c in (f"__p{i}", f"__blk{i}", f"__bits{i}")]
    return probed.withColumn("__bloom_hit", hit).drop(*drop)


def bloom_anti_join(
    new: DataFrame,
    history: DataFrame,
    key: str,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Anti join ``new`` against a huge ``history`` key set without
    shuffling the bloom-negative bulk: rows whose bloom probe misses
    are DEFINITELY new (no false negatives) and pass straight through;
    only the bloom-POSITIVE slice — the true duplicates plus the
    ~``(1 - e^(-2n/m))^2`` false-positive residue (two hashes) — is
    verified by an exact anti join. Result-identical to
    ``new.join(history, key, "left_anti")`` BY CONSTRUCTION (the
    approximate structure only routes rows; the exact join decides),
    so the operator is fully oracle-certifiable despite the sketch.

    The shape Catalyst's runtime bloom filter cannot produce: runtime
    blooms prune inner/semi probe sides, but an ANTI join's probe side
    can't be pruned by them (a bloom hit proves nothing for anti
    semantics) — the split here is the anti-join-specific counterpart.

    Scale shape for incremental corpus dedup: the new crawl never
    shuffles in full; history is touched only by the candidate slice.
    Size ``m_bits`` at ~10 bits per history key."""
    probed = bloom_probe(new, bloom_bitmap(history, key, m_bits), key, m_bits)
    definite = probed.filter(~F.col("__bloom_hit")).drop("__bloom_hit")
    candidates = probed.filter(F.col("__bloom_hit")).drop("__bloom_hit")
    verified = candidates.join(history.select(key), key, "left_anti")
    return definite.unionByName(verified)
