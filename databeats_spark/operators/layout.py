"""Z-order data layout — multi-column data skipping for 100 TB scans.

Parquet scans skip files and row groups whose min/max column
statistics exclude the query predicate. Sorting by one column makes
ITS stats tight but leaves every other column's range near-full per
file. The Z-order (Morton) curve interleaves the bits of several
columns so that consecutive curve positions are close in EVERY
dimension — range-partition + sort by the curve position and each file
covers a small hyper-rectangle, so point/range predicates on ANY of
the ordered columns prune most files. (Same layout idea Delta/Iceberg
expose as OPTIMIZE ZORDER BY; here it is ~40 bit-twiddling column
expressions, fully inside whole-stage codegen.)

Everything is DataFrame-native: one stats pass (min/max per column for
quantization), then a narrow projection computing the Morton key, then
``repartitionByRange`` on the key — the same shuffle any global sort
pays, amortized once at write time for every future scan's benefit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MORTON_BITS = 16  # per-column resolution; 2 cols × 16 bits = 32-bit key


def _quantized(col: Column, mn: Column, mx: Column, bits: int) -> Column:
    """Map a numeric column onto [0, 2^bits) using global min/max."""
    top = (1 << bits) - 1
    span = (mx - mn).cast("double")
    scaled = F.when(
        span > 0, ((col.cast("double") - mn.cast("double")) / span) * top
    ).otherwise(F.lit(0.0))
    return F.least(F.lit(top), F.greatest(F.lit(0), scaled.cast("long")))


def morton_key(quantized: Sequence[Column], bits: int = MORTON_BITS) -> Column:
    """Interleave the bits of pre-quantized columns into one curve
    position: bit i of column j lands at position i*len(cols)+j."""
    n = len(quantized)
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(quantized):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(q, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return key


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 8,
) -> None:
    """Write ``df`` as parquet clustered on the Z-curve of ``cols``.

    One extra stats pass over the input (min/max per Z column — cheap,
    column-pruned) plus one range shuffle; every later scan filtering
    on any Z column prunes files/row groups via footer stats instead
    of reading them.
    """
    cols = list(cols)
    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    quantized = [
        _quantized(F.col(c), F.lit(stats[f"mn_{c}"]), F.lit(stats[f"mx_{c}"]), MORTON_BITS)
        for c in cols
    ]
    keyed = df.withColumn("__z", morton_key(quantized, MORTON_BITS))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
