"""Table maintenance operators: upsert (MERGE emulation), profiling,
compaction — the housekeeping a long-lived 100 TB table needs.

The reference maintains its snapshot by TRUNCATE + full reload
(dag.py:827-849). The scalable ladder implemented here:

- partition-level overwrite (plans/etl.write_history — already used);
- row-level :func:`upsert` — MERGE INTO emulated with anti-join +
  union (no Delta/Iceberg jars in this image; with them, this function
  body becomes one ``MERGE`` statement);
- :func:`profile_numeric` — one-pass per-column stats for data-quality
  gates (null rates, distincts, ranges);
- :func:`compact` — small-file compaction (streaming sinks and
  incremental merges accrete small files; scans degrade).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE: rows in ``updates`` replace same-key rows in ``target``;
    unmatched update rows insert. One anti-join + union — both sides
    shuffle once on the key."""
    kept = target.join(updates.select(*keys).distinct(), keys, "left_anti")
    return kept.unionByName(updates.select(*target.columns))


def apply_upsert(spark: SparkSession, path: str, updates: DataFrame, keys: list[str]) -> None:
    """Read-modify-write upsert for a parquet table (the no-lakehouse
    fallback; Delta's MERGE does this transactionally at file level).
    The result materializes BEFORE the overwrite via a temp suffix —
    overwriting a path that feeds the running plan would be read-
    your-own-delete."""
    target = spark.read.parquet(path)
    merged = upsert(target, updates, keys)
    tmp = path + "__staging"
    merged.write.mode("overwrite").parquet(tmp)
    final = spark.read.parquet(tmp)
    final.write.mode("overwrite").parquet(path)


def profile_numeric(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-pass-per-column data-quality profile in long format:
    (column, n_rows, n_null, n_distinct, min_val, max_val, mean_val).
    Every metric is deterministic → oracle-checkable."""
    parts = []
    for c in cols:
        parts.append(
            df.select(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).cast("double").alias("min_val"),
                F.max(c).cast("double").alias("max_val"),
                F.round(
                    F.sum(F.col(c).cast("decimal(18,2)")).cast("double") / F.count(c), 6
                ).alias("mean_val"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def compact(spark: SparkSession, path: str, target_files: int = 8) -> int:
    """Rewrite a parquet directory into ``target_files`` files;
    returns the row count (the invariant the caller should assert)."""
    df = spark.read.parquet(path)
    n = df.count()
    tmp = path + "__compacting"
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    compacted = spark.read.parquet(tmp)
    compacted.write.mode("overwrite").parquet(path)
    return n


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str,
    attrs: list[str],
    ts_col: str = "change_ts",
) -> DataFrame:
    """Type-2 slowly-changing-dimension apply: close changed rows,
    append new versions, keep full history.

    ``dim`` carries (key, attrs, valid_from, valid_to) with the open
    row per key having ``valid_to IS NULL``; ``changes`` carries
    (key, attrs, ts). One apply:

    - a change whose attrs differ from the key's open row CLOSES that
      row at the change timestamp and opens a new version;
    - a change equal to the open row (null-safely, attr by attr) is a
      no-op — re-applying a batch is idempotent;
    - a change for an unseen key inserts its first open version.

    Everything is joins + unions on the dimension key: both sides
    shuffle once on ``key``, closed history is untouched (partition-
    prunable by ``valid_to`` at storage level), and multiple changes
    per key in one batch collapse to the newest via latest_per_key —
    intermediate flips within a batch are not versioned, matching
    MERGE-per-batch warehouse semantics.
    """
    from databeats_spark.operators.windows import latest_per_key

    cols = [key, *attrs, "valid_from", "valid_to"]
    newest = latest_per_key(changes, [key], ts_col)
    # prefix-alias both join sides: attribute references (df[col])
    # become ambiguous when the output is fed back in as next batch's
    # dim (re-apply / idempotence), since every union branch then
    # shares lineage with the open-rows side
    o = dim.filter(F.col("valid_to").isNull()).select(
        *(F.col(c).alias(f"__o_{c}") for c in cols)
    )
    n = newest.select(*(F.col(c).alias(f"__n_{c}") for c in [key, *attrs, ts_col]))
    closed_rows = dim.filter(F.col("valid_to").isNotNull())

    ok, nk = F.col(f"__o_{key}"), F.col(f"__n_{key}")
    same = reduce(
        lambda a, b: a & b,
        [F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")) for c in attrs],
    )
    j = o.join(n, ok == nk, "full_outer")

    def o_cols():
        return [F.col(f"__o_{c}").alias(c) for c in cols]

    untouched = j.filter(nk.isNull()).select(*o_cols())
    unchanged = j.filter(ok.isNotNull() & nk.isNotNull() & same).select(*o_cols())
    closed_now = j.filter(ok.isNotNull() & nk.isNotNull() & ~same).select(
        *(F.col(f"__o_{c}").alias(c) for c in [key, *attrs, "valid_from"]),
        F.col(f"__n_{ts_col}").alias("valid_to"),
    )
    opened = j.filter(nk.isNotNull() & (ok.isNull() | ~same)).select(
        *(F.col(f"__n_{c}").alias(c) for c in [key, *attrs]),
        F.col(f"__n_{ts_col}").alias("valid_from"),
        F.lit(None).cast(dim.schema["valid_to"].dataType).alias("valid_to"),
    )
    return (
        closed_rows.select(*cols)
        .unionByName(untouched)
        .unionByName(unchanged)
        .unionByName(closed_now.select(*cols))
        .unionByName(opened.select(*cols))
    )
