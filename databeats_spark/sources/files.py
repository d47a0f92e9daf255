"""File-format sources beyond parquet — reference S8 (CSV / pickle
loads in the notebooks) and the external-store equivalents (S6/S7).

The reference persists intermediates as CSV and joblib pickles
(ETL_Experiment.ipynb cell-2, Recommendation_model.ipynb cell-2) and
scans MongoDB/BigQuery with SELECT * (dag.py:369-377, app.py:11-33).
Here: schema-explicit readers (inference disabled — schema drift fails
loudly, SURVEY §1 "schema-by-example" hazard), and the external stores
become parquet-backed tables behind the same call sites — swapping in
``spark.read.format("mongodb")`` / the BigQuery connector is a one-line
change where those jars exist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON for curated stores: FAILFAST like every schema-explicit
    reader here (default PERMISSIVE silently nulls malformed rows —
    the raw-ingest path that WANTS recovery is read_with_quarantine)."""
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)


# The external-store seam (S6/S7, K1-K3): history/snapshot tables are
# read and written through the DataSource format named by this runtime
# conf — parquet by default; set to "orc" (or "mongodb"/"bigquery"
# where those connector jars exist) to retarget the stores with ZERO
# engine-code changes. tests/test_connectors.py proves the swap.
STORE_FORMAT_CONF = "spark.databeats.store.format"


def store_format(spark: SparkSession) -> str:
    return spark.conf.get(STORE_FORMAT_CONF, "parquet")


def read_history_table(spark: SparkSession, path: str) -> DataFrame:
    """The raw-history store (Mongo role, reference S6): append-mode
    week-partitioned table written by plans/etl.write_history."""
    return read_table(spark, path, fmt=store_format(spark))


def read_snapshot_table(spark: SparkSession, path: str) -> DataFrame:
    """The curated-snapshot store (BigQuery role, reference S7)."""
    return read_table(spark, path, fmt=store_format(spark))


# every file format the local Spark distribution serves without extra
# jars (avro needs spark-avro, so it is deliberately absent)
SUPPORTED_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Format-agnostic table writer. Columnar formats (parquet/orc)
    are the only sane choices for analytics at scale — json/csv exist
    for interchange edges. ``partition_by`` produces the directory
    layout partition pruning keys on."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {SUPPORTED_FORMATS}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", True)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


# --- corrupt-record quarantine (ingest robustness at scale) -----------
# FAILFAST is right for curated stores (schema drift must stop the
# pipeline), but raw text ingest at 100 TB ALWAYS contains malformed
# rows, and one bad line must not kill a 6-hour job. The standard
# posture: PERMISSIVE parse with the raw line captured in a corrupt-
# record column, valid rows flowing on, bad raw lines quarantined to
# their own sink for offline triage — never silently dropped
# (DROPMALFORMED loses data with no audit trail).

QUARANTINE_COL = "_quarantined_raw"


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "json",
    header: bool = True,
) -> DataFrame:
    """PERMISSIVE text read carrying the raw line of every row that
    failed to parse in ``QUARANTINE_COL`` (NULL for valid rows).
    ``header`` is for CSV only (a headerless feed would otherwise
    quarantine-or-mangle its first data row).

    Spark caveat baked into this API: a query referencing ONLY the
    corrupt-record column of a lazy text scan is rejected by the
    parser relation — always keep at least one data column in
    downstream selects (``split_quarantine`` does)."""
    if fmt not in ("json", "csv"):
        raise ValueError(f"quarantine reads are for text formats, got {fmt!r}")
    full = T.StructType(list(schema.fields) + [T.StructField(QUARANTINE_COL, T.StringType())])
    r = (
        spark.read.format(fmt)
        .schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", QUARANTINE_COL)
    )
    if fmt == "csv":
        r = r.option("header", header)
    return r.load(path)


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid_rows_without_the_marker, quarantined_full_rows).

    Two filtered projections of the same scan — both are map-only with
    the null/not-null predicate pushed to the parser; no cache is
    needed because each side keeps data columns alongside the marker.
    """
    good = df.filter(df[QUARANTINE_COL].isNull()).drop(QUARANTINE_COL)
    bad = df.filter(df[QUARANTINE_COL].isNotNull())
    return good, bad


def quarantine_split_write(df: DataFrame, good_path: str, quarantine_path: str) -> None:
    """Materialize both sides as parquet. Two filtered map-only writes of the same
    scan: at scale this reads the raw text twice but shuffles nothing —
    cheaper than caching the corpus to split it in one pass, and each
    write's predicate prunes at the parser."""
    good, bad = split_quarantine(df)
    write_table(good, good_path)
    # full-width on purpose: Spark rejects projecting ONLY the corrupt
    # column from a raw text scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN),
    # and the partially-parsed columns are triage signal anyway
    write_table(bad, quarantine_path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """Format-agnostic reader. Self-describing formats (parquet/orc)
    carry their schema; text formats REQUIRE one — schema inference is
    a second full scan and nondeterministic typing, never acceptable
    in a pipeline."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {SUPPORTED_FORMATS}")
    r = spark.read.format(fmt)
    if fmt in ("json", "csv"):
        if schema is None:
            raise ValueError(f"{fmt} requires an explicit schema")
        r = r.schema(schema).option("mode", "FAILFAST")
        if fmt == "csv":
            r = r.option("header", True)
    elif schema is not None:
        r = r.schema(schema)
    return r.load(path)
