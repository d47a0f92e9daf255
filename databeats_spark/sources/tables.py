"""Parquet table loaders for the driver's TPC-H-ish testdata.

The reference pulls whole tables eagerly over the network with
``SELECT *`` and prunes client-side (reference app.py:11-33,
ml_training_dag.py:35-46). Here every table is a lazy parquet scan:
Catalyst pushes filters and prunes columns down to the file reader, so
downstream queries only read the bytes they touch — the property that
matters at 100 TB.
"""

from __future__ import annotations

import os
from types import SimpleNamespace
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databeats_spark.session import apply_runtime_confs

# Per-session DataFrame cache: ``spark.read.parquet`` performs driver-
# side file listing + footer schema resolution on EVERY call, which
# repeated query builds (the driver's 50-query correctness sweep, the
# bench's best-of-3 loop) pay over and over for identical immutable
# inputs. A DataFrame is a lazy immutable plan, so handing back the
# same object is semantics-free. Keyed weakly by session so stopped
# sessions (and their now-invalid plans) fall out with the session
# object instead of leaking across tests.
_DF_CACHE: WeakKeyDictionary = WeakKeyDictionary()

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts (TIMESTAMP(NANOS) on disk) to a session-tz
    TIMESTAMP truncated to microseconds — exactly what DuckDB/Arrow
    produce — so oracle comparisons see identical instants.

    Schema-adaptive because the physical read type depends on the
    Spark build and on *static* session confs we cannot control when
    running inside a session we did not build:

    - ``nanosAsLong`` set at session BUILD time → ts arrives BIGINT
      nanos. Integer ``DIV 1000`` (not float division: ns values
      exceed 2^53 and would round) then ``timestamp_micros``.
    - Spark 4.1+ default → ts arrives TIMESTAMP_NTZ, already
      micro-truncated by the reader; cast to TIMESTAMP interprets the
      naive value in the session time zone (we pin UTC at runtime),
      yielding bit-identical micros to the long path.
    """
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type == "long":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df  # already TIMESTAMP — nothing to do


def _load_one(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _DF_CACHE.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_event_ts(df)
    per_session[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None, names=TESTDATA_TABLES) -> SimpleNamespace:
    """Load the testdata tables as lazy DataFrames (attribute access)."""
    apply_runtime_confs(spark)
    sf_dir = sf_dir or DEFAULT_SF_DIR
    return SimpleNamespace(**{n: _load_one(spark, sf_dir, n) for n in names})


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition a compute-bound input that arrived in too few splits
    (small files ⇒ one task ⇒ serial execution of heavy expressions)
    into defaultParallelism partitions. No-op when the scan already has
    enough parallelism — at real scale inputs have many splits and the
    shuffle would be pure waste."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str | None = None, names=TESTDATA_TABLES) -> None:
    """Register the testdata tables as temp views for spark.sql use."""
    t = load_tables(spark, sf_dir, names)
    for n in names:
        getattr(t, n).createOrReplaceTempView(n)
