"""SparkSession factory with scale-oriented defaults.

The reference (dag.py) runs eager single-process pandas with no
planner; here one lazy Catalyst plan replaces the hand-wired Airflow
edge list (reference dag.py:851-875). Defaults below are chosen for
correctness parity with a DuckDB oracle (UTC session time zone) and
for 100 TB posture (AQE on, skew-join handling, partition coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that must be present for the engine to behave correctly no
# matter who built the session (the test driver builds its own): these
# are all runtime-settable SQL confs.
RUNTIME_CONFS: dict[str, str] = {
    # the driver's events.parquet carries TIMESTAMP(NANOS) which Spark
    # cannot read natively; read as long and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # oracle (DuckDB) timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
}

# Performance posture for sessions WE build: runtime re-planning
# (partition coalescing, skew-join splitting). All three are Spark 4
# defaults, so foreign sessions already run with them; they are NOT
# re-forced per-load by apply_runtime_confs — a caller that sized the
# adaptive policy to its data (bench.py at tiny SFs, where each AQE
# query-stage materialization is a driver round-trip that dominates
# wall-clock: measured 37 -> 75 jobs / +~50% headline wall at sf0.1
# with zero byte movement to re-plan) must keep that choice.
ADAPTIVE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's required CORRECTNESS confs to an existing
    session. Called by every loader entry point so the engine works
    even inside a session it did not build. Performance confs
    (ADAPTIVE_CONFS) are session-build-time policy, never re-forced
    here.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # immutable in this session (e.g. static conf): leave as-is
            pass
    return spark


def get_spark(
    app_name: str = "databeats_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    adaptive: bool = True,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Local test posture: one JVM, N threads; shuffle partitions sized to
    cores, not the 200 default (pointless tiny tasks locally; on a real
    cluster, AQE coalescing makes the initial number less critical).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    nshuffle = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # keep every stage of a bench/audit query in the status store
        # until plans/instrument.py::profile / movement read it: once
        # the store is over its limit it evicts skipped stages first,
        # the current query's included, and the counters skip what is
        # gone (static confs; the 1000 defaults are below a full
        # registry sweep's stage count)
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedJobs", "100000")
        # local mode: all shuffle is local disk; compress less, spill less
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp"))
        # managed (bucketed) tables land outside the repo; static conf,
        # so it must be set at build time
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/databeats_warehouse"),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # adaptive=False is the tiny-input posture (callers size it to the
    # DATA, e.g. bench.py below ~512 MB of total parquet): at that
    # scale there is nothing for runtime re-planning to fix — no skew
    # worth splitting, partitions already sized by
    # shuffle_partitions_for — while every AQE query-stage
    # materialization is a separate driver job round-trip (~half the
    # headline job count at sf0.1). At real scale callers leave it
    # True and the full ADAPTIVE_CONFS posture applies. getOrCreate may
    # reuse a live session, so re-assert the runtime-settable flag on
    # the session too, not just the builder.
    adaptive_confs = dict(ADAPTIVE_CONFS)
    if not adaptive:
        adaptive_confs["spark.sql.adaptive.enabled"] = "false"
    for k, v in adaptive_confs.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.adaptive.enabled", adaptive_confs["spark.sql.adaptive.enabled"]
    )
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
