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


# Size of Spark's generated-class cache: the Janino-compiled
# whole-stage and expression classes, keyed by their source. At the
# default 100 an interleaved dashboard evicts each query's classes
# before its next click (one round of the 14 headliners needs ~218),
# so every click re-runs Janino and then the JIT on code it compiled a
# round earlier. Measured with scripts/codegen_sweep.py (sf0.001, all
# 306 builders built and collected twice in one fresh session, cache at
# 100000): the cold pass compiled 4,345 classes at the bench policy
# (AQE off, 4 partitions) and 4,188 with AQE on; the size is that max
# plus ~90% headroom, and keeping a full sweep's classes costs ~30 MB
# of Metaspace (plans/r15/codegen_cache.txt). The conf is static and
# Spark reads it ONCE per JVM, in CodeGenerator's static initializer,
# from the conf of the session that first generates code: that session
# fixes the size for the JVM's lifetime, and a JVM whose first session
# is someone else's (the driver's verify session) keeps 100. Executors
# are JVMs too, each with its own cache sized the same way from the
# conf its tasks carry, so on a cluster the setting keeps an
# interleaved dashboard's classes on every executor (argued from the
# conf, not measured: only local mode was run).
CODEGEN_CACHE_ENTRIES = 8192


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


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset:
    16g, capped at half the host's MemTotal — a 16g heap is more than a
    15.7 GiB host can give one process (a RandomForest retrain was
    OOM-killed there). Hosts without a readable meminfo keep 16g."""
    try:
        with open(meminfo) as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    half_mib = kib // 2048
    return "16g" if half_mib >= 16 << 10 else f"{half_mib}m"


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
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
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
        # scratch space for shuffle files and spills (SPARK_LOCAL_DIRS,
        # when set, overrides it in the cluster managers that read it)
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp"))
        # see CODEGEN_CACHE_ENTRIES
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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
