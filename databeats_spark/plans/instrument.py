"""The measurement core: every timing and every byte audit in the repo
is one of the two calls below, and every checkpointed step is seen
through one observer.

- :func:`profile` times a query. The timed region is exactly
  ``build().write.mode("overwrite").format("noop").save()`` — the full
  plan runs, nothing is collected — and the record carries the
  min-over-reps ``wall_s`` / ``cpu_seconds`` / ``run_seconds`` plus the
  stage counters of the last rep (jobs, stages, tasks, shuffle-write
  bytes/records, spill). ``n_jobs``, ``n_tasks`` and the records are
  stable across reps and sessions; ``n_stages`` and the stage
  shuffle-write bytes are not (curation_funnel at sf0.01 read 85-87
  stages and bytes ±40 B across fresh sessions of unchanged code), so
  compare those two only with their run-to-run spread.
  ``bench.py`` and ``scripts/{job_audit,scale_cores,scale_curve}.py``
  render it.
- :func:`movement` audits the bytes a query moves: it executes the
  df's own physical plan, folds the exchange/scan/spill SQLMetrics of
  the final plan AND of every checkpoint observed during
  build+execute, and adds the stage counters.
  ``scripts/shuffle_audit.py`` and ``scripts/scale_curve_bytes.py``
  render it. Bytes are a property of plan + data and reproduce exactly
  run over run; wall-clock on a shared host does not.
- :func:`observe` is the one record of checkpointed work: while it is
  active every ``localCheckpoint`` is recorded, and an iterative
  operator (PageRank/CC rounds, funnel segments) names its steps with
  :func:`step`, which sets the step's ``wall_s``. Their
  driver-coordinated sub-jobs run in query executions the final plan
  never carries; :meth:`Observed.steps` folds each checkpoint's
  already-executed plan (no re-run) when the record is read, never
  inside a step, so no fold lands in a timed region. ``movement``,
  bench.py's ``pagerank_rounds``, the shuffle audit's per-step tables
  and ``scripts/curate.py``'s ``segment_wall_s`` all read it.

Stage counters (:func:`stage_mark` / :func:`stage_work`) read the
AppStatusStore for the stages created since a mark — O(stages of the
query), not O(every retained stage). ``cpu_seconds`` is
executorCpuTime, which external VM steal does not inflate; it counts
JVM task threads only, so a stage feeding Python workers accrues to
``run_seconds`` instead. Attribution assumes queries run serially on
the session. RETENTION CAVEAT: a stage evicted from the store before
it is read is skipped, and a store over ``spark.ui.retainedStages``
evicts skipped stages first — the current query's included. Keep the
session's stage count under the limit: ``get_spark`` pins it to
100000; a session built elsewhere defaults to 1000.
"""

from __future__ import annotations

import sys
import time
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_STAGE_SUFFIX = "QueryStageExec"

# --- the checkpoint observer ----------------------------------------
# A localCheckpoint truncates lineage: the final plan carries a
# LogicalRDD where the checkpointed subtree used to be, so a plain
# plan-walk of the final plan misses every exchange that EXECUTED
# upstream of the checkpoint (hits_copurchase read 32 B of shuffle
# while its rounds moved 44.6 MB). While an observer is active,
# DataFrame.localCheckpoint is wrapped to record each PRE-checkpoint
# DataFrame; once the plans have run, those dataframes' own
# executedPlans hold the upstream exchanges' populated SQLMetrics,
# folded on read with :func:`executed_metrics`, no re-run. With no
# observer active nothing is patched, so production query paths pay
# nothing.

# the class whose localCheckpoint the observer wraps: the RUNTIME one.
# In PySpark 4 pyspark.sql.DataFrame is the dispatching facade and the
# classic subclass overrides localCheckpoint, so patching the base
# would never intercept.
try:
    from pyspark.sql.classic.dataframe import DataFrame as _RuntimeDF
except ImportError:  # older PySpark: one concrete class
    _RuntimeDF = DataFrame

# the open observers, outermost first: process-global, like the class
# patch they share
_ACTIVE: list[Observed] = []


class Observed(list):
    """The checkpoints taken while one :func:`observe` was active, in
    the order they were taken. Each record is ``[source, step,
    wall_s]``: the pre-checkpoint DataFrame, the step name :func:`step`
    gave it (until then ``(<function that took it>)``) and its wall
    seconds (None when unnamed)."""

    def steps(self) -> list[dict]:
        """One row per record, ``{"step", "wall_s",
        **executed_metrics(source)}``, folded now. The segments are
        disjoint (each source's plan ends at the next checkpoint down
        its own lineage), so the rows sum to the checkpointed work
        exactly."""
        return [{"step": n, "wall_s": w, **executed_metrics(src)} for src, n, w in self]


@contextmanager
def observe():
    """Record every DataFrame that gets localCheckpoint'd while active;
    yields the :class:`Observed` that holds them. Wrap BOTH the query
    build and its execution (lazy checkpoints are created at build
    time but run with the final action) and read
    :meth:`Observed.steps` once the plans have run. Nested observers
    each see every checkpoint taken while they are open. Audit-only
    (single threaded)."""
    # A Spark Connect session's DataFrames are a THIRD class the patch
    # never touches: the record would silently stay empty and an audit
    # would report the blind numbers as if it saw the checkpoints.
    # Fail loud instead; the audit is a local classic-session tool.
    active = SparkSession.getActiveSession()
    if active is not None and type(active).__module__.startswith("pyspark.sql.connect"):
        raise RuntimeError(
            "observe() only intercepts classic-session DataFrames; the "
            "active session is Spark Connect, whose localCheckpoint this "
            "patch cannot see — run the audit on a local classic session"
        )
    original, installed = _RuntimeDF.localCheckpoint, not _ACTIVE

    def recording(self, *args, **kwargs):
        caller = f"({sys._getframe(1).f_code.co_name})"
        for obs in _ACTIVE:
            obs.append([self, caller, None])
        return original(self, *args, **kwargs)

    if installed:  # the outermost observer patches, and restores on exit
        _RuntimeDF.localCheckpoint = recording
    obs = Observed()
    _ACTIVE.append(obs)
    try:
        yield obs
    finally:
        _ACTIVE.pop()  # observers nest: the innermost exits first
        if installed:
            _RuntimeDF.localCheckpoint = original


def step(name: str, df: DataFrame, t0: float, end: float | None = None) -> None:
    """Name the record of the checkpoint already taken FROM ``df`` and
    set its ``wall_s``: from ``t0``, the step's start, to ``end``
    (default: now). Pass one ``end`` to the steps of one shared action.
    Does nothing when no observer is active; nothing is folded here."""
    wall = round((time.perf_counter() if end is None else end) - t0, 4)
    for obs in _ACTIVE:
        for rec in reversed(obs):
            if rec[0] is df:
                rec[1:] = [name, wall]
                break


def _walk(node):
    """Pre-order walk of the EXECUTED adaptive plan: dives into query
    stages and reused exchanges, yielding each distinct plan node."""
    name = node.getClass().getSimpleName()
    yield name, node
    if name == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan())
        return
    if name.endswith(_STAGE_SUFFIX):
        yield from _walk(node.plan())
        return
    if name == "ReusedExchangeExec":
        yield from _walk(node.child())
        return
    kids = node.children()
    for i in range(kids.size()):
        yield from _walk(kids.apply(i))


# the codegen'd LIMIT operators: each names its row counter from a
# JVM-global sequence (BaseLimitExec.newLimitCountTerm ->
# "_limit_counter_<N>"), so a whole-stage class holding one has new
# source on every plan and misses the generated-class cache
_LIMITS = ("LocalLimitExec", "GlobalLimitExec")


def _stage_limit(node) -> bool:
    name = node.getClass().getSimpleName()
    if name in _LIMITS:
        return True
    if name == "InputAdapter":  # the whole-stage boundary
        return False
    kids = node.children()
    return any(_stage_limit(kids.apply(i)) for i in range(kids.size()))


def codegen_limit(df: DataFrame) -> bool:
    """True when a whole-stage-codegen'd stage of ``df``'s executed plan
    holds a LocalLimit/GlobalLimit: that stage compiles afresh on every
    call of the query, whatever the cache size."""
    return any(
        name == "WholeStageCodegenExec" and _stage_limit(node.child())
        for name, node in _walk(df._jdf.queryExecution().executedPlan())
    )


def _metric_values(node) -> dict[str, int]:
    m = node.metrics()
    it = m.keys().iterator()
    out: dict[str, int] = {}
    while it.hasNext():
        k = it.next()
        out[k] = int(m.apply(k).value())
    return out


def execution_metrics(df: DataFrame) -> dict[str, int]:
    """Execute ``df``'s physical plan (full pipeline, nothing collected
    to Python) and return the deterministic volume metrics:

    - ``shuffle_bytes`` / ``shuffle_records``: sum over shuffle
      exchanges of dataSize / records written (each exchange counted
      once — reused exchanges share their child's node id);
    - ``n_shuffles`` / ``n_broadcasts``: exchange counts in the final
      adaptive plan;
    - ``broadcast_bytes``: sum of broadcast exchange dataSize;
    - ``scan_rows`` / ``scan_bytes``: file-scan output rows and the
      size of the files read (post partition/file pruning);
    - ``spill_bytes``: disk spill summed over sort/aggregate/join/
      window operators — nonzero means a partition outgrew its task's
      memory share (the partition-sizing failure mode at scale).
    """
    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()  # run the plan's own RDD — metrics populate
    return _fold_plan_metrics(plan)


def executed_metrics(df: DataFrame) -> dict[str, int]:
    """Fold the volume metrics of a plan that ALREADY ran — for
    iterative operators whose round action is the eager
    ``localCheckpoint`` itself. Call it on the df the checkpoint was
    taken FROM (its queryExecution is the one the checkpoint executed);
    calling it on a never-actioned df reports zeros, not an error."""
    return _fold_plan_metrics(df._jdf.queryExecution().executedPlan())


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the JVM's code generator has compiled so far: one per
    miss of its generated-class cache (``CodegenMetrics``' compilation
    timer), counted JVM-wide, driver and local task threads alike."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def stage_mark(spark: SparkSession) -> tuple[int, int, int]:
    """(next stage id, next job id, codegen compiles) once the listener
    bus has drained — a point in the session's sequence of stages, jobs
    and generated classes. Take it outside any timed region."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    dag = sc._jsc.sc().dagScheduler()
    return int(dag.nextStageId()), int(dag.nextJobId()), codegen_compiles(spark)


def stage_work(spark: SparkSession, mark: tuple[int, int, int]) -> dict[str, int | float]:
    """Task metrics summed over the stages created since ``mark``, plus
    the number of jobs submitted and of classes compiled since it. A
    repeat call of an unchanged query should compile none: generated
    source that differs per call (a per-plan name) misses the cache."""
    end = stage_mark(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {
        "n_jobs": end[1] - mark[1], "n_codegen_compiles": end[2] - mark[2],
        "n_stages": 0, "n_tasks": 0,
        "cpu_ns": 0, "run_ms": 0,
        "stage_shuffle_write_bytes": 0,   # post-compression, executed
        "stage_shuffle_write_records": 0,
        "stage_spill_bytes": 0,
    }
    for sid in range(mark[0], end[0]):
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — created but never reported
            continue
        out["n_stages"] += 1
        out["n_tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        out["cpu_ns"] += s.executorCpuTime()
        out["run_ms"] += s.executorRunTime()
        out["stage_shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["stage_shuffle_write_records"] += s.shuffleWriteRecords()
        out["stage_spill_bytes"] += s.diskBytesSpilled()
    out["cpu_seconds"] = round(out.pop("cpu_ns") / 1e9, 4)
    out["run_seconds"] = round(out.pop("run_ms") / 1e3, 4)
    return out


def profile(
    spark: SparkSession, build: Callable[[], DataFrame], reps: int = 1
) -> dict[str, int | float]:
    """Run ``build()`` through the noop sink ``reps`` times; return the
    min-over-reps ``wall_s``, ``cpu_seconds`` and ``run_seconds`` and
    the last rep's stage counters. The builder runs inside the timed
    region (eager build-time jobs count); the marks sit outside it."""
    recs = []
    for _ in range(reps):
        mark = stage_mark(spark)
        t0 = time.perf_counter()
        build().write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        recs.append({"wall_s": round(wall, 4), **stage_work(spark, mark)})
    best = {k: min(r[k] for r in recs) for k in ("wall_s", "cpu_seconds", "run_seconds")}
    return {**recs[-1], **best}


def movement(spark: SparkSession, build: Callable[[], DataFrame]) -> dict[str, int | float]:
    """Execute ``build()``'s plan and return its data movement: the
    :func:`execution_metrics` fold of the final plan plus that of every
    checkpoint observed during build and execute, and the
    :func:`stage_work` counters of the run."""
    mark = stage_mark(spark)
    # observe brackets build AND execute: lazy checkpoints are created
    # at build time but run with the final action
    with observe() as taken:
        m = execution_metrics(build())
    for row in taken.steps():
        for k in m:
            m[k] += row[k]
    return {**m, **stage_work(spark, mark)}


def fmt_bytes(n: float) -> str:
    """Human-readable byte count for the audit tables."""
    for unit in ("B", "KB", "MB", "GB"):
        if n < 1024 or unit == "GB":
            return f"{n} B" if unit == "B" else f"{n:.1f} {unit}"
        n /= 1024.0
    return f"{n} B"


# operators that spill to disk under memory pressure (their SQLMetrics
# carry a "spillSize" entry) — the executor-memory-fit signal: nonzero
# spill means a partition outgrew its task's memory share, the thing
# spark.sql.shuffle.partitions / maxPartitionBytes sizing must prevent
# at the target SF.
_SPILLABLE = (
    "SortExec", "HashAggregateExec", "ObjectHashAggregateExec",
    "SortMergeJoinExec", "ShuffledHashJoinExec", "WindowExec",
    "WindowGroupLimitExec",
)


def _fold_plan_metrics(plan) -> dict[str, int]:
    seen: set[int] = set()
    out = {
        "shuffle_bytes": 0, "shuffle_records": 0, "n_shuffles": 0,
        "broadcast_bytes": 0, "n_broadcasts": 0,
        "scan_rows": 0, "scan_bytes": 0, "spill_bytes": 0,
    }
    for name, node in _walk(plan):
        if name not in ("ShuffleExchangeExec", "BroadcastExchangeExec", "FileSourceScanExec") and name not in _SPILLABLE:
            continue
        nid = int(node.id())
        if nid in seen:
            continue
        seen.add(nid)
        vals = _metric_values(node)
        if name == "ShuffleExchangeExec":
            out["shuffle_bytes"] += vals.get("dataSize", 0)
            out["shuffle_records"] += vals.get("shuffleRecordsWritten", 0)
            out["n_shuffles"] += 1
        elif name == "BroadcastExchangeExec":
            out["broadcast_bytes"] += vals.get("dataSize", 0)
            out["n_broadcasts"] += 1
        elif name == "FileSourceScanExec":
            out["scan_rows"] += vals.get("numOutputRows", 0)
            out["scan_bytes"] += vals.get("filesSize", 0)
        else:
            out["spill_bytes"] += vals.get("spillSize", 0)
    return out
