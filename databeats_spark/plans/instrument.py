"""The measurement core: every timing and every byte audit in the repo
is one of the two calls below, and iterative operators report through
one per-step channel.

- :func:`profile` times a query. The timed region is exactly
  ``build().write.mode("overwrite").format("noop").save()`` — the full
  plan runs, nothing is collected — and the record carries the
  min-over-reps ``wall_s`` / ``cpu_seconds`` / ``run_seconds`` plus the
  stage counters of the last rep (jobs, stages, tasks, shuffle-write
  bytes/records, spill: plan properties, identical across reps).
  ``bench.py`` and ``scripts/{job_audit,scale_cores,scale_curve}.py``
  render it.
- :func:`movement` audits the bytes a query moves: it executes the
  df's own physical plan, folds the exchange/scan/spill SQLMetrics of
  the final plan AND of every pre-checkpoint plan captured during
  build+execute (:func:`capture_checkpoint_sources`), and adds the
  stage counters. ``scripts/shuffle_audit.py`` and
  ``scripts/scale_curve_bytes.py`` render it. Bytes are a property of
  plan + data and reproduce exactly run over run; wall-clock on this
  VM does not.
- The ``metrics_sink`` list is the per-step channel of iterative
  operators (PageRank/CC rounds, funnel segments): their
  driver-coordinated sub-jobs run in query executions the final plan
  never carries, so each step calls :func:`record_metrics`, which
  appends ``{"step", "wall_s", **executed_metrics(df)}`` folded from
  the step's already-executed plan (no re-run).

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

import time
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_STAGE_SUFFIX = "QueryStageExec"

# --- checkpoint-source capture (VERDICT r12 item 5) ------------------
# A localCheckpoint truncates lineage: the final plan carries a
# LogicalRDD where the checkpointed subtree used to be, so a plain
# plan-walk of the final plan misses every exchange that EXECUTED
# upstream of the checkpoint (hits_copurchase read 32 B of shuffle
# while its rounds moved 44.6 MB). While a capture is active,
# DataFrame.localCheckpoint is wrapped to record each PRE-checkpoint
# DataFrame; after the final plan runs, those dataframes' own
# executedPlans hold the upstream exchanges' populated SQLMetrics —
# fold them with :func:`executed_metrics`, no re-run. Inactive (the
# default) nothing is patched, so production query paths pay nothing.


@contextmanager
def capture_checkpoint_sources():
    """Collect every DataFrame that gets localCheckpoint'd while
    active. Wrap BOTH the query build and its execution (lazy
    checkpoints are created at build time but run with the final
    action), then fold each captured source with
    :func:`executed_metrics` and sum into the final plan's metrics —
    the segments are disjoint by construction (the final plan sees
    only the post-checkpoint LogicalRDD, and each source's plan ends
    at the NEXT checkpoint down its own lineage). Audit-only (single
    threaded); not re-entrant-safe across threads."""
    # patch the RUNTIME class: in PySpark 4 pyspark.sql.DataFrame is
    # the dispatching facade and the classic subclass overrides
    # localCheckpoint, so patching the base would never intercept
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _RuntimeDF
    except ImportError:  # older PySpark: one concrete class
        _RuntimeDF = DataFrame

    # A Spark Connect session's DataFrames are a THIRD class the patch
    # above never touches — the capture would silently stay empty and
    # the audit would report the pre-capture blind numbers as if the
    # fix ran (r13 review). Fail loud instead; the audit is a local
    # classic-session tool by design.
    try:
        from pyspark.sql import SparkSession as _SS

        active = _SS.getActiveSession()
    except Exception:
        active = None
    if active is not None and type(active).__module__.startswith(
        "pyspark.sql.connect"
    ):
        raise RuntimeError(
            "capture_checkpoint_sources only intercepts classic-session "
            "DataFrames; the active session is Spark Connect, whose "
            "localCheckpoint this patch cannot see — run the audit on a "
            "local classic session"
        )

    captured: list[DataFrame] = []
    original = _RuntimeDF.localCheckpoint

    def recording(self, *args, **kwargs):
        captured.append(self)
        return original(self, *args, **kwargs)

    _RuntimeDF.localCheckpoint = recording
    try:
        yield captured
    finally:
        _RuntimeDF.localCheckpoint = original


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


def stage_mark(spark: SparkSession) -> tuple[int, int]:
    """(next stage id, next job id) once the listener bus has drained —
    a point in the session's sequence of stages and jobs. Take it
    outside any timed region."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    dag = sc._jsc.sc().dagScheduler()
    return int(dag.nextStageId()), int(dag.nextJobId())


def stage_work(spark: SparkSession, mark: tuple[int, int]) -> dict[str, int | float]:
    """Task metrics summed over the stages created since ``mark``, plus
    the number of jobs submitted since it."""
    end = stage_mark(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {
        "n_jobs": end[1] - mark[1], "n_stages": 0, "n_tasks": 0,
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
    pre-checkpoint plan captured during build and execute, and the
    :func:`stage_work` counters of the run."""
    mark = stage_mark(spark)
    # capture brackets build AND execute: lazy checkpoints are created
    # at build time but run with the final action. The segments are
    # disjoint (each plan ends at the next checkpoint down its own
    # lineage), so summing is exact, not double-counting.
    with capture_checkpoint_sources() as sources:
        m = execution_metrics(build())
    for src in sources:
        for k, v in executed_metrics(src).items():
            m[k] += v
    return {**m, **stage_work(spark, mark)}


def record_metrics(sink: list | None, step: str, df: DataFrame, t0: float) -> None:
    """Append ``{"step", "wall_s", **executed_metrics(df)}`` to ``sink``
    when a sink is provided (None = zero overhead). ``wall_s`` runs
    from ``t0``, the step's start, to now — read before the fold, so
    folding never counts. Call it once the step's action has run."""
    if sink is not None:
        wall = round(time.perf_counter() - t0, 4)
        sink.append({"step": step, "wall_s": wall, **executed_metrics(df)})


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
