#!/usr/bin/env python3
"""databeats_spark benchmark: fixed-work, seeded workloads through the
package's public API, every op's output checked.

    python3 perfbench/run.py --workload dashboard_loop --seed 1 --seconds 25 --trace 0

Run it from the root of a checkout of the repository. The last line of
stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; with ``--trace 0`` the metrics are the end-to-end ones,
with ``--trace 1`` the per-layer ones (see perfbench/README.md). The
lines before it describe the run: input generation time, the session
(master, cores, heap, AQE, shuffle partitions), host steal and load,
and the op-latency percentile that ``op_tail_s`` reports.

``--seconds`` sizes the fixed op list: as many whole dashboard rounds
or whole weeks as fit in it at their nominal time (``NOMINAL_OP_LIST_S``
in each workload), at least one; the list depends on nothing else, so
every run of one (workload, seconds) does the same work.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

import dashboard
import weekly
from probes import (
    CpuMeter, JvmBeans, Tracer, catalyst_s, proc_hwm_mb, process_start_time, self_maxrss_mb,
    stage_mark, stage_work,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = {wl.NAME: wl for wl in (dashboard, weekly)}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_memory_gib() -> float:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return kb / 2**20


def driver_memory() -> str:
    """Driver heap sized to the host: an eighth of RAM, 1-4 GiB (2g on
    a 16 GiB host). The package default (16g, session.get_spark) is
    more than such a host can give one process."""
    return f"{max(1, min(4, round(host_memory_gib() / 8)))}g"


def configure_env(run_dir: str) -> dict:
    """Point every scratch location of Spark and Python into the
    checkout and size the session to the host."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(run_dir, "warehouse"),
        "TMPDIR": tmp,
        # the short-lived JVM spark-submit runs to build the driver's
        # command line; without these it writes under /tmp
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    return {"cores": cores, "tmp": tmp}


def start_session(input_dir: str, tmp: str):
    """get_spark under bench.py's session policy (partitions and AQE
    sized to the input), console progress off, JVM temp files kept in
    the checkout. The heap is committed and touched at its full size
    when the JVM starts (-Xms = -Xmx, AlwaysPreTouch): left to grow,
    its size after the warm-up varied by up to 20% between runs, and
    ``peak_rss_mb`` with it."""
    import bench
    from databeats_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        shuffle_partitions=bench.shuffle_partitions_for(input_dir),
        adaptive=bench.adaptive_for(input_dir),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -XX:+AlwaysPreTouch -Xms{os.environ['SPARK_DRIVER_MEMORY']} "
                f"-Djava.io.tmpdir={tmp}"),
        },
    )


def stop_session(spark, jvm_pid: int) -> None:
    """Stop the session and wait until the driver JVM has exited: it
    exits when its stdin closes; after 30 s it is killed."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    _safe(spark.stop, None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while os.path.exists(f"/proc/{jvm_pid}"):
        if time.time() > deadline:
            os.kill(jvm_pid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


class Ctx:
    """What a workload sees: the session, the tracer, its directories
    and the op bookkeeping. The helpers open the spans the per-layer
    metrics are folded from; with tracing off they only run the call."""

    def __init__(self, spark, tracer, seed: int, run_dir: str, cache_dir: str, cores: int, corrupt: str | None):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.run_dir = run_dir
        self.cache_dir = cache_dir
        self.cores = cores
        self.corrupt = corrupt
        self.traced = tracer.enabled
        self.timing = False  # set once the timed ops start
        self.mark = None  # stage/job mark closing the op's last stage span

    def stage_span(self, name: str, fn, after=None, **attrs):
        """Run ``fn()`` inside span ``name``. Traced, the span records
        ``fn_s`` (the call alone, without the probes around it) and the
        Spark work launched since the op's previous stage-bearing span
        ended (stage-store totals of the new stages; within an op the
        mark closing one span opens the next). ``after(span)`` may
        annotate it. Stage-bearing spans never nest."""
        with self.tracer.span(name, **attrs) as sp:
            if not self.traced:
                return fn()
            before = self.mark if self.mark is not None else stage_mark(self.spark)
            t0 = time.perf_counter()
            out = fn()
            sp["fn_s"] = time.perf_counter() - t0
            self.mark = stage_mark(self.spark)
            sp.update(stage_work(self.spark, before, self.mark))
            if after is not None:
                after(sp)
            return out

    def build(self, query: str, fn):
        """A registry builder call: the ``registry.build`` span."""
        return self.stage_span("registry.build", fn, query=query)

    def collect(self, df, query: str | None = None):
        """The Spark action on a built plan: run it to completion and
        bring the result to the driver (the ``exec`` span)."""

        def phases(sp):
            sp["catalyst_s"] = _safe(lambda: catalyst_s(df))

        return self.stage_span("exec", df.toPandas, after=phases, query=query)

    def wrong(self, step: str, pdf):
        """Fault injection for the benchmark's own tests: with
        ``--corrupt <step>``, hand a timed op's check a result with one
        row dropped, which every check must reject."""
        if self.timing and self.corrupt == step and len(pdf):
            return pdf.iloc[1:].reset_index(drop=True)
        return pdf


def _safe(fn, default=0.0):
    try:
        return fn()
    except Exception:  # noqa: BLE001 — a probe must never fail an op
        return default


def tail_percentile(lat: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic with at
    least ten samples above it; the maximum when there are ten or
    fewer samples."""
    s = sorted(lat)
    n = len(s)
    i = n - 11 if n > 10 else n - 1
    return s[i], round(100.0 * (i + 1) / n, 1)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def layer_metrics(ctx: Ctx, wall_s: float, per_query: tuple[str, ...], sinks: dict) -> dict:
    """Fold the traced run's spans into the per-layer metrics."""
    tr = ctx.tracer
    exec_run = tr.total("exec", "task_run_s")
    exec_wall = tr.total("exec")
    stage_spans = [s for s in tr.spans if "jobs" in s and s["end"] is not None]

    def stage_sum(attr: str) -> float:
        return sum(s[attr] for s in stage_spans)

    own = tr.self_times()
    builds = [s for s in tr.spans if s["name"] == "registry.build" and s["end"] is not None]
    build = [own[s["id"]] for s in builds]
    build_s = sum(build)
    m = {
        "session.start_s": (sinks["session_start_s"], "s"),
        "session.jit_cpu_s": (sinks["jit_s"], "CPU-s"),
        "session.gc_s": (sinks["gc_s"], "s"),
        "session.heap_used_peak_mb": (sinks["heap_peak_mb"], "MB"),
        "registry.build_s": (build_s, "s"),
        "registry.build_p50_s": (statistics.median(build) if build else 0.0, "s"),
        "registry.build_jobs": (tr.total("registry.build", "jobs"), "count"),
        "registry.build_share": (build_s / wall_s if wall_s else 0.0, "ratio"),
        "exec.wall_s": (exec_wall, "s"),
        "exec.task_cpu_s": (stage_sum("task_cpu_s"), "CPU-s"),
        "exec.task_run_s": (stage_sum("task_run_s"), "s"),
        "exec.sched_gap_s": (exec_wall - exec_run / ctx.cores, "s"),
        "exec.jobs": (stage_sum("jobs"), "count"),
        "exec.stages": (stage_sum("stages"), "count"),
        "exec.tasks": (stage_sum("tasks"), "count"),
        "exec.shuffle_write_bytes": (stage_sum("shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (stage_sum("spill_bytes"), "bytes"),
        "exec.catalyst_s": (tr.total("exec", "catalyst_s"), "s"),
        "plans.etl.transform_s": (tr.total("plans.etl.transform"), "s"),
        "plans.etl.write_history_s": (tr.total("plans.etl.write_history"), "s"),
        "plans.etl.write_snapshot_s": (tr.total("plans.etl.write_snapshot"), "s"),
        "plans.analytics.top_tracks_s": (tr.total("plans.analytics.top_tracks"), "s"),
        "plans.training.retrain_s": (tr.total("plans.training.retrain"), "s"),
        "plans.training.retrain_jobs": (tr.total("plans.training.retrain", "jobs"), "count"),
        "sources.load_s": (tr.total("sources.load"), "s"),
        "sources.bytes_written": (sinks["bytes_written"], "bytes"),
        "sources.files_written": (sinks["files_written"], "count"),
        "sources.bytes_written_per_input_byte": (
            sinks["bytes_written"] / sinks["input_bytes"] if sinks["input_bytes"] else 0.0, "ratio"),
        "streaming.chart.drain_s": (tr.total("streaming.chart.drain"), "s"),
        "streaming.chart.serve_s": (tr.total("streaming.chart.serve"), "s"),
        "streaming.chart.state_bytes": (sinks["state_bytes"], "bytes"),
    }
    for q in per_query:
        m[f"registry.build_s.{q}"] = (sum(own[s["id"]] for s in builds if s["query"] == q), "s")
        m[f"exec.task_cpu_s.{q}"] = (
            sum(s.get("task_cpu_s", 0) for s in stage_spans if s.get("query") == q), "CPU-s")
    return {k: metric(v, u) for k, (v, u) in m.items()}


def install_load_tables_span(tracer) -> None:
    """Traced runs only: wrap ``sources.tables.load_tables`` in a
    ``sources.load`` span wherever the package imported it, so table
    loads inside registry builders are timed as their own layer."""
    from databeats_spark.sources import tables

    original = tables.load_tables

    def load_tables(*args, **kwargs):
        with tracer.span("sources.load"):
            return original(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("databeats_spark") and getattr(mod, "load_tables", None) is original:
            mod.load_tables = load_tables


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (the benchmark's own smoke test)")
    ap.add_argument("--corrupt", default=None, help="drop a row from this step's result before its check")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    t_proc = process_start_time()
    if not os.path.isfile(os.path.join(ROOT, "databeats_spark", "__init__.py")):
        _fail(f"no databeats_spark package under {ROOT}; run from the root of a checkout")
    import databeats_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(databeats_spark.__file__))) != ROOT:
        _fail("databeats_spark resolved outside the checkout")

    return run(WORKLOADS[args.workload], args, t_proc)


def run(wl, args, t_proc: float) -> int:
    import bench

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = configure_env(run_dir)
    tiny = "tiny" if args.tiny else "full"
    n_ops = wl.op_list_size(args.seconds)
    cache_dir = os.path.join(WORK, "cache", f"{wl.NAME}-{tiny}-seed{args.seed}-n{n_ops}")

    t = time.perf_counter()
    inputs = wl.generate(cache_dir, args.seed, n_ops, args.tiny)
    gen_s = time.perf_counter() - t
    print(f"perfbench: generated {wl.NAME} inputs (seed {args.seed}) in {gen_s:.3f} s", flush=True)

    tracer = Tracer(bool(args.trace))
    t = time.perf_counter()
    spark = start_session(inputs["dir"], env["tmp"])
    session_start_s = time.perf_counter() - t
    ctx = Ctx(spark, tracer, args.seed, run_dir, cache_dir, env["cores"], args.corrupt)
    if ctx.traced:
        from databeats_spark.registry import registry

        registry()  # import every registry module before wrapping their load_tables
        install_load_tables_span(tracer)
    beans = JvmBeans(spark)
    session = {
        "master": spark.sparkContext.master,
        "cores": env["cores"],
        "driver_heap": os.environ["SPARK_DRIVER_MEMORY"],
        "heap_max_mb": round(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "host_mem_gib": round(host_memory_gib(), 1),
    }

    # set-up: input registration + warm-up; the oracle's own time is
    # the checker's cost and is kept out of setup_s like generation
    state = wl.setup(ctx, inputs)
    oracle_s = state.get("oracle_s", 0.0)

    ops = wl.ops(ctx, state, n_ops)
    cpu = CpuMeter(beans.pid)
    jit0, gc0 = _safe(beans.jit_s), _safe(beans.gc_s)
    _safe(beans.reset_heap_peak)
    env0 = bench._env_probe()
    tracer.spans.clear()  # per-layer metrics cover the timed ops only
    ctx.timing = True
    t_first = time.time()
    setup_s = t_first - t_proc - gen_s - oracle_s
    records = []
    for op_id, step, check in ops:
        err = None
        ctx.mark = None
        cpu.start()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=op_id):
                out = step()
            lat = time.perf_counter() - t0
            cpu.stop()
            mismatched = check(out)
            ok = not mismatched
            if mismatched:
                err = "check mismatch: " + ", ".join(mismatched)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, never fatal
            lat = time.perf_counter() - t0
            cpu.stop()
            ok, err = False, f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
        records.append({"op": op_id, "latency_s": lat, "ok": ok, **({"error": err} if err else {})})
        if not ok:
            print(f"perfbench: op {op_id} FAILED {err}", file=sys.stderr, flush=True)
    env1 = bench._env_probe()

    lat = [r["latency_s"] for r in records]
    wall_s = sum(lat)
    tail, tail_pct = tail_percentile(lat)
    n_ok = sum(r["ok"] for r in records)
    sinks = {
        "session_start_s": session_start_s,
        "jit_s": _safe(beans.jit_s) - jit0,
        "gc_s": _safe(beans.gc_s) - gc0,
        "heap_peak_mb": _safe(beans.heap_peak_mb),
        **wl.sink_stats(ctx, state),
    }
    jvm_hwm, py_max = _safe(lambda: proc_hwm_mb(beans.pid)), self_maxrss_mb()
    rss = {"jvm_hwm": round(jvm_hwm, 1), "python_max": round(py_max, 1),
           "heap_committed": round(_safe(beans.heap_committed_mb), 1)}
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "wall_s": metric(wall_s, "s"),
        "op_p50_s": metric(statistics.median(lat), "s"),
        "op_tail_s": metric(tail, "s"),
        "cpu_s": metric(cpu.total, "CPU-s"),
        "peak_rss_mb": metric(jvm_hwm + py_max, "MB"),
        "ok_op_share": metric(n_ok / len(records), "ratio"),
    }
    stop_session(spark, beans.pid)

    detail = {
        "workload": wl.NAME, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "tiny": args.tiny, "ops": len(records), "op_tail_percentile": tail_pct,
        "gen_s": round(gen_s, 4), "oracle_s": round(oracle_s, 4), "session": session,
        "env": bench._env_delta(env0, env1), "failed_ops": [r for r in records if not r["ok"]],
        "rss_mb": rss,
        "op_latency_s": {r["op"]: round(r["latency_s"], 4) for r in records},
    }
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    history = os.path.join(results_dir, f"{wl.NAME}-{tiny}-n{n_ops}.jsonl")
    if args.trace:
        layers = layer_metrics(ctx, wall_s, dashboard.PER_QUERY, sinks)
        untraced = _untraced_walls(history)
        detail["trace_overhead_s"] = (
            round(wall_s - statistics.median(untraced), 4) if untraced else None)
        detail["untraced_runs"] = len(untraced)
        detail["end_to_end"] = {k: v["value"] for k, v in e2e.items()}
        trace_path = os.path.join(results_dir, f"{wl.NAME}-seed{args.seed}.trace.json")
        with open(trace_path, "w") as f:
            json.dump({"detail": detail, "metrics": layers, "ops": records, "spans": tracer.spans}, f, indent=1)
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        out_metrics = layers
    else:
        with open(history, "a") as f:
            f.write(json.dumps({"seed": args.seed, "wall_s": wall_s}) + "\n")
        out_metrics = e2e
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"detail": detail}), flush=True)
    result = {
        "correct": n_ok == len(records),
        "attempted": len(records),
        "failed": len(records) - n_ok,
        "metrics": {k: {"value": _finite(v["value"]), "unit": v["unit"]} for k, v in out_metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _untraced_walls(path: str) -> list[float]:
    try:
        with open(path) as f:
            return [json.loads(line)["wall_s"] for line in f if line.strip()]
    except (OSError, ValueError, KeyError):
        return []


def _finite(v: float) -> float:
    v = float(v)
    return v if math.isfinite(v) else 0.0


if __name__ == "__main__":
    sys.exit(main())
