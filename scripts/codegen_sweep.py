#!/usr/bin/env python
"""Count the classes Spark's code generator compiles over a full-registry
sweep, and what keeping them costs.

    python scripts/codegen_sweep.py --policy bench --cache 100000
    python scripts/codegen_sweep.py --policy aqe --cache 100

One fresh ``get_spark`` session (``--policy bench``: 4 shuffle
partitions, AQE off, bench.py's posture at these sizes; ``--policy
aqe``: the AQE-on default) with ``spark.sql.codegen.cache.maxEntries``
set to ``--cache`` through ``extra_conf``. Every registry builder is
called and its result brought to the driver (``toPandas``) twice, in
registry order: a cold pass, then a second pass. Prints one JSON line:

- ``cold_compiles`` / ``second_compiles``: classes compiled by each
  pass (``instrument.codegen_compiles`` deltas);
- ``recompiled``: builder -> second-pass compiles, for every builder
  that compiled on its repeat call, with ``limit``: where a
  whole-stage-codegen'd LocalLimit/GlobalLimit sits
  (``instrument.codegen_limit``) — ``final`` (the executed plan),
  ``checkpoint`` (only a checkpointed sub-plan) or ``none``, and
  ``replanned``: whether its final executed plan (ids masked, see
  ``digests``) differs from the cold call's;
- ``limit_no_recompile``: builders with such a limit in the final plan
  that still compiled nothing on the repeat call;
- ``metaspace_mb`` / ``vm_hwm_mb`` / ``jit_s`` after each pass: the
  JVM's Metaspace pool in use, the JVM process's peak RSS (VmHWM) and
  its total JIT compile time;
- ``digests``: builder -> [md5 of its cold-pass plan, row count,
  ``driver_sim.vhash`` of its rows]. The plan is the executed physical
  plan, or with AQE on the plan AQE starts from
  (``AdaptiveSparkPlanExec.inputPlan``; final adaptive plans vary run
  to run), with expression, plan, codegen and RDD ids masked: two runs
  that differ only in a conf the planner never reads match exactly.

The session's driver heap is ``SPARK_DRIVER_MEMORY`` (default here 2g)
on ``local[SPARK_GRAFT_CPUS]`` (default 2).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # driver_sim

POLICIES = {
    "bench": {"shuffle_partitions": 4, "adaptive": False},
    "aqe": {},
}


def _jvm_state(spark, pid: int) -> dict:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    meta = next(p for p in mf.getMemoryPoolMXBeans() if str(p.getName()) == "Metaspace")
    with open(f"/proc/{pid}/status") as f:
        hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return {
        "metaspace_mb": round(meta.getUsage().getUsed() / 2**20, 1),
        "vm_hwm_mb": round(hwm / 1024, 1),
        "jit_s": round(mf.getCompilationMXBean().getTotalCompilationTime() / 1e3, 1),
    }


# per-call ids in plan strings: expression/plan/codegen/RDD ids, HOF
# lambda variable names (PySpark numbers them per call), UUIDs
_IDS = re.compile(
    r"(#|plan_id=|codegen id : |\*\(|\[id=#?|RDD\[|QueryStage |lambda [a-z]+_)\d+"
    r"|[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
)


def _plan_md5(plan) -> str:
    masked = _IDS.sub(lambda m: (m.group(1) or "") + "N", plan.toString())
    return hashlib.md5(masked.encode()).hexdigest()[:12]


def _digest(df, pdf) -> list:
    from driver_sim import vhash

    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    try:
        rows = vhash(pdf)[:12]
    except TypeError:  # unorderable cells (arrays, maps): rows unhashed
        rows = None
    return [_plan_md5(plan), len(pdf), rows]


def _limit_site(df, taken) -> str:
    from databeats_spark.plans.instrument import codegen_limit

    if codegen_limit(df):
        return "final"
    if any(codegen_limit(src) for src, _, _ in taken):
        return "checkpoint"
    return "none"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--policy", choices=sorted(POLICIES), default="bench")
    ap.add_argument("--cache", type=int, required=True)
    args = ap.parse_args()
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")

    from databeats_spark.plans.instrument import codegen_compiles, observe
    from databeats_spark.registry import registry
    from databeats_spark.session import get_spark
    from tests.conftest import SF_SMOKE as SF

    spark = get_spark(
        app_name="codegen_sweep",
        extra_conf={"spark.sql.codegen.cache.maxEntries": str(args.cache)},
        **POLICIES[args.policy],
    )
    spark.sparkContext.setLogLevel("ERROR")
    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    specs = registry()
    out: dict = {"policy": args.policy, "cache": args.cache, "sf": SF, "n": len(specs)}
    errors: dict[str, str] = {}
    second: dict[str, int] = {}
    sites: dict[str, str] = {}
    digests: dict[str, list] = {}
    finals: dict[str, str] = {}
    replanned: dict[str, bool] = {}
    for pas in ("cold", "second"):
        start = codegen_compiles(spark)
        for spec in specs:
            before = codegen_compiles(spark)
            try:
                with observe() as taken:
                    df = spec.build(spark, SF)
                    pdf = df.toPandas()
                final = _plan_md5(df._jdf.queryExecution().executedPlan())
                if pas == "cold":
                    digests[spec.name] = _digest(df, pdf)
                    finals[spec.name] = final
                else:
                    second[spec.name] = codegen_compiles(spark) - before
                    sites[spec.name] = _limit_site(df, taken)
                    replanned[spec.name] = final != finals[spec.name]
            except Exception as e:  # noqa: BLE001 — report, keep sweeping
                errors[spec.name] = repr(e)[:160]
        out[f"{pas}_compiles"] = codegen_compiles(spark) - start
        out[pas] = _jvm_state(spark, pid)
    out["recompiled"] = {
        n: {"compiles": c, "limit": sites[n], "replanned": replanned[n]}
        for n, c in second.items()
        if c
    }
    out["limit_no_recompile"] = sorted(
        n for n, c in second.items() if not c and sites[n] == "final"
    )
    out["errors"] = errors
    out["digests"] = digests
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
