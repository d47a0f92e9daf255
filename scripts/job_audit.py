"""Per-query driver-side scheduling audit (VERDICT r11 item 1).

At sf0.1 the headline set is OVERHEAD-dominated: r11 driver 16.5 s wall
vs 6.8 cpu-s over 32 cores. Bytes and cpu have been flat for four
rounds, so the remaining wall lever is fixed per-query scheduling cost
— jobs (action round-trips: AQE re-optimizations each materialize a
query stage as its own job), stages, and tasks. This script brackets
each headline query with plans/instrument.py::profile (min-of-3 wall
and CPU, stage counters of the last rep); run it idle and compare
n_jobs/n_stages before and after a plan change (they are steal-immune
like the byte metrics).

Usage: python scripts/job_audit.py [query ...]   (default: headline 14)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import _R1_ORDER, adaptive_for, shuffle_partitions_for  # type: ignore
    from databeats_spark.plans.instrument import profile
    from databeats_spark.registry import queries as all_queries
    from databeats_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="job_audit",
        shuffle_partitions=shuffle_partitions_for(sf_dir),
        adaptive=adaptive_for(sf_dir),
    )
    qs = all_queries()
    names = sys.argv[1:] or list(_R1_ORDER)
    qs[names[0]](spark, sf_dir).limit(1).collect()  # warm the scan path

    print(f"{'query':28s} {'wall_s':>7s} {'cpu_s':>6s} {'jobs':>5s} {'stages':>6s} {'tasks':>6s}")
    tot = {"n_jobs": 0, "n_stages": 0, "n_tasks": 0}
    for name in names:
        d = profile(spark, lambda: qs[name](spark, sf_dir), reps=3)
        print(
            f"{name:28s} {d['wall_s']:7.3f} {d['cpu_seconds']:6.2f} "
            f"{d['n_jobs']:5d} {d['n_stages']:6d} {d['n_tasks']:6d}"
        )
        for k in tot:
            tot[k] += d[k]
    print(f"{'TOTAL':28s} {'':7s} {'':6s} {tot['n_jobs']:5d} {tot['n_stages']:6d} {tot['n_tasks']:6d}")


if __name__ == "__main__":
    main()
