#!/usr/bin/env python
"""Medium-input core-scaling probe (VERDICT r13 item 7).

The driver's low-core scaling block reads ≈1 for every headline query
because at sf0.1 (~50 MB input) the whole set is scheduler/overhead
bound — it carries no parallelism evidence at all. This probe runs the
CPU-heavy movers at the AUGMENTED sf0.2 (2x sf0.1, built by
``scripts/make_scale_data.py``) under local[8] and local[32] with the
bench's own session policy, and records warm min-of-3 wall plus
executor CPU per query. The 8c/32c wall ratio is the parallelism
signal (1.0 = overhead-bound, 4.0 = perfect scaling for a 4x core
cut); CPU staying ~flat across core counts is the sanity check that
the ratio measures scheduling, not work.

Run once per core count (separate processes so each JVM sees exactly
its core budget), then regenerate SCALE.md:

    python scripts/make_scale_data.py           # once
    python scripts/scale_cores.py --cpus 32
    python scripts/scale_cores.py --cpus 8
    python scripts/scale_curve_bytes.py         # folds the section in

Results accumulate in artifacts/SCALE_CORES.json (committed — the
driver cannot run Spark; this file is the evidence).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF2_DIR = os.path.join(REPO, ".scale", "sf0.2")
OUT = os.path.join(REPO, "artifacts", "SCALE_CORES.json")

# CPU-heavy movers whose tables the augmented set materializes
# (documents/orders/customer/events/lineitem/part): the mining/audit
# heavies where a core ratio can mean something, not the sub-second
# headline set.
PROBES = [
    "substring_dup_spans",
    "hits_copurchase",
    "robust_spend_stats",
    "source_kmv_sketch",
    "curation_funnel",  # cpu-heaviest documents-only mining path
    "rake_keyphrases",  # (semdedup needs embeddings, absent from the augmented set)
]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args()
    if not os.path.isdir(SF2_DIR):
        raise SystemExit("run scripts/make_scale_data.py first (.scale/sf0.2 missing)")

    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    from bench import _env_delta, _env_probe, shuffle_partitions_for

    from databeats_spark.plans.instrument import profile
    from databeats_spark.registry import queries
    from databeats_spark.session import get_spark

    spark = get_spark(
        app_name=f"scale_cores_{args.cpus}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=shuffle_partitions_for(SF2_DIR),
    )
    reg = queries()
    rows: dict[str, dict] = {}
    env0 = _env_probe()
    for name in PROBES:
        # warm once (codegen/JIT), then min-of-3 like the headline bench
        reg[name](spark, SF2_DIR).write.mode("overwrite").format("noop").save()
        p = profile(spark, lambda: reg[name](spark, SF2_DIR), reps=3)
        rows[name] = {"wall": round(p["wall_s"], 3), "cpu": round(p["cpu_seconds"], 3)}
        print(json.dumps({"cpus": args.cpus, "q": name, **rows[name]}))
    steal = _env_delta(env0, _env_probe())["steal_pct"]

    data = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            data = json.load(f)
    data[str(args.cpus)] = {"queries": rows, "steal_pct": steal, "sf_dir": SF2_DIR}
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    print(f"wrote {OUT} (cpus={args.cpus}, steal {steal}%)")
    spark.stop()


if __name__ == "__main__":
    main()
