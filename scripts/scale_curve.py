#!/usr/bin/env python
"""Scale-curve evidence for the heavy mining queries: run each at
sf0.01 and sf0.1 (10x the data) in ONE session and print the runtime
ratio — near-linear (~10x) confirms the bounded-candidate claims; a
super-linear ratio pinpoints the stage that re-quadratizes.

    python scripts/scale_curve.py
    # {"queries": {"pagerank_docs": {"sf0.01": ..., "sf0.1": ..., "ratio": ...}, ...}}

Methodology matches bench.py's mining section: single timed run per
query through the noop sink (these are iterative/checkpointing ops
whose first-run cost IS the production cost), after a full JIT pass of
every heavy at sf0.001 — without it, the first scale factor measured
absorbs the whole-stage-codegen compilation of the shingle/KMeans/CC
paths (measured: ~2-3 s of compile cost folded into the sf0.01 leg,
inverting the curve).
"""

from __future__ import annotations

import json
import os
import sys

HEAVIES = [
    "minhash_near_dups",
    "semdedup_near_dups",
    "pagerank_docs",
    "curation_funnel",
    # r5 full-corpus audit queries (the bounded-slice audit queries —
    # cluster sizes, keep-best — deliberately do NOT scale with sf and
    # would make the curve meaningless)
    "lexical_diversity",
    "token_budget_allocation",
    # r6: variable-length substring dedup (suffix table ~ corpus tokens)
    "substring_dup_spans",
]

SF_DIRS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import shuffle_partitions_for
    from databeats_spark.plans.instrument import profile
    from databeats_spark.registry import queries as all_queries
    from databeats_spark.session import get_spark

    spark = get_spark(app_name="databeats_scale_curve")
    reg = all_queries()

    # JIT pass: run every heavy once at the smallest SF so codegen
    # compilation is paid before any timed leg
    for name in HEAVIES:
        reg[name](spark, "/root/testdata/sf0.001").write.mode("overwrite").format("noop").save()

    times: dict[str, dict[str, float]] = {n: {} for n in HEAVIES}
    for sf_dir in SF_DIRS:
        label = "sf" + sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions_for(sf_dir)))
        reg["pricing_summary"](spark, sf_dir).limit(1).collect()  # warmup
        for name in HEAVIES:
            times[name][label] = profile(spark, lambda: reg[name](spark, sf_dir))["wall_s"]

    out = {
        name: {
            **ts,
            "ratio": round(ts["sf0.1"] / ts["sf0.01"], 2),
        }
        for name, ts in times.items()
    }
    print(json.dumps({"queries": out, "data_ratio": 10.0}))
    spark.stop()


if __name__ == "__main__":
    main()
