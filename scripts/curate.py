#!/usr/bin/env python
"""Run the end-to-end corpus curation pipeline from the command line —
the engine's answer to triggering the reference's Airflow DAG by hand:

    python scripts/curate.py --sf-dir /root/testdata/sf0.01 \
        --out /tmp/curated --token-budget 30000

Writes:
    <out>/corpus/   the curated documents (parquet)
    <out>/funnel/   the stage-count audit table (parquet)
and prints the funnel plus each sealed segment's wall seconds
(``segment_wall_s``, the funnel's seal steps under
``instrument.observe``) as one JSON line
(machine-parseable, like bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--out", required=True)
    ap.add_argument("--token-budget", type=int, default=30_000)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "*"))
    ap.add_argument(
        "--skew-guard", action="store_true",
        help="diagnose pair-endpoint skew (top_key_share) before the "
        "near-dup collapse and salt the connected-components joins when "
        "a hub key exceeds the share threshold (result-identical)",
    )
    ap.add_argument(
        "--learned-quality", "--learned-gate", action="store_true",
        help="swap the rule quality gate for a learned scorer: weak-label "
        "the input corpus (quality_score), fit the hashing-TF logistic "
        "filter, and gate on its calibrated p_good (threshold "
        "--quality-threshold); the fit AUC and the corpus p_good decile "
        "histogram land in the JSON line",
    )
    ap.add_argument("--quality-threshold", type=float, default=0.5)
    ap.add_argument(
        "--audit", action="store_true",
        help="run the corpus QA battery over the input tables (threshold "
        "sweep, split leakage, cluster sizes, diversity, budget "
        "allocation) and fold the summaries into the JSON line",
    )
    args = ap.parse_args()

    from databeats_spark.plans.curation import curate_corpus
    from databeats_spark.plans.instrument import observe
    from databeats_spark.session import get_spark

    spark = get_spark(app_name="databeats_curate", master=f"local[{args.cpus}]")

    scorer, fit_auc = None, None
    if args.learned_quality:
        from databeats_spark.ml.quality_filter import train_quality_filter
        from databeats_spark.sources.tables import load_tables

        docs = load_tables(spark, args.sf_dir, ["documents"]).documents
        qf = train_quality_filter(docs, seed=7)
        fit_auc = qf.heldout_auc

        # the p_good decile histogram rides the gate's one scoring pass
        # as observe() metrics (fresh Observation per invocation — an
        # Observation binds to exactly one Dataset), so the decile
        # report below never re-featurizes the corpus
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        decile_obs: list[Observation] = []

        def scorer(df):
            obs = Observation()
            decile_obs.append(obs)
            dec = F.least(F.floor(F.col("p_good") * 10), F.lit(9))
            return qf.score(df).observe(
                obs,
                *[
                    F.sum((dec == d).cast("long")).alias(f"d{d}")
                    for d in range(10)
                ],
            )

    # each stage's count rides its segment's checkpoint job (zero
    # separate count jobs) and the observer times every segment seal;
    # the final corpus persists from the same checkpointed blocks
    counts: dict[str, int] = {}
    with observe() as taken:
        final = curate_corpus(
            spark, args.sf_dir, args.token_budget,
            skew_guard=args.skew_guard,
            scorer=scorer, scorer_threshold=args.quality_threshold,
            observe_counts=counts,
        )["budget"]
    funnel = [(i, name, n) for i, (name, n) in enumerate(counts.items())]
    final.write.mode("overwrite").parquet(f"{args.out}/corpus")
    spark.createDataFrame(
        funnel, "stage_idx: long, stage: string, n_docs: long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{args.out}/funnel")

    record = {"sf_dir": args.sf_dir, "out": args.out,
              "funnel": {name: n for _, name, n in funnel},
              "segment_wall_s": {r["step"][len("stage_"):]: r["wall_s"]
                                 for r in taken.steps() if r["step"].startswith("stage_")}}
    if fit_auc is not None:
        record["quality_filter_auc"] = round(fit_auc, 4)
        # decile report: where the full-corpus mass sits on the learned
        # score — read from the gate's own scoring pass (observed
        # pre-filter, so all documents are counted; zero extra jobs)
        metrics = decile_obs[-1].get
        record["p_good_deciles"] = {
            d: int(metrics[f"d{d}"] or 0) for d in range(10)
        }
    if args.audit:
        # every audit output is catalog/band/pair-slice bounded, so the
        # driver-side pulls are small by construction
        from databeats_spark.registry import queries as all_queries

        reg = all_queries()
        sweep = reg["near_dup_threshold_sweep"](spark, args.sf_dir).toPandas()
        leak = reg["split_leakage_pairs"](spark, args.sf_dir).toPandas()
        sizes = reg["dup_cluster_sizes"](spark, args.sf_dir).toPandas()
        div = reg["lexical_diversity"](spark, args.sf_dir).toPandas()
        alloc = reg["token_budget_allocation"](spark, args.sf_dir).toPandas()
        record["audit"] = {
            "jaccard_bands": {str(r.band_lo): int(r.n_pairs) for r in sweep.itertuples()},
            "split_leakage_pairs": len(leak),
            "dup_cluster_sizes": {str(r.cluster_size): int(r.n_clusters) for r in sizes.itertuples()},
            "sources": len(div),
            "source_ttr_range": [float(div.source_ttr.min()), float(div.source_ttr.max())],
            "budget_capped_sources": int(alloc.is_capped.sum()),
        }
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
