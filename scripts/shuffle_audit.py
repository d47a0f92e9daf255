#!/usr/bin/env python
"""Regenerate SHUFFLE.md: deterministic data-movement metrics for the
single-plan bench queries — the steal-proof round-over-round regression
signal (bytes moved are a property of plan + data; wall-clock is not) —
measured at BOTH test scales, with the byte-growth ratio per query: the
scale curve in deterministic form (10x data moving ~10x bytes is
linear; superlinear byte growth exposes a re-quadratizing stage no
matter how noisy the clock is).

    python scripts/shuffle_audit.py

The script builds its own session at one fixed shape — local[32], a
6g driver heap, 16m memory pages and 4 shuffle partitions
(:func:`audit_session`) — so the file regenerates the
same on any host: broadcast dataSize follows the memory page size,
which Spark otherwise derives from heap / cores, and exec write
follows the default parallelism.

Each row is one ``plans/instrument.py::movement`` record, which folds
three layers:

- PLAN layer: exchange/scan SQLMetrics folded from the final adaptive
  plan — uncompressed dataSize, per-exchange attribution. Blind spot:
  AQE's empty-relation propagation can erase already-executed
  exchanges from the FINAL plan (empty result at one SF), reading 0 B.
- CHECKPOINT layer: a localCheckpoint truncates lineage, so the final
  plan misses every exchange upstream of it. ``movement`` observes
  every checkpoint taken during build+execute (``instrument.observe``)
  and folds each pre-checkpoint executedPlan's SQLMetrics into the
  PLAN columns — disjoint segments, summed exactly.
- STAGE layer: shuffle-write bytes + executor CPU summed over every
  stage the run created, from the AppStatusStore — records every
  stage that ran regardless of the final plan, closing the AQE-empty
  blind spot. Bytes here are post-compression (smaller than
  dataSize), so the two columns are complementary, not comparable.

Iterative queries (pagerank_docs, curation_funnel, dedup_components)
run driver-coordinated rounds in separate query executions whose
exchanges the final plan doesn't carry — they are published in their
own per-step section: one row per checkpoint ``instrument.observe``
saw, named by the operator's ``step`` or, when unnamed, by the function
that took it.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the frozen headline set minus nothing (all single-plan), plus the
# single-plan mining/audit heavies
QUERIES = [
    "pricing_summary", "filter_project", "top_customers", "revenue_by_nation",
    "weekly_chart_streak", "sessionization", "asof_purchase_value",
    "dedup_exact_docs", "text_stats", "near_dup_pairs", "cosine_topk",
    "minhash_near_dups", "top_terms", "rolling_7d_spend",
    "bigram_pmi", "incremental_corpus_dups", "sequence_packing",
    "span_dedup_docs", "oov_rate", "substring_dup_spans",
    "substring_dup_spans_hashed", "substring_dup_spans_packed",
    "substring_scrub_stats", "ngram_novelty",
    "near_dup_threshold_sweep", "split_leakage_pairs", "lexical_diversity",
    "token_budget_allocation", "temperature_mix_allocation",
    "fluency_buckets", "corpus_summary_cube", "hard_negatives",
    "retrieval_label_precision", "cms_heavy_hitters",
    "substring_scrub_stats_hashed", "ngram_novelty_hashed",
    "dedup_upsample_weights", "normalized_dedup_delta",
    "bpe_fertility_by_lang", "zorder_locality_audit",
    "embedding_isotropy_audit",
    # r8 session-3 single-plan additions
    "hits_copurchase", "mann_whitney_effect",
    "holt_winters_forecast", "cusum_changepoint",
    # r8 session-4 single-plan additions
    "bm25_topk", "source_kmv_overlap", "poisson_bootstrap_ci",
    "kaplan_meier_retention", "basket_lift_rules",
    # r9: the r8 join-heavy registry-only queries the r8 verdict flagged
    # as outside the byte audit (VERDICT r8 item 4), plus the perceptual
    # tier (item 6)
    "entity_kcore", "entity_clusters", "entity_match_pairs",
    "js_source_drift", "chao1_vocab_richness", "conformal_token_interval",
    "rrf_hybrid_topk", "phash_near_dups", "blockmean_near_dups",
    # r9 additions: retrieval eval, attribution, drift/calibration and
    # experimentation readouts (robust_spend_stats / ks_two_sample run
    # prefix-sum checkpoints — under-reported in the plan columns
    # before the r13 checkpoint capture; now fully in-plan)
    "bm25_ranking_quality", "matryoshka_energy_audit", "psi_length_drift",
    "acf_daily_revenue", "markov_event_transitions",
    "cohort_retention_triangle", "robust_spend_stats",
    "lang_id_calibration", "markov_removal_attribution",
    "forecast_backtest_mase", "experiment_power_mde", "ks_two_sample",
    "vocab_contribution_by_source", "quantile_treatment_effect",
    "sequential_test_daily", "boilerplate_prefix_audit",
    # r10 addition: the sketch-only bench posture. The *_exact oracle
    # twins (phash/blockmean) are deliberately NOT in this audit: their
    # 20-bit signatures densify the banded background ON PURPOSE (the
    # verify filter must do real work at the correctness SF), which
    # makes candidate pairs grow quadratically with bucket occupancy —
    # a property of the twin's bit-width, not of the production path
    # (64-bit, sparse: see the 9.97x phash/blockmean rows). Measured
    # once in r10: blockmean_near_dups_exact moved 26.8x bytes at 10x
    # data, exactly the quadratic the twins accept at correctness SFs.
    "source_kmv_sketch",
    # r10 session-3 tiers: held-out bigram LM, term dispersion, ratio
    # CI (checkpointed day cells — in-plan since the r13 checkpoint
    # capture), EB source-rate shrinkage
    "stupid_backoff_logprob", "term_burstiness",
    "jackknife_ratio_ci", "eb_shrunk_source_rates",
    # degree-capped pair expansion: bytes ∝ Σ min(deg, AA_MAX_DEG=24)·deg
    # — bounded by the cap, the movement signal for the link-prediction
    # tier (the initial 64 never bound on testdata; see CLAUDE.md)
    "adamic_adar_links",
    # r10 session-3 batch 3: coverage/dispersion/uncertainty readouts +
    # the DSIR resampling scorer (bucket tables are ≤1024 rows by
    # construction — its movement is the feature-stream aggregate)
    "good_turing_mass", "daily_count_overdispersion",
    "dsir_importance_weights", "wilson_return_ranking",
    # r10 session-3 batch 4: CvM (prefix-sum checkpoints — in-plan
    # since the r13 checkpoint capture, like ks_two_sample), SPRT
    # e-process, Brier decomposition
    "cvm_two_sample", "sprt_evalue_monitor", "brier_decomposition",
    # fixed-round LPA: per-round exchanges are edges ⋈ labels — linear
    "lpa_communities", "source_lang_mi",
    # r11 additions: the per-source leak rollup (three shingle passes —
    # broadcast eval semijoin + bounded pair verify + shared-shingle DF
    # join, each the constituent query's audited shape), the BH z-test
    # fan (one brand-keyed aggregate, windows over a LIMIT-bounded
    # catalog relation), the one-pass permutation fan-out (replicate
    # explode collapses map-side — the Poisson-bootstrap movement
    # shape), and the per-source Heaps fit (two corpus aggregates +
    # key-partitioned cumulative windows)
    "contamination_scorecard", "bh_fdr_discoveries",
    "permutation_null_effect", "heaps_exponent_by_source",
    # r11 batch 2: closed-form isotonic (all movement is the one bin
    # aggregate — the minimax nest runs on <=10-row bounded relations),
    # the sketch-calibration audit (bounded verifier slice + md5
    # signature aggregate), and RAKE (positional explode -> per-source
    # token aggregate -> re-join -> WindowGroupLimit head)
    "isotonic_calibration", "minhash_estimate_audit", "rake_keyphrases",
    # r12 capstone: the pair-verifier machinery (bounded slice) fanned
    # across the 6-row literal threshold ladder, then per-threshold
    # water-filling windows over the catalog x ladder relation — its
    # movement is the shingle-pair aggregate, ladder fan-out is
    # broadcast-side only
    "dedup_sensitivity_curve",
    # r13 capstone: the curve's CDC form — candidate join requires a
    # new-side doc (old x old structurally excluded), baseline rides
    # the water-filling plan as a sentinel threshold partition; its
    # movement is the boundary shingle-pair aggregate
    "dedup_sensitivity_delta",
]


def iterative_runs(spark, sf_dir: str) -> dict[str, list[dict]]:
    """Per-step movement rows for the iterative ops: one row per
    checkpoint an ``instrument.observe`` around the run saw (edge
    materialization, label/contribution rounds, funnel seals, and the
    unnamed pins inside them). Each op runs once per SF. pagerank/CC
    append a final_plan row for the post-iteration ranking plan; the
    funnel's LAST stage is itself an eager checkpoint, so no final_plan
    row exists. The rows are disjoint plan segments, so their sum is
    the op's whole plan-layer movement."""
    from databeats_spark.plans.curation import curate_corpus
    from databeats_spark.plans.instrument import (
        execution_metrics, observe, stage_mark, stage_work,
    )
    from databeats_spark.registry.documents import _dedup_components
    from databeats_spark.registry.mining import _pagerank_docs

    def run(build, final_plan: bool) -> list[dict]:
        mark = stage_mark(spark)
        with observe() as taken:
            final = build()
            tail = [{"step": "final_plan", **execution_metrics(final)}] if final_plan else []
        return taken.steps() + tail + [{"step": "stage_totals", **stage_work(spark, mark)}]

    return {
        "pagerank_docs": run(lambda: _pagerank_docs(spark, sf_dir), True),
        "dedup_components": run(lambda: _dedup_components(spark, sf_dir), True),
        "curation_funnel": run(lambda: curate_corpus(spark, sf_dir), False),
    }


SF_DIRS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def audit_session(app_name: str):
    """The fixed audit session shape (module docstring): local[32], a
    6g driver heap, 16m memory pages and 4 shuffle partitions — the
    count bench.py::shuffle_partitions_for gives every input below
    ~100 MB. scripts/scale_curve_bytes.py builds its session here too."""
    from databeats_spark.session import get_spark

    return get_spark(
        app_name=app_name,
        master="local[32]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "6g", "spark.buffer.pageSize": "16m"},
    )


def main() -> None:
    from databeats_spark.plans.instrument import fmt_bytes, movement
    from databeats_spark.registry import queries

    spark = audit_session("databeats_shuffle_audit")
    reg = queries()
    by_sf: dict[str, dict[str, dict]] = {}
    iter_by_sf: dict[str, dict[str, list[dict]]] = {}
    for sf_dir in SF_DIRS:
        rows = by_sf[sf_dir] = {}
        for name in QUERIES:
            m = movement(spark, lambda: reg[name](spark, sf_dir))
            rows[name] = m
            print(json.dumps({"sf_dir": sf_dir, "query": name, **m}))
        iter_by_sf[sf_dir] = iterative_runs(spark, sf_dir)
        for name, steps in iter_by_sf[sf_dir].items():
            for s in steps:
                print(json.dumps({"sf_dir": sf_dir, "query": name, **s}))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "SHUFFLE.md"), "w") as f:
        f.write(
            "# SHUFFLE — deterministic data-movement audit\n\n"
            "Generated by `scripts/shuffle_audit.py` at a shape the script fixes\n"
            "itself: local[32], a 6g driver heap and 16m memory pages (broadcast\n"
            "bytes follow the page size, exec write the default parallelism).\n"
            "Bytes moved are a property of plan and data and reproduce run over\n"
            "run, so these tables — not wall-clock, which swings ±25% with host\n"
            "CPU steal — are the regression signal: a broadcast join regressing to\n"
            "sort-merge, a lost pushdown or a partial aggregate turning into a\n"
            "full-row shuffle is an order-of-magnitude byte jump. The cross-scale\n"
            "byte ratio is the scale curve in deterministic form: ~10x for 10x\n"
            "data is linear, more exposes a re-quadratizing stage, far less means\n"
            "the mover is a bounded candidate / catalog / top-k set.\n\n"
            "Every row is one `plans/instrument.py::movement` record. The PLAN\n"
            "columns fold the exchange/scan/spill SQLMetrics (dataSize,\n"
            "uncompressed) of the final plan and of every checkpoint\n"
            "`instrument.observe` saw during build+execute — disjoint segments,\n"
            "summed exactly. `exec write` (post-compression shuffle bytes of every\n"
            "stage that ran) and `cpu_s` (executor CPU) come from the stage store.\n"
            "Where a bounded verifier slice is empty at sf0.1 (near_dup_pairs,\n"
            "split_leakage_pairs, dedup_components), AQE's empty-relation\n"
            "propagation erases executed exchanges from the final plan: the PLAN\n"
            "columns read 0 B and `exec write` shows the real movement. 0 B of\n"
            "spill everywhere is the partition-sizing proof;\n"
            "test_shuffle_budget.py pins it at the correctness SF.\n\n"
            "Iterative ops (pagerank/CC/funnel) run their exchanges in query\n"
            "executions the final plan never carries, so they get their own\n"
            "section: one row per checkpoint `instrument.observe` saw — a step the\n"
            "operator named (edges, rounds, seals) or, in parentheses, the function\n"
            "that took an unnamed one — plus a final_plan row for pagerank/CC's\n"
            "ranking plan (the funnel's last seal is itself a checkpoint). Each\n"
            "op's total sums all of its rows.\n\n"
            "The *_exact twins (phash/blockmean) are left out: their 20-bit\n"
            "signatures densify the banded background on purpose, so their\n"
            "candidate pairs grow quadratically with bucket occupancy (r10:\n"
            "blockmean_near_dups_exact moved 26.8x bytes at 10x data), unlike the\n"
            "64-bit production rows (~10x).\n"
        )
        for sf_dir in SF_DIRS:
            f.write(
                f"\n## {sf_dir}\n\n"
                "| query | shuffles | shuffle bytes | shuffle records "
                "| broadcasts | broadcast bytes | scan rows | scan bytes "
                "| spill | exec write | cpu_s |\n"
                "|---|---|---|---|---|---|---|---|---|---|---|\n"
            )
            for name, m in by_sf[sf_dir].items():
                f.write(
                    f"| {name} | {m['n_shuffles']} | {fmt_bytes(m['shuffle_bytes'])} "
                    f"| {m['shuffle_records']} | {m['n_broadcasts']} "
                    f"| {fmt_bytes(m['broadcast_bytes'])} | {m['scan_rows']} "
                    f"| {fmt_bytes(m['scan_bytes'])} | {fmt_bytes(m.get('spill_bytes', 0))} "
                    f"| {fmt_bytes(m['stage_shuffle_write_bytes'])} "
                    f"| {m['cpu_seconds']:.2f} |\n"
                )
        for sf_dir in SF_DIRS:
            f.write(
                f"\n## Iterative ops (per checkpoint action) — {sf_dir}\n\n"
                "| op | step | shuffles | shuffle bytes | shuffle records "
                "| broadcasts | broadcast bytes |\n"
                "|---|---|---|---|---|---|---|\n"
            )
            for name, steps in iter_by_sf[sf_dir].items():
                *rows, st = steps  # stage_totals is last
                for s in rows:
                    f.write(
                        f"| {name} | {s['step']} | {s['n_shuffles']} "
                        f"| {fmt_bytes(s['shuffle_bytes'])} | {s['shuffle_records']} "
                        f"| {s['n_broadcasts']} | {fmt_bytes(s['broadcast_bytes'])} |\n"
                    )
                total = sum(s["shuffle_bytes"] for s in rows)
                f.write(f"| {name} | **total** | — | **{fmt_bytes(total)}** | — | — | — |\n")
                f.write(
                    f"| {name} | **stage layer** | — "
                    f"| **{fmt_bytes(st['stage_shuffle_write_bytes'])} exec write** "
                    f"| {st['stage_shuffle_write_records']} "
                    f"| — | cpu {st['cpu_seconds']:.2f} s |\n"
                )
        f.write(
            "\n## Shuffle-byte growth for 10x data (deterministic scale curve)\n\n"
            "Plan-layer dataSize ratio, falling back to the stage-layer\n"
            "executed-write ratio (marked `*`) when the plan layer reads\n"
            "0 B at either SF (the AQE-empty cases above).\n\n"
            "| query | sf0.01 | sf0.1 | byte ratio |\n|---|---|---|---|\n"
        )

        def growth(sf_dir: str) -> dict[str, tuple[int, int]]:
            """name -> (plan shuffle bytes, stage exec-write bytes)"""
            out = {
                n: (m["shuffle_bytes"], m["stage_shuffle_write_bytes"])
                for n, m in by_sf[sf_dir].items()
            }
            for n, (*rows, st) in iter_by_sf[sf_dir].items():
                out[f"{n} (all rounds)"] = (
                    sum(s["shuffle_bytes"] for s in rows), st["stage_shuffle_write_bytes"]
                )
            return out

        large = growth(SF_DIRS[1])
        for name, (a, sa) in growth(SF_DIRS[0]).items():
            b, sb = large[name]
            if a and b:
                ratio = f"{b / a:.2f}x"
            else:
                a, b = sa, sb
                ratio = f"{b / a:.2f}x\\*" if a else "—"
            f.write(f"| {name} | {fmt_bytes(a)} | {fmt_bytes(b)} | {ratio} |\n")
    print("SHUFFLE.md written")


if __name__ == "__main__":
    main()
