#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the flagship
queries with the scale-relevant features annotated. Run after any
planner-visible change: python scripts/dump_plans.py"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FLAGSHIPS = {
    "filter_project": "predicate pushdown + column pruning at the parquet scan",
    "pricing_summary": "partial→final hash aggregation (map-side combine)",
    "revenue_by_nation": "star join: every dimension broadcast, zero sort-merge",
    "weekly_chart_streak": "window composition: per-week top-k + gaps-and-islands streak",
    "asof_purchase_value": "as-of join as union + running-last window (single keyed shuffle)",
    "top_customers": "global top-k as TakeOrderedAndProject (no full sort)",
    "minhash_near_dups": "LSH banding: signature agg → bucket self-join → array-intersect verify",
    "benchmark_decontam": "eval shingle set broadcast: corpus side never shuffles through the join",
    "token_budget_pack": "distributed prefix sum: range partition → subtotal offsets → partitioned window",
    "customer_deciles": "distributed ntile: prefix-sum row_number + integer closed-form bucketing",
    "min_cost_supplier": "Q2 correlated-MIN rewritten as one window rank over the part key",
    "rare_trigram_stats": "trigram DF table broadcast (bounded by charset³); corpus side never shuffles",
    "per_source_quota": "WindowGroupLimit: map-side partial top-K per source before the shuffle",
    "length_band_outliers": "per-language window over the compact (lang, n_chars) histogram",
    "local_supplier_volume": "Q5 six-way join: every dim broadcast, lineitem->orders is the only big shuffle",
    "shipping_priority": "Q3: smallest-side filters first, customer broadcast, one fact shuffle + top-10 TakeOrdered",
    "bigram_pmi": "corpus totals via checkpointed scalar attach; vocab broadcast to the bigram side",
    "incremental_corpus_dups": "old x new candidates only: the shingle join never forms old-old/new-new pairs",
    "span_dedup_docs": "C4 span dedup: first-keep window PARTITIONED BY the span value (key-partitioned, no global sort)",
    "oov_rate": "vocab head via TakeOrderedAndProject, broadcast re-attach; one explode + hash agg on the corpus side",
    "rolling_7d_active_users": "sliding distinct: bounded cover-day explode (blowup = window length) + per-day hash agg",
    "token_budget_allocation": "water-filling: BIGINT capped-prefix test; windows over the limit-bounded source catalog; scalars via checkpointed attach",
    "substring_dup_spans": "anchored suffix sort: hot-anchor prefilter (8-byte key min/max-doc pass keeps the ~9% of positions whose group spans >=2 docs) before the window PARTITIONED BY the 8-token anchor, token-LCP of adjacent cross-doc suffixes",
    "entity_clusters": "record linkage: equality-blocked self-join with levenshtein scored in-stage, star-alternation components, keep-best survivor window",
    "cuped_experiment_effect": "CUPED readout: per-user DECIMAL sums, moment scalars via checkpointed attach, one keyless final aggregate",
    "bpe_fertility_by_lang": "corpus word stream joined ONCE to the Heaps-small vocabulary (AQE broadcast; 440 B shuffled at both SFs)",
    "zorder_locality_audit": "bit-interleave DIV/% polynomial + value-range chunking: two hash aggregates, no global sort",
    "mann_whitney_effect": "rank-sum via distinct-value distributed prefix sum: range partition -> subtotal offsets -> exact BIGINT 2U fold",
    "hits_copurchase": "HITS rounds: static edges checkpointed once per join orientation (hash(p)/hash(u) — LogicalRDD keeps the partitioning, rounds join exchange-free), exact BIGINT scores, top-k behind limits",
    "holt_winters_forecast": "seasonal ordered fold: one hash agg to the daily table, then per-group array fold (no driver loop, no iteration shuffle)",
    "theil_sen_trend": "calendar-bounded pairwise slopes: series-key equi-join (pair count fixed by the calendar, not data volume) + type-7 median",
    "bm25_topk": "shuffle-free BM25: tf/dl off the token array (no explode), one keyless stats aggregate crossJoin, TakeOrderedAndProject top-k",
    "source_kmv_overlap": "mergeable KMV sketches: per-source rank window to k rows, pair-merged rank, exact-Jaccard verifier join in the same plan",
    "kaplan_meier_retention": "KM curve: distributed duration extraction (one customer-keyed window) + one calendar-bounded ordered fold",
    "poisson_bootstrap_ci": "one-pass bootstrap: 32x replicate explode with map-side partial combine; shuffle is catalog-sized (sources x replicates)",
    "basket_lift_rules": "one basket-keyed collect_set shuffle; <=basket^2 pair expansion MAP-SIDE off the sorted array (no self-join); catalog-bounded aggregate",
    "dedup_sensitivity_curve": "threshold ladder as a limit-bounded literal relation (both BNLJ fan-outs lint-proved); dominance dedup = one anti-join per the whole ladder; per-threshold water-filling windows",
    "dedup_sensitivity_delta": "CDC form of the curve: the shingle join REQUIRES a new-side doc (old x old never materializes); pre-ingest baseline rides the same water-filling plan as a sentinel threshold=-1 partition",
    "rake_keyphrases": "RAKE keyphrases: stopword-delimited runs extracted map-side (array boundary math — no per-token window), word stats broadcast, scoring once per DISTINCT phrase (score is a function of (source, phrase))",
}


# Hand-maintained measured-evidence section (preserved across plan
# regeneration because this script rewrites PLANS.md wholesale).
# Refresh the numbers with scripts/scale_curve.py (one
# plans/instrument.py::profile per query and scale factor) and the
# steps plans/instrument.py::observe records for pagerank /
# curate_corpus (per-step wall_s and bytes — bench.py's
# pagerank_rounds reads pagerank_docs' round steps; scripts/curate.py
# prints the funnel's per-segment wall).
SCALE_EVIDENCE = """\
## Measured scale evidence (round 6)

Scale curve for the heavy mining queries — `scripts/scale_curve.py`,
one session, full JIT pass at sf0.001 first, then a single timed run
per query per scale factor (bench.py mining methodology). Data grows
10x between sf0.01 and sf0.1. Measured after the r6 restructures
(pagerank affine-view one-job rounds; connected_components edge-table
checkpoint; host load ~1 at measurement):

| query | sf0.01 s | sf0.1 s | runtime ratio (10x data) |
|---|---|---|---|
| minhash_near_dups | 1.47 | 1.96 | 1.33 |
| semdedup_near_dups | 1.90 | 5.86 | 3.08 |
| pagerank_docs | 3.40 | 4.50 | 1.32 |
| curation_funnel | 5.66 | 8.99 | 1.59 |
| lexical_diversity | 0.70 | 0.99 | 1.42 |
| token_budget_allocation | 0.78 | 0.84 | 1.08 |
| substring_dup_spans (r6) | 0.66 | 1.18 | 1.79 |

Every ratio is far below the 10x data ratio: at these scale factors
the runtimes are dominated by the FIXED round/iteration structure
(LSH band join rounds, CC rounds bounded by cluster diameter, KMeans
iterations, per-stage actions) while the per-row work parallelizes —
exactly the profile the bounded-candidate designs predict. Nothing
re-quadratizes; the pair budget is constant per cluster by
construction, n_lists = n//400. The r6 pagerank rewrite removes the
per-round dangling-mass semi-join entirely (flowing mass = sum of the
contribution aggregate, observed on the same action) and bench.py now
publishes per-round wall seconds (`pagerank_rounds`) so a driver run
carries its own steal-vs-plan diagnosis; at sf0.1 the two power-
iteration rounds cost ~0.3 + 0.5 s of pagerank_docs' total — the rest
is the one-time LSH edge generation. substring_dup_spans (stride-1
anchored suffix sort) scales at 1.79x for 10x data: the suffix table
is corpus-token-sized but every downstream op is key-partitioned.
"""


def main() -> None:
    from databeats_spark.registry import queries
    from databeats_spark.session import get_spark

    spark = get_spark("dump_plans", shuffle_partitions=8)
    q = queries()
    out = [
        "# PLANS — physical plans of the flagship queries",
        "",
        "Generated by `scripts/dump_plans.py` at sf0.01 (plan shapes are",
        "scale-independent; AQE may further coalesce at runtime). The",
        "scale-critical properties asserted in tests/test_plans.py are",
        "annotated per query.",
        "",
        SCALE_EVIDENCE,
    ]
    for name, note in FLAGSHIPS.items():
        df = q[name](spark, "/root/testdata/sf0.01")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"*{note}*", "", "```", buf.getvalue().rstrip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
