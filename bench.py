#!/usr/bin/env python
"""Benchmark harness: runs the headline registry queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints TWO JSON lines — the rich
per-query/cpu detail first (also written to artifacts/BENCH_LOCAL.json),
then a compact driver-facing summary LAST:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
The driver parses the last line of its 2,000-char stdout tail, so only
the compact line is required to fit (pytest-pinned, see
COMPACT_LINE_BUDGET below).

Each query executes to completion through the noop sink (full plan
runs, nothing serialized to the driver — the standard Spark engine-
throughput measurement) and is timed wall-clock. A warmup query first,
so JVM/codegen startup doesn't pollute q1.

Sections:
- the FROZEN 14-query headline set ("metric"/"value"/"queries") —
  unchanged since round 1 for round-over-round comparability;
- an additive corpus-mining section ("mining_queries" /
  "mining_queries_total_runtime", since round 4) timing the heavy
  operator families the frozen set predates: PMI, incremental dedup,
  sequence packing, SemDeDup, PageRank, and the end-to-end curation
  funnel (curate_corpus at sf0.1 — the flagship composition);
- the corpus-QA audit battery (since round 5), split in r10 into a
  FROZEN 12-query core (AUDIT_CORE — the comparability contract) and a
  deterministic AUDIT_ROTATE_N-per-round slice of the remaining tiers
  (AUDIT_ROTATING_POOL), so the section's cost is bounded while every
  tier still lands in a bench JSON every ~3 rounds.

Every section also carries a `*_cpu_seconds` companion: executor CPU
time per query. Every timing is one call of
``databeats_spark.plans.instrument.profile`` (noop-sink timed region,
stage counters read from marks taken outside it). External VM steal
inflates wall-clock but not CPU time, so CPU ratios are the
round-over-round performance signal; the wall fields remain frozen for
methodology comparability. executorCpuTime counts JVM task-thread CPU
only: a stage feeding Python workers (mapInPandas / Arrow UDFs) shows
in the profile's ``run_seconds`` instead. Every benched query is
lint-proven Python-free on the hot path (tests/test_plan_lint.py).
"""

from __future__ import annotations

import json
import os
import sys

# The grading driver keeps only the LAST 2,000 chars of stdout. Round 8
# shipped no driver-legible benchmark because the single rich JSON line
# grew past that window (~4.6 KB on the driver run) and its HEAD was
# truncated (BENCH_r08.json parsed: null — VERDICT r8 item 1). The fix:
# print the rich per-query/cpu JSON FIRST (and persist it to
# artifacts/BENCH_LOCAL.json), then print LAST a compact summary line
# that always fits the window. tests/test_entry_contract.py pins the
# compact line's worst-case serialized length under this budget so
# growth can never silently re-break the channel.
DRIVER_STDOUT_TAIL = 2000
COMPACT_LINE_BUDGET = 1900

# Keys copied verbatim from the rich dict into the compact driver line:
# headline total + per-query wall (the frozen 14, unchanged since r1),
# per-section cpu totals (the steal-immune signal), mining/audit section
# wall totals, and sf. Per-query mining/audit/cpu detail lives in the
# rich line + committed artifact only — those sections grow every round
# and are exactly what overflowed the r8 line.
_COMPACT_KEYS = (
    "metric", "value", "unit", "queries", "cpu_seconds_total",
    "mining_queries_total_runtime", "mining_cpu_seconds_total",
    "audit_core_total_runtime", "audit_core_cpu_seconds_total",
    "audit_rotating_total_runtime", "audit_rotating_cpu_seconds_total",
    "audit_queries_total_runtime", "audit_cpu_seconds_total",
    # environment-pollution scalars (VERDICT r10 item 2): the r10
    # driver bench shipped a 138 s mining section that was pure VM
    # contention on byte-identical plans, and nothing IN the artifact
    # said so. These two scalars make a poisoned run legible from the
    # compact line alone; the per-section detail lives in the rich
    # line's "env" map.
    "env_steal_pct", "env_load1_max", "sf",
)


def _env_probe() -> dict:
    """Sample /proc/stat cpu ticks + 1-min loadavg. Steal ticks count
    time the hypervisor ran OTHER tenants while this VM was runnable —
    the direct external-contention counter; loadavg catches same-VM
    background processes. Zeros on non-Linux (the fields then read as
    'no pollution observed', which is the honest null)."""
    probe = {"steal": 0, "total": 0, "load1": 0.0}
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        probe["steal"] = vals[7] if len(vals) > 7 else 0
        probe["total"] = sum(vals)
        probe["load1"] = os.getloadavg()[0]
    except (OSError, ValueError, IndexError):
        pass
    return probe


def _env_delta(a: dict, b: dict) -> dict:
    """Steal share of all cpu ticks between two probes, plus the
    loadavg at each edge (load1 is a ~1-min EMA, so start/end bracket
    the section rather than integrate it)."""
    dt = b["total"] - a["total"]
    return {
        "steal_pct": round(100.0 * (b["steal"] - a["steal"]) / dt, 2)
        if dt > 0
        else 0.0,
        "load1_start": round(a["load1"], 2),
        "load1_end": round(b["load1"], 2),
    }


def compact_summary(rich: dict) -> dict:
    """Project the rich bench dict onto the driver-facing compact line."""
    out = {k: rich[k] for k in _COMPACT_KEYS if k in rich}
    out["detail"] = "artifacts/BENCH_LOCAL.json"
    return out


# FROZEN audit core (r10, VERDICT r9 item 3): the 12 heaviest / most
# shape-diverse corpus-QA queries. This tuple is the round-over-round
# comparability contract — membership is pytest-pinned
# (tests/test_entry_contract.py::test_audit_core_is_frozen); new tiers
# go in the ROTATING pool below, never here.
AUDIT_CORE = (
    "near_dup_threshold_sweep",   # banded candidate sweep
    "split_leakage_pairs",        # cross-split MinHash join
    "dup_cluster_sizes",          # iterative CC closure
    "token_budget_allocation",    # prefix-sum budget pack
    "corpus_summary_cube",        # CUBE rollup
    "bpe_fertility_by_lang",      # runs BPE training
    "hits_copurchase",            # exact-integer HITS rounds
    "source_kmv_sketch",          # mergeable KMV sketch (100 TB posture)
    "markov_removal_attribution", # Cramer-determinant wide codegen
    "robust_spend_stats",         # distributed prefix-sum order stats
    "basket_lift_rules",          # pair-rule mining
    "bm25_topk",                  # lexical retrieval scoring
)

# Rotating pool: every other audited tier. A deterministic slice of
# AUDIT_ROTATE_N per round (keyed by the committed CORRECTNESS_r*.json
# count — advances exactly once per driver round, reproducible locally)
# so each tier's sf0.1 wall cost lands in a bench JSON every
# ceil(len(pool)/N) rounds (~5 at the r10 pool size) without the
# section growing unboundedly; test_entry_contract pins full coverage
# over any such window.
AUDIT_ROTATING_POOL = (
    "lexical_diversity", "canonical_best_docs", "fluency_buckets",
    "cms_heavy_hitters", "dedup_upsample_weights",
    "normalized_dedup_delta", "zorder_locality_audit",
    "mann_whitney_effect", "holt_winters_forecast", "cusum_changepoint",
    "poisson_bootstrap_ci", "kaplan_meier_retention",
    "bm25_ranking_quality", "ks_two_sample",
    "vocab_contribution_by_source", "quantile_treatment_effect",
    "sequential_test_daily", "boilerplate_prefix_audit",
    # perceptual tier (VERDICT r9 item 7 — tracked like every other).
    # The *_exact twins stay OUT: their 20-bit densified signatures are
    # correctness artifacts whose banded candidates grow quadratically
    # by design (see scripts/shuffle_audit.py note) — the sf0.01
    # correctness gate is where they run.
    "phash_near_dups", "blockmean_near_dups",
    # r10 session-3 tiers (new tiers go in the POOL, never the core)
    "stupid_backoff_logprob", "term_burstiness",
    "jackknife_ratio_ci", "eb_shrunk_source_rates", "adamic_adar_links",
    "good_turing_mass", "daily_count_overdispersion",
    "dsir_importance_weights", "wilson_return_ranking",
    "cvm_two_sample", "sprt_evalue_monitor", "brier_decomposition",
    "lpa_communities", "source_lang_mi",
    # r11 tiers (new tiers go in the POOL, never the core)
    "contamination_scorecard", "bh_fdr_discoveries",
    "permutation_null_effect", "heaps_exponent_by_source",
    "isotonic_calibration", "minhash_estimate_audit", "rake_keyphrases",
    # r12 capstone (VERDICT r11 item 7)
    "dedup_sensitivity_curve",
    # r13 additions (new tiers go in the POOL, never the core)
    "dedup_sensitivity_delta", "lsh_parameter_audit",
)
AUDIT_ROTATE_N = 8

# pin headline execution order to the round-1 sequence: registry
# collection order changes round to round (driver-verification
# priority), but JVM/JIT warm-up makes early slots slower, so a stable
# order is required for round-over-round per-query comparability
_R1_ORDER = [
    "pricing_summary", "filter_project", "top_customers", "revenue_by_nation",
    "weekly_chart_streak", "sessionization", "asof_purchase_value",
    "dedup_exact_docs", "text_stats", "near_dup_pairs", "cosine_topk",
    "minhash_near_dups", "top_terms", "rolling_7d_spend",
]


def rotating_audit() -> list[str]:
    """The deterministic per-round slice of the rotating audit pool."""
    import glob

    repo = os.path.dirname(os.path.abspath(__file__))
    rnd = len(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    pool = sorted(AUDIT_ROTATING_POOL)
    start = (rnd * AUDIT_ROTATE_N) % len(pool)
    return [pool[(start + i) % len(pool)] for i in range(min(AUDIT_ROTATE_N, len(pool)))]


def _total_parquet_bytes(sf_dir: str) -> int:
    """Total on-disk input size — the axis BOTH session policies
    (partition count, adaptive execution) are sized against."""
    return sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )


def shuffle_partitions_for(sf_dir: str) -> int:
    """Size shuffle partitions to the data, not a constant: ~32 MB of
    input per partition, clamped to [4, 2×cores]. At sf0.1 (~50 MB)
    that is 4 partitions; at 100 TB the same rule gives thousands, and
    AQE coalescing trims the remainder. The floor history: 32 was pure
    task-scheduling overhead (r4: 16.5s → 10.6s at floor 8), and with
    AQE now off at tiny inputs the floor-8 tasks stopped being
    coalesced away — the r12 cpu regression (6.8 → 8.6 cpu-s). A/B at
    sf0.1 (interleaved 8/4/2, min-of-3 per query, r13): floor 4 beats
    8 on BOTH channels (cpu 6.5 vs 8.0 s, wall 8.9 vs 10.5 s at
    matched steal) while floor 2 trades wall for cpu (scan-parallel
    queries serialize: pricing_summary 1.73s vs 1.06s). Above the
    ~512 MB adaptive_for threshold the formula's data term exceeds any
    small floor, so this only shapes the no-AQE tiny-input regime."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    return max(4, min(2 * cores, _total_parquet_bytes(sf_dir) // (32 << 20) + 1))


def adaptive_for(sf_dir: str) -> bool:
    """Size the adaptive-execution policy to the data, exactly like
    shuffle_partitions_for sizes partitions: below ~512 MB of total
    input there is nothing for runtime re-planning to improve (largest
    shuffle ~10s of MB — no skew worth splitting, partitions already
    sized), while each AQE query-stage materialization is a separate
    driver job round-trip. Measured at sf0.1: AQE on = 75 jobs / 140
    stages for the headline 14, off = 37 / 85, ~3-5 s of pure
    scheduling wall on byte-identical movement (r12, VERDICT r11 item
    1). At any real deployment size this returns True and the full
    AQE posture (coalescing, skew-join splitting) applies unchanged."""
    return _total_parquet_bytes(sf_dir) >= (512 << 20)


# additive corpus-mining / curation section (round 4+), appended in
# landing order so earlier rows compare like-for-like per query
_MINING = (
    "bigram_pmi", "incremental_corpus_dups", "sequence_packing",
    "semdedup_near_dups", "pagerank_docs", "curation_funnel",
    "span_dedup_docs", "oov_rate", "substring_dup_spans",
    "substring_dup_spans_packed",
)


def rich_summary(
    sections: dict[str, dict[str, dict]],
    env_marks: list[tuple[str, dict]],
    pagerank_rounds: list[float],
    sf_dir: str,
) -> dict:
    """Assemble the rich bench dict from per-section profile records
    (``{section: {query: instrument.profile record}}`` for the
    headline, mining, audit_core and audit_rotating sections), the
    environment probes taken after each section, and pagerank's
    per-round walls. Spark-free, so its key set is pytest-pinned."""
    wall = {s: {n: r["wall_s"] for n, r in recs.items()} for s, recs in sections.items()}
    cpu = {s: {n: r["cpu_seconds"] for n, r in recs.items()} for s, recs in sections.items()}

    def total(d: dict) -> float:
        return round(sum(d.values()), 4)

    # per-section + overall contention readout: high steal or load1 >>
    # the bench's own parallelism with FLAT cpu_seconds means the wall
    # numbers are contention-polluted, not a plan regression
    env = {cur[0]: _env_delta(prev[1], cur[1]) for prev, cur in zip(env_marks, env_marks[1:])}
    env["overall"] = _env_delta(env_marks[0][1], env_marks[-1][1])
    audit = {**wall["audit_core"], **wall["audit_rotating"]}
    audit_cpu = {**cpu["audit_core"], **cpu["audit_rotating"]}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline_queries_total_runtime",
        "value": total(wall["headline"]),
        "unit": "sec",
        "queries": wall["headline"],
        "queries_cpu_seconds": cpu["headline"],
        # driver-side scheduling cost per headline query (rich line
        # only): job count is a plan property, steal-immune like bytes
        "queries_jobs": {n: r["n_jobs"] for n, r in sections["headline"].items()},
        # generated classes the last rep compiled (rich line only): 0
        # once the first rep filled the cache, unless a whole-stage-
        # codegen'd LIMIT renames its source per plan
        "queries_codegen_compiles": {
            n: r["n_codegen_compiles"] for n, r in sections["headline"].items()
        },
        "cpu_seconds_total": total(cpu["headline"]),
        "mining_queries_total_runtime": total(wall["mining"]),
        "mining_queries": wall["mining"],
        "mining_queries_cpu_seconds": cpu["mining"],
        "mining_cpu_seconds_total": total(cpu["mining"]),
        "pagerank_rounds": pagerank_rounds,
        # compare audit_core_* round-over-round; audit_rotating_* varies
        # by design, and the combined audit_* keys (core + this round's
        # rotation) continue the r5-r9 records
        "audit_core_total_runtime": total(wall["audit_core"]),
        "audit_core_queries": wall["audit_core"],
        "audit_core_queries_cpu_seconds": cpu["audit_core"],
        "audit_core_cpu_seconds_total": total(cpu["audit_core"]),
        "audit_rotating_total_runtime": total(wall["audit_rotating"]),
        "audit_rotating_queries": wall["audit_rotating"],
        "audit_rotating_queries_cpu_seconds": cpu["audit_rotating"],
        "audit_rotating_cpu_seconds_total": total(cpu["audit_rotating"]),
        "audit_queries_total_runtime": total(audit),
        "audit_queries": audit,
        "audit_queries_cpu_seconds": audit_cpu,
        "audit_cpu_seconds_total": total(audit_cpu),
        "env": env,
        "env_steal_pct": env["overall"]["steal_pct"],
        "env_load1_max": round(max(m[1]["load1"] for m in env_marks), 2),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from databeats_spark.plans.instrument import observe, profile
    from databeats_spark.registry import bench_queries
    from databeats_spark.registry import queries as all_queries
    from databeats_spark.registry.mining import _pagerank_docs
    from databeats_spark.session import get_spark

    spark = get_spark(
        app_name="databeats_bench",
        shuffle_partitions=shuffle_partitions_for(sf_dir),
        adaptive=adaptive_for(sf_dir),
    )

    qs = bench_queries()
    headline = [n for n in _R1_ORDER if n in qs] + [n for n in qs if n not in _R1_ORDER]
    # warmup: touch every table + JIT the scan path
    qs[headline[0]](spark, sf_dir).limit(1).collect()

    # pagerank_docs builds under an observer: its round_* steps carry
    # the per-round walls — uniform inflation on a driver run means
    # external CPU steal, a single slow round means a plan problem
    builds = dict(all_queries())
    pagerank_runs = []

    def pagerank_observed(s, d):
        with observe() as taken:
            pagerank_runs.append(taken)
            return _pagerank_docs(s, d)

    builds["pagerank_docs"] = pagerank_observed

    # headline: best of 3 (the first run pays whole-stage-codegen
    # compilation; min-of-3 rejects GC/scheduler spikes). The other
    # sections run once: several are iterative ops whose first-run cost
    # IS the production cost, and a re-run mostly re-measures caches.
    plan = (
        ("headline", headline, 3),
        ("mining", _MINING, 1),
        ("audit_core", AUDIT_CORE, 1),
        ("audit_rotating", rotating_audit(), 1),
    )
    env_marks = [("start", _env_probe())]
    sections: dict[str, dict[str, dict]] = {}
    for section, names, reps in plan:
        sections[section] = {
            n: profile(spark, lambda b=builds[n]: b(spark, sf_dir), reps) for n in names
        }
        env_marks.append((section, _env_probe()))
    rounds = [
        r["wall_s"] for r in pagerank_runs[-1].steps() if r["step"].startswith("round_")
    ]
    out = rich_summary(sections, env_marks, rounds, sf_dir)

    # rich line first: head-truncated in the driver's stdout tail but
    # fully recoverable from artifacts/BENCH_LOCAL.json (gitignored —
    # every run overwrites it; reference samples worth keeping are
    # copied to artifacts/bench_samples/ and committed explicitly)
    rich_line = json.dumps(out)
    print(rich_line)
    try:
        repo = os.path.dirname(os.path.abspath(__file__))
        os.makedirs(os.path.join(repo, "artifacts"), exist_ok=True)
        with open(os.path.join(repo, "artifacts", "BENCH_LOCAL.json"), "w") as f:
            f.write(rich_line + "\n")
    except OSError:
        pass  # a read-only checkout must not sink the bench itself
    # compact driver-facing line LAST — this is the line the driver
    # parses; its worst-case length is pytest-pinned < COMPACT_LINE_BUDGET
    print(json.dumps(compact_summary(out)))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
