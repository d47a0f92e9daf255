"""Steal-proof scale regressions: DATA MOVED per query, not seconds.

Wall-clock on this VM swings ±25% with external steal (README variance
note); the bytes a plan shuffles do not. These budgets carry 4-10x
headroom over the measured values (SHUFFLE.md) — they only trip on the
order-of-magnitude failure modes: a broadcast star join regressing to
sort-merge (fact table starts shuffling megabytes), a partial
aggregation regressing to a full-row shuffle, a lost pushdown
inflating the scan.
"""

from __future__ import annotations

import pytest

from databeats_spark.plans.instrument import execution_metrics
from databeats_spark.registry import queries
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def metrics(spark):
    reg = queries()

    def run(name: str) -> dict[str, int]:
        return execution_metrics(reg[name](spark, SF_CORRECT))

    return run


def test_pricing_summary_aggregates_map_side(metrics):
    m = metrics("pricing_summary")
    # partial agg shuffles only per-partition subtotals (~1.8 KB
    # measured); a full-row shuffle of the 60k-row fact would be MBs
    assert m["shuffle_bytes"] < 200_000, m
    assert m["scan_rows"] == 60_000, m


def test_revenue_by_nation_star_join_stays_broadcast(metrics):
    m = metrics("revenue_by_nation")
    # every dimension broadcasts (4 exchanges); the only shuffles are
    # the fact-side partial agg + result sort (~810 KB measured). A
    # sort-merge regression shuffles the joined fact rows instead.
    assert m["n_broadcasts"] >= 4, m
    assert m["shuffle_bytes"] < 4_000_000, m


def test_top_customers_is_topk_not_full_sort(metrics):
    m = metrics("top_customers")
    # TakeOrderedAndProject moves per-partition top-k (~82 KB
    # measured); a global sort would move every aggregated customer row
    assert m["shuffle_bytes"] < 1_000_000, m


def test_text_stats_is_single_pass(metrics):
    m = metrics("text_stats")
    # one scan, column expressions, one ordered result exchange
    assert m["n_shuffles"] <= 2, m
    assert m["shuffle_bytes"] < 300_000, m


def test_metrics_are_deterministic(metrics):
    """The premise of SHUFFLE.md: bytes moved are a property of plan +
    data, so two executions of the same query report identical volume
    metrics (unlike wall-clock). Exchange counts, byte sums, record
    counts — all of it."""
    for name in ("pricing_summary", "revenue_by_nation", "substring_dup_spans"):
        a, b = metrics(name), metrics(name)
        assert a == b, (name, a, b)


def test_hashed_anchor_cuts_substring_shuffle(metrics):
    """The scale posture of the substring tier: xxhash64 anchors fix
    the shuffle key at 8 bytes. Measured cut is ~12% at sf0.01 (8.30 vs
    9.41 MB) — bounded by the continuation payload and the verbatim
    anchors' compressibility, which is why this pins DIRECTION plus a
    modest margin, not a naive 3x: a regression that re-inflates the
    key (e.g. hex strings instead of the bigint) lands above 0.97."""
    verbatim = metrics("substring_dup_spans")
    hashed = metrics("substring_dup_spans_hashed")
    assert hashed["shuffle_bytes"] < verbatim["shuffle_bytes"] * 0.97, (
        verbatim,
        hashed,
    )


def test_packed_tail_cuts_substring_shuffle_2x(metrics):
    """r7 VERDICT item 4: the suffix TAIL, not the anchor, dominates
    the SUFFIX shuffle (UnsafeArrayData frames every token with an
    8-byte offset + 8-byte-padded content); packing it into one
    separator-joined string cut the suffix rows 2.68x at sf0.01.
    Since the r14 hot-anchor prefilter, ~91% of suffix rows never
    reach that exchange and BOTH variants share the narrow hot-key
    count shuffle, so the packed advantage on the TOTAL is diluted:
    measured 1.22 vs 1.74 MB at sf0.01 (0.70x). Pin the direction
    with margin — a regression that re-inflates the packed tail (or
    drops the packing) lands above 0.85x — plus the absolute scale of
    the prefiltered total (the unfiltered suffix shuffle was 3.4 MB
    for packed / 9.0 MB verbatim; 2.5 MB trips on losing the filter)."""
    verbatim = metrics("substring_dup_spans")
    packed = metrics("substring_dup_spans_packed")
    assert packed["shuffle_bytes"] <= verbatim["shuffle_bytes"] * 0.85, (
        verbatim,
        packed,
    )
    assert packed["shuffle_bytes"] < 2_500_000, packed
    assert verbatim["shuffle_bytes"] < 4_500_000, verbatim


def test_pagerank_rounds_move_bounded_bytes(spark):
    """The iterative-op extension of the audit (VERDICT r6 item 4):
    pagerank's per-round contribution shuffle moves (node, inflow)
    pairs — kilobytes on this graph — while the one-time LSH edge
    materialization dominates. A round that starts re-executing the
    edge generator (or compounding state) shows up as round bytes on
    the edge step's scale. The LSH pipeline's bytes sit upstream of
    the "edges" step, in the minhash operator's own unnamed pins (the
    shingle set and the scored candidate list), so the
    materialization cost is the edges step plus those observed
    checkpoints — the same record scripts/shuffle_audit.py tables."""
    from databeats_spark.plans.instrument import observe
    from databeats_spark.registry.mining import _pagerank_docs

    with observe() as taken:
        _pagerank_docs(spark, SF_CORRECT)
    rows = taken.steps()
    steps = {s["step"]: s for s in rows}
    assert "edges" in steps and any(k.startswith("round_") for k in steps)
    rounds = [s for k, s in steps.items() if k.startswith("round_")]
    # measured: edges+observed checkpoints ~578 KB total, rounds 1-4 KB
    # each at sf0.01 — order-of-magnitude headroom, trips only on
    # re-execution/compounding
    assert all(r["shuffle_bytes"] < 100_000 for r in rounds), steps
    materialization = steps["edges"]["shuffle_bytes"] + sum(
        s["shuffle_bytes"] for s in rows if s["step"] == "(minhash_near_duplicates)"
    )
    assert materialization > max(
        r["shuffle_bytes"] for r in rounds
    ), "edge materialization must dominate any single round"


def test_funnel_stage_movement_is_bounded(spark):
    """Funnel segments' checkpoint actions each move at most
    corpus-scale bytes (no segment re-shuffles upstream segments'
    work), and the CC label rounds inside near_dup stay near-constant
    round over round. r14: the linear raw → quality → exact_dedup chain
    rides ONE seal (folded observe segments, VERDICT r13 item 1), so
    the observer records one seal for that segment and one per remaining
    stage — 5 stage actions total, pinned from above so a regression
    back to per-stage checkpoint jobs fails loudly."""
    from databeats_spark.plans.curation import curate_corpus
    from databeats_spark.plans.instrument import observe

    counts: dict[str, int] = {}
    with observe() as taken:
        curate_corpus(spark, SF_CORRECT, observe_counts=counts)
    rows = taken.steps()
    by_step = {s["step"]: s for s in rows}
    assert {
        "stage_raw+quality+exact_dedup", "stage_near_dup", "stage_decontam",
        "stage_rebalance", "stage_budget",
    } <= set(by_step)
    stage_rows = [k for k in by_step if k.startswith("stage_")]
    assert len(stage_rows) == 5, by_step  # folded: never one per stage again
    # the folded counts must still cover every stage, in funnel order
    assert list(counts) == [
        "raw", "quality", "exact_dedup", "near_dup", "decontam",
        "rebalance", "budget",
    ], counts
    cc_rounds = [s for k, s in by_step.items() if k.startswith("cc_round_")]
    assert cc_rounds, by_step
    # label rounds move (node, label) pairs: ~4 KB at sf0.001, ~40 KB at
    # sf0.01 measured; 10x headroom
    assert all(r["shuffle_bytes"] < 1_000_000 for r in cc_rounds), by_step
    # no single segment checkpoint moves more than ~20x the head
    # segment (scan spread + quality + exact-dedup window)
    head = by_step["stage_raw+quality+exact_dedup"]["shuffle_bytes"]
    assert all(
        s["shuffle_bytes"] <= max(head * 20, 5_000_000) for s in rows
    ), by_step


def test_no_spill_at_test_scale(metrics):
    """Spill-awareness pin: at the correctness SF every partition fits
    its task's memory share, so sort/aggregate/join/window operators
    spill ZERO bytes. Nonzero spill here means a partition-sizing
    regression (a skewed or collapsed partitioning) that would page to
    disk long before 100 TB."""
    for name in (
        "pricing_summary", "revenue_by_nation", "minhash_near_dups",
        "substring_dup_spans", "canonical_best_docs", "corpus_summary_cube",
    ):
        m = metrics(name)
        assert m["spill_bytes"] == 0, (name, m)


def test_filter_project_scan_prunes_columns(metrics):
    m = metrics("filter_project")
    # pushdown + pruning: the scan reads the pruned lineitem columns
    # (~1 MB of file at sf0.01); losing ReadSchema pruning reads the
    # full ~2.5 MB table. The only shuffle is the ordered result.
    assert m["n_shuffles"] <= 1, m
    assert m["scan_bytes"] < 2_000_000, m


def test_digest_projection_keeps_dedup_audits_slim(metrics):
    """normalized_dedup_delta / dedup_upsample_weights project docs to
    (source, md5 digest[s]) BEFORE their count windows — the shuffles
    carry 32-char hashes, never text. Measured 90/38 KB at sf0.01;
    budgets carry ~5x headroom and trip if the text column ever rides
    a window partition key again."""
    m = metrics("normalized_dedup_delta")
    assert m["shuffle_bytes"] < 500_000, m
    assert m["spill_bytes"] == 0, m
    m = metrics("dedup_upsample_weights")
    assert m["shuffle_bytes"] < 250_000, m
    assert m["spill_bytes"] == 0, m


def test_bm25_is_shuffle_free_scoring(metrics):
    """BM25's whole scoring path is map-side: tf/dl off the token
    array, corpus stats in ONE keyless aggregate (the 56 B / 1 record
    exchange), top-k via TakeOrdered. Any explode+groupBy tf pipeline
    would shuffle the term stream (MBs)."""
    m = metrics("bm25_topk")
    assert m["n_shuffles"] <= 1, m
    assert m["shuffle_bytes"] < 10_000, m


def test_poisson_bootstrap_shuffle_is_catalog_sized(metrics):
    """The one-pass bootstrap's promise: 32x replicate weights combine
    map-side, so the shuffle carries sources x replicates partials
    (~57 KB measured, flat across SFs) — never the replicated corpus."""
    m = metrics("poisson_bootstrap_ci")
    assert m["shuffle_bytes"] < 600_000, m


def test_basket_rules_expand_pairs_map_side(metrics):
    """Pair generation rides the basket array AFTER the collect_set
    aggregate: the shuffles carry (order, brand) partials (~30k
    records measured), never the expanded pair stream — the original
    items-self-join form moved 126k records at this SF and flipped
    broadcast->sort-merge between SFs."""
    m = metrics("basket_lift_rules")
    assert m["shuffle_records"] < 100_000, m
    assert m["spill_bytes"] == 0, m


def test_entity_kcore_scores_edges_once(metrics):
    """VERDICT r8 item 4: the unrolled k-core rounds reference the edge
    subtree ~2R times and exchange reuse does NOT dedupe it (measured:
    254 exchanges / 508 parquet scans / 24 MB broadcast before the fix).
    The edge table is localCheckpoint'ed once; the peel plan must scan
    ZERO parquet (rounds read only the materialized RDD) and broadcast
    only the bounded alive sets (~7.4 MB measured, flat across SF)."""
    m = metrics("entity_kcore")
    assert m["scan_rows"] == 0, m  # parquet read happens in the checkpoint job
    assert m["broadcast_bytes"] < 30_000_000, m
    assert m["shuffle_bytes"] < 4_000_000, m


def test_adamic_adar_pair_expansion_stays_capped(metrics):
    """The degree cap is the whole scale story: uncapped (the initial
    64 cap that never bound) the sf0.01 expansion is ~1.8M pair rows /
    ~10x the bytes. Capped at 24 the measured movement is 4.2 MB /
    136k records — trip well under the uncapped regression."""
    m = metrics("adamic_adar_links")
    assert m["shuffle_bytes"] < 20_000_000, m
    assert m["shuffle_records"] < 700_000, m
    assert m["spill_bytes"] == 0, m


def test_dsir_bucket_tables_broadcast(metrics):
    """DSIR's promise: the raw/target distributions are <=1024-row
    broadcasts, so the corpus never shuffles on the bucket key — only
    map-side partials move (~404 KB at sf0.01). A lost broadcast joins
    the full feature stream instead. r13: BOTH distributions ride ONE
    combined bucket aggregate (c_r + conditional c_t in the same
    map-side combine), so the plan carries exactly 2 broadcast sides
    (bucket table + scalar totals) instead of the former 4 — fewer
    broadcasts for the same promise, pinned from below AND above so a
    regression to per-distribution tables (4+) fails loudly."""
    m = metrics("dsir_importance_weights")
    assert 2 <= m["n_broadcasts"] <= 3, m
    assert m["shuffle_bytes"] < 2_500_000, m


def test_stupid_backoff_vocab_reattaches_stay_small(metrics):
    """The train-side unigram/bigram tables are vocabulary-keyed
    (Heaps-bounded): the measured sf0.01 movement is ~108 KB, with the
    corpus-sized work all map-side. A regression that shuffles the
    held-out pair stream against an unbroadcast vocab moves MBs."""
    m = metrics("stupid_backoff_logprob")
    assert m["shuffle_bytes"] < 5_000_000, m
    assert m["spill_bytes"] == 0, m


def test_cvm_rides_the_distinct_value_table(metrics):
    """CvM shares the KS posture: only distinct-value partials move
    (~17 KB measured at sf0.01), never per-user rows."""
    m = metrics("cvm_two_sample")
    assert m["shuffle_bytes"] < 400_000, m


def test_checkpoint_capture_recovers_hits_round_movement(spark):
    """hits_copurchase's final plan reads ~32 B of shuffle because
    attach_global_scalar's localCheckpoint truncates the lineage of
    the HITS rounds (VERDICT r12 item 5); the capture hook must
    recover the rounds' real movement from the pre-checkpoint plans.
    Upper bound on the blind final plan, lower bound on the folded
    total — both order-of-magnitude, steal-immune."""
    from databeats_spark.plans.instrument import execution_metrics, observe

    reg = queries()
    with observe() as taken:
        m = execution_metrics(reg["hits_copurchase"](spark, SF_CORRECT))
    assert m["shuffle_bytes"] < 10_000, m  # the blind spot, pinned
    assert len(taken) >= 2, "both attach_global_scalar checkpoints"
    folded = dict(m)
    for sm in taken.steps():
        for k in m:
            folded[k] += sm[k]
    # the rounds join edges (~75k rows at sf0.01) repeatedly: MBs of
    # real shuffle and the full orders+lineitem scan come back into
    # view once the pre-checkpoint plans are folded
    assert folded["shuffle_bytes"] > 500_000, folded
    assert folded["scan_rows"] >= 70_000, folded
