"""Query registry — the driver-facing inventory of implemented operators.

Each :class:`QuerySpec` pairs a Spark DataFrame builder with the
equivalent ANSI-SQL oracle string (run by DuckDB over the same parquet)
so the two can never drift apart. Specs without an oracle are
non-SQL-expressible (LSH/approximate ops) and get a rows-only check.

Oracle-parity rules used throughout (see tests/test_differential.py):
- money/value aggregation happens in DECIMAL(18,2) on BOTH engines —
  exact arithmetic, so results are bit-identical regardless of
  summation order (float sums are engine- and partition-order-
  dependent);
- every count / row_number is cast to BIGINT on both sides (DuckDB
  sum(BIGINT) is HUGEINT, Spark row_number is INT — both normalized);
- every ranking has a total-order tie-break;
- ratio-valued doubles are rounded to 6 decimals on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


class QuerySpec:
    """A registry entry: Spark builder + DuckDB oracle.

    ``oracle`` may be passed as a string OR a zero-arg callable returning
    the string; callables are resolved (and cached) on first access, so
    heavy oracle-text construction (numpy plane literals, unrolled
    10-round CTE chains) is paid only when the differential harness
    actually needs the SQL — not on every registry import (ADVICE r7).
    Consumers keep reading ``spec.oracle`` as ``str | None``.
    """

    __slots__ = ("name", "doc", "build", "_oracle", "bench", "tags")

    def __init__(
        self,
        name: str,
        doc: str,
        build: Callable[[SparkSession, str], DataFrame],
        oracle: str | Callable[[], str] | None = None,
        bench: bool = False,
        tags: tuple[str, ...] = (),
    ) -> None:
        self.name = name
        self.doc = doc
        self.build = build
        self._oracle = oracle
        self.bench = bench
        self.tags = tuple(tags)

    @property
    def oracle(self) -> str | None:
        if callable(self._oracle):
            self._oracle = self._oracle()
        return self._oracle

    @property
    def has_oracle(self) -> bool:
        """Oracle presence without forcing a lazy oracle to build."""
        return self._oracle is not None

    def __repr__(self) -> str:  # keep dataclass-era debuggability
        return f"QuerySpec(name={self.name!r}, bench={self.bench}, tags={self.tags})"


# The driver's CORRECTNESS gate checks ``registry()[:50]`` only, so the
# front-50 is curated each round by scripts/rotation_report.py: every
# query that has never earned a CLEAN driver row (errors/mismatches
# re-enter until green; oracle-carrying before rows-only) ahead of the
# bench headliners, with already-verified queries last (their green
# rows from prior rounds stay on record). Round-4 window = the 14
# round-3 queries that landed after the r3 window froze (never
# driver-verified: 12 oracle-carrying + curation_funnel/bpe_merges
# rows-only), then the bench headliners, then the oldest-verified
# overflow. Queries added during round 4 are appended to the FRONT of
# this tuple as they land (they are the only ones with no driver row),
# displacing the tail overflow.
# Regenerate with ``python scripts/rotation_report.py``.
_WINDOW = (
    # Mirrors scripts/rotation_report.py's recommended front-50 exactly.
    # — r15 CHANGED_QUERIES re-certs (per-step sink wall_s):
    "curation_funnel_exact",
    "curation_funnel",
    "dedup_components",
    "pagerank_docs",
    "pagerank_docs_exact",
    # — age-4 certifying twin (forced):
    "blockmean_near_dups_exact",
    # — oldest greens, report order:
    "minhash_near_dups",
    "price_quantiles",
    "order_gaps",
    "session_windows",
    "approx_price_quantiles",
    "range_attribution",
    "daily_from_hourly_rollup",
    "user_value_ranks",
    "user_funnel_summary",
    "weekly_resample",
    "hourly_event_stats",
    "event_type_pivot",
    "deterministic_sample",
    "stratified_sample",
    "doc_fingerprints",
    "lang_id",
    "posexplode_tokens",
    "multimodal_bytes",
    "tf_idf_terms",
    "bpe_token_stats",
    "bpe_merges",
    "bpe_segmentation",
    "ann_recall_audit",
    "embedding_isotropy_audit",
    "semantic_decontam",
    "stratified_effect",
    "time_weighted_value",
    "srm_daily_check",
    "did_experiment_effect",
    "cuped_experiment_effect",
    "session_transcripts",
    "lang_label_noise",
    "lang_id_kappa",
    "zorder_locality_audit",
    "bloom_incremental_dedup",
    "bpe_fertility_by_lang",
    "cusum_changepoint",
    "dow_seasonal_decompose",
    "theil_sen_trend",
    "holt_winters_forecast",
    "holt_linear_forecast",
    "js_source_drift",
    "chao1_vocab_richness",
    "k_eidetic_histogram",
)

# Queries whose BUILDER or ORACLE changed this round (reset to () at
# round start, add entries as changes land): the rotation report
# forces these into its recommended front-50 and
# tests/test_rotation_ledger.py fails when one sits outside the live
# window — the "changed query re-certifies" precedent (markov/lang_id
# in r10, jackknife in r11), mechanical instead of CLAUDE.md prose the
# report "cannot see".
CHANGED_QUERIES: tuple[str, ...] = (
    # metrics_sink rows carry each step's wall_s, pagerank's per-round
    # timing included (operators/graph.py, registry/mining.py,
    # plans/curation.py)
    "pagerank_docs",
    "pagerank_docs_exact",
    "dedup_components",
    "curation_funnel",
    "curation_funnel_exact",
)

# The driver gate only sees the first _GATE_WIDTH entries; anything past
# that silently gets no driver coverage (the r6 window quietly grew to
# 56 and left 6 entries unchecked — ADVICE r6). _collect() trims to the
# gate width and a test pins len(_WINDOW) == _GATE_WIDTH so overflow is
# a loud failure, not a comment.
_GATE_WIDTH = 50


def _collect() -> list[QuerySpec]:
    """Collect specs with the curated driver-verification window first."""
    from databeats_spark.registry import (
        attribution, audits, basket, corpus, curation, decision, documents,
        events, extended, frames, inference, lifecycle, linkage, mining,
        modern, relational, retrieval, shapes, signals, vectors,
    )

    all_specs: list[QuerySpec] = []
    for mod in (extended, frames, vectors, relational, events, documents, shapes,
                curation, modern, decision, mining, signals, corpus, lifecycle,
                audits, linkage, retrieval, inference, basket, attribution):
        all_specs.extend(mod.SPECS)
    # Explicit raises, not asserts: these guard the driver gate's
    # coverage and must survive ``python -O`` (ADVICE r7).
    names = [s.name for s in all_specs]
    if len(names) != len(set(names)):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise AssertionError(f"duplicate query names: {dupes}")
    if len(_WINDOW) != _GATE_WIDTH:
        raise AssertionError(
            f"_WINDOW has {len(_WINDOW)} entries but the driver gate checks "
            f"registry()[:{_GATE_WIDTH}] — when prepending, drop an equal "
            f"number from the already-reverified tail"
        )
    by_name = {s.name: s for s in all_specs}
    missing = [n for n in _WINDOW if n not in by_name]
    if missing:
        raise AssertionError(f"window names not in registry: {missing}")
    front = [by_name[n] for n in _WINDOW]
    in_front = set(_WINDOW)
    return front + [s for s in all_specs if s.name not in in_front]


_REGISTRY: list[QuerySpec] | None = None


def registry() -> list[QuerySpec]:
    global _REGISTRY
    if _REGISTRY is None:
        _REGISTRY = _collect()
    return _REGISTRY


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {s.name: s.build for s in registry()}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in registry() if s.has_oracle}


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {s.name: s.build for s in registry() if s.bench}


def certifying_twins() -> dict[str, str]:
    """rows-only approximate tier -> its ``*_exact`` certifying twin.

    The production approximate tiers (MinHash/SimHash/SemDeDup/LSH/IVF/
    HLL/KLL/pHash/blockmean/PageRank/curation funnel) can never be
    hash-certified against DuckDB — the approximation IS the
    difference — so each carries an exact twin running the SAME
    pipeline arithmetic with an engine-shared deterministic substitute
    (CLAUDE.md oracle-twin recipe). The twin's hash-green is the tier's
    correctness certificate, which means the twin's driver-verification
    AGE is the tier's certificate age: the rotation report treats a
    stale twin like a stale bench headliner (VERDICT r11 item 3), so a
    certified tier can never carry a silently old certificate.
    Mechanically derived (tier has no oracle, ``<tier>_exact`` exists);
    tests/test_rotation_ledger.py pins that EVERY rows-only registry
    query has a twin here and every twin is oracle-carrying.
    """
    specs = {s.name: s for s in registry()}
    return {
        n: n + "_exact"
        for n, s in specs.items()
        if not s.has_oracle and n + "_exact" in specs
    }
