"""Each query fragment used by two builders, two oracles, or a builder
and a streaming serve path has ONE definition per engine side: one
Spark helper every site calls and one SQL rendering every oracle
embeds. A hand copy at any site fails here."""

from __future__ import annotations

import sys

import pytest

from databeats_spark.registry import oracle_sql, queries
from tests.conftest import SF_SMOKE


def _chart_serve(spark, tmp):
    from databeats_spark.sources.tables import load_tables
    from databeats_spark.streaming.chart import chart_streaks_from_state, weekly_state_sink

    state = str(tmp / "chart_state")
    weekly_state_sink(state)(load_tables(spark, SF_SMOKE, ["events"]).events, 0)
    chart_streaks_from_state(spark, state)


def _sprt_serve(spark, tmp):
    from databeats_spark.sources.tables import load_tables
    from databeats_spark.streaming.monitor import sprt_daily_state, sprt_monitor_from_state

    sprt_monitor_from_state(sprt_daily_state(load_tables(spark, SF_SMOKE, ["events"]).events))


def _sql(module: str, name: str, *args) -> str:
    __import__(module)
    frag = getattr(sys.modules[module], name)
    return frag(*args) if args or callable(frag) else frag


_EVENTS, _DOCS = "databeats_spark.registry.events", "databeats_spark.registry.documents"
_AUDITS, _MINING = "databeats_spark.registry.audits", "databeats_spark.registry.mining"

# family -> (Spark helper (module, name) or None, Spark sites (registry
# query names or serve callables), [(SQL fragment, oracle names)])
FAMILIES = {
    "arm_ecdf": (
        (_EVENTS, "_arm_ecdf"),
        ["quantile_treatment_effect", "ks_two_sample", "cvm_two_sample"],
        [(lambda: _sql(_EVENTS, "_ARM_ECDF_CTES"),
          ["quantile_treatment_effect", "ks_two_sample", "cvm_two_sample"])],
    ),
    "session_ids": (
        (_EVENTS, "_session_ids"),
        ["sessionization", "session_transcripts", "peak_concurrency", "markov_removal_attribution"],
        [(lambda: _sql(_EVENTS, "_SESSION_CTES"),
          ["sessionization", "session_transcripts", "peak_concurrency",
           "markov_removal_attribution"])],
    ),
    "near_dup_closure": (
        (_DOCS, "_closure_components"),
        ["dedup_components", "canonical_docs", "canonical_best_docs", "takedown_blast_radius"],
        [(lambda: _sql(_DOCS, "_CLOSURE_CTES"),
          ["dedup_components", "canonical_docs", "canonical_best_docs", "takedown_blast_radius"])],
    ),
    "shingle_pairs": (
        None,
        [],
        [
            (lambda: _sql(_DOCS, "_pairs_ctes", _sql(_DOCS, "PAIR_DOC_LIMIT")),
             ["near_dup_pairs"]),
            (lambda: _sql(_DOCS, "_pairs_ctes", _sql(_AUDITS, "DUP_HIST_DOC_LIMIT")),
             ["dup_cluster_sizes"]),
            (lambda: _sql(_DOCS, "_shingle_ctes", _sql(_DOCS, "PAIR_DOC_LIMIT")),
             ["dedup_sensitivity_delta"]),
            (lambda: _sql(_DOCS, "_shingle_ctes", _sql(_MINING, "CONTAIN_DOC_LIMIT")),
             ["containment_pairs"]),
            (lambda: _sql(_DOCS, "_shingle_ctes", _sql(_MINING, "INC_LIMIT")),
             ["incremental_corpus_dups"]),
        ],
    ),
    "chart_streak": (
        ("databeats_spark.operators.charts", "chart_streaks"),
        ["weekly_chart_streak", _chart_serve],
        [],
    ),
    "sprt_readout": (
        (_EVENTS, "sprt_readout"),
        ["sprt_evalue_monitor", _sprt_serve],
        [],
    ),
    "lang_scored": (
        (_DOCS, "_lang_scored"),
        ["lang_id_calibration", "brier_decomposition", "isotonic_calibration"],
        [
            (lambda: _sql(_DOCS, "_lang_scored_ctes"),
             ["lang_id_calibration", "brier_decomposition", "isotonic_calibration"]),
            (lambda: _sql(_DOCS, "_CALIB_BINNED_CTE"),
             ["lang_id_calibration", "isotonic_calibration"]),
        ],
    ),
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_copy_sites_call_the_shared_fragment(spark, monkeypatch, tmp_path, family):
    helper, sites, sql = FAMILIES[family]
    oracles = oracle_sql()
    for fragment, names in sql:
        text = fragment()
        for name in names:
            assert text in oracles[name], f"{name}'s oracle does not embed the shared {family} CTEs"
    if helper is None:
        return
    module, name = helper
    __import__(module)
    original = getattr(sys.modules[module], name)
    calls = []

    def spy(*args, **kwargs):
        calls.append(1)
        return original(*args, **kwargs)

    # every module holding the helper by name (a top-level import
    # binds a second reference; lazy imports read the defining module)
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("databeats_spark")
                and getattr(mod, name, None) is original):
            monkeypatch.setattr(mod, name, spy)
    q = queries()
    for site in sites:
        calls.clear()
        if isinstance(site, str):
            q[site](spark, SF_SMOKE)
        else:
            site(spark, tmp_path)
        label = site if isinstance(site, str) else site.__name__
        assert calls == [1], f"{label} called {name} {len(calls)} times, expected once"
