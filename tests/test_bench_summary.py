"""bench.rich_summary without Spark: fake profile records in, the rich
dict's key set out — pinned against a committed bench sample so the
artifact schema cannot drift when the timing loops change."""

from __future__ import annotations

import json
import os

import bench

_SAMPLE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "artifacts", "bench_samples", "BENCH_LOCAL_r14_after2_sample.json",
)


def _record(i: int) -> dict:
    return {
        "wall_s": 1.0 + i, "cpu_seconds": 0.5 + i, "run_seconds": 2.0 + i,
        "n_jobs": 3 + i, "n_stages": 5, "n_tasks": 9,
        "stage_shuffle_write_bytes": 100, "stage_shuffle_write_records": 7,
        "stage_spill_bytes": 0,
    }


def _fake_rich() -> dict:
    sections = {
        "headline": {n: _record(i) for i, n in enumerate(bench._R1_ORDER)},
        "mining": {n: _record(i) for i, n in enumerate(bench._MINING)},
        "audit_core": {n: _record(i) for i, n in enumerate(bench.AUDIT_CORE)},
        "audit_rotating": {n: _record(i) for i, n in enumerate(bench.rotating_audit())},
    }
    probe = {"steal": 0, "total": 0, "load1": 0.5}
    env_marks = [("start", probe)] + [
        (s, {"steal": k, "total": 100 * k, "load1": 1.0 + k})
        for k, s in enumerate(sections, start=1)
    ]
    return bench.rich_summary(sections, env_marks, [0.25, 0.5], "/data/sf0.1/")


def test_rich_summary_matches_committed_schema():
    with open(_SAMPLE) as f:
        sample = json.load(f)
    rich = _fake_rich()
    assert list(rich) == list(sample)
    assert list(rich["env"]) == list(sample["env"])
    assert rich["queries_jobs"]["pricing_summary"] == 3
    assert rich["value"] == round(sum(rich["queries"].values()), 4)
    assert rich["audit_queries"] == {
        **rich["audit_core_queries"], **rich["audit_rotating_queries"]
    }
    assert rich["pagerank_rounds"] == [0.25, 0.5]
    assert rich["env"]["overall"]["steal_pct"] == 1.0
    assert rich["env_load1_max"] == 5.0
    assert rich["sf"] == 0.1


def test_compact_summary_of_rich_summary_fits_budget():
    compact = bench.compact_summary(_fake_rich())
    assert len(json.dumps(compact)) < bench.COMPACT_LINE_BUDGET
    assert set(compact["queries"]) == set(bench._R1_ORDER)
