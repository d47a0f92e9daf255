"""The benchmark's own tests: tiny-input smoke runs of both workloads,
fault injection, and the pure helpers.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the root of a checkout. Each smoke run starts a JVM, so the
file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        capture_output=True, text=True, cwd=cwd, timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    r = _result(_run(workload, trace))
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in r["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    assert all(isinstance(v["value"], (int, float)) for v in r["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in r["metrics"].values())


@pytest.mark.parametrize("workload,step,attempted", [
    ("dashboard_loop", "pricing_summary", 14),
    ("dashboard_loop", "minhash_near_dups", 14),
    ("weekly_refresh", "top_tracks", 1),
    ("weekly_refresh", "chart_stream", 1),
    ("weekly_refresh", "snapshot", 1),
])
def test_a_wrong_result_is_a_failed_op(workload, step, attempted):
    r = _result(_run(workload, 0, "--corrupt", step))
    assert r["attempted"] == attempted
    assert r["failed"] == 1 and r["correct"] is False
    assert r["metrics"]["ok_op_share"]["value"] == pytest.approx((attempted - 1) / attempted)


def test_without_the_program_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard_loop", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, cwd=tmp_path, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_tail_percentile_keeps_ten_samples_above():
    from run import tail_percentile

    lat = [float(i) for i in range(1, 29)]
    value, pct = tail_percentile(lat)
    assert value == 18.0 and sum(x > value for x in lat) == 10 and pct == pytest.approx(64.3)
    assert tail_percentile([1.0, 3.0, 2.0]) == (3.0, 100.0)


def test_self_time_subtracts_children():
    from probes import Tracer

    tr = Tracer(True)
    tr.spans = [
        {"id": 0, "name": "registry.build", "parent": None, "op": "a", "start": 0.0, "end": 2.0},
        {"id": 1, "name": "sources.load", "parent": 0, "op": "a", "start": 0.5, "end": 1.0},
        {"id": 2, "name": "exec", "parent": None, "op": "a", "start": 2.0, "end": 9.0, "fn_s": 5.0},
    ]
    assert tr.total("registry.build") == pytest.approx(1.5)
    assert tr.total("sources.load") == pytest.approx(0.5)
    assert tr.total("exec") == pytest.approx(5.0)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_vectorized_chart_matches_the_reference_replica(seed):
    from tests.spotify_fixtures import gen_spotify, reference_week_on_chart
    from weekly import week_on_chart

    tracks, *_ = gen_spotify(n_artists=80, n_albums=200, n_tracks=408, n_weeks=4, seed=seed)
    tracks = tracks[tracks["popularity"] != 0].drop_duplicates(["track_id", "timestamp"])
    ref = reference_week_on_chart(tracks, "track_id", k=50)
    assert week_on_chart(tracks, "track_id", k=50).to_dict() == dict(zip(ref["track_id"], ref["chart"]))


def test_generators_are_pure_functions_of_the_seed(tmp_path):
    from gen import make_tables

    a, b, c = (make_tables(str(tmp_path / d), s, sf=0.001) for d, s in (("a", 5), ("b", 5), ("c", 6)))
    for t in ("lineitem", "documents", "embeddings"):
        pa_ = tmp_path / "a" / f"{t}.parquet" / "part-00000.parquet"
        pb_ = tmp_path / "b" / f"{t}.parquet" / "part-00000.parquet"
        assert pa_.read_bytes() == pb_.read_bytes()
    assert a == b and a != c
