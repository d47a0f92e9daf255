"""The measurement core (plans/instrument.py): ``profile`` attributes
exactly the jobs and stages its query created, eager build-time work
included; ``movement`` folds pre-checkpoint plan segments that a plain
``execution_metrics`` walk cannot see; the iterative operators' sink
rows carry per-step wall time without changing the job count."""

from __future__ import annotations

from tests.conftest import SF_CORRECT

from databeats_spark.plans.instrument import (
    execution_metrics,
    movement,
    profile,
    stage_mark,
    stage_work,
)
from databeats_spark.registry import queries

_PLAN_KEYS = (
    "shuffle_bytes", "shuffle_records", "n_shuffles", "broadcast_bytes",
    "n_broadcasts", "scan_rows", "scan_bytes", "spill_bytes",
)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def test_profile_counts_only_work_after_its_mark(spark):
    reg = queries()

    def build():
        return reg["filter_project"](spark, SF_CORRECT)

    _noop(reg["pricing_summary"](spark, SF_CORRECT))
    first = profile(spark, build)
    _noop(reg["pricing_summary"](spark, SF_CORRECT))  # more history in the store
    before = stage_mark(spark)
    second = profile(spark, build, reps=2)
    after = stage_mark(spark)
    # the counters are the query's own: unchanged by earlier queries
    for k in ("n_jobs", "n_stages", "n_tasks"):
        assert first[k] == second[k] > 0, (k, first, second)
    # two reps ran between the outer marks; the record holds one rep
    assert 2 * second["n_jobs"] == after[1] - before[1], (second, before, after)
    assert second["n_jobs"] < before[1]  # never the session's running total
    assert second["wall_s"] > 0 and second["cpu_seconds"] >= 0


def test_profile_counts_eager_build_time_jobs(spark):
    build = queries()["weekly_chart_streak"]
    _noop(build(spark, SF_CORRECT))  # warm: first-touch jobs differ
    mark = stage_mark(spark)
    df = build(spark, SF_CORRECT)
    build_jobs = stage_work(spark, mark)["n_jobs"]
    assert build_jobs >= 1, "weekly_chart_streak runs a job at build time"
    mark = stage_mark(spark)
    _noop(df)
    exec_jobs = stage_work(spark, mark)["n_jobs"]
    rec = profile(spark, lambda: build(spark, SF_CORRECT))
    assert rec["n_jobs"] == build_jobs + exec_jobs, (rec, build_jobs, exec_jobs)


def test_pagerank_sink_rows_carry_wall_and_add_no_jobs(spark):
    from databeats_spark.registry.mining import _pagerank_docs

    _noop(_pagerank_docs(spark, SF_CORRECT))  # warm the shingle cache
    plain = profile(spark, lambda: _pagerank_docs(spark, SF_CORRECT))
    sink: list[dict] = []
    sunk = profile(spark, lambda: _pagerank_docs(spark, SF_CORRECT, metrics_sink=sink))
    assert sunk["n_jobs"] == plain["n_jobs"], (plain, sunk)
    rounds = [r for r in sink if r["step"].startswith("round_")]
    assert rounds, sink
    assert all(r["wall_s"] > 0 for r in rounds), rounds
    assert all("wall_s" in r for r in sink), sink


def test_movement_folds_checkpointed_segments(spark):
    reg = queries()
    hits = movement(spark, lambda: reg["hits_copurchase"](spark, SF_CORRECT))
    blind = execution_metrics(reg["hits_copurchase"](spark, SF_CORRECT))
    assert hits["shuffle_bytes"] > blind["shuffle_bytes"], (hits, blind)
    assert hits["n_jobs"] > 0 and hits["stage_shuffle_write_bytes"] > 0

    # checkpoint-free: nothing captured, so the plan layer is exactly
    # the final-plan walk
    plain = movement(spark, lambda: reg["pricing_summary"](spark, SF_CORRECT))
    walk = execution_metrics(reg["pricing_summary"](spark, SF_CORRECT))
    assert {k: plain[k] for k in _PLAN_KEYS} == walk
