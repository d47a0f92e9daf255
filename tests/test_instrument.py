"""The measurement core (plans/instrument.py): ``profile`` attributes
exactly the jobs and stages its query created, eager build-time work
included; ``movement`` folds pre-checkpoint plan segments that a plain
``execution_metrics`` walk cannot see; ``observe`` records every
checkpoint, and the iterative operators' named steps carry per-step
wall time without changing the job count."""

from __future__ import annotations

import pytest
from tests.conftest import SF_CORRECT

from databeats_spark.plans import instrument
from databeats_spark.plans.instrument import (
    execution_metrics,
    movement,
    observe,
    profile,
    stage_mark,
    stage_work,
    step,
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


def test_pagerank_steps_carry_wall_and_add_no_jobs(spark):
    from databeats_spark.registry.mining import _pagerank_docs

    _noop(_pagerank_docs(spark, SF_CORRECT))  # warm: first-touch jobs differ
    plain = profile(spark, lambda: _pagerank_docs(spark, SF_CORRECT))
    with observe() as taken:
        observed = profile(spark, lambda: _pagerank_docs(spark, SF_CORRECT))
    assert observed["n_jobs"] == plain["n_jobs"], (plain, observed)
    rows = taken.steps()
    rounds = [r for r in rows if r["step"].startswith("round_")]
    assert rounds, rows
    assert all(r["wall_s"] > 0 for r in rounds), rounds
    assert all("wall_s" in r for r in rows), rows
    # every step the operator named carries a wall; unnamed pins do not
    assert all(
        (r["wall_s"] is None) == r["step"].startswith("(") for r in rows
    ), rows


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


def test_cc_edge_rows_share_one_wall(spark, monkeypatch):
    """cc_input_edges and cc_edges come from one checkpoint action: both
    steps carry that action's wall. Folds run when the record is read,
    never inside a step, so no fold can land in any step's wall."""
    from databeats_spark.operators.graph import connected_components

    fold, folded = instrument.executed_metrics, []

    def counting_fold(df):
        folded.append(df)
        return fold(df)

    monkeypatch.setattr(instrument, "executed_metrics", counting_fold)
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src: long, dst: long")
    with observe() as taken:
        connected_components(edges)
    assert folded == [], "a step folded metrics"
    rows = taken.steps()
    assert len(folded) == len(rows) == len(taken)
    by_step = {r["step"]: r for r in rows}
    assert by_step["cc_input_edges"]["wall_s"] == by_step["cc_edges"]["wall_s"], rows


def test_observe_restores_nests_and_records_unnamed_checkpoints(spark):
    """The patch lives exactly as long as the outermost observer, an
    exception included; a nested observer loses no record to either
    side and a step names both; a checkpoint no step names is still
    recorded — pagerank_docs' MinHash scored-pair pin among them."""
    from databeats_spark.registry.mining import _pagerank_docs

    me = f"({test_observe_restores_nests_and_records_unnamed_checkpoints.__name__})"
    original = instrument._RuntimeDF.localCheckpoint
    with pytest.raises(ValueError), observe():
        assert instrument._RuntimeDF.localCheckpoint is not original
        raise ValueError
    assert instrument._RuntimeDF.localCheckpoint is original

    df = spark.range(3)
    with observe() as outer:
        df.localCheckpoint()
        with observe() as inner:
            src = df.selectExpr("id + 1 AS id")
            src.localCheckpoint()
            step("plus_one", src, 0.0)
        df.localCheckpoint()
    assert instrument._RuntimeDF.localCheckpoint is original
    assert [r[1] for r in outer] == [me, "plus_one", me], outer
    assert [r[1] for r in inner] == ["plus_one"], inner

    with observe() as taken:
        _pagerank_docs(spark, SF_CORRECT)
    scored = [
        row for (src, _, _), row in zip(taken, taken.steps())
        if src.columns == ["id_a", "id_b", "common", "jaccard"]
    ]
    assert [r["step"] for r in scored] == ["(minhash_near_duplicates)"], scored
    assert scored[0]["shuffle_bytes"] > 0, scored
