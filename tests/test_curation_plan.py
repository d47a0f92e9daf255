"""End-to-end curation plan: monotone stage funnel + determinism +
stage semantics on the smoke corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from databeats_spark.plans.curation import curate_corpus, curation_report
from tests.conftest import SF_SMOKE


def test_funnel_is_monotone_and_nonempty(spark):
    report = curation_report(spark, SF_SMOKE, token_budget=20_000).collect()
    counts = [r["n_docs"] for r in sorted(report, key=lambda r: r["stage_idx"])]
    assert counts[0] > 0 and counts[-1] > 0
    assert counts == sorted(counts, reverse=True) or all(
        a >= b for a, b in zip(counts, counts[1:])
    ), f"stage counts must never grow: {counts}"


def test_report_issues_no_count_jobs(spark, monkeypatch):
    """The funnel's stage counts ride each stage's eager-checkpoint job
    as observe() metrics (VERDICT r6 item 3) — poisoning
    DataFrame.count proves no stage issues a separate count action."""
    from pyspark.sql import DataFrame

    def _poisoned(self):
        raise AssertionError("curation_report must not call DataFrame.count()")

    monkeypatch.setattr(DataFrame, "count", _poisoned)
    report = curation_report(spark, SF_SMOKE, token_budget=20_000).collect()
    counts = {r["stage"]: r["n_docs"] for r in report}
    assert counts["raw"] > 0 and len(counts) == 7
    assert counts["budget"] <= counts["raw"]


def test_curation_is_deterministic(spark):
    a = curate_corpus(spark, SF_SMOKE, token_budget=20_000)["budget"]
    b = curate_corpus(spark, SF_SMOKE, token_budget=20_000)["budget"]
    ids_a = sorted(r["doc_id"] for r in a.select("doc_id").collect())
    ids_b = sorted(r["doc_id"] for r in b.select("doc_id").collect())
    assert ids_a == ids_b and len(ids_a) > 0


def test_stage_semantics(spark):
    stages = curate_corpus(spark, SF_SMOKE, token_budget=20_000)
    # quality gate: every survivor is inside the token band
    q = stages["quality"].select("n_tok").toPandas()
    assert q["n_tok"].between(40, 5000).all()
    # decontam: no eval docs (doc_id % 20 == 0) survive
    d = stages["decontam"].select("doc_id").toPandas()
    assert (d["doc_id"] % 20 != 0).all()
    # budget: total tokens within the budget
    total = stages["budget"].agg(F.sum("n_tok").alias("t")).collect()[0]["t"]
    assert total <= 20_000
    # schema carries the original columns plus the token count
    assert {"doc_id", "text", "lang", "source", "n_tok"} <= set(stages["budget"].columns)


def test_skew_guard_funnel_output_is_identical(spark, monkeypatch):
    """key_skew_profile's remedy composed into the funnel: with the
    guard FORCED on (threshold below any real share, so the CC label
    rounds run salted), the curated corpus must be row-identical to
    the unguarded run — salting changes shuffle layout, never
    results."""
    import databeats_spark.plans.curation as cur

    monkeypatch.setattr(cur, "SKEW_SHARE_THRESHOLD", -1.0)
    guarded = curate_corpus(spark, SF_SMOKE, token_budget=20_000, skew_guard=True)
    plain = curate_corpus(spark, SF_SMOKE, token_budget=20_000)
    ids_g = sorted(r["doc_id"] for r in guarded["near_dup"].select("doc_id").collect())
    ids_p = sorted(r["doc_id"] for r in plain["near_dup"].select("doc_id").collect())
    assert ids_g == ids_p and len(ids_g) > 0
    fin_g = sorted(r["doc_id"] for r in guarded["budget"].select("doc_id").collect())
    fin_p = sorted(r["doc_id"] for r in plain["budget"].select("doc_id").collect())
    assert fin_g == fin_p


def test_salted_components_identical_on_hub_graph(spark):
    """The pathological shape the guard exists for: a hub node with
    one edge to each of 300 spokes (every edge row carries the hub
    key, so the unguarded neighbor join lands them on ONE shuffle
    partition). Salted CC must produce the identical component map,
    and the salted round's plan must show the fan-out: the join keys
    carry __salt and the small side is exploded salt_factor ways."""
    from databeats_spark.operators.graph import connected_components
    from databeats_spark.operators.scale import salted_join, top_key_share

    hub = 0
    edges = spark.createDataFrame(
        [(hub, i) for i in range(1, 301)] + [(1000, 1001), (1002, 1003)],
        "src bigint, dst bigint",
    )
    # the diagnosis fires on this shape
    endpoints = edges.selectExpr("src AS k").union(edges.selectExpr("dst AS k"))
    assert top_key_share(endpoints, "k") > 0.10

    plain = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    salted = {
        r["node"]: r["component"]
        for r in connected_components(edges, salt_factor=8).collect()
    }
    assert salted == plain
    assert len({v for k, v in salted.items() if k <= 301}) == 1  # one hub cluster

    # plan-asserted fan-out on the salted join shape CC runs per round
    sym = edges.selectExpr("src AS a", "dst AS node")
    labels = edges.selectExpr("dst AS node", "dst AS label")
    plan = salted_join(sym, labels, "node", salt_factor=8)._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan, plan
    assert "Generate explode" in plan or "explode" in plan.lower(), plan


def test_learned_scorer_seam(spark):
    """The injected scorer replaces the rule gate: a permissive scorer
    keeps everything at the quality stage, a trained QualityFilter
    runs end-to-end, and downstream stages are gate-agnostic."""
    from pyspark.sql import functions as F

    from databeats_spark.ml.quality_filter import train_quality_filter
    from databeats_spark.sources.tables import load_tables

    keep_all = lambda docs: docs.select("doc_id", F.lit(1.0).alias("p_good"))
    stages = curate_corpus(spark, SF_SMOKE, token_budget=20_000, scorer=keep_all)
    assert stages["quality"].count() == stages["raw"].count()
    assert stages["budget"].count() > 0

    docs = load_tables(spark, SF_SMOKE, ["documents"]).documents
    qf = train_quality_filter(docs, seed=7)
    learned = curate_corpus(
        spark, SF_SMOKE, token_budget=20_000, scorer=qf.score, scorer_threshold=0.3
    )
    n_raw, n_q = learned["raw"].count(), learned["quality"].count()
    assert 0 < n_q <= n_raw
    assert learned["budget"].count() <= n_q
    # schema contract through the funnel is unchanged vs the rule gate
    rule = curate_corpus(spark, SF_SMOKE, token_budget=20_000)
    assert set(learned["quality"].columns) == set(rule["quality"].columns)


def test_exact_twin_runs_the_production_chain(spark):
    """curation_funnel_exact is the production runner with the exact
    pair generator swapped in: it lists the same stages in the same
    order as curation_report, and no module outside plans/curation.py
    calls a stage function to restate the chain by hand."""
    import re
    from pathlib import Path

    from databeats_spark.registry import queries

    twin = queries()["curation_funnel_exact"](spark, SF_SMOKE).collect()
    report = curation_report(spark, SF_SMOKE).collect()
    stages = lambda rows: [r["stage"] for r in sorted(rows, key=lambda r: r["stage_idx"])]
    assert stages(twin) == stages(report), (twin, report)

    root = Path(__file__).resolve().parents[1]
    stage_call = re.compile(
        r"\b(exact_dedup_stage|near_dup_stage|decontam_stage|rebalance_stage"
        r"|budget_stage)\("
    )
    home = root / "databeats_spark" / "plans" / "curation.py"
    offenders = [
        str(p.relative_to(root))
        for d in ("databeats_spark", "scripts")
        for p in (root / d).rglob("*.py")
        if p != home and stage_call.search(p.read_text())
    ]
    assert offenders == [], offenders
