"""connected_components / dedup_keep_canonical semantics on hand graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databeats_spark.operators.graph import connected_components, dedup_keep_canonical


def edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src: long, dst: long")


def comp_map(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_chain_collapses_to_min(spark):
    got = comp_map(connected_components(edges_df(spark, [(1, 2), (2, 3), (3, 4)])))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_two_components_stay_separate(spark):
    got = comp_map(
        connected_components(edges_df(spark, [(1, 2), (5, 6), (6, 7)]))
    )
    assert got == {1: 1, 2: 1, 5: 5, 6: 5, 7: 5}


def test_direction_and_duplicates_are_irrelevant(spark):
    got = comp_map(
        connected_components(edges_df(spark, [(2, 1), (1, 2), (2, 1), (3, 2)]))
    )
    assert got == {1: 1, 2: 1, 3: 1}


def test_long_chain_needs_multiple_rounds(spark):
    # diameter 9: propagation must iterate, not just look one hop out
    chain = [(i, i + 1) for i in range(10, 19)]
    got = comp_map(connected_components(edges_df(spark, chain)))
    assert set(got.values()) == {10}
    assert len(got) == 10


def test_dedup_keep_canonical_keeps_min_and_singletons(spark):
    rows = spark.createDataFrame(
        [(1, "a"), (2, "dup of 1"), (3, "dup of 1"), (9, "singleton")],
        "doc_id: long, text: string",
    )
    comps = connected_components(edges_df(spark, [(1, 2), (2, 3)]))
    kept = dedup_keep_canonical(rows, comps, "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 9]


def test_dedup_keep_best_keeps_quality_winner_and_singletons(spark):
    from databeats_spark.operators.graph import dedup_keep_best

    rows = spark.createDataFrame(
        [(1, 10, "short"), (2, 90, "the long best copy"), (3, 90, "tied length"),
         (9, 5, "singleton")],
        "doc_id: long, n_chars: long, text: string",
    )
    comps = connected_components(edges_df(spark, [(1, 2), (2, 3)]))
    kept = dedup_keep_best(
        rows, comps, "doc_id", [F.col("n_chars").desc(), F.col("doc_id").asc()]
    )
    # winner = longest (2 beats 1), tie broken by min id (2 beats 3);
    # the singleton survives untouched
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 9]
    assert "component" not in kept.columns


def test_registry_components_cover_all_pair_endpoints(spark):
    from databeats_spark.registry import queries
    from tests.conftest import SF_SMOKE

    pairs = queries()["near_dup_pairs"](spark, SF_SMOKE).toPandas()
    comps = queries()["dedup_components"](spark, SF_SMOKE).toPandas()
    endpoints = set(pairs["id_a"]) | set(pairs["id_b"])
    assert set(comps["doc_id"]) == endpoints
    # every pair is intra-component (closure really is transitive)
    label = dict(zip(comps["doc_id"], comps["component"]))
    assert all(label[a] == label[b] for a, b in zip(pairs["id_a"], pairs["id_b"]))


def test_alternating_matches_propagation_on_random_graph(spark):
    import random

    from databeats_spark.operators.graph import alternating_components

    rng = random.Random(11)
    pairs = [(rng.randrange(120), rng.randrange(120)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    e = edges_df(spark, pairs)
    assert comp_map(alternating_components(e)) == comp_map(connected_components(e))


def test_alternating_converges_logarithmically_on_long_chain(spark):
    """Adversarial diameter: a 200-node path. Propagation would need
    ~200 rounds; large-star/small-star must finish within 12
    alternations (O(log n); raises if the cap is exceeded)."""
    from databeats_spark.operators.graph import alternating_components

    chain = [(i, i + 1) for i in range(200)]
    got = comp_map(alternating_components(edges_df(spark, chain), max_iter=12))
    assert len(got) == 201
    assert set(got.values()) == {0}


def test_pagerank_cycle_is_uniform(spark):
    from databeats_spark.operators.graph import pagerank

    ranks = {
        r["node"]: r["rank"]
        for r in pagerank(edges_df(spark, [(1, 2), (2, 3), (3, 1)]), max_iter=20).collect()
    }
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    for v in ranks.values():
        assert abs(v - 1 / 3) < 1e-9


def test_pagerank_star_center_dominates(spark):
    from databeats_spark.operators.graph import pagerank

    # 4 leaves all pointing at node 0; 0 is dangling (mass recycles)
    ranks = {
        r["node"]: r["rank"]
        for r in pagerank(edges_df(spark, [(1, 0), (2, 0), (3, 0), (4, 0)]), max_iter=30).collect()
    }
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks[0] == max(ranks.values())
    leaf = [v for k, v in ranks.items() if k != 0]
    assert max(leaf) - min(leaf) < 1e-12  # symmetry


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from databeats_spark.operators.graph import pagerank

    rng = np.random.default_rng(7)
    n = 12
    pairs = sorted({(int(a), int(b)) for a, b in rng.integers(0, n, (40, 2)) if a != b})
    d = 0.85
    iters = 25
    # reference dense power iteration with identical dangling handling
    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)
    out_deg = np.zeros(m)
    for a, _ in pairs:
        out_deg[idx[a]] += 1
    r = np.full(m, 1 / m)
    for _ in range(iters):
        inflow = np.zeros(m)
        for a, b in pairs:
            inflow[idx[b]] += r[idx[a]] / out_deg[idx[a]]
        flow_sum = sum(r[i] for i in range(m) if out_deg[i] > 0)
        r = (1 - d) / m + d * (inflow + (1 - flow_sum) / m)
    got = {
        row["node"]: row["rank"]
        for row in pagerank(edges_df(spark, pairs), damping=d, max_iter=iters, tol=None).collect()
    }
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])


def test_unconverged_labels_raise(spark):
    # diameter 9 needs 9 label rounds plus one that changes nothing
    chain = edges_df(spark, [(i, i + 1) for i in range(10, 19)])
    with pytest.raises(RuntimeError, match="no fixpoint in 3 rounds"):
        connected_components(chain, max_iter=3)
    assert set(comp_map(connected_components(chain)).values()) == {10}
