"""Connected components over an edge list — the dedup-cluster closer.

Pairwise near-duplicate detection (MinHash/SimHash/Jaccard — see
functions/similarity.py) emits EDGES; what a training-data pipeline
actually needs is the PARTITION of documents into duplicate clusters,
so it can keep one canonical doc per cluster. That closure is
transitive: A~B and B~C put A,C in one cluster even when A,C were
never compared. The reference has no graph surface at all (its dedup
is exact drop_duplicates, SURVEY §2.5 A2/A3) — this is north-star
scope.

Algorithm: iterative min-label propagation on DataFrames. Every node
starts labeled with itself; each round every node takes the min label
over itself and its neighbors; fixpoint = components. Rounds needed =
graph diameter, which for near-dup clusters is tiny (duplicates of one
document all overlap each other). Each round is one shuffle-join on
the edge list — no driver-side graph, so it scales with the cluster.
``localCheckpoint`` truncates lineage so plans don't grow per round.

Two interchangeable algorithms, same (node, component) contract:

- :func:`connected_components` — min-label propagation; rounds =
  graph diameter. The default: near-dup clusters have tiny diameter
  (duplicates of one document all overlap each other), and each round
  is a single cheap join.
- :func:`alternating_components` — the large-star/small-star
  alternation of Kiveris et al., "Connected Components in MapReduce
  and Beyond" (SOCC'14): O(log n) rounds regardless of diameter, for
  adversarial graphs (long chains, e.g. transitive near-dup drift
  across a corpus of incremental revisions).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    salt_factor: int | None = None,
    metrics_sink: list | None = None,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the
    smallest node id reachable from it.

    Returns a DataFrame (node, component). Nodes are whatever appears
    in either endpoint column; isolated nodes (no edges) are by
    definition absent — union them in upstream if every input row must
    be labeled.

    The symmetrized edge table is checkpointed FIRST, so an expensive
    edge generator upstream (an LSH candidate pipeline) executes once,
    not once per label round. ``salt_factor`` salts the per-round
    neighbor join (operators/scale.py::salted_join): a hub node whose
    edge rows would all land on one shuffle partition fans across
    ``salt_factor`` sub-partitions instead — result-identical, for the
    pathological hubs AQE's skew split can't subdivide. The min-label
    aggregate after the join is naturally skew-tolerant (map-side
    partial min), so the join is the only salt point.

    One driver action per round: each node's OLD label rides the
    min-label aggregate as a tagged union column (the labels row
    carries it, neighbor rows carry null — no second join), so the
    fixpoint test is an ``observe()`` metric on the same job that
    checkpoints the new labels, not a separate count pass. The
    aggregate keeps the plan's round-over-round size estimate linear —
    a join of two round-dependent tables would compound it
    quadratically (see :func:`pagerank`'s stats lesson).

    ``metrics_sink``: pass a list to receive one
    ``{"step", shuffle_bytes, ...}`` row per checkpoint action
    (edge-generator materialization, label init, every label round) —
    the deterministic data-movement audit for an op whose exchanges
    live outside any single query execution (SHUFFLE.md).
    """
    from databeats_spark.plans.instrument import record_metrics

    # Pin the INPUT edge list before the symmetrizing union: the union
    # references ``edges`` twice, and exchange reuse only covers
    # shuffle/broadcast boundaries — the narrow tail of an expensive
    # edge generator (an LSH candidate pipeline's verify join) executed
    # once PER BRANCH inside the sym checkpoint job (measured on
    # curation_funnel: the whole candidate+verify chain appeared twice
    # under the union). One lazy checkpoint makes the second branch
    # read cached blocks; result-identical by construction.
    pre_edges = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e_in = pre_edges.localCheckpoint(eager=False)
    t0 = time.perf_counter()
    pre_sym = (
        e_in.union(e_in.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    sym = pre_sym.localCheckpoint()  # single materialization of the edge generator
    # the lazy input checkpoint ran inside the sym action: both rows
    # carry that action's wall
    record_metrics(metrics_sink, "cc_input_edges", pre_edges, t0)
    record_metrics(metrics_sink, "cc_edges", pre_sym, t0)
    t0 = time.perf_counter()
    pre_labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    labels = pre_labels.localCheckpoint()
    record_metrics(metrics_sink, "cc_labels_init", pre_labels, t0)
    sym_keyed = sym.select("a", F.col("b").alias("node"))
    for i in range(max_iter):
        t0 = time.perf_counter()
        if salt_factor:
            from databeats_spark.operators.scale import salted_join

            joined = salted_join(sym_keyed, labels, "node", salt_factor)
        else:
            joined = sym_keyed.join(labels, "node")
        # neighbor rows carry old=null; the (unique) labels row carries
        # the node's current label — max(old) recovers it post-agg
        neighbor_labels = joined.select(
            F.col("a").alias("node"),
            "label",
            # typed NULL matching the label type (ids may be any orderable type)
            F.when(F.lit(False), F.col("label")).alias("old"),
        )
        tagged = neighbor_labels.union(
            labels.select("node", "label", F.col("label").alias("old"))
        )
        obs = Observation()
        pre_round = (
            tagged.groupBy("node")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
            .observe(
                obs,
                F.sum((F.col("label") < F.col("old")).cast("long")).alias("changed"),
            )
            .select("node", "label")
        )
        labels = pre_round.localCheckpoint()  # the ONE action of the round
        record_metrics(metrics_sink, f"cc_round_{i + 1}", pre_round, t0)
        if (obs.get["changed"] or 0) == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("component"))


def _large_star(sym: DataFrame) -> DataFrame:
    """Large-star: every node connects its strictly-larger neighbors to
    the minimum of its closed neighborhood. ``sym`` holds BOTH edge
    directions (a, b)."""
    mins = sym.groupBy("a").agg(F.min("b").alias("__mb")).select(
        "a", F.least(F.col("__mb"), F.col("a")).alias("m")
    )
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(directed: DataFrame) -> DataFrame:
    """Small-star: with edges directed large→small (u > v), every node
    relinks its smaller neighbors (and itself) to the minimum."""
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    joined = directed.join(mins, "u")
    relink = joined.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_link = joined.select("u", F.col("m").alias("v"))
    return relink.union(self_link).distinct()


def alternating_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components in O(log n) rounds via large-star/small-star
    alternation (Kiveris et al., SOCC'14) — diameter-independent, for
    graphs where min-label propagation would need too many rounds.

    Same contract as :func:`connected_components`: returns
    (node, component) with component = min reachable node id; isolated
    nodes are absent. Raises ``RuntimeError`` if the edge set has not
    reached fixpoint within ``max_iter`` alternations (each alternation
    at least halves tree heights, so 30 covers any realistic graph).

    Every round is two grouped-min aggregations + two equi-joins on the
    shrinking edge list — no driver-side graph state, and ONE driver
    action: the fixpoint signature (count + order-insensitive
    bit_xor hash) rides the round's checkpoint job as ``observe()``
    metrics instead of a second aggregation pass.
    """

    def checkpoint_with_sig(df: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
        # bit_xor, not sum: order-insensitive AND overflow-free (ANSI
        # mode makes a long sum of 2^63-scale hashes throw)
        obs = Observation()
        out = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).localCheckpoint()
        m = obs.get
        return out, (int(m["n"]), int(m["h"]))

    # Pin the INPUT edge list first: it is referenced three times below
    # (canonical pairs + both branches of the nodes union), and each
    # reference re-executed the narrow tail of the upstream edge
    # generator (exchange reuse covers only shuffle/broadcast
    # boundaries). One lazy checkpoint materializes the generator once;
    # all three readers hit cached blocks. Result-identical.
    e_in = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).localCheckpoint(
        eager=False
    )
    # canonical undirected pairs, self-loops dropped
    e, sig = checkpoint_with_sig(
        e_in.select(
            F.greatest(F.col("s"), F.col("d")).alias("u"),
            F.least(F.col("s"), F.col("d")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = (
        e_in.select(F.col("s").alias("node"))
        .union(e_in.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint()
    )

    for _ in range(max_iter):
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).select(F.col("u").alias("a"), F.col("v").alias("b"))
        e, new_sig = checkpoint_with_sig(_small_star(_large_star(sym)))
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"alternating_components: no fixpoint in {max_iter} rounds")

    # fixpoint edge set is a star forest: (u, v) = (node, its root)
    stars = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return nodes.join(stars, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def dedup_keep_canonical(
    df: DataFrame,
    components: DataFrame,
    key: str,
) -> DataFrame:
    """Collapse each near-dup cluster to its canonical (min-id) row:
    the final step of fuzzy dedup. Rows whose key is not in
    ``components`` are singletons and are kept as-is.

    The join is a plain equi-join: components covers only non-isolated
    nodes, which may still be huge in a duplicate-heavy corpus — AQE
    broadcasts it when it turns out small, and a shuffle join is the
    correct plan when it doesn't."""
    comp = components.withColumnRenamed("node", key)
    joined = df.join(comp, key, "left")
    return joined.filter(
        F.col("component").isNull() | (F.col(key) == F.col("component"))
    ).drop("component")


def dedup_keep_best(
    df: DataFrame,
    components: DataFrame,
    key: str,
    order_cols: list,
) -> DataFrame:
    """Collapse each near-dup cluster to its BEST row under an explicit
    quality order (e.g. longest text, highest quality score) instead of
    :func:`dedup_keep_canonical`'s arbitrary min-id — the survivor
    policy production curation pipelines actually run (keep the best
    copy, drop the rest). ``order_cols`` must end in a total-order
    tie-break (typically the key itself) so the survivor is
    deterministic.

    Scale shape: one left equi-join against the component map plus a
    row_number window partitioned by ``coalesce(component, key)`` —
    singletons each form their own one-row partition (never a shared
    NULL partition), so the window is key-partitioned end to end."""
    from pyspark.sql import Window

    comp = components.withColumnRenamed("node", key)
    joined = df.join(comp, key, "left")
    grp = F.coalesce(F.col("component"), F.col(key))
    w = Window.partitionBy(grp).orderBy(*order_cols)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "component")
    )


def _rank_l1_delta(
    cur: DataFrame,
    flow_cur: float,
    prev: DataFrame | None,
    flow_prev: float,
    damping: float,
    n: int,
) -> float:
    """Exact L1 distance between two rank vectors expressed in the
    affine form rank(v) = B + damping * inflow(v): a single cheap job
    over the two (materialized) contribution tables — nodes absent
    from both differ by the constant scalar shift, so they never need
    rows. ``prev=None`` with ``flow_prev=0.0`` encodes the uniform
    start vector exactly (B = 1/n, inflow = 0)."""
    shift = damping * (flow_prev - flow_cur) / n
    a = cur.select("node", F.col("inflow").alias("__in_new"))
    if prev is None:
        paired = a.withColumn("__in_old", F.lit(0.0))
    else:
        paired = a.join(
            prev.select("node", F.col("inflow").alias("__in_old")), "node", "full"
        )
    row = paired.agg(
        F.sum(
            F.abs(
                F.lit(damping)
                * (
                    F.coalesce(F.col("__in_new"), F.lit(0.0))
                    - F.coalesce(F.col("__in_old"), F.lit(0.0))
                )
                + F.lit(shift)
            )
        ).alias("s"),
        F.count(F.lit(1)).alias("m"),
    ).collect()[0]
    return float(row["s"] or 0.0) + (n - int(row["m"])) * abs(shift)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 15,
    tol: float = 1e-6,
    check_every: int = 2,
    metrics_sink: list | None = None,
) -> DataFrame:
    """Distributed PageRank by power iteration over the edge list —
    the centrality pass a dedup/link-graph pipeline runs to pick
    authoritative representatives (e.g. rank pages inside a near-dup
    cluster before choosing the canonical one).

    Semantics: directed graph, standard damping with uniform
    teleport 1/N, and dangling-node mass redistributed uniformly each
    round so ranks always sum to 1. Returns (node, rank).

    Scale shape (r6 rewrite): the rank vector is never materialized —
    it is the affine VIEW ``rank(v) = B + damping * inflow(v)`` over
    the per-round contribution table, with B a driver-side literal
    folding teleport + dangling mass. Each round is therefore ONE
    job: join the (checkpointed-once) degree-annotated edge table with
    the rank view, hash-aggregate contributions by destination, and
    eagerly ``localCheckpoint`` the result with the flowing mass
    riding the same action as an ``observe()`` metric (flowing mass =
    sum of all contributions, the identity that replaced r5's
    per-round edge-scale semi-join). The contribution shuffle moves
    (edge, rank/degree) pairs, never adjacency lists, and no
    driver-side graph exists.

    Two iterative-DataFrame traps this shape dodges: per-round plans
    don't grow (each round reads the previous round's checkpointed
    blocks), and — the r6 lesson — per-round checkpoint stats don't
    COMPOUND: ``LogicalRDD.fromDataset`` preserves the origin plan's
    sizeInBytes estimate, so any round whose plan multiplies two
    round-dependent relations (the old ``ranks JOIN contribs(ranks)``
    update) doubles the estimate's DIGITS every round until Catalyst
    spends minutes multiplying million-digit BigIntegers. Here every
    round's plan touches exactly one round-dependent relation, so the
    estimate grows by a constant factor per round.

    Convergence: exact L1 delta between consecutive rank vectors,
    computed every ``check_every`` rounds as one cheap paired
    aggregate over two contribution tables (:func:`_rank_l1_delta`).
    The per-round driver reads (observed flowing mass, delta) are
    bounded 1-row actions. Pass ``tol=None`` to run exactly
    ``max_iter`` rounds; pass a list as ``metrics_sink`` to receive one
    row per checkpoint action (edge materialization, nodes, every
    round) with its data movement and ``wall_s``. A ``round_*`` row's
    wall covers the whole round, delta job included — the
    steal-vs-plan diagnostic: uniform inflation across rounds on a
    loaded host = external steal, one slow round = a plan problem.
    """
    from databeats_spark.plans.instrument import record_metrics

    out_edges = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
    degrees = out_edges.groupBy("e_src").agg(F.count(F.lit(1)).alias("deg"))
    # pre-join degree onto edges ONCE and checkpoint FIRST: this is the
    # single materialization of the (possibly expensive) edge-generator
    # subtree — nodes and every round's contribution join read these
    # blocks, so an LSH/candidate pipeline upstream runs exactly once,
    # not once per iteration
    t0 = time.perf_counter()
    pre_withdeg = out_edges.join(degrees, "e_src")
    withdeg = pre_withdeg.localCheckpoint()
    record_metrics(metrics_sink, "edges", pre_withdeg, t0)
    t0 = time.perf_counter()
    pre_nodes = (
        withdeg.select(F.col("e_src").alias("node"))
        .union(withdeg.select(F.col("e_dst").alias("node")))
        .distinct()
    )
    nodes = pre_nodes.localCheckpoint()
    record_metrics(metrics_sink, "nodes", pre_nodes, t0)
    n = nodes.count()  # one scalar; fixed for the whole run
    if n == 0:
        # empty graph (e.g. a corpus slice with no near-dup edges):
        # no nodes, no ranks — not a division by zero
        return nodes.withColumn("rank", F.lit(0.0)).select("node", "rank")

    def rank_view(contribs: DataFrame | None, flow: float) -> DataFrame:
        """rank(v) = B + damping * inflow(v), B folding teleport +
        dangling redistribution as a literal. contribs=None, flow=0.0
        is EXACTLY the uniform start: B = (1-d)/n + d/n = 1/n."""
        base = F.lit((1.0 - damping) / n + damping * (1.0 - flow) / n)
        if contribs is None:
            return nodes.withColumn("rank", base)
        return nodes.join(contribs, "node", "left").select(
            "node",
            (base + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))).alias(
                "rank"
            ),
        )

    contribs, flow = None, 0.0
    for i in range(max_iter):
        t0 = time.perf_counter()
        obs = Observation()
        # the per-edge rank is evaluated directly on the edge table
        # (left join on e_src against the previous contributions) —
        # withdeg's sources are a subset of nodes, so routing through
        # rank_view's node join would add a node-sized shuffle per
        # round for rows the inner join on e_src discards anyway
        base = F.lit((1.0 - damping) / n + damping * (1.0 - flow) / n)
        if contribs is None:
            ranked_edges = withdeg.withColumn("rank", base)
        else:
            ranked_edges = withdeg.join(
                contribs, withdeg["e_src"] == contribs["node"], "left"
            ).withColumn(
                "rank",
                base + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0)),
            )
        pre_contribs = (
            ranked_edges.select(
                F.col("e_dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c")
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
            .observe(obs, F.sum("inflow").alias("flow"))
        )
        new_contribs = pre_contribs.localCheckpoint()  # eager: the ONE action of the round
        prev_contribs, prev_flow = contribs, flow
        contribs, flow = new_contribs, float(obs.get["flow"] or 0.0)
        converged = False
        # no delta job on the LAST round: the loop ends either way, and
        # the delta's only consumer is the early-stop decision
        if tol is not None and i % check_every == check_every - 1 and i < max_iter - 1:
            delta = _rank_l1_delta(contribs, flow, prev_contribs, prev_flow, damping, n)
            converged = delta < tol
        record_metrics(metrics_sink, f"round_{i + 1}", pre_contribs, t0)
        if converged:
            break
    return rank_view(contribs, flow)
