"""End-to-end corpus curation plan — the training-data pipeline the
individual operators exist FOR, composed as one flow:

    raw documents
      → quality gate        (Gopher-style column rules, no UDF)
      → exact dedup         (md5 fingerprint hash-agg)
      → near-dup collapse   (MinHash+LSH pairs → connected components
                             → keep canonical min-id doc per cluster)
      → decontamination     (4-gram overlap vs the eval set, broadcast)
      → mix rebalance       (per-source hash-downsample to the
                             smallest surviving source)
      → token budget        (distributed prefix sum; keep documents
                             until the budget is spent)

Each stage consumes the previous stage's DataFrame — lazy end to end
except the connected-components rounds (bounded by near-dup cluster
diameter). A user of the reference who curates corpora by hand-chained
pandas steps runs this as one call; at 100 TB every stage is the
shuffle-conscious operator form (bucketed candidate joins, broadcast
eval shingles, no global windows).

The stage-count funnel (``curation_report``) is the pipeline's audit
artifact: how many documents each gate removed. Registry exposes it
rows-only (MinHash/CC are not SQL-expressible); the monotone-decrease
property and end-to-end determinism are pinned in
tests/test_curation_plan.py.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databeats_spark.functions.text import fingerprint, word_shingles
from databeats_spark.operators.dedup import minhash_near_duplicates
from databeats_spark.operators.graph import connected_components, dedup_keep_canonical
from databeats_spark.operators.scale import attach_global_scalar, partitioned_running_total
from databeats_spark.sources.tables import load_tables, spread

# quality-gate bands (see registry/mining.py gopher_quality_flags)
MIN_TOK, MAX_TOK = 40, 5000
MIN_DIVERSITY = 0.2
# near-dup collapse
NEAR_DUP_THRESHOLD = 0.5
# skew guard: salt the CC neighbor join when the heaviest pair endpoint
# holds more than this share of all edge endpoints (a boilerplate hub)
SKEW_SHARE_THRESHOLD = 0.10
CC_SALT_FACTOR = 8
# decontamination (see registry/documents.py benchmark_decontam)
DECONTAM_N = 4
DECONTAM_EVAL_MOD = 20
DECONTAM_MAX_OVERLAP = 0.05
# Knuth multiplicative hash for the rebalance keep-rule
_KNUTH = 2654435761 % 65536


def quality_gate(docs: DataFrame) -> DataFrame:
    """Drop documents outside the token-count band or below the
    lexical-diversity floor. Pure column expressions — one scan."""
    toks = F.split("text", " ")
    scored = docs.withColumn("n_tok", F.size(toks)).withColumn(
        "n_distinct", F.size(F.array_distinct(toks))
    )
    return (
        scored.filter(
            F.col("n_tok").between(MIN_TOK, MAX_TOK)
            & (F.col("n_distinct") >= F.col("n_tok") * MIN_DIVERSITY)
        )
        .drop("n_distinct")
    )


def learned_quality_gate(
    docs: DataFrame,
    scorer,
    threshold: float = 0.5,
) -> DataFrame:
    """Model-based quality stage: keep docs whose calibrated score
    clears the threshold.

    ``scorer`` is any ``DataFrame -> DataFrame`` returning
    (doc_id, p_good) — e.g. ``ml/quality_filter.QualityFilter.score``
    or a pure-expression heuristic. The keep set joins back left-semi
    so the stage emits the SAME full-width rows as the rule gate,
    including the ``n_tok`` column the budget stage's prefix sum
    consumes (stage contract: schema-stable through the funnel). At
    scale the scorer pass is map-only (JVM pipeline transform) and the
    semi join is a key join on doc_id — no payload shuffle of text."""
    keep = scorer(docs).filter(F.col("p_good") >= threshold).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi").withColumn(
        "n_tok", F.size(F.split("text", " "))
    )


def exact_dedup_stage(docs: DataFrame) -> DataFrame:
    """Keep the min-id document per exact content fingerprint.

    Shape (r14): one min-over-window partitioned by the fingerprint —
    a SINGLE consumption of ``docs`` and a single keyed exchange. The
    former agg + left-semi form consumed ``docs`` twice (aggregate
    branch + join branch), which (a) re-executed the upstream narrow
    chain per branch and (b) made the stage ineligible for the
    funnel's folded observe() segments (a doubly-consumed CollectMetrics
    node double-counts). Both forms keep exactly the rows whose doc_id
    is the group minimum, and both move the document payload through
    one exchange (by fingerprint here, by doc_id in the join form) —
    result-identical, one fewer aggregate pass."""
    from pyspark.sql import Window

    fp = docs.withColumn("__fp", fingerprint(F.col("text")))
    keep_min = F.min("doc_id").over(Window.partitionBy("__fp"))
    return (
        fp.withColumn("__keep", keep_min)
        .filter(F.col("doc_id") == F.col("__keep"))
        .drop("__fp", "__keep")
    )


def near_dup_stage(
    docs: DataFrame,
    spark: SparkSession,
    skew_guard: bool = False,
    metrics_sink: list | None = None,
) -> DataFrame:
    """MinHash+LSH candidate pairs → connected components → keep the
    canonical (min-id) document of every near-dup cluster.

    ``skew_guard=True`` composes the diagnosis query with its remedy:
    measure the heaviest pair-endpoint's share of the edge list
    (operators/scale.py::top_key_share — the one-number
    key_skew_profile) and, above SKEW_SHARE_THRESHOLD, salt the CC
    label rounds' neighbor join so a boilerplate hub's edges fan
    across CC_SALT_FACTOR shuffle sub-partitions instead of one.
    Result-identical either way (tests/test_curation_plan.py); the
    diagnosis costs one small aggregate over the pair list, which CC
    was about to materialize anyway."""
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", threshold=NEAR_DUP_THRESHOLD,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    salt = None
    if skew_guard:
        from databeats_spark.operators.scale import top_key_share

        # pin the pair list so the diagnosis job and CC's edge
        # checkpoint share one materialization of the LSH pipeline
        pairs = pairs.localCheckpoint(eager=False)
        endpoints = pairs.select(F.col("id_a").alias("k")).union(
            pairs.select(F.col("id_b").alias("k"))
        )
        if top_key_share(endpoints, "k") > SKEW_SHARE_THRESHOLD:
            salt = CC_SALT_FACTOR
    comps = connected_components(
        pairs, "id_a", "id_b", salt_factor=salt, metrics_sink=metrics_sink
    )
    return dedup_keep_canonical(docs, comps, "doc_id")


def decontam_stage(docs: DataFrame) -> DataFrame:
    """Drop documents whose 4-gram overlap with the eval slice exceeds
    the contamination bound. Eval shingles broadcast — the corpus side
    never shuffles through the join (benchmark-sized at any scale)."""
    sh = docs.select("doc_id", word_shingles("text", n=DECONTAM_N).alias("sh"))
    is_eval = F.col("doc_id") % DECONTAM_EVAL_MOD == 0
    eval_sh = sh.filter(is_eval).select(F.explode("sh").alias("shingle")).distinct()
    overlap = (
        sh.filter(~is_eval)
        .select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") > F.col("n_sh") * DECONTAM_MAX_OVERLAP)
        .select("doc_id")
    )
    # eval docs themselves leave the training corpus too
    return docs.filter(~is_eval).join(overlap, "doc_id", "left_anti")


def rebalance_stage(docs: DataFrame) -> DataFrame:
    """Hash-downsample every source to the smallest surviving source's
    size (deterministic Knuth keep-rule, pure integers)."""
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    sized = attach_global_scalar(counts, F.min("n_docs").alias("min_docs"))
    bucket = F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(65536))
    return docs.join(F.broadcast(sized), "source").filter(
        bucket * F.col("n_docs") < F.lit(65536) * F.col("min_docs")
    ).drop("n_docs", "min_docs")


def budget_stage(docs: DataFrame, token_budget: int) -> DataFrame:
    """Keep documents (in deterministic md5 order) until the token
    budget is spent — the distributed prefix sum, never a global
    window."""
    ordered = docs.withColumn("__h", F.md5(F.col("doc_id").cast("string")))
    packed = partitioned_running_total(
        ordered, [F.col("__h")], "n_tok", "cum_tok"
    )
    return packed.filter(F.col("cum_tok") <= token_budget).drop("__h", "cum_tok")


def stage_builders(
    spark: SparkSession,
    token_budget: int,
    skew_guard: bool = False,
    scorer=None,
    scorer_threshold: float = 0.5,
    metrics_sink: list | None = None,
):
    """The curation stages as an ordered (name, prev_df -> df) list —
    the single definition both the lazy flow (curate_corpus) and a
    per-stage-timed runner (scripts/curate.py --stage-times) iterate,
    so a timed run measures exactly the production stages.

    ``scorer`` (optional) swaps the rule-based quality gate for the
    learned one (see :func:`learned_quality_gate`) — the upgrade path
    once a trained quality filter exists; every downstream stage is
    agnostic to which gate ran."""
    quality = (
        (lambda df: learned_quality_gate(df, scorer, scorer_threshold))
        if scorer is not None
        else quality_gate
    )
    return [
        ("quality", quality),
        ("exact_dedup", exact_dedup_stage),
        ("near_dup", lambda df: near_dup_stage(
            df, spark, skew_guard=skew_guard, metrics_sink=metrics_sink)),
        ("decontam", decontam_stage),
        ("rebalance", rebalance_stage),
        ("budget", lambda df: budget_stage(df, token_budget)),
    ]


def curate_corpus(
    spark: SparkSession,
    sf_dir: str | None = None,
    token_budget: int = 30_000,
    pin_stages: bool = False,
    skew_guard: bool = False,
    scorer=None,
    scorer_threshold: float = 0.5,
    observe_counts: dict[str, int] | None = None,
    metrics_sink: list | None = None,
) -> dict[str, DataFrame]:
    """Run the full curation flow; returns every stage's DataFrame so
    callers can audit, persist or branch at any point.

    ``pin_stages=True`` inserts a lazy ``localCheckpoint`` between
    stages so a caller that ACTIONS every stage (the funnel report)
    materializes each one exactly once — without it, counting stage k
    re-executes stages 1..k-1, and the expensive middle (shingling,
    MinHash) runs once per downstream stage instead of once. Callers
    that only consume the final DataFrame keep the default single
    lazy plan (nothing materialized twice either way). At cluster
    scale the same seam is where a production run would persist each
    stage to reliable storage instead of executor-local blocks.

    Passing a dict as ``observe_counts`` switches to EAGER segment
    checkpoints with every stage's row count riding a checkpoint job
    as an ``observe()`` metric (the pagerank/CC one-action-per-round
    recipe applied to the funnel): the dict fills with
    ``{stage: n_rows}`` and the report needs NO separate count jobs.
    Since r14 adjacent LINEAR stages share one checkpoint job (raw →
    quality → exact_dedup fold into the exact_dedup seal; see the
    segment comment below), so the report issues one driver action per
    SEGMENT, not per stage — same counts, same order, fewer jobs.

    ``metrics_sink`` (requires ``observe_counts`` — the eager seals are
    the actions being measured) receives one row per segment
    checkpoint (data movement plus the seal's ``wall_s``) and the CC
    label rounds inside the near_dup stage — the funnel's entry in the
    deterministic SHUFFLE.md audit."""
    # the whole flow is compute-bound (shingling, signatures, quality
    # expressions): spread a few-split scan once at the head and every
    # stage inherits the parallelism (no-op when the scan has splits)
    docs = spread(load_tables(spark, sf_dir, ["documents"]).documents, spark)
    if metrics_sink is not None and observe_counts is None:
        # the sink is only fed by the eager observe-pins; accepting it
        # without them would return an empty audit that reads as "no
        # data movement" instead of an error
        raise ValueError("metrics_sink requires observe_counts")
    if observe_counts is not None:
        from pyspark.sql import Observation

        from databeats_spark.plans.instrument import record_metrics

        # Folded observe segments (r14, VERDICT r13 item 1): a stage
        # boundary only needs its own eager checkpoint when the NEXT
        # stage consumes it through more than one subtree (re-execution
        # + double-counted CollectMetrics otherwise). raw → quality →
        # exact_dedup is a LINEAR chain (quality_gate is one
        # project+filter; exact_dedup_stage is one window since r14),
        # so those three counts ride ONE checkpoint job — each
        # CollectMetrics node is evaluated exactly once because every
        # boundary inside the segment has exactly one consumer. The
        # remaining stages keep their own seal: near_dup/decontam/
        # rebalance outputs are each consumed 2-3x by the next stage
        # (LSH + canonical join; shingle branches + anti join; counts
        # agg + keep join), and budget is the caller-facing result.
        # The learned gate (scorer) consumes its INPUT twice (score +
        # semi join back), so with a scorer nothing folds: raw's
        # observe node would sit under both branches and double-count.
        pending: list[tuple[str, Observation]] = []

        def observe_only(name: str, df: DataFrame) -> DataFrame:
            obs = Observation()
            pending.append((name, obs))
            return df.observe(obs, F.count(F.lit(1)).alias("n"))

        def pin(name: str, df: DataFrame) -> DataFrame:
            pre = observe_only(name, df)
            t0 = time.perf_counter()
            out = pre.localCheckpoint()  # the segment's ONE action
            names = [n for n, _ in pending]
            record_metrics(metrics_sink, "stage_" + "+".join(names), pre, t0)
            for n, obs in pending:
                observe_counts[n] = int(obs.get["n"])
            pending.clear()
            return out

        # stages whose observe rides the NEXT seal instead of sealing
        # themselves — safe only while the downstream chain is linear
        fold_into_next = {"raw", "quality"} if scorer is None else set()

        def maybe_pin(name: str, df: DataFrame) -> DataFrame:
            if name in fold_into_next:
                return observe_only(name, df)
            return pin(name, df)
    elif pin_stages:
        maybe_pin = lambda name, df: df.localCheckpoint(eager=False)  # noqa: E731
    else:
        maybe_pin = lambda name, df: df  # noqa: E731
    stages: dict[str, DataFrame] = {"raw": maybe_pin("raw", docs)}
    prev = stages["raw"]
    for name, build in stage_builders(
        spark, token_budget, skew_guard=skew_guard,
        scorer=scorer, scorer_threshold=scorer_threshold,
        metrics_sink=metrics_sink if observe_counts is not None else None,
    ):
        prev = stages[name] = maybe_pin(name, build(prev))
    return stages


def curation_report(
    spark: SparkSession, sf_dir: str | None = None, token_budget: int = 30_000
) -> DataFrame:
    """The stage-count funnel: one row per stage with the surviving
    document count — the audit artifact of a curation run. Each count
    rides a segment's eager-checkpoint job as an ``observe()`` metric
    (linear stages share one job since r14), so the pipeline executes
    once end-to-end with exactly one driver action per segment and
    zero separate count jobs (tests/test_curation_plan.py pins this by
    poisoning ``DataFrame.count`` for the duration of the report)."""
    counts: dict[str, int] = {}
    curate_corpus(spark, sf_dir, token_budget, observe_counts=counts)
    rows = [(i, name, n) for i, (name, n) in enumerate(counts.items())]
    return spark.createDataFrame(rows, "stage_idx: long, stage: string, n_docs: long")
