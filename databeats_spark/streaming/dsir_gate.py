"""Streaming ingest-time DSIR gate — the production shape of
``registry/signals.py::dsir_importance_weights``.

DSIR's deployment (Xie et al. 2023) is two-phase: FIT the hashed
n-gram bucket distributions once over a reference snapshot (target
slice vs raw corpus — both collapse to ≤ DSIR_BUCKETS rows no matter
the corpus size), then SCORE every incoming document against the
frozen distributions. Scoring is stateless and row-local once the two
count tables broadcast, so it fuses into each micro-batch as a
map-only stage — the same deploy posture as the learned quality gate
(train on a snapshot, attach to the stream, periodically refit and
swap).

Equivalence: scoring the SAME corpus the distributions were fitted on
reproduces the batch registry query bit-equal (pinned in
tests/test_streaming_dsir_gate.py) — the log-ratio arithmetic and the
md5 bucket hash are shared column expressions, not re-implementations.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databeats_spark.registry.signals import (
    DSIR_BUCKETS,
    DSIR_TARGET_LANG,
    _dsir_features,
)
from databeats_spark.streaming.events import run_available_now
from databeats_spark.streaming.quality_gate import stream_documents


@dataclass
class DsirModel:
    """Frozen bucket distributions + totals from the reference fit.
    ``raw``/``tgt`` are ≤ DSIR_BUCKETS-row DataFrames (b, count) —
    broadcastable at any corpus size by construction."""

    raw: DataFrame
    tgt: DataFrame
    n_r: int
    n_t: int


def fit_dsir(reference_docs: DataFrame) -> DsirModel:
    """One pass over the reference snapshot: raw and target bucket
    counts (map-side combined to ≤ B rows each) plus their totals.
    The two driver-side totals are bounded scalars (one row each)."""
    feats = _dsir_features(reference_docs)
    raw = (
        feats.groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_r"))
        .localCheckpoint(eager=False)
    )
    tgt = (
        feats.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_t"))
        .localCheckpoint(eager=False)
    )
    n_r = raw.agg(F.sum("c_r")).collect()[0][0]
    n_t = tgt.agg(F.sum("c_t")).collect()[0][0]
    return DsirModel(raw=raw, tgt=tgt, n_r=int(n_r), n_t=int(n_t))


def dsir_score(docs: DataFrame, model: DsirModel) -> DataFrame:
    """Score a (batch or streaming) document feed against the frozen
    model: per-doc log importance ratio, identical arithmetic to the
    batch registry query. Map-only + two broadcast joins + one
    per-micro-batch aggregate keyed by doc."""
    feats = _dsir_features(docs)
    # A feature absent from BOTH reference distributions carries zero
    # evidence — score it 0.0. The naive smoothed ratio would give
    # every fully-OOV feature ln((n_r+B)/(n_t+B)) > 0 (the smaller
    # corpus gets relatively more smoothing mass), letting pure
    # gibberish outrank target-like text — a real pathology this gate
    # must not have at ingest, where unseen vocabulary is the norm.
    # (The batch registry query never hits it: it scores the corpus
    # the distributions were fitted on, so c_r is always present.)
    smoothed = F.log(
        (F.coalesce(F.col("c_t"), F.lit(0)) + 1).cast("double")
        / (F.lit(model.n_t) + DSIR_BUCKETS)
    ) - F.log(
        (F.coalesce(F.col("c_r"), F.lit(0)) + 1).cast("double")
        / (F.lit(model.n_r) + DSIR_BUCKETS)
    )
    score = F.when(
        F.col("c_t").isNull() & F.col("c_r").isNull(), F.lit(0.0)
    ).otherwise(smoothed)
    return (
        feats.join(F.broadcast(model.raw), "b", "left")
        .join(F.broadcast(model.tgt), "b", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feat"),
            F.round(F.sum(score), 6).alias("log_ir"),
        )
    )


def run_dsir_gate(
    spark: SparkSession,
    docs_path: str,
    model: DsirModel,
    query_name: str = "dsir_gate_scores",
) -> DataFrame:
    """Drain ``docs_path`` with an availableNow stream, scoring each
    micro-batch against the frozen model. The complete-mode memory sink
    is the TEST harness only (its state is per-doc and would grow
    unboundedly on a live feed); production runs the same ``dsir_score``
    inside foreachBatch — each document's features live within one
    micro-batch, so per-batch grouping is exact with ZERO streaming
    state — appending (doc_id, log_ir) to the curation ledger and
    routing keep/drop on a resampling threshold."""
    stream = stream_documents(spark, docs_path)
    run_available_now(dsir_score(stream, model), query_name, "complete")
    return spark.table(query_name)
