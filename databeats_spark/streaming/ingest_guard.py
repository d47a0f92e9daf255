"""Streaming near-duplicate ingest guard — dedup-at-ingest for a
document feed (the streaming completion of the corpus-dedup ladder:
exact streaming dedup already exists as streaming_dedup in
streaming/events.py; this is the NEAR-dup tier).

Design (foreachBatch incremental, same pattern as streaming/chart.py):
every micro-batch of documents is MinHash-signed and LSH-banded with
the batch operators (operators/dedup.py — identical sketch parameters,
so batch and stream agree on what "near-duplicate" means). A document
is rejected when

  1. one of its band keys collides with the ACCEPTED corpus's band
     index AND the signature-estimated Jaccard vs the colliding
     accepted doc clears the threshold, or
  2. it near-duplicates an EARLIER document of the same batch (same
     rule, min-id first-wins).

Accepted docs append to the corpus; only their (band, key) rows and
16-long signatures enter the state — the guard state is a SKETCH
index (≈100 bytes/doc), never text, so it stays executor-readable at
any corpus scale and the per-batch work is bounded by batch × matching
buckets, not batch × corpus.

Idempotency: every state table is written per epoch and the guard
excludes the CURRENT epoch's rows when loading the index
(streaming/compaction.py's write_epoch / read_state) — a replayed epoch
re-derives exactly the same accept set against exactly the pre-epoch
state and overwrites its own partition (exactly-once under
checkpointing, like the chart sink).

Semantic note vs batch dedup: the guard is FIRST-ARRIVAL-WINS and
does not transitively collapse chains (if A≈B and B≈C but A≉C, B is
rejected against A, then C is compared against A only — B's sketch
never enters the index — so C is accepted). This holds regardless of
micro-batch boundaries: within-batch rejection is resolved to a
fixpoint so an already-rejected doc never serves as a rejector, giving
the same accept set whether A, B, C arrive in one batch or three.
Batch connected-components would collapse all three. That is the
standard ingest-time trade-off: the guard bounds state and latency; a
periodic batch minhash+components pass remains the ground truth
compaction.

Docs too short to produce even one shingle are ACCEPTED (they cannot
near-duplicate anything under the sketch definition) and contribute no
sketch state — novel data is never silently dropped at ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from databeats_spark.operators.dedup import (
    lsh_band_keys,
    minhash_signatures,
    signature_jaccard,
)
from databeats_spark.streaming.compaction import (
    committed_epochs,
    compact_epoch_partials,
    drain,
    read_state,
    write_epoch,
)

_SIG_SCHEMA = "doc_id BIGINT, signature ARRAY<BIGINT>, epoch BIGINT"
_BAND_SCHEMA = "doc_id BIGINT, band INT, key BIGINT, epoch BIGINT"


_THRESHOLD = 0.5  # signature-estimated Jaccard at which a doc is a near-dup


def dedup_guard_sink(state_dir: str):
    """foreachBatch sink: near-dup-gate the micro-batch of (doc_id, text)
    rows against the accepted-corpus sketch index, append survivors +
    their sketches."""

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession

        sig = minhash_signatures(
            batch_df, "doc_id", "text"
        ).withColumnRenamed("__id", "doc_id").localCheckpoint()
        band = lsh_band_keys(
            sig.select(F.col("doc_id").alias("__id"), "signature")
        ).withColumnRenamed("__id", "doc_id")

        prev_sig = read_state(spark, f"{state_dir}/sigs", _SIG_SCHEMA, epoch_id)
        prev_band = read_state(spark, f"{state_dir}/bands", _BAND_SCHEMA, epoch_id)

        # tier 1: batch vs accepted corpus — bucket collision, then
        # signature-estimated Jaccard on the (small) candidate set
        corpus_cand = (
            band.join(
                prev_band.select("band", "key", F.col("doc_id").alias("acc_id")),
                ["band", "key"],
            )
            .select("doc_id", "acc_id")
            .distinct()
        )
        corpus_rejects = (
            corpus_cand.join(sig, "doc_id")
            .join(
                prev_sig.select(F.col("doc_id").alias("acc_id"), F.col("signature").alias("acc_sig")),
                "acc_id",
            )
            .filter(signature_jaccard(F.col("signature"), F.col("acc_sig")) >= _THRESHOLD)
            .select("doc_id")
            .distinct()
            .localCheckpoint()
        )

        # tier 2: within-batch, earlier (min-id) doc wins — resolved to a
        # FIXPOINT so a doc rejected (by the corpus or by an even earlier
        # doc) never itself rejects: the chain A~B, B~C, A!~C accepts
        # A and C whether the three arrive in one batch or three, matching
        # the docstring's cross-batch semantics.
        in_batch_pairs = (
            band.alias("a")
            .join(
                band.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("early_id"), F.col("b.doc_id").alias("doc_id"))
            .distinct()
            .join(sig, "doc_id")
            .join(
                sig.select(F.col("doc_id").alias("early_id"), F.col("signature").alias("early_sig")),
                "early_id",
            )
            .filter(signature_jaccard(F.col("signature"), F.col("early_sig")) >= _THRESHOLD)
            .select("early_id", "doc_id")
            .localCheckpoint()
        )

        # iterate over the (candidate-bounded) verified pair list: each
        # round decides every doc whose earlier contenders are all
        # decided, so rounds are bounded by the longest dup chain in the
        # batch — the same bounded-driver-loop posture as pagerank.
        rejects = corpus_rejects
        pairs = in_batch_pairs
        while True:
            pairs = (
                pairs
                # target already rejected: pair is moot
                .join(rejects, "doc_id", "left_anti")
                # rejector itself rejected: pair can never fire
                .join(rejects.select(F.col("doc_id").alias("early_id")), "early_id", "left_anti")
                .localCheckpoint()
            )
            if pairs.isEmpty():
                break
            # a pair fires when its rejector is final-accepted (nothing
            # earlier still contests it); the minimal live early_id is
            # always uncontested, so progress is guaranteed
            contested = pairs.select(F.col("doc_id").alias("early_id")).distinct()
            fired = (
                pairs.join(contested, "early_id", "left_anti")
                .select("doc_id")
                .distinct()
                .localCheckpoint()
            )
            if fired.isEmpty():
                break
            rejects = rejects.unionByName(fired).distinct().localCheckpoint()

        # the accept set derives from the BATCH ids, not the signature
        # table: docs too short to shingle can never be near-dups, so
        # they pass (they simply contribute no sketch state).
        accepted_ids = (
            batch_df.select("doc_id")
            .distinct()
            .join(rejects, "doc_id", "left_anti")
        )

        accepted_docs = batch_df.join(accepted_ids, batch_df["doc_id"] == accepted_ids["doc_id"], "left_semi")
        for table, df in (
            ("accepted", accepted_docs),
            ("sigs", sig.join(accepted_ids, "doc_id", "left_semi")),
            ("bands", band.join(accepted_ids, "doc_id", "left_semi")),
        ):
            write_epoch(df, f"{state_dir}/{table}", epoch_id, ["epoch"])

    return merge


def run_ingest_guard(
    spark: SparkSession,
    docs_stream: DataFrame,
    state_dir: str,
) -> StreamingQuery:
    """Drain all available document files through the near-dup guard."""
    return drain(docs_stream, dedup_guard_sink(state_dir), state_dir + "/_ckpt")


def accepted_corpus(spark: SparkSession, state_dir: str) -> DataFrame:
    """The guard's survivor table across all drained epochs."""
    return spark.read.parquet(f"{state_dir}/accepted")


def compact_state(spark: SparkSession, state_dir: str) -> None:
    """Fold drained epoch partitions into one consolidated ``epoch=-1``
    partition per state table (accepted / sigs / bands).

    Thousands of drained epochs mean thousands of tiny parquet files
    per table — the classic streaming small-file problem — and every
    micro-batch re-lists them. Since r11 this delegates to
    ``streaming/compaction.py``'s manifest protocol, which fixes two
    hazards the original in-place rewrite had: a crash mid-overwrite
    could LOSE state (overwrite deletes before it writes; the staged
    rows lived only in executor memory), and an epoch written but not
    yet committed to the stream checkpoint could replay after its rows
    were folded — the replay's ``epoch != current`` exclusion no longer
    hides them, so the batch would collide with ITSELF and re-decide
    against a corrupted index. Now only checkpoint-committed epochs
    fold (ledger read from the drain helper's ``_ckpt``) and the swap
    is two-phase with idempotent crash recovery.
    Still a maintenance operation: never run concurrently with a drain
    (single-writer rule)."""
    committed = committed_epochs(f"{state_dir}/_ckpt")
    for table in ("accepted", "sigs", "bands"):
        compact_epoch_partials(
            spark,
            f"{state_dir}/{table}",
            lambda df: df.drop("epoch"),  # append-only rows: identity fold
            ["epoch"],
            committed=committed,
        )
