"""Streaming exact-fingerprint dedup behind bloom-bitmap state — the
FIXED-SIZE-state rung of the streaming dedup ladder.

Where it sits: streaming_dedup (streaming/events.py) is exact but keeps
per-key state proportional to the distinct keys seen; ingest_guard
keeps a sketch index that grows ~100 B per accepted doc. This guard's
state is a bloom bitmap — capacity-planned ONCE (``m_bits``) and never
growing per doc — the same reason the HLL tier (streaming/distincts.py)
exists beside exact distinct.

Contract (one-sided exactness): no two admitted docs ever share a
fingerprint — the bloom has no false negatives, and within-batch
duplicates are exactly collapsed first-arrival-wins — but a novel doc
whose probe positions all collide with set bits is DROPPED. Loss rate
is the bloom FPR (~``(1 - e^(-k·n/m))^k``; ~0.05% at 10 bits/key,
k=2). The right trade for crawl ingest where duplicate admission is
expensive and novel-doc loss at 1e-3 is noise; when losses matter,
route bloom-positive docs to an exact verify tier instead
(operators/scale.py::bloom_anti_join — same bitmap, exact results).

Idempotency (the ingest_guard replay discipline applied to bitmap
state): the state table is (epoch, block, bits), written per epoch
(streaming/compaction.py's write_epoch), and the probe bitmap is the
bit_or fold of every epoch EXCEPT the current one — so a replayed
micro-batch re-derives exactly the same admit set against exactly the
pre-epoch state and overwrites its own partitions. bit_or is
idempotent and associative, so the fold is also insensitive to epoch
replay order.

Reference anchor: the reference's ingest path re-fetches and re-filters
page batches (dag.py pagination); dedup-at-ingest with bounded state is
its scale completion, not a port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from databeats_spark.operators.scale import bloom_bitmap, bloom_probe
from databeats_spark.streaming.compaction import drain, read_state, write_epoch

_BITMAP_SCHEMA = "block BIGINT, bits BIGINT, epoch BIGINT"


def bloom_guard_sink(
    state_dir: str,
    m_bits: int = 1 << 20,
):
    """foreachBatch sink: admit only ``fp``-novel ``doc_id`` rows; state is
    the per-epoch bloom bitmap (``{state_dir}/bitmap``), admitted rows
    land epoch-partitioned at ``{state_dir}/admitted``."""

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession

        # within-batch exact dedup, deterministic first-arrival-wins
        # (min id per fingerprint) so replays derive the same keep set
        w = Window.partitionBy("fp").orderBy("doc_id")
        batch = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

        # the probe bitmap: every epoch EXCEPT the current one (replay
        # safety), folded per block with bit_or
        prior = (
            read_state(spark, f"{state_dir}/bitmap", _BITMAP_SCHEMA, epoch_id)
            .groupBy("block")
            .agg(F.bit_or("bits").alias("bits"))
        )
        probed = bloom_probe(batch, prior, "fp", m_bits)
        admitted = probed.filter(~F.col("__bloom_hit")).drop("__bloom_hit")
        admitted = admitted.localCheckpoint()  # two consumers below

        write_epoch(admitted, f"{state_dir}/admitted", epoch_id, ["epoch"])
        delta = bloom_bitmap(admitted.select("fp"), "fp", m_bits)
        write_epoch(delta, f"{state_dir}/bitmap", epoch_id, ["epoch"])

    return merge


def run_bloom_guard(
    spark: SparkSession,
    docs_stream: DataFrame,
    state_dir: str,
    m_bits: int = 1 << 20,
) -> StreamingQuery:
    """Drain all available ``(doc_id, fp)`` document files through the
    guard."""
    sink = bloom_guard_sink(state_dir, m_bits=m_bits)
    return drain(docs_stream, sink, f"{state_dir}/_ckpt")


def admitted_docs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Serving read of the admitted corpus."""
    return spark.read.parquet(f"{state_dir}/admitted").drop("epoch")
