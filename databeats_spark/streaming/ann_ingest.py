"""Continuous ANN index maintenance — the streaming capstone of the
media → embedding → IVF pipeline.

Batch half of the story: ``operators/multimodal.py::encode_payloads``
feeds ``ml/ann.py::IVFIndex.fit``; incremental
half: ``IVFIndex.add`` assigns a new batch to existing centroids
without a refit. This module runs that incremental half as a
Structured Streaming sink so a document/media stream keeps the index
current:

    stream -> attach payload -> encode (Arrow batches, stub model)
           -> assign to nearest existing centroid (KMeans transform)
           -> append to a centroid-partitioned parquet corpus

Exactly-once: every micro-batch writes under its own ``epoch=<id>``
partition (streaming/compaction.py's write_epoch — a replayed epoch
overwrites exactly its own partition). The corpus layout is
partitioned by (epoch, centroid_id): searches still prune on
``centroid_id`` (partition pruning works at any partition level), and
epoch is a physical detail the reader never filters on.

Refit policy stays with the caller: ``drift()`` reports the latest
epoch's mean assignment distance against the fit-time corpus baseline
(see ``IVFIndex.mean_assignment_distance``); when it runs away, fit a
fresh index over the accumulated corpus and resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databeats_spark.ml.ann import IVFIndex
from databeats_spark.operators.multimodal import encode_payloads
from databeats_spark.streaming.compaction import (
    committed_epochs,
    compact_epoch_partials,
    write_epoch,
)


class StreamingIVFIngest:
    """foreachBatch sink that grows an IVF corpus from a ``(doc_id,
    payload)`` stream, encoded by encode_payloads' default model;
    ``index`` provides the frozen centroid book."""

    def __init__(self, index: IVFIndex, out_path: str) -> None:
        self.index = index
        self.out_path = out_path

    def sink(self, batch_df: DataFrame, batch_id: int) -> None:
        """The foreachBatch target: encode → assign → epoch-partitioned
        append (replay-idempotent)."""
        from pyspark.ml.functions import array_to_vector

        emb = encode_payloads(batch_df)
        assigned = self.index.kmeans.transform(
            emb.withColumn("__v", array_to_vector(F.col("embedding")))
        ).select("doc_id", "embedding", "centroid_id")
        write_epoch(assigned, self.out_path, batch_id, ["epoch", "centroid_id"])

    def corpus(self, spark: SparkSession) -> DataFrame:
        """Everything ingested so far: (id, embedding, centroid_id)."""
        return spark.read.parquet(self.out_path).select(
            "doc_id", "embedding", "centroid_id"
        )

    def as_index(self, spark: SparkSession) -> IVFIndex:
        """An IVFIndex over the streamed corpus (frozen centroid book +
        the centroid-partitioned files — probes prune partitions)."""
        return IVFIndex(
            self.index.kmeans, self.corpus(spark), "doc_id", "embedding"
        )

    def drift(self, spark: SparkSession) -> float:
        """Mean assignment distance of the LATEST epoch — compare with
        the fit-time baseline to decide when to refit."""
        full = spark.read.parquet(self.out_path)
        last = full.agg(F.max("epoch").alias("e")).collect()[0]["e"]
        latest = full.filter(F.col("epoch") == last).select(
            # the streamed corpus always carries 'embedding' (the
            # encoder's output name); the seed index may have been fit
            # with any vec_col — align to it
            "doc_id",
            F.col("embedding").alias(self.index.vec_col),
        )
        return self.index.mean_assignment_distance(latest)


def compact_ann_corpus(
    spark: SparkSession,
    corpus_path: str,
    checkpoint_path: str | None = None,
    committed: set[int] | None = None,
    keep_latest: bool = True,
) -> int:
    """Compact the streamed IVF corpus (streaming/compaction.py).

    Unlike the additive sinks this corpus is APPEND rows, so the fold
    is identity — the value is layout: N epochs × K centroids of small
    files re-cluster to ONE base partition per centroid (fewer files,
    and every probe's partition pruning touches one directory instead
    of one per epoch). By default the LATEST committed epoch stays
    unfolded so ``drift()`` (which reads max(epoch) as "the newest
    batch") keeps answering the refit question; pass
    ``keep_latest=False`` for a terminal pack."""
    if committed is None:
        committed = committed_epochs(checkpoint_path or corpus_path + "_ckpt")
    exclude = {max(committed)} if keep_latest and committed else set()
    return compact_epoch_partials(
        spark, corpus_path, lambda df: df.drop("epoch"), ["epoch", "centroid_id"],
        checkpoint_path, committed=committed, exclude=exclude,
    )
