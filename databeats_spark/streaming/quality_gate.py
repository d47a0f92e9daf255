"""Streaming model serving: the learned quality filter on a live feed.

The batch-trained pipeline (ml/quality_filter.py) is all row-local
transformers (regex tokenize → hashing TF → IDF scale → logistic
sigmoid), so the SAME fitted PipelineModel serves a Structured
Streaming source unchanged — no state, no watermark, just a map-only
scoring stage fused into each micro-batch. This is the standard
deploy shape: train on a batch snapshot, attach the model to the
ingest stream, route keep/drop by calibrated score, periodically
refit and swap.

Scale: per-batch cost is the JVM transform (zero Python in the row
path); routing is two filtered map-only sinks of the same scored
micro-batch — identical posture to sources/files.quarantine_split_write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databeats_spark.ml.quality_filter import QualityFilter

KEEP_THRESHOLD = 0.5


def stream_documents(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a documents parquet directory (schema pinned
    from one batch read — never inferred per micro-batch)."""
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def quality_gate(
    docs: DataFrame, qf: QualityFilter
) -> DataFrame:
    """Score a (batch or streaming) document feed and flag keeps
    (``p_good >= KEEP_THRESHOLD``).

    Emits (doc_id, p_good, keep) — downstream routes on ``keep``;
    the score is kept so threshold changes replay without re-scoring.
    """
    return qf.score(docs).select(
        "doc_id",
        "p_good",
        (F.col("p_good") >= KEEP_THRESHOLD).alias("keep"),
    )
