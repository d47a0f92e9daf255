"""KMeans song recommender — reference recommendation.py (M6-M8, W6).

Reference flow (recommendation.py:41-96): preprocess (tracks ⟕ audio,
dropna, dedup on track_name), LabelEncoder(artist_id) × 100 as a
same-artist affinity feature, StandardScaler, KMeans(k = n_rows // 15,
seed 42); recommend = songs sharing the input set's MODAL cluster,
first-seen dedup, cap 20.

Spark re-expression: one Pipeline of StringIndexer → SQLTransformer
(the ×100 affinity weight) → VectorAssembler → StandardScaler(withMean)
→ KMeans. The modal-cluster pick is a deterministic groupBy-count
(reference A5 ``statistics.mode``); the output ordering is pinned
(popularity desc, track_name) because pandas "first-seen order" is not
meaningful in a distributed frame. Unlike the reference (which re-fits
KMeans on every dashboard request, app.py:171), the model fits once
and serves many queries.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.clustering import KMeans
from pyspark.ml.feature import SQLTransformer, StandardScaler, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame, functions as F

from databeats_spark.operators.dedup import dedup_first
from databeats_spark.schemas import AUDIO_FEATURE_COLS

ARTIST_WEIGHT = 100  # reference recommendation.py:59-60
ROWS_PER_CLUSTER = 15  # reference recommendation.py:61
# Deviation from the reference's unbounded k = n // 15: at 100× corpus
# size that rule asks KMeans for hundreds of thousands of centroids,
# which does not converge in practice. Cap k; beyond ~K_MAX * 15 rows
# the right tool is the ANN path (ml/ann.py ivf_cosine_top_k), which
# scales cluster count with sqrt(n) and prunes probes at query time.
K_MAX = 2048


def build_pipeline(k: int, seed: int = 42) -> Pipeline:
    return Pipeline(
        stages=[
            StringIndexer(inputCol="artist_id", outputCol="artist_idx", handleInvalid="keep"),
            SQLTransformer(
                statement=f"SELECT *, artist_idx * {ARTIST_WEIGHT} AS artist_weighted FROM __THIS__"
            ),
            VectorAssembler(
                inputCols=[*AUDIO_FEATURE_COLS, "artist_weighted"], outputCol="raw_features"
            ),
            StandardScaler(
                inputCol="raw_features", outputCol="features", withMean=True, withStd=True
            ),
            KMeans(k=k, seed=seed, featuresCol="features", predictionCol="label"),
        ]
    )


class SongRecommender:
    def __init__(self, model: PipelineModel, corpus: DataFrame):
        self.model = model
        self.labeled = model.transform(corpus).select(
            "track_id", "track_name", "artist_id", "popularity", "label"
        ).cache()

    @staticmethod
    def preprocess(tracks: DataFrame, audio: DataFrame) -> DataFrame:
        """J3: tracks ⟕ audio ON track_id, dropna, dedup track_name
        (reference Recommendation_model.ipynb cell-3, recommendation.py:13)."""
        merged = tracks.join(audio, "track_id", "left").na.drop(subset=list(AUDIO_FEATURE_COLS))
        return dedup_first(merged, ["track_name"], [F.col("popularity").desc(), "track_id"])

    @classmethod
    def fit(cls, tracks: DataFrame, audio: DataFrame, seed: int = 42) -> "SongRecommender":
        corpus = cls.preprocess(tracks, audio).cache()
        k = max(2, min(corpus.count() // ROWS_PER_CLUSTER, K_MAX))  # M6 rule, capped (see K_MAX)
        model = build_pipeline(k, seed).fit(corpus)
        return cls(model, corpus)

    def recommend(self, track_names: list[str], k: int = 20) -> DataFrame:
        """find_recommendation + format_recommendation
        (recommendation.py:73-96): modal cluster of the input tracks →
        other songs in that cluster, deduped, capped at 20 (W6)."""
        inputs = self.labeled.filter(F.col("track_name").isin(track_names))
        modal = (
            inputs.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "label")  # deterministic mode (A5)
            .limit(1)
        )
        return (
            self.labeled.join(F.broadcast(modal.select("label")), "label", "left_semi")
            .filter(~F.col("track_name").isin(track_names))
            .orderBy(F.col("popularity").desc(), "track_name")
            .limit(k)
            .select("track_name", "artist_id", "popularity")
        )

    def save(self, path: str) -> None:
        """K5/M-persistence: PipelineModel.save replaces joblib.dump
        (reference ml_training_dag.py:98)."""
        self.model.write().overwrite().save(path)


def format_recommendations(recs: DataFrame) -> list[str]:
    """W6 presentation (reference format_recommendation,
    recommendation.py:82-96): numbered display strings, deduped, cap
    enforced upstream; the artist shows as its raw id, as in the
    reference."""
    recs = recs.withColumn("artist_name", F.col("artist_id"))
    rows = recs.select("track_name", "artist_name").collect()
    return [f"{i + 1}. {r['track_name']} — {r['artist_name']}" for i, r in enumerate(rows)]
