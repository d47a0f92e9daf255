"""Dashboard queries — the reference's interactive layer (app.py) as
parameterized DataFrame functions.

The reference's Gradio callbacks re-scan BigQuery with SELECT * per
click and prune client-side (app.py:11-33); these take the curated
tables as DataFrames and push every filter/projection into the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from databeats_spark.operators.dedup import dedup_first


def top_tracks_by(tracks: DataFrame, metric: str = "popularity") -> DataFrame:
    """`dashboard()` / `weeksOnChart()` (app.py:56-91, 99-119): dropna,
    dedup by track_name, top-20 by popularity or chart streak."""
    return (
        dedup_first(
            tracks.na.drop(subset=[metric, "track_name"]),
            ["track_name"],
            [F.col(metric).desc(), "track_id"],
        )
        .orderBy(F.col(metric).desc(), "track_name")
        .limit(20)
        .select("track_name", "artist_id", metric)
    )


def resolve_artist_id(artists: DataFrame, artist_name: str) -> str:
    """J5 scalar lookup (app.py:37-38): name → id; errors unless exactly
    one match, like pandas ``.item()``."""
    rows = artists.filter(F.col("artist_name") == artist_name).select("artist_id").distinct().take(2)
    if len(rows) != 1:
        raise ValueError(f"artist_name {artist_name!r} matched {len(rows)} ids, need exactly 1")
    return rows[0]["artist_id"]


def audio_comparison(
    tracks: DataFrame,
    artists: DataFrame,
    name_a: str,
    name_b: str,
    features: tuple[str, ...] = ("danceability", "energy", "valence", "tempo"),
) -> DataFrame:
    """`audio_dashboard()` (app.py:93-97 + 40-52): two-artist lookup,
    isin filter (F3), display-name re-attach (J6/D1) — the reference
    hard-codes the 2-value when/otherwise; a broadcast dim join is the
    general form and costs the same here."""
    id_a = resolve_artist_id(artists, name_a)
    id_b = resolve_artist_id(artists, name_b)
    return (
        tracks.filter(F.col("artist_id").isin(id_a, id_b))
        .withColumn(
            "artist_name",
            F.when(F.col("artist_id") == id_a, F.lit(name_a)).otherwise(F.lit(name_b)),
        )
        .select("artist_name", "track_name", *features)
    )


def genre_explode_counts(artists: DataFrame) -> DataFrame:
    """Genre array analytics (the reference stores ARRAY<STR> genre but
    never aggregates it — free capability surfaced): top genres by
    artist count."""
    return (
        artists.select(F.explode_outer("genre").alias("genre"))
        .groupBy("genre")
        .agg(F.count(F.lit(1)).alias("n_artists"))
        .orderBy(F.col("n_artists").desc(), "genre")
        .limit(20)
    )
