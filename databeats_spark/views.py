"""The SQL dashboard surface: every registry query as a named view.

The reference's interactive layer is Gradio callbacks doing client-
side pandas over SELECT * scans (reference app.py:11-33, 56-119). The
Spark-native equivalent is a catalog of views: base tables plus one
``v_<query>`` temp view per registry entry, so any SQL client (or
``spark.sql``) can compose dashboards over governed definitions —
filters/projections written against a view still push down into the
underlying parquet scan, because a temp view is just a named logical
plan, not a materialization.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from databeats_spark.registry import registry
from databeats_spark.sources.tables import register_views

# builds whose CONSTRUCTION runs a whole pipeline (iterative
# propagation, KMeans training, the curation funnel) — excluded by
# default so opening the dashboard stays cheap; pass them in ``names``
# explicitly to pay their cost. Not the full set of builders that run
# jobs at build time: under AQE a lazy localCheckpoint executes every
# shuffle/broadcast stage below it when the query is BUILT (only its
# final stage waits for an action). At sf0.001, 73 of 306 builders ran
# jobs when built in an AQE-on get_spark session and 47 with AQE off
# (hits_copurchase 19 vs 2 jobs, minhash_near_dups 10 vs 2;
# plans/r15/build_time_jobs.txt).
EAGER_QUERIES = frozenset(
    {
        "dedup_components",
        "ivf_cosine_topk",
        "tf_idf_terms",
        "semdedup_near_dups",  # KMeans fit at build
        "pagerank_docs",  # per-round checkpoints at build
        "curation_funnel",  # full pipeline run at build
        "bpe_merges",  # merge-loop driver rounds at build
        "bpe_segmentation",  # merge-loop driver rounds at build
        "pagerank_docs_exact",  # 10 checkpointed rounds at build
        "curation_funnel_exact",  # full pipeline run at build
    }
)


def create_dashboard_views(
    spark: SparkSession,
    sf_dir: str | None = None,
    names: tuple[str, ...] | None = None,
) -> list[str]:
    """Register base tables + ``v_<query>`` views; returns view names.

    Default: every registry query outside ``EAGER_QUERIES``. A temp
    view is just a named plan, but building it is not always free:
    under AQE a builder with a lazy checkpoint runs that checkpoint's
    upstream shuffle/broadcast stages here, at view creation (see
    ``EAGER_QUERIES``). ``names`` overrides the selection, including
    the eager entries."""
    register_views(spark, sf_dir)
    created = []
    for spec in registry():
        if (names is None and spec.name in EAGER_QUERIES) or (
            names is not None and spec.name not in names
        ):
            continue
        spec.build(spark, sf_dir).createOrReplaceTempView(f"v_{spec.name}")
        created.append(f"v_{spec.name}")
    return created
