"""Learned document-quality filter distilled from rule gates.

The production quality-filter recipe (CCNet's LM filter, FineWeb-edu's
classifier, both public): no gold labels exist at corpus scale, so a
cheap rule gate weak-labels a sample, a linear text classifier is fit
on those labels, and the LEARNED scorer — which generalizes past the
rules' blind spots and emits a calibrated probability instead of a
hard flag — scores the full corpus. The score then drives threshold
sweeps and decile-based mixing rather than a binary keep/drop.

Spark shape: weak labels are pure Column arithmetic
(functions/text.py::quality_score, one scan); the classifier is
hashing-trick TF → IDF → logistic regression (no vocabulary
broadcast, constant memory at any corpus width); batch scoring is the
fitted pipeline's JVM transform — zero Python in the row path, so the
100 TB scoring pass is a single map-only job.

Reference parity: extends the reference's model-training surface
(SURVEY §2 M-rows; ml_training_dag.py trains regressors the same
featurize→fit→batch-score way) onto the LLM-curation north star.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import IDF, HashingTF, RegexTokenizer
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from databeats_spark.functions.text import quality_score
from databeats_spark.ml.text import _strip_training_summary

WEAK_LABEL_THRESHOLD = 0.75


def weak_quality_labels(docs: DataFrame) -> DataFrame:
    """Rule-gate weak labels: 1.0 when the composite heuristic reaches
    ``WEAK_LABEL_THRESHOLD``.

    One scan of pure Column arithmetic — the labeling pass is free to
    run over any sample size the fit budget allows.
    """
    return docs.withColumn(
        "label", (quality_score("text") >= WEAK_LABEL_THRESHOLD).cast("double")
    )


def build_quality_filter() -> Pipeline:
    tokenizer = RegexTokenizer(
        inputCol="text", outputCol="__toks", pattern=r"\s+", minTokenLength=1
    )
    tf = HashingTF(inputCol="__toks", outputCol="__tf", numFeatures=1 << 15)
    idf = IDF(inputCol="__tf", outputCol="features")
    lr = LogisticRegression(maxIter=25, regParam=1e-3)
    return Pipeline(stages=[tokenizer, tf, idf, lr])


@dataclass
class QualityFilter:
    model: PipelineModel
    heldout_auc: float

    def score(self, docs: DataFrame) -> DataFrame:
        """Batch-score: doc_id + calibrated p_good in [0,1]."""
        return self.model.transform(docs).select(
            "doc_id", vector_to_array("probability")[1].alias("p_good")
        )

    def decile_report(self, docs: DataFrame) -> DataFrame:
        """Docs-per-score-decile — the curve a mixing policy reads.

        Deciles come from the score value (floor(p*10)), not a global
        rank — one hash aggregate, no global sort at corpus scale.
        """
        return (
            self.score(docs)
            .groupBy(
                F.least(F.floor(F.col("p_good") * 10), F.lit(9))
                .cast("bigint")
                .alias("decile")
            )
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("decile")
        )


def train_quality_filter(
    docs: DataFrame,
    seed: int = 7,
) -> QualityFilter:
    """Weak-label → seeded split → fit → held-out AUC (vs weak labels).

    The returned AUC is measured against the weak labels themselves
    (all that exists in production); gold-label generalization is the
    test suite's job via a planted corpus.
    """
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    labeled = weak_quality_labels(docs)
    train, test = labeled.randomSplit([0.8, 1 - 0.8], seed=seed)
    model = _strip_training_summary(build_quality_filter().fit(train))
    auc = BinaryClassificationEvaluator(metricName="areaUnderROC").evaluate(
        model.transform(test)
    )
    return QualityFilter(model=model, heldout_auc=auc)
