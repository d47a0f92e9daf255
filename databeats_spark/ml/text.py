"""Text classification over the documents corpus — the ML side of the
training-data pipeline (heuristic lang-ID lives in functions/text.py;
this is its learned sibling, the same shape a learned quality filter
takes at 100 TB: featurize → logistic head → batch-score the corpus).

Feature hashing (HashingTF) instead of a vocabulary fit: no global
dictionary to build or broadcast, constant memory at any corpus size,
and the transform is embarrassingly parallel — the standard trick for
web-scale text. IDF adds the one corpus-level statistics pass.
"""

from __future__ import annotations

import shutil
import tempfile
from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import IDF, HashingTF, IndexToString, RegexTokenizer, StringIndexer
from pyspark.sql import DataFrame


def build_lang_classifier(label_col: str = "lang") -> Pipeline:
    tokenizer = RegexTokenizer(
        inputCol="text", outputCol="__toks", pattern=r"\s+", minTokenLength=1
    )
    tf = HashingTF(inputCol="__toks", outputCol="__tf", numFeatures=1 << 12)
    idf = IDF(inputCol="__tf", outputCol="features")
    indexer = StringIndexer(inputCol=label_col, outputCol="label", handleInvalid="error")
    lr = LogisticRegression(maxIter=25, regParam=1e-3)
    return Pipeline(stages=[tokenizer, tf, idf, indexer, lr])


def _strip_training_summary(model: PipelineModel) -> PipelineModel:
    """Persist/reload the fitted pipeline to shed the LR training summary.

    When the label column happens to index to exactly two classes, Spark's
    binary LogisticRegression training summary holds the live SparkSession
    (whose ObservationManager is not serializable), so a freshly-fitted
    model cannot be shipped inside a task closure — ``transform`` dies with
    "Task not serializable". Summaries are not persisted, so a save/load
    roundtrip returns the same model in the state a cluster scorer would
    load it anyway.
    """
    d = tempfile.mkdtemp(prefix="dbts_lang_clf_")
    try:
        model.write().overwrite().save(d)
        return PipelineModel.load(d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@dataclass
class LangClassifier:
    model: PipelineModel
    accuracy: float

    def score(self, docs: DataFrame) -> DataFrame:
        """Batch-score: doc_id + predicted language string."""
        labels = self.model.stages[3].labels
        decoded = IndexToString(
            inputCol="prediction", outputCol="pred_lang", labels=labels
        )
        return decoded.transform(self.model.transform(docs)).select(
            "doc_id", "pred_lang"
        )


def train_lang_classifier(
    docs: DataFrame, seed: int = 7, label_col: str = "lang"
) -> LangClassifier:
    """Seeded split → fit → held-out accuracy. Deterministic for a
    fixed corpus/seed (the M1 reproducibility requirement).

    ``label_col`` defaults to the table's lang column; pass a
    heuristic label (e.g. functions/text.lang_guess output) to DISTILL
    a rule-based labeler into the model — the weak-supervision
    bootstrap real corpus pipelines use when gold labels don't exist.
    """
    train, test = docs.randomSplit([0.8, 1 - 0.8], seed=seed)
    model = _strip_training_summary(build_lang_classifier(label_col=label_col).fit(train))
    labels = model.stages[3].labels
    decoded = IndexToString(inputCol="prediction", outputCol="pred_lang", labels=labels)
    scored = decoded.transform(model.transform(test))
    n = scored.count()
    correct = scored.filter(f"{label_col} = pred_lang").count()
    return LangClassifier(model=model, accuracy=correct / n if n else 0.0)
