"""Popularity-prediction pipelines — reference §2.10 M1-M5, M9-M10.

The reference trains scikit-learn regressors on a driver-sized pandas
frame (8k rows, ml_training_dag.py:53-98; Prediction_Model.ipynb):
RandomForest + BayesSearchCV(cv=3), LinearRegression + RFE, XGBoost +
TPE. Spark ML re-expression: VectorAssembler → estimator →
CrossValidator(ParamGridBuilder) — same split/CV/metric semantics,
distributed fit. Quality gates are tolerance-based (SURVEY §5): ML is
excluded from hash-matching.

Known reference defects NOT reproduced (SURVEY §5 defect list): the
hyperopt sign bug (loss=-rmse maximizing RMSE, Prediction_Model
cell-11) and the BigQueryHook NameError (ml_training_dag.py:31).
"""

from __future__ import annotations

import itertools
import math
import random
from collections import Counter
from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import GBTRegressor, LinearRegression, RandomForestRegressor
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame

from databeats_spark.schemas import AUDIO_FEATURE_COLS

LABEL = "popularity"


def xgb_regressor(seed: int):
    """M4: the reference's actual estimator is XGBoost tuned with
    hyperopt TPE (Prediction_Model.ipynb cell-11/12, artifact
    prediciton_model_xgb.joblib). ``xgboost.spark.SparkXGBRegressor``
    is the distributed twin; the package is absent from this image, so
    the branch activates only when importable and ``algo="xgb"``
    otherwise falls back to GBTRegressor (documented stand-in)."""
    try:
        from xgboost.spark import SparkXGBRegressor
    except ImportError:
        return None
    return SparkXGBRegressor(label_col=LABEL, features_col="features", seed=seed)


@dataclass
class TrainedModel:
    model: PipelineModel
    rmse: float
    algo: str


def _estimator(algo: str, seed: int):
    if algo == "rf":
        # reference best config family: deep forest, few features per
        # split (Prediction_Model cell-15: max_depth=100, max_features=3)
        return RandomForestRegressor(labelCol=LABEL, seed=seed), lambda est: (
            ParamGridBuilder()
            .addGrid(est.maxDepth, [8, 12])
            .addGrid(est.numTrees, [50, 100])
            .build()
        )
    if algo == "xgb":
        est = xgb_regressor(seed)
        if est is None:
            return _estimator("gbt", seed)  # documented fallback (M4)
        return est, lambda e: (
            ParamGridBuilder()
            .addGrid(e.getParam("max_depth"), [4, 6])
            .addGrid(e.getParam("n_estimators"), [60])
            .build()
        )
    if algo == "gbt":
        # stands in for the reference's XGBoost path (M4); SparkXGB
        # needs the xgboost package — absent in this image
        return GBTRegressor(labelCol=LABEL, seed=seed), lambda est: (
            ParamGridBuilder().addGrid(est.maxDepth, [4, 6]).addGrid(est.maxIter, [30]).build()
        )
    if algo == "lr":
        # LinearRegression; elastic-net grid stands in for RFE's
        # feature selection (L1 zeroes weak features, M3)
        return LinearRegression(labelCol=LABEL), lambda est: (
            ParamGridBuilder()
            .addGrid(est.regParam, [0.0, 0.1])
            .addGrid(est.elasticNetParam, [0.0, 1.0])
            .build()
        )
    raise ValueError(f"unknown algo {algo!r}")


def random_param_maps(space: dict, n_iter: int, seed: int) -> list[dict]:
    """Seeded random search over a discrete param space — the semantic
    mirror of the reference's ``BayesSearchCV(cv=3, n_iter=10)``
    (reference ml_training_dag.py:66-98) and ``fmin(tpe, max_evals)``
    (Prediction_Model.ipynb cell-11): sample ``n_iter`` distinct
    configurations instead of exhausting the grid. Random search covers
    a large space at a fixed fit budget (Bergstra & Bengio, JMLR 2012);
    the sample is deterministic in ``seed``.

    ``space`` maps ``pyspark.ml.param.Param`` → candidate list; returns
    param maps consumable by ``CrossValidator(estimatorParamMaps=...)``.
    """
    total = math.prod(len(v) for v in space.values())
    rng = random.Random(seed)
    keys = list(space)
    seen: set[tuple[int, ...]] = set()
    maps: list[dict] = []
    while len(maps) < min(n_iter, total):
        pick = tuple(rng.randrange(len(space[k])) for k in keys)
        if pick in seen:
            continue
        seen.add(pick)
        maps.append({k: space[k][i] for k, i in zip(keys, pick)})
    return maps


def tpe_param_maps(
    space: dict,
    history: list[tuple[dict, float]],
    n_iter: int,
    seed: int = 42,
) -> list[dict]:
    """Model-based continuation of a random search — the adaptive half
    of the reference's ``BayesSearchCV``/``fmin(tpe)`` loops (reference
    ml_training_dag.py:66-98; Prediction_Model.ipynb cell-11).

    TPE over categorical dimensions (Bergstra et al., NIPS 2011): split
    the evaluated configs into good/bad at the metric median
    (metric minimized), estimate per-axis densities
    l(v)=P(v|good) and g(v)=P(v|bad) with add-one smoothing, and return
    the ``n_iter`` UNSEEN configs maximizing Σ log l − Σ log g.
    Deterministic: the discrete space is ranked exhaustively when small
    (a seeded sample pool otherwise), ties broken by value tuple.
    """
    if n_iter <= 0 or not history:
        return []
    keys = list(space)
    ranked = sorted(history, key=lambda h: h[1])
    n_good = max(1, math.ceil(0.5 * len(ranked)))
    good, bad = ranked[:n_good], ranked[n_good:]

    def dens(subset: list[tuple[dict, float]]) -> dict:
        out = {}
        for k in keys:
            if subset:
                cnt = Counter(m[k] for m, _ in subset)
                tot = len(subset) + len(space[k])
                out[k] = {v: (cnt.get(v, 0) + 1) / tot for v in space[k]}
            else:  # no bad half yet: uniform, ratio reduces to l alone
                out[k] = {v: 1.0 / len(space[k]) for v in space[k]}
        return out

    l, g = dens(good), dens(bad)
    seen = {tuple(m[k] for k in keys) for m, _ in history}
    total = math.prod(len(space[k]) for k in keys)
    if total <= 20_000:
        pool = itertools.product(*[space[k] for k in keys])
    else:  # seeded candidate pool for combinatorially large spaces
        rng = random.Random(seed)
        pool = {tuple(rng.choice(space[k]) for k in keys) for _ in range(5_000)}
    scored = [
        (sum(math.log(g[k][v]) - math.log(l[k][v]) for k, v in zip(keys, tup)), tup)
        for tup in pool
        if tup not in seen
    ]
    scored.sort(key=lambda t: (t[0], tuple(map(str, t[1]))))
    return [dict(zip(keys, tup)) for _, tup in scored[:n_iter]]


def _search_space(est, algo: str) -> dict:
    """The wide space the random search samples from — the analog of
    the reference's 288-candidate grid / skopt search dimensions."""
    if algo == "rf":
        return {
            est.maxDepth: [6, 8, 10, 12, 14],
            est.numTrees: [40, 60, 80, 100, 150],
            est.featureSubsetStrategy: ["onethird", "sqrt", "all"],
            est.minInstancesPerNode: [1, 3],
        }
    if algo == "gbt":
        return {
            est.maxDepth: [3, 4, 5, 6, 8],
            est.maxIter: [20, 30, 50],
            est.stepSize: [0.05, 0.1, 0.2],
        }
    if algo == "xgb":
        return {
            est.getParam("max_depth"): [3, 4, 6, 8, 10],
            est.getParam("n_estimators"): [60, 120, 180],
            est.getParam("learning_rate"): [0.05, 0.1, 0.2],
        }
    if algo == "lr":
        return {
            est.regParam: [0.0, 0.01, 0.1, 0.3, 1.0],
            est.elasticNetParam: [0.0, 0.5, 1.0],
        }
    raise ValueError(f"unknown algo {algo!r}")


def train_popularity_model(
    df: DataFrame,
    algo: str = "rf",
    feature_cols: tuple[str, ...] = AUDIO_FEATURE_COLS,
    cv_folds: int = 3,
    seed: int = 42,
    search: str = "grid",
    n_iter: int = 10,
) -> TrainedModel:
    """M1 (seeded split) + M2/M3/M5 (CV search) + M10 (transform).

    ``search="grid"`` exhausts the small curated grid (M5, reference
    GridSearchCV); ``search="random"`` samples ``n_iter`` configs from
    the wide space (M2/M4, reference BayesSearchCV/TPE ``n_iter``
    semantics — a fixed fit budget over a large space);
    ``search="adaptive"`` spends half the budget on a random warm-up
    and the rest on TPE-guided configs (:func:`tpe_param_maps`) — the
    reference's actually-adaptive BayesSearchCV behavior at the same
    total fit count.

    Returns the fitted pipeline and held-out RMSE. Mirrors the
    reference flow: split → cv-fit on train → refit pipeline scores the
    held-out 20% (the reference then refits on ALL data before
    persisting, ml_training_dag.py:95 — callers can do the same).
    """
    data = df.select(LABEL, *feature_cols).na.drop()
    train, test = data.randomSplit([0.8, 1 - 0.8], seed=seed)

    est, grid_fn = _estimator(algo, seed)
    pipe = Pipeline(
        stages=[VectorAssembler(inputCols=list(feature_cols), outputCol="features"), est]
    )
    evaluator = RegressionEvaluator(labelCol=LABEL, metricName="rmse")

    def cv_fit(maps):
        cv = CrossValidator(
            estimator=pipe,
            estimatorParamMaps=maps,
            evaluator=evaluator,
            numFolds=cv_folds,
            seed=seed,
            parallelism=4,
        )
        return cv.fit(train)

    space_algo = "gbt" if algo == "xgb" and isinstance(est, GBTRegressor) else algo
    if search == "adaptive":
        space = _search_space(est, space_algo)
        warmup = random_param_maps(space, max(2, n_iter - n_iter // 2), seed)
        fitted = cv_fit(warmup)
        guided = tpe_param_maps(
            space, list(zip(warmup, fitted.avgMetrics)), n_iter - len(warmup), seed
        )
        if guided:
            fitted2 = cv_fit(guided)
            if min(fitted2.avgMetrics) < min(fitted.avgMetrics):
                fitted = fitted2
    else:
        if search == "random":
            param_maps = random_param_maps(_search_space(est, space_algo), n_iter, seed)
        elif search == "grid":
            param_maps = grid_fn(est)
        else:
            raise ValueError(f"unknown search {search!r}")
        fitted = cv_fit(param_maps)
    rmse = evaluator.evaluate(fitted.bestModel.transform(test))
    return TrainedModel(model=fitted.bestModel, rmse=float(rmse), algo=algo)


def rfe_select_features(
    df: DataFrame,
    n_features: int = 10,
) -> tuple[str, ...]:
    """M3: recursive feature elimination — refit, rank, drop the
    weakest feature, repeat until ``n_features`` remain
    (reference Prediction_Model.ipynb cell-8/9:
    ``RFE(LinearRegression(), n_features_to_select=10)``).

    Ranking uses a seeded (42) RandomForest's ``featureImportances`` rather
    than raw LR coefficients: impurity importances are scale-invariant,
    whereas |coef| on unstandardized features (the reference's ranking)
    conflates weight with unit. Each round is one distributed fit on
    the surviving columns — ``len(AUDIO_FEATURE_COLS) - n_features``
    fits total, no driver-side data.
    """
    remaining = list(AUDIO_FEATURE_COLS)
    while len(remaining) > n_features:
        data = df.select(LABEL, *remaining).na.drop()
        pipe = Pipeline(
            stages=[
                VectorAssembler(inputCols=remaining, outputCol="features"),
                RandomForestRegressor(labelCol=LABEL, seed=42, numTrees=40, maxDepth=8),
            ]
        )
        vec = pipe.fit(data).stages[-1].featureImportances
        ranked = sorted(remaining, key=lambda c: vec[remaining.index(c)])
        remaining = [c for c in remaining if c != ranked[0]]
    return tuple(remaining)


def train_lr_with_rfe(
    df: DataFrame,
    n_features: int = 10,
    cv_folds: int = 3,
) -> tuple[TrainedModel, tuple[str, ...]]:
    """M3 end-to-end: RFE down to ``n_features``, then the linear model
    on the selected subset (reference band: RMSE 20.663 with 10/13
    features, Prediction_Model.ipynb cell-9)."""
    selected = rfe_select_features(df, n_features=n_features)
    trained = train_popularity_model(df, algo="lr", feature_cols=selected, cv_folds=cv_folds)
    return trained, selected


def feature_importances(trained: TrainedModel) -> dict[str, float]:
    """M9 feature-importance report (reference app.py:121-144) for a
    model trained on ``AUDIO_FEATURE_COLS``."""
    last = trained.model.stages[-1]
    if hasattr(last, "featureImportances"):
        vec = last.featureImportances
        return {c: float(vec[i]) for i, c in enumerate(AUDIO_FEATURE_COLS)}
    if hasattr(last, "coefficients"):
        return {c: float(abs(last.coefficients[i])) for i, c in enumerate(AUDIO_FEATURE_COLS)}
    return {}
