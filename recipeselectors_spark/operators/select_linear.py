"""Linear-model coefficient selection step.

Reference: /root/reference/R/step_select_linear.R (prep :135-210; binary
classification → logistic_reg, multiclass → **abort** (:159-167); regression
→ linear_reg (:169-172); score = abs(coefficients) (:181); features with NA
coefficients are force-excluded (:188-189); elastic-net penalty/mixture map
to regParam/elasticNetParam (:251-265); prune via ``select_percentile``,
maximize). Predictors should be normalized first — the reference's test does
(test_step_select_linear.R:13); pair with plans.pipeline.NormalizeStep.
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.regression import LinearRegression
from pyspark.sql import DataFrame

from recipeselectors_spark.functions import pruning
from recipeselectors_spark.operators import _mllib
from recipeselectors_spark.operators.importance import pull_importances
from recipeselectors_spark.plans.step import SelectionStep


class LinearStep(SelectionStep):
    step_name = "step_select_linear"
    prune_mode = "percentile"
    maximize = True

    def __init__(
        self,
        outcome: str,
        terms=None,
        top_p=float("nan"),
        threshold=float("nan"),
        penalty: float = 0.0,  # regParam (:251-257)
        mixture: float = 0.0,  # elasticNetParam (:258-265)
        max_iter: int = 100,
        tol: float = 1e-6,  # MLlib convergence tolerance (tighten for
        # oracle-grade reproducibility: at regParam=0 the MLE is unique, so
        # a tol of 1e-12 pins the coefficients far below any rounding)
        skip: bool = False,
    ) -> None:
        super().__init__(outcome, terms, top_p, threshold, skip)
        self.penalty = penalty
        self.mixture = mixture
        self.max_iter = max_iter
        self.tol = tol

    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        tf = _mllib.training_frame(df, x_names, self.outcome)
        if tf.kind == "classification":
            # classes counted by the label dictionary, on the rows fitted
            if tf.n_classes > 2:  # step_select_linear.R:163-166
                raise ValueError(
                    "step_select_linear does not support multiclass outcomes"
                )
            est = LogisticRegression(
                regParam=self.penalty,
                elasticNetParam=self.mixture,
                maxIter=self.max_iter,
                tol=self.tol,
            )
        else:
            est = LinearRegression(
                regParam=self.penalty,
                elasticNetParam=self.mixture,
                maxIter=self.max_iter,
                tol=self.tol,
            )
        model = _mllib.fit(est, tf.frame, x_names)
        coefs = pull_importances(model, x_names, scaled=False)
        return {c: abs(v) for c, v in coefs.items()}  # abs(NaN) is NaN

    def extra_exclude(
        self, scores: dict[str, float], x_names: list[str]
    ) -> list[str]:
        # NA-coefficient features are force-excluded (:188-189)
        return [c for c, v in scores.items() if pruning._is_na(v)]

    def tunable(self):
        base = super().tunable()
        base["penalty"] = {"type": "double", "range": (1e-10, 1.0), "log": True}
        base["mixture"] = {"type": "double", "range": (0.0, 1.0)}
        return base
