"""VIP — variable importance from a user-supplied model.

Reference: /root/reference/R/step_select_vip.R (prep :120-162; fits an
arbitrary user-supplied parsnip model spec via fit_xy :137, pulls per-feature
importances :138 via the pull_importances generic; prune via
``select_percentile``, maximize).

Spark mapping: the user supplies any MLlib estimator (or a factory
``kind -> estimator``); importances come from the pull_importances registry,
which users can extend for custom model classes — the reference's
user-extensible S3 surface (README.md:98-117).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame

from recipeselectors_spark.operators import _mllib
from recipeselectors_spark.operators.importance import pull_importances
from recipeselectors_spark.plans.step import SelectionStep


class VipStep(SelectionStep):
    step_name = "step_select_vip"
    prune_mode = "percentile"
    maximize = True

    def __init__(
        self,
        outcome: str,
        model: Any | Callable[[str], Any],
        terms=None,
        top_p=float("nan"),
        threshold=float("nan"),
        scaled: bool | None = None,
        skip: bool = False,
    ) -> None:
        super().__init__(outcome, terms, top_p, threshold, skip)
        self.model = model
        self.scaled = scaled

    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        tf = _mllib.training_frame(df, x_names, self.outcome)
        est = self.model(tf.kind) if callable(self.model) else self.model
        # fresh copy so a re-prep never mutates the user's estimator
        est = est.copy(est.extractParamMap()) if hasattr(est, "copy") else est
        fitted = _mllib.fit(est, tf.frame, x_names)
        return pull_importances(fitted, x_names, scaled=self.scaled)
