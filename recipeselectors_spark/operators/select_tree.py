"""Single decision-tree importance selection step.

Reference: /root/reference/R/step_select_tree.R (prep :134-195; default
engine rpart :69; mode inferred from the outcome type; tunable
cost_complexity/tree_depth/min_n :236-251; prune via ``select_percentile``,
maximize). MLlib mapping: DecisionTreeClassifier/Regressor
``featureImportances`` (impurity gain), rescaled 0..100 like the reference's
rpart method (pull_importances.R:71-87).
"""

from __future__ import annotations

from pyspark.ml.classification import DecisionTreeClassifier
from pyspark.ml.regression import DecisionTreeRegressor
from pyspark.sql import DataFrame

from recipeselectors_spark.operators import _mllib
from recipeselectors_spark.operators.importance import pull_importances
from recipeselectors_spark.plans.step import SelectionStep


class TreeStep(SelectionStep):
    step_name = "step_select_tree"
    prune_mode = "percentile"
    maximize = True

    def __init__(
        self,
        outcome: str,
        terms=None,
        top_p=float("nan"),
        threshold=float("nan"),
        tree_depth: int = 5,
        min_n: int = 1,
        max_bins: int = 32,
        seed: int = 42,
        skip: bool = False,
    ) -> None:
        super().__init__(outcome, terms, top_p, threshold, skip)
        self.tree_depth = tree_depth
        self.min_n = min_n
        # maxBins >= distinct values makes continuous split candidates the
        # exact midpoints of consecutive distinct values (no quantile
        # sketch) — deterministic, and SQL-expressible for the oracle
        self.max_bins = max_bins
        self.seed = seed

    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        tf = _mllib.training_frame(df, x_names, self.outcome)
        cls = DecisionTreeClassifier if tf.kind == "classification" else DecisionTreeRegressor
        est = cls(
            maxDepth=self.tree_depth,
            minInstancesPerNode=self.min_n,
            maxBins=self.max_bins,
            seed=self.seed,
        )
        model = _mllib.fit(est, tf.frame, x_names)
        return pull_importances(model, x_names, scaled=True)

    def tunable(self):
        base = super().tunable()
        base["tree_depth"] = {"type": "int", "range": (1, 15)}
        base["min_n"] = {"type": "int", "range": (2, 40)}
        return base
