"""Random-forest importance selection step.

Reference: /root/reference/R/step_select_forests.R (prep :140-201; default
engine ranger with ``importance='permutation'`` :73-74; mode inferred from
the outcome type :156; tunable mtry/trees/min_n :242-256; prune via
``select_percentile``, maximize).

MLlib mapping: RandomForestClassifier/Regressor ``featureImportances``
(Gini / variance gain) as the default, fitted on the spread (uncached)
training frame; ``importance='permutation'`` computes true permutation
importance — per-feature score drop after shuffling that column
(distributed: one cached training frame for the fit and every pass, then
one scored pass per feature over a seeded per-partition permutation of it;
documented Gini-vs-permutation delta per SURVEY.md §7/M3).
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.regression import RandomForestRegressor
from pyspark.sql import DataFrame, functions as F

from recipeselectors_spark.operators import _mllib, _permute
from recipeselectors_spark.operators._parallel import thread_map
from recipeselectors_spark.operators.importance import pull_importances
from recipeselectors_spark.plans.step import SelectionStep


class ForestsStep(SelectionStep):
    step_name = "step_select_forests"
    prune_mode = "percentile"
    maximize = True

    def __init__(
        self,
        outcome: str,
        terms=None,
        top_p=float("nan"),
        threshold=float("nan"),
        trees: int = 100,
        mtry: int | None = None,
        min_n: int = 1,
        max_depth: int = 10,
        max_bins: int | None = None,
        bootstrap: bool = True,
        importance: str = "impurity",  # impurity | permutation
        permute: str = "local",  # local | rotation
        permute_ids: list[str] | None = None,
        permute_bucket_chars: int = 3,
        seed: int = 42,
        skip: bool = False,
    ) -> None:
        super().__init__(outcome, terms, top_p, threshold, skip)
        self.trees = trees
        self.mtry = mtry
        self.min_n = min_n
        self.max_depth = max_depth
        self.max_bins = max_bins
        self.bootstrap = bootstrap
        self.importance = importance
        self.permute = permute
        self.permute_ids = permute_ids
        self.permute_bucket_chars = permute_bucket_chars
        self.seed = seed
        if permute == "rotation" and not permute_ids:
            raise ValueError(
                "permute='rotation' needs permute_ids (a row-unique key) — "
                "the content-deterministic permutation orders rows by "
                "md5(seed|ids)"
            )

    def _estimator(self, kind: str):
        cls = RandomForestClassifier if kind == "classification" else RandomForestRegressor
        kwargs = dict(
            numTrees=self.trees,
            minInstancesPerNode=self.min_n,
            maxDepth=self.max_depth,
            seed=self.seed,
            bootstrap=self.bootstrap,
        )
        if self.max_bins is not None:
            kwargs["maxBins"] = self.max_bins
        if self.mtry is not None:
            kwargs["featureSubsetStrategy"] = str(self.mtry)
        return cls(**kwargs)

    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        return self.score_with_extras(df, x_names)[0]

    def score_with_extras(self, df: DataFrame, x_names: list[str]):
        if self.importance == "impurity":
            tf = _mllib.training_frame(df, x_names, self.outcome)
            model = _mllib.fit(self._estimator(tf.kind), tf.frame, x_names)
            return pull_importances(model, x_names, scaled=True), {}
        scores, baseline = self._permutation_importance(df, x_names)
        # the unpermuted metric the deltas are measured against —
        # diagnostics + lets callers report scale-free relative drops
        return scores, {"baseline_metric": baseline}

    def reads(self, x_names: list[str]) -> list[str]:
        ids = self.permute_ids if self.permute == "rotation" else []
        return [*super().reads(x_names), *ids]

    def _metric(
        self, model, frame: DataFrame, x_names: list[str], kind: str
    ) -> float:
        pred = model.transform(_mllib.assemble(frame, x_names))
        if kind == "classification":
            return (
                pred.select(
                    F.avg(
                        (F.col(_mllib.LABEL_COL) == F.col("prediction")).cast("double")
                    ).alias("m")
                ).collect()[0]["m"]
            )
        return pred.select(
            (-F.avg((F.col(_mllib.LABEL_COL) - F.col("prediction")) ** 2)).alias("m")
        ).collect()[0]["m"]

    def _permutation_importance(
        self, df: DataFrame, x_names: list[str]
    ) -> tuple[dict[str, float], float]:
        """Baseline metric minus metric after per-column permutation, and
        the baseline metric itself.

        One cached training frame (``_mllib.training_frame(cached=True)``:
        round-robin repartitioned ONCE, each partition a systematic sample
        of the dataset, one label-dictionary job) serves the fit, the
        baseline and every per-feature pass; a pass permutes one column of
        that frame, assembles it and scores it.

        ``permute='local'`` (default): each feature's permutation is a
        seeded PARTITION-LOCAL shuffle of that column via mapInPandas
        (operators/_permute.py) — map-only scoring pass per feature, no
        global sort, no join, nothing single-partition.

        ``permute='rotation'``: content-deterministic cyclic rotation in
        md5(seed|ids) order within hash buckets (_permute.rotate_columns) —
        one bounded exchange per feature, layout-invariant, SQL-replayable
        (the driver oracle replays it). Requires ``permute_ids``.
        """
        rotation = self.permute == "rotation"
        tf = _mllib.training_frame(
            df, x_names, self.outcome,
            keep=self.permute_ids if rotation else (), cached=True,
        )
        try:
            model = _mllib.fit(self._estimator(tf.kind), tf.frame, x_names)
            baseline = self._metric(model, tf.frame, x_names, tf.kind)

            def one_feature(args: tuple[int, str]) -> float:
                i, c = args
                if rotation:
                    # x+label as numeric tiebreaks: rows colliding in the
                    # md5 key AND every scored column are interchangeable
                    shuffled = _permute.rotate_columns(
                        tf.frame, [c], self.permute_ids, seed=self.seed + i,
                        bucket_chars=self.permute_bucket_chars,
                        tiebreak_cols=[*x_names, _mllib.LABEL_COL],
                    )
                else:
                    shuffled = _permute.permute_columns(
                        tf.frame, [c], seed=self.seed + i
                    )
                return float(
                    baseline - self._metric(model, shuffled, x_names, tf.kind)
                )

            # the per-feature scoring passes are independent reads of the
            # cached frame — run a few concurrently so one pass's stage tail
            # back-fills with the next pass's tasks (guide §2.6); each result
            # depends only on (feature, seed+i), so output is order-invariant
            deltas = thread_map(one_feature, list(enumerate(x_names)), 3)
        finally:
            tf.unpersist()
        return dict(zip(x_names, deltas)), baseline

    def tunable(self):
        base = super().tunable()
        base["mtry"] = {"type": "int", "range": (1, 20), "finalize": "data_dim"}
        base["trees"] = {"type": "int", "range": (1, 2000)}
        base["min_n"] = {"type": "int", "range": (2, 40)}
        return base
