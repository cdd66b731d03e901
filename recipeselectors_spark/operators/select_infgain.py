"""Information-gain selection step.

Reference: /root/reference/R/step_select_infgain.R (prep at :126-179; kernel
call into FSelectorRcpp::information_gain at :142-151 with
``discIntegers=TRUE, equal=FALSE`` → MDL discretization; prune via
``select_percentile``, maximize).

Spark plan: numeric predictors are MDL-discretized (cut points learned by one
applyInPandas pass per feature over the melted frame's per-value histogram),
then ONE ``groupBy(feature, bin, y).count()`` shuffle produces every
feature's joint table; entropies are finished on the driver
(p × bins × classes cells). Nominal predictors skip discretization and go
straight to the contingency shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from recipeselectors_spark.functions import stats
from recipeselectors_spark.operators import _scoring
from recipeselectors_spark.plans.step import SelectionStep


class InfGainStep(SelectionStep):
    step_name = "step_select_infgain"
    prune_mode = "percentile"
    maximize = True

    def __init__(
        self,
        outcome: str,
        terms=None,
        top_p=float("nan"),
        threshold=float("nan"),
        mode: str = "infogain",  # infogain | gainratio | symuncert (:30-33)
        equal: bool = False,  # True => equal-frequency bins instead of MDL
        bins: int = 10,
        mdl_gate_distinct: int | None = 65536,
        mdl_prebucket_bins: int = 4096,
        skip: bool = False,
    ) -> None:
        if mode not in ("infogain", "gainratio", "symuncert"):
            raise ValueError(f"unknown infgain mode {mode!r}")
        super().__init__(outcome, terms, top_p, threshold, skip)
        self.mode = mode
        self.equal = equal
        self.bins = bins
        self.mdl_gate_distinct = mdl_gate_distinct
        self.mdl_prebucket_bins = mdl_prebucket_bins

    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        num = _scoring.numeric_cols(df, x_names)
        nom = _scoring.nominal_cols(df, x_names)
        joints: dict[str, np.ndarray] = {}

        if num:
            cuts = _scoring.learn_numeric_cuts(
                df,
                num,
                self.outcome,
                method="equal" if self.equal else "mdl",
                bins=self.bins,
                mdl_gate_distinct=self.mdl_gate_distinct,
                mdl_prebucket_bins=self.mdl_prebucket_bins,
            )
            joints.update(_scoring.binned_joint_counts(df, cuts, self.outcome))
        if nom:
            pdf = _scoring.nominal_contingency(df, nom, self.outcome)
            joints.update(_scoring.joint_tables(pdf))

        # a predictor with no non-NULL value has no cell: an empty table
        empty = np.zeros((0, 0))
        return {
            c: stats.info_gain_from_joint(joints.get(c, empty), self.mode)
            for c in x_names
        }
