"""Cross-tabulation (chi-square / Fisher) selection step.

Reference: /root/reference/R/step_select_xtab.R (prep :113-168; per-predictor
contingency table at :114; ``stats::chisq.test`` at :118 (Yates correction on
2×2, the R default) or ``fisher.test`` at :116; p-values sorted ascending
``na.last=TRUE`` (:145); optional Benjamini–Hochberg FDR (:146-148); prune via
``dual_filter`` with **minimize** (:150), NA-scored predictors excluded).

Spark plan: both predictor and outcome are nominal — ONE melted
``groupBy(feature, level, y).count()`` shuffle builds every contingency table;
the tiny tables are collected and tested on the driver with the numpy kernels
(scipy-free chi-square survival function / exact hypergeometric tail).
Fisher handles any r×c shape (fisher.test parity, :116): 2×2 tables by the
closed hypergeometric form, larger ones by the FEXACT-style network
algorithm (stats.fisher_exact — the algorithm R's fisher.test runs); only
when a table blows the network's work budget does the step fall back to
chi-square with a warning.
"""

from __future__ import annotations

import warnings

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType

from recipeselectors_spark.functions import stats
from recipeselectors_spark.operators import _scoring
from recipeselectors_spark.plans.step import SelectionStep


class XtabStep(SelectionStep):
    step_name = "step_select_xtab"
    prune_mode = "dual"
    maximize = False  # p-values: smaller is better (:150)
    predictor_type = StringType  # step_select_xtab.R:130
    outcome_type = StringType  # :135

    def __init__(
        self,
        outcome: str,
        terms=None,
        top_p=float("nan"),
        threshold=float("nan"),
        test: str = "chisq",  # chisq | fisher (:116-118)
        fdr: bool = False,  # BH adjustment (:146-148)
        skip: bool = False,
    ) -> None:
        if test not in ("chisq", "fisher"):
            raise ValueError(f"unknown xtab test {test!r}")
        super().__init__(outcome, terms, top_p, threshold, skip)
        self.test = test
        self.fdr = fdr

    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        pdf = _scoring.nominal_contingency(df, x_names, self.outcome)
        tables = _scoring.joint_tables(pdf)

        pvals: dict[str, float] = {}
        for c in x_names:
            tab = tables.get(c)
            if tab is None:
                pvals[c] = float("nan")
                continue
            if self.test == "fisher":
                try:
                    # any r×c shape, fisher.test parity (:116); 2×2 uses the
                    # closed hypergeometric form inside
                    pvals[c] = stats.fisher_exact(tab)
                except stats.FisherBudgetExceeded:
                    warnings.warn(
                        f"step_select_xtab: exact Fisher network for "
                        f"{c!r} ({tab.shape[0]}x{tab.shape[1]}, "
                        f"n={int(tab.sum())}) exceeds its work budget; "
                        f"falling back to the chi-square approximation."
                    )
                    pvals[c] = stats.chi2_test(tab)
            else:
                pvals[c] = stats.chi2_test(tab)

        if self.fdr:
            names = list(pvals.keys())
            adj = stats.bh_adjust(np.array([pvals[n] for n in names]))
            pvals = {n: float(a) for n, a in zip(names, adj)}
        return pvals

    def tunable(self):
        """step_select_xtab.R:206-217 — dials::threshold with range
        (-10, -1) declared on the LOG10 scale (candidate thresholds are
        10^x); top_p inherits the generic finalized-int space."""
        base = super().tunable()
        base["threshold"] = {
            "type": "double",
            "range": (-10.0, -1.0),
            "trans": "log10",
        }
        return base
