"""ROC-AUC filter step.

Reference: /root/reference/R/step_select_roc.R (prep :108-163; per-predictor
pROC::roc at :113 with ``direction="auto"`` ⇒ effectively max(AUC, 1-AUC)
(doc :46); multiclass via Hand–Till multiclass.roc (:115); failures score NA
(:121-122); prune via ``dual_filter`` — top_p OR absolute threshold, with
NA-scored predictors always excluded).

Spark plan (pure Catalyst, no Python in the loop; one pass for every class
count k, binary is k = 2): ``_scoring.cell_counts`` builds the
``(feature, x, y) → n`` histogram (the ONLY raw-data pass, map-side
combined; the class set is read off this compact histogram with shuffle
reuse) → re-agg to one row per (feature, x) holding k class-count columns
w_0..w_{k-1} → ONE window per feature over the distinct-value histogram
holding the k−1 cumulative sums cum_j = Σ w_j(<x) → one per-feature
aggregate of n_i and, for every class pair i<j, the Mann–Whitney win count
wins_ij = Σ w_i·(cum_j + w_j/2) (ties count half). The driver receives p
rows and computes AUC_ij = wins_ij/(n_i·n_j), the direction, and the
Hand–Till mean over the pairs whose AUC is defined; a pair with an empty
class scores NA, as pROC fails there (:121-122). All sums are integer or
half-integer counts in doubles, so they are exact whatever the summation
order.

The window partitions by feature only: each feature's whole distinct-value
histogram is sorted in one task. A bucketed two-level scan (percentile
buckets per feature, driver-side bucket offsets) once bounded that task on
histograms over 2M rows; no workload reached it and its cost was never
measured, so it was dropped. Its cost stays open: one sort task per feature
on very large histograms.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import NumericType, StringType

from recipeselectors_spark.operators import _scoring
from recipeselectors_spark.plans.step import SelectionStep


class RocStep(SelectionStep):
    step_name = "step_select_roc"
    prune_mode = "dual"
    maximize = True
    predictor_type = NumericType  # step_select_roc.R:138
    outcome_type = StringType  # :133

    def __init__(
        self,
        outcome: str,
        terms=None,
        top_p=float("nan"),
        threshold=float("nan"),
        direction: str = "auto",  # 'auto' => max(AUC, 1-AUC) (:46); 'fixed'
        skip: bool = False,       # keeps the raw AUC of the first class
    ) -> None:
        if direction not in ("auto", "fixed"):
            raise ValueError(f"unknown roc direction {direction!r}")
        super().__init__(outcome, terms, top_p, threshold, skip)
        self.direction = direction

    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        hist = _scoring.cell_counts(
            df, _scoring.typed(x_names, "double"), self.outcome
        )
        # the distinct() job materialises the histogram exchange; the AUC
        # job below reuses it as a skipped stage
        classes = sorted(r["y"] for r in hist.select("y").distinct().collect())
        out = {c: float("nan") for c in x_names}
        k = len(classes)
        if k < 2:
            return out
        pairs = [(i, j) for i in range(k) for j in range(i + 1, k)]
        w = hist.groupBy("feature", "x").agg(*[
            F.sum(F.when(F.col("y") == c, F.col("n")).otherwise(0)).alias(f"w{i}")
            for i, c in enumerate(classes)
        ])
        before = Window.partitionBy("feature").orderBy("x").rowsBetween(
            Window.unboundedPreceding, -1
        )
        cum = w.select("*", *[
            F.coalesce(F.sum(f"w{j}").over(before), F.lit(0.0)).alias(f"cum{j}")
            for j in range(1, k)
        ])
        rows = cum.groupBy("feature").agg(
            *[F.sum(f"w{i}").alias(f"n{i}") for i in range(k)],
            *[
                F.sum(
                    F.col(f"w{i}") * (F.col(f"cum{j}") + F.col(f"w{j}") / 2.0)
                ).alias(f"wins{i}_{j}")
                for i, j in pairs
            ],
        ).collect()

        for r in rows:
            aucs = []
            for i, j in pairs:
                n_ij = r[f"n{i}"] * r[f"n{j}"]
                if n_ij == 0:  # a class of the pair is absent: NA pair
                    continue
                a = r[f"wins{i}_{j}"] / n_ij
                aucs.append(max(a, 1 - a) if self.direction == "auto" else a)
            if aucs:
                out[r["feature"]] = float(np.mean(aucs))
        return out
