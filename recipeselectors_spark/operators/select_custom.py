"""User-pluggable scoring-kernel selection step.

The reference's extension surface is user-defined ``pull_importances.<class>``
S3 methods and user-supplied parsnip specs (/root/reference/README.md:98-117,
R/step_select_vip.R:78-79). The Spark-native rebirth (SURVEY.md §2.4 "UDF
surface"): the user supplies a *pandas kernel* ``fn(x: pd.Series, y:
pd.Series) -> float`` scoring one feature against the outcome; the engine
runs it per feature inside ONE ``groupBy(feature).applyInPandas`` pass over
the melted frame (Arrow-vectorized, no per-row Python), then applies the
standard ``select_percentile`` prune. The kernel must be deterministic and
serializable (it ships to executors).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame

from recipeselectors_spark.operators import _scoring
from recipeselectors_spark.plans.step import SelectionStep

ScoreKernel = Callable[[pd.Series, pd.Series], float]


class CustomScoreStep(SelectionStep):
    step_name = "step_select_custom"
    prune_mode = "percentile"
    maximize = True

    def __init__(
        self,
        outcome: str,
        kernel: ScoreKernel,
        terms=None,
        top_p=float("nan"),
        threshold=float("nan"),
        maximize: bool = True,
        skip: bool = False,
    ) -> None:
        super().__init__(outcome, terms, top_p, threshold, skip)
        self.kernel = kernel
        self.maximize = maximize

    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        num = _scoring.numeric_cols(df, x_names)
        nom = _scoring.nominal_cols(df, x_names)
        kernel = self.kernel
        out: dict[str, float] = {c: float("nan") for c in x_names}

        def runner(pdf: pd.DataFrame) -> pd.DataFrame:
            feat = pdf["feature"].iloc[0]
            try:
                s = float(kernel(pdf["x"], pdf["y"]))
            except Exception:
                s = float("nan")  # failure => NA score (roc :121-122 pattern)
            return pd.DataFrame({"variable": [feat], "score": [s]})

        for cols, to in ((num, "double"), (nom, "string")):
            if not cols:
                continue
            rows = (
                _scoring.melt(df, _scoring.typed(cols, to), self.outcome)
                .groupBy("feature")
                .applyInPandas(runner, schema="variable string, score double")
                .collect()
            )
            for r in rows:
                out[r["variable"]] = (
                    float("nan") if r["score"] is None else float(r["score"])
                )
        return out
