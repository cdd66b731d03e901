"""CAR-score selection step (regression only).

Reference: /root/reference/R/step_select_carscore.R (prep :125-183; numeric
outcome enforced via ``check_type(quant=TRUE)`` :133; kernel
``care::carscore`` — omega = R_XX^{-1/2} · corr(X, y); optional shrinkage
``lambda`` :141-144; ``diagonal=TRUE`` reduces to marginal correlations :151;
score = abs(omega) :157-160; prune via ``select_percentile``, maximize).

Spark plan: one sufficient-statistics pass computes the full (p+1)×(p+1)
Pearson correlation matrix — n, sums and cross-products as one numpy matmul
per Arrow batch, summed per partition, one partial-sum row per partition
collected (bounded by the partition count, not the row count; no
p²-expression codegen at any p). The p×p eigendecomposition for R^{-1/2}
runs on the driver in numpy.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import NumericType

from recipeselectors_spark.functions import stats
from recipeselectors_spark.plans.step import SelectionStep


def _block_sums(
    df: DataFrame,
    cols: list[str],
    width: int,
    batch_sums: Callable[[np.ndarray], np.ndarray],
) -> np.ndarray:
    """Σ over every Arrow batch of ``batch_sums(x)`` (x = the batch of
    ``cols`` as an n×p double matrix, result a length-``width`` vector):
    summed per partition on the executors, then across the collected
    partition rows on the driver. An input with no rows sums to zeros."""

    def part(batches):
        acc = np.zeros(width)
        for pdf in batches:
            acc += batch_sums(pdf.to_numpy(dtype=float))
        yield pd.DataFrame({"s": [acc.tolist()]})

    rows = (
        df.select(*[F.col(c).cast("double") for c in cols])
        .mapInPandas(part, schema="s array<double>")
        .collect()
    )
    total = np.zeros(width)
    for r in rows:
        total += np.asarray(r["s"])
    return total


def _moment_sums(df: DataFrame, cols: list[str]) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, Σx (p), Σ x·xᵀ (p×p)) in one pass."""
    p = len(cols)
    v = _block_sums(
        df, cols, 1 + p + p * p,
        lambda x: np.concatenate([[len(x)], x.sum(axis=0), (x.T @ x).ravel()]),
    )
    return int(v[0]), v[1 : p + 1], v[p + 1 :].reshape(p, p)


def _pair_w2_matrix(
    df: DataFrame,
    cols: list[str],
    means: np.ndarray,
    var_samp: np.ndarray,
) -> np.ndarray:
    """Σ_k z_ki²·z_kj² for every feature pair — the single extra moment the
    Schäfer–Strimmer λ estimator needs: Σ c²ᵀc² with c = x − mean, one
    bounded-output pass."""
    p = len(cols)
    m = np.asarray(means, dtype=float)

    def w2(x: np.ndarray) -> np.ndarray:
        c2 = (x - m) ** 2
        return (c2.T @ c2).ravel()

    W = _block_sums(df, cols, p * p, w2).reshape(p, p)
    return W / np.outer(var_samp, var_samp)


class CarScoreStep(SelectionStep):
    step_name = "step_select_carscore"
    prune_mode = "percentile"
    maximize = True
    predictor_type = NumericType
    outcome_type = NumericType  # step_select_carscore.R:133 — regression only

    def __init__(
        self,
        outcome: str,
        terms=None,
        top_p=float("nan"),
        threshold=float("nan"),
        lam: float | str = "auto",
        diagonal: bool = False,
        skip: bool = False,
    ) -> None:
        super().__init__(outcome, terms, top_p, threshold, skip)
        if isinstance(lam, str) and lam != "auto":
            raise ValueError("lam must be a float or 'auto'")
        self.lam = lam
        self.diagonal = diagonal

    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        cols = list(x_names) + [self.outcome]
        clean = df.dropna(subset=cols)
        n, sums, prods = _moment_sums(clean, cols)
        if n == 0:  # no complete row: nothing to correlate
            return {c: float("nan") for c in x_names}
        means = sums / n
        cov = prods / n - np.outer(means, means)
        var_pop = np.maximum(np.diag(cov).copy(), 1e-300)
        d = np.sqrt(var_pop)
        corr = cov / np.outer(d, d)
        rxx = corr[:-1, :-1]
        rxy = corr[:-1, -1]
        lam = self.lam
        if lam == "auto":
            # care::carscore default: estimate the shrinkage intensity
            # (Schäfer–Strimmer) when lambda is not supplied (:141-144).
            # Needs one extra bounded-output pass (Σ z_i²z_j² per pair);
            # skipped when diagonal (marginal correlations ignore R_XX).
            if self.diagonal or len(x_names) < 2 or n < 2:
                lam = 0.0
            else:
                var_samp = var_pop[:-1] * n / (n - 1)
                sum_w2 = _pair_w2_matrix(clean, x_names, means[:-1], var_samp)
                lam = stats.shrinkage_lambda_from_stats(rxx, sum_w2, n)
        omega = stats.carscore(rxx, rxy, lam=lam, diagonal=self.diagonal)
        return {c: float(w) for c, w in zip(x_names, omega)}
