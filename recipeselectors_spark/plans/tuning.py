"""Hyperparameter tuning over prune criteria — the EP3 optimization.

The reference re-runs the full scoring kernel for every (top_p, threshold)
candidate because praznik/FSelectorRcpp are re-invoked on each prep
(SURVEY.md §3 EP3). Here scores are independent of the prune criteria for
every ``select_percentile``/``dual_filter`` step, so tuning those params is
a **driver-only re-prune over the cached scores dict — zero extra Spark
jobs**. ``tunable()`` on each step declares the search space
(step_select_infgain.R:217-228 analogue; ranges finalized against the data
dimensionality like dials::get_p, parameters.R:19-28).
"""

from __future__ import annotations

from typing import Any, Iterable

from recipeselectors_spark.functions import pruning
from recipeselectors_spark.plans.step import FittedStep


def reprune(
    fitted: FittedStep,
    top_p=float("nan"),
    threshold=float("nan"),
    prune_mode: str | None = None,
    maximize: bool | None = None,
) -> FittedStep:
    """New FittedStep with the same scores but a different prune decision.
    ``prune_mode``/``maximize`` default to the ones the fit recorded (the
    step's own semantics). Pure driver-side; no Spark job. A Boruta fit
    (``prune_mode="decision"``) has no prune criteria to re-apply: its
    exclusions are its Rejected features, so it raises ``ValueError``."""
    if fitted.prune_mode == "decision":
        raise ValueError(
            f"{fitted.step_name} excludes by its fitted decision, not by "
            "prune criteria: re-prep the step to change its selection"
        )
    if prune_mode is None:
        prune_mode = fitted.prune_mode
    if maximize is None:
        maximize = fitted.maximize
    pruning.check_criteria(top_p, threshold, fitted.step_name)
    threshold = pruning.check_zero_one(threshold)
    if not pruning._is_na(top_p):
        top_p = pruning.check_top_p(top_p, len(fitted.scores))
    exclude = pruning.prune(
        fitted.scores, prune_mode, top_p, threshold, maximize,
        fitted.forced_exclude,
    )
    return FittedStep(
        fitted.step_name,
        fitted.outcome,
        exclude,
        dict(fitted.scores),
        fitted.skip,
        params=pruning.criteria_params(top_p, threshold),
        forced_exclude=list(fitted.forced_exclude),
        prune_mode=prune_mode,
        maximize=maximize,
    )


def grid(
    fitted: FittedStep,
    top_p_values: Iterable[int] = (),
    threshold_values: Iterable[float] = (),
    prune_mode: str | None = None,
    maximize: bool | None = None,
) -> list[dict[str, Any]]:
    """Evaluate every candidate prune criterion against the cached scores
    (``prune_mode``/``maximize`` as in :func:`reprune`).
    Returns [{top_p, threshold, exclude, n_kept}] — the tune-grid loop that
    costs the reference one kernel invocation per cell costs us nothing."""
    out: list[dict[str, Any]] = []
    NA = float("nan")
    candidates = [(tp, NA) for tp in top_p_values] + [
        (NA, th) for th in threshold_values
    ]
    for tp, th in candidates:
        f = reprune(fitted, tp, th, prune_mode, maximize)
        out.append(
            {
                **pruning.criteria_params(tp, th),
                "exclude": f.exclude,
                "n_kept": len(f.scores) - len(f.exclude),
            }
        )
    return out


def expand_candidates(spec: dict[str, Any], n: int = 5) -> list[float]:
    """Regular grid of ``n`` candidates from one tunable() param spec,
    honoring the declared transform: a ``trans: log10`` space (e.g.
    step_select_xtab's threshold, range (-10,-1) per
    step_select_xtab.R:206-217) yields 10^x candidates; untransformed
    spaces yield the raw grid. Int spaces round."""
    lo, hi = spec["range"]
    if n == 1:
        xs = [lo]
    else:
        xs = [lo + (hi - lo) * i / (n - 1) for i in range(n)]
    if spec.get("trans") == "log10":
        xs = [10.0 ** x for x in xs]
    if spec.get("type") == "int":
        xs = sorted({int(round(x)) for x in xs})
    return xs

