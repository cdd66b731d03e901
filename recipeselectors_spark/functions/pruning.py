"""Pruning semantics of the reference, exactly.

Re-implements the shared helpers of ``/root/reference/R/misc.R`` (cited
per-function). All of these run on the driver over the tiny collected
``{feature: score}`` dict — the reference's scores are always an in-memory
named vector (p features, never data-sized), so there is nothing to
distribute.

Semantics traps preserved (SURVEY.md §7):

* ``select_percentile``: ``threshold`` *overrides* ``top_p`` (misc.R:82-101);
  NaN-scored features are silently dropped from consideration, i.e. KEPT
  (misc.R:80).
* ``dual_filter``: ``top_p`` OR ``threshold`` union keep (misc.R:72); features
  with NaN scores are always removed (misc.R:73).
* ``check_top_p``: out-of-range top_p warns and clamps to ``min(p - 1, top_p)``
  (misc.R:27).
* quantile is R type-7 == ``numpy.quantile(..., method="linear")``.
"""

from __future__ import annotations

import math
import warnings
from collections.abc import Sequence

import numpy as np

__all__ = [
    "check_zero_one",
    "check_top_p",
    "check_criteria",
    "dual_filter",
    "select_percentile",
    "prune",
    "rescale_importance",
]


def _is_na(x) -> bool:
    return x is None or (isinstance(x, float) and math.isnan(x))


def criteria_params(top_p, threshold) -> dict:
    """A fit's recorded prune criteria: ``{"top_p", "threshold"}`` with NA
    as ``None``."""
    return {
        "top_p": None if _is_na(top_p) else top_p,
        "threshold": None if _is_na(threshold) else threshold,
    }


def check_zero_one(threshold) -> float | None:
    """misc.R:1-14 — threshold must lie strictly inside (0, 1); NA passes."""
    if _is_na(threshold):
        return threshold
    if not isinstance(threshold, (int, float)) or isinstance(threshold, bool):
        raise TypeError("`threshold` should be numeric.")
    if threshold >= 1 or threshold <= 0:
        raise ValueError("`threshold` should be on (0, 1).")
    return float(threshold)


def check_top_p(top_p, n: int) -> int | None:
    """misc.R:16-34 — NA passes; coerce to int; out-of-range warns and clamps
    to ``min(n - 1, top_p)`` (so ``top_p >= n`` keeps at most n-1 features)."""
    if _is_na(top_p):
        return top_p
    if not isinstance(top_p, (int, float)) or isinstance(top_p, bool):
        raise TypeError("`top_p` should be numeric.")
    top_p = int(top_p)
    if top_p >= n or top_p <= 0:
        warnings.warn(f"`top_p` should be on (0, {n}).", stacklevel=2)
        top_p = min(n - 1, top_p)
    return top_p


def check_criteria(top_p, threshold, step_name: str) -> None:
    """misc.R:36-46 — abort when both criteria are unset."""
    if _is_na(top_p) and _is_na(threshold):
        raise ValueError(
            f"For `{step_name}`, `top_p` and `threshold` cannot both be missing."
        )


def _split_na(scores: dict[str, float]):
    na = [k for k, v in scores.items() if _is_na(v)]
    ok = {k: float(v) for k, v in scores.items() if not _is_na(v)}
    return ok, na


def dual_filter(
    scores: dict[str, float], top_p, threshold, maximize: bool
) -> list[str]:
    """misc.R:48-74 — used by roc and xtab.

    Keep = (rank <= top_p) OR (score passes the *absolute* threshold);
    removals = non-keepers plus every NaN-scored feature. Sort is ascending
    then reversed when maximizing, matching R's ``rev(sort(x))`` tie layout.
    """
    ok, na_names = _split_na(scores)
    names = np.array(list(ok.keys()))
    vals = np.array(list(ok.values()), dtype=float)
    order = np.argsort(vals, kind="stable")
    names, vals = names[order], vals[order]
    if maximize:
        names, vals = names[::-1], vals[::-1]
    p = len(vals)

    top_p_keep = np.zeros(p, dtype=bool)
    if not _is_na(top_p):
        top_p_keep[: int(top_p)] = True
    thr_keep = np.zeros(p, dtype=bool)
    if not _is_na(threshold):
        thr_keep = vals >= threshold if maximize else vals <= threshold
    keep = top_p_keep | thr_keep
    return [str(n) for n in names[~keep]] + na_names


def select_percentile(
    scores: dict[str, float], top_p, threshold, maximize: bool
) -> list[str]:
    """misc.R:76-104 — used by infgain, mrmr, carscore, vip, forests, tree,
    linear.

    NaN scores are dropped before filtering (hence those features are KEPT —
    linear appends them to exclude separately, step_select_linear.R:188-189).
    ``threshold`` (a percentile in (0,1)) overrides ``top_p``; cutoff is the
    R type-7 quantile of the score vector.
    """
    ok, _na = _split_na(scores)
    if not ok:  # every score NaN => nothing to rank, nothing removed
        return []
    names = np.array(list(ok.keys()))
    vals = np.array(list(ok.values()), dtype=float)

    if not _is_na(threshold):
        cutoff = float(np.quantile(vals, float(threshold), method="linear"))
        mask = vals < cutoff if maximize else vals >= cutoff
        return [str(n) for n in names[mask]]

    order = np.argsort(vals, kind="stable")
    if maximize:
        order = order[::-1]
    k = int(top_p)
    if k <= 0:  # R: x[-seq_len(0)] drops nothing
        return []
    return [str(n) for n in names[order][k:]]


def prune(
    scores: dict[str, float],
    prune_mode: str,
    top_p,
    threshold,
    maximize: bool,
    forced: Sequence[str] = (),
) -> list[str]:
    """The excluded features of one step: ``select_percentile`` or
    ``dual_filter`` by ``prune_mode``, then every ``forced`` name not
    already excluded, in order — e.g. linear's NaN-coefficient features
    (step_select_linear.R:188-189)."""
    if prune_mode == "percentile":
        exclude = select_percentile(scores, top_p, threshold, maximize)
    elif prune_mode == "dual":
        exclude = dual_filter(scores, top_p, threshold, maximize)
    else:
        raise ValueError(prune_mode)
    return exclude + [c for c in dict.fromkeys(forced) if c not in exclude]


def rescale_importance(scores: dict[str, float]) -> dict[str, float]:
    """pull_importances.R:57-58 — min-max rescale to 0..100."""
    vals = np.array(list(scores.values()), dtype=float)
    lo, hi = np.nanmin(vals), np.nanmax(vals)
    span = hi - lo
    if span == 0:
        return {k: 0.0 for k in scores}
    return {k: float((v - lo) / span * 100.0) for k, v in scores.items()}
