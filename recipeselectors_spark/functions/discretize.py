"""Supervised and unsupervised discretization.

``mdl_cut_points`` implements Fayyad & Irani (1993) MDLP recursive binary
entropy discretization — the algorithm FSelectorRcpp uses when
``equal = FALSE`` (the reference's infgain default,
/root/reference/R/step_select_infgain.R:146-147). ``equal_freq_cut_points``
is the equal-frequency alternative (``equal = TRUE``) also used as the MI
binning for the mRMR step.

Cut points are *fit state*: computed on training data (optionally a sample at
scale), stored in the fitted step, and applied as broadcast boundaries — never
re-learned at bake time.
"""

from __future__ import annotations

import numpy as np


def _entropy(counts: np.ndarray) -> float:
    n = counts.sum()
    if n == 0:
        return 0.0
    p = counts[counts > 0] / n
    return float(-(p * np.log2(p)).sum())


def _best_split(x: np.ndarray, y: np.ndarray, k: int):
    """Best entropy-minimizing boundary on sorted (x, y); returns
    (cut_value, index, info_gain, stats) or None."""
    n = len(x)
    if n < 2:
        return None
    # candidate boundaries: midpoints where x changes
    change = np.nonzero(np.diff(x))[0]  # split after index i
    if len(change) == 0:
        return None
    # prefix class counts
    onehot = np.zeros((n, k), dtype=np.int64)
    onehot[np.arange(n), y] = 1
    prefix = np.cumsum(onehot, axis=0)
    total = prefix[-1]
    ent_total = _entropy(total.astype(float))

    left = prefix[change]  # counts for x[0..i]
    right = total - left
    nl = left.sum(axis=1).astype(float)
    nr = right.sum(axis=1).astype(float)

    def ent_rows(c):
        s = c.sum(axis=1, keepdims=True).astype(float)
        with np.errstate(divide="ignore", invalid="ignore"):
            p = np.where(s > 0, c / s, 0.0)
            lg = np.where(p > 0, np.log2(p), 0.0)
        return -(p * lg).sum(axis=1)

    e_l, e_r = ent_rows(left), ent_rows(right)
    weighted = (nl * e_l + nr * e_r) / n
    gains = ent_total - weighted
    best = int(np.argmax(gains))
    i = int(change[best])
    gain = float(gains[best])

    # MDLP acceptance criterion (Fayyad & Irani 1993)
    k_tot = int((total > 0).sum())
    k_l = int((left[best] > 0).sum())
    k_r = int((right[best] > 0).sum())
    delta = (
        np.log2(3.0**k_tot - 2.0)
        - (k_tot * ent_total - k_l * e_l[best] - k_r * e_r[best])
    )
    threshold = (np.log2(n - 1) + delta) / n
    if gain <= threshold:
        return None
    cut = (x[i] + x[i + 1]) / 2.0
    return cut, i, gain


def mdl_cut_points_rows(
    x: np.ndarray, y_codes: np.ndarray, max_depth: int = 32
) -> list[float]:
    """Row-at-a-time MDLP (the original formulation on sorted raw rows).
    Kept as the independent test oracle for the histogram kernel below."""
    x = np.asarray(x, dtype=float)
    y_codes = np.asarray(y_codes)
    ok = ~np.isnan(x)
    x, y_codes = x[ok], y_codes[ok]
    if len(x) == 0:
        return []
    order = np.argsort(x, kind="mergesort")
    x, y_codes = x[order], y_codes[order]
    k = int(y_codes.max()) + 1 if len(y_codes) else 1

    cuts: list[float] = []

    def recurse(lo: int, hi: int, depth: int) -> None:
        if depth >= max_depth or hi - lo < 2:
            return
        res = _best_split(x[lo:hi], y_codes[lo:hi], k)
        if res is None:
            return
        cut, i, _ = res
        cuts.append(float(cut))
        recurse(lo, lo + i + 1, depth + 1)
        recurse(lo + i + 1, hi, depth + 1)

    recurse(0, len(x), 0)
    return sorted(cuts)


def mdl_cut_points_hist(
    values: np.ndarray, counts: np.ndarray, max_depth: int = 32
) -> list[float]:
    """Fayyad–Irani MDLP on a compact per-value class-count HISTOGRAM
    (``values`` ascending distinct, ``counts`` (m, k) instance counts).

    Mathematically identical to the row formulation — every MDLP quantity
    (entropies, instance counts n, the log2(n−1)+Δ acceptance threshold,
    midpoint cuts) depends on the data only through per-value class counts —
    but the input is distinct-value-sized, so the Spark side can aggregate
    rows down with one map-side-combined groupBy before any Python sees
    them."""
    values = np.asarray(values, dtype=float)
    counts = np.asarray(counts, dtype=np.int64)
    m = len(values)
    if m == 0:
        return []
    prefix = np.cumsum(counts, axis=0)

    def seg_counts(lo: int, hi: int) -> np.ndarray:
        top = prefix[hi - 1]
        return top - prefix[lo - 1] if lo > 0 else top

    cuts: list[float] = []

    def recurse(lo: int, hi: int, depth: int) -> None:
        if depth >= max_depth or hi - lo < 2:
            return
        total = seg_counts(lo, hi).astype(float)
        n = total.sum()
        if n < 2:
            return
        ent_total = _entropy(total)
        base = prefix[lo - 1] if lo > 0 else 0
        left = prefix[lo : hi - 1] - base  # boundary after row j
        right = total - left
        nl = left.sum(axis=1).astype(float)
        nr = right.sum(axis=1).astype(float)

        def ent_rows(c):
            s = c.sum(axis=1, keepdims=True).astype(float)
            with np.errstate(divide="ignore", invalid="ignore"):
                p = np.where(s > 0, c / s, 0.0)
                lg = np.where(p > 0, np.log2(p), 0.0)
            return -(p * lg).sum(axis=1)

        e_l, e_r = ent_rows(left), ent_rows(right)
        weighted = (nl * e_l + nr * e_r) / n
        gains = ent_total - weighted
        best = int(np.argmax(gains))
        gain = float(gains[best])

        k_tot = int((total > 0).sum())
        k_l = int((left[best] > 0).sum())
        k_r = int((right[best] > 0).sum())
        delta = (
            np.log2(3.0**k_tot - 2.0)
            - (k_tot * ent_total - k_l * e_l[best] - k_r * e_r[best])
        )
        threshold = (np.log2(n - 1) + delta) / n
        if gain <= threshold:
            return
        j = lo + best
        cuts.append(float((values[j] + values[j + 1]) / 2.0))
        recurse(lo, j + 1, depth + 1)
        recurse(j + 1, hi, depth + 1)

    recurse(0, m, 0)
    return sorted(cuts)


def mdl_cut_points(x: np.ndarray, y_codes: np.ndarray, max_depth: int = 32) -> list[float]:
    """Fayyad–Irani MDLP cut points. Empty list => the feature stays a single
    bin (information gain 0, FSelectorRcpp behavior). Delegates to the
    histogram kernel after compacting to per-value class counts."""
    x = np.asarray(x, dtype=float)
    y_codes = np.asarray(y_codes)
    ok = ~np.isnan(x)
    x, y_codes = x[ok], y_codes[ok].astype(np.int64)
    if len(x) == 0:
        return []
    k = int(y_codes.max()) + 1
    values, inv = np.unique(x, return_inverse=True)
    counts = np.zeros((len(values), k), dtype=np.int64)
    np.add.at(counts, (inv, y_codes), 1)
    return mdl_cut_points_hist(values, counts, max_depth)


def equal_freq_cut_points(x: np.ndarray, bins: int = 10) -> list[float]:
    """Equal-frequency boundaries (interior quantiles), deduplicated."""
    x = np.asarray(x, dtype=float)
    x = x[~np.isnan(x)]
    if len(x) == 0 or bins < 2:
        return []
    qs = np.quantile(x, np.linspace(0, 1, bins + 1)[1:-1], method="linear")
    out: list[float] = []
    for q in qs:
        if not out or q > out[-1]:
            out.append(float(q))
    return out


def apply_cut_points(x: np.ndarray, cuts: list[float]) -> np.ndarray:
    """Digitize into 0..len(cuts) codes; NaN -> -1 sentinel."""
    x = np.asarray(x, dtype=float)
    codes = np.digitize(x, np.asarray(cuts, dtype=float), right=False)
    codes[np.isnan(x)] = -1
    return codes.astype(np.int32)
