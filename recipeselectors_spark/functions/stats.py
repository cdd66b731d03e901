"""Pure numpy statistical kernels.

These are the numeric hearts of the selection steps — the work the reference
delegates to C++ packages (FSelectorRcpp / praznik / pROC / stats::chisq.test;
see SURVEY.md §2.2). They operate on *small* aggregated inputs (contingency
counts, rank sums, p-vector correlation matrices) collected to the driver, or
inside Arrow pandas-UDF batches. scipy is unavailable in this environment, so
the special functions (regularized incomplete gamma for the chi-square
survival function, hypergeometric tail for Fisher's exact test, exact binomial
tails for Boruta) are implemented directly — standard textbook series /
continued-fraction forms.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "entropy_from_counts",
    "info_gain_from_joint",
    "mutual_information",
    "auc_from_rank_sum",
    "auc_binary",
    "auc_hand_till",
    "chi2_stat",
    "chi2_sf",
    "chi2_test",
    "fisher_exact_2x2",
    "fisher_exact",
    "bh_adjust",
    "carscore",
    "binom_sf",
    "binom_cdf",
]


# --------------------------------------------------------------------------
# entropy / information gain (FSelectorRcpp::information_gain parity,
# /root/reference/R/step_select_infgain.R:142-151) — natural-log entropies
# --------------------------------------------------------------------------

def entropy_from_counts(counts: np.ndarray) -> float:
    """H = -sum p ln p over nonzero cells."""
    c = np.asarray(counts, dtype=float).ravel()
    n = c.sum()
    if n == 0:
        return 0.0
    p = c[c > 0] / n
    return float(-(p * np.log(p)).sum())


def info_gain_from_joint(joint: np.ndarray, kind: str = "infogain") -> float:
    """Information gain family from a joint (x-bin × y-class) count table.

    ig  = H(Y) + H(X) - H(X,Y)
    gainratio = ig / H(X)
    symuncert = 2*ig / (H(X) + H(Y))
    """
    joint = np.asarray(joint, dtype=float)
    hx = entropy_from_counts(joint.sum(axis=1))
    hy = entropy_from_counts(joint.sum(axis=0))
    hxy = entropy_from_counts(joint)
    ig = hx + hy - hxy
    if kind == "infogain":
        return float(ig)
    if kind == "gainratio":
        return float(ig / hx) if hx > 0 else 0.0
    if kind == "symuncert":
        denom = hx + hy
        return float(2.0 * ig / denom) if denom > 0 else 0.0
    raise ValueError(kind)


def mutual_information(joint: np.ndarray) -> float:
    """I(X;Y) in nats from a joint count table (praznik MI estimator shape)."""
    return info_gain_from_joint(joint, "infogain")


# --------------------------------------------------------------------------
# ROC AUC (pROC parity, /root/reference/R/step_select_roc.R:108-123)
# --------------------------------------------------------------------------

def auc_from_rank_sum(rank_sum_pos: float, n_pos: int, n_neg: int) -> float:
    """Mann–Whitney: AUC = (R1 - n1(n1+1)/2) / (n1*n0) with midranks."""
    if n_pos == 0 or n_neg == 0:
        return float("nan")
    u = rank_sum_pos - n_pos * (n_pos + 1) / 2.0
    return float(u / (n_pos * n_neg))


def auc_binary(x: np.ndarray, y_pos: np.ndarray, direction_auto: bool = True) -> float:
    """AUC of scalar ``x`` for the binary indicator ``y_pos`` using average
    ranks (tie-corrected). ``direction='auto'`` in pROC picks the direction
    with AUC >= 0.5, i.e. effectively max(A, 1-A) (step_select_roc.R:46)."""
    x = np.asarray(x, dtype=float)
    y_pos = np.asarray(y_pos, dtype=bool)
    ok = ~np.isnan(x)
    x, y_pos = x[ok], y_pos[ok]
    n1, n0 = int(y_pos.sum()), int((~y_pos).sum())
    if n1 == 0 or n0 == 0:
        return float("nan")
    order = np.argsort(x, kind="mergesort")
    ranks = np.empty(len(x))
    ranks[order] = np.arange(1, len(x) + 1)
    # midranks for ties
    sx = x[order]
    i = 0
    while i < len(sx):
        j = i
        while j + 1 < len(sx) and sx[j + 1] == sx[i]:
            j += 1
        if j > i:
            ranks[order[i : j + 1]] = (i + 1 + j + 1) / 2.0
        i = j + 1
    a = auc_from_rank_sum(float(ranks[y_pos].sum()), n1, n0)
    return float(max(a, 1 - a)) if direction_auto else a


def auc_hand_till(x: np.ndarray, y: np.ndarray) -> float:
    """Multiclass AUC: mean over unordered class pairs of the pairwise binary
    AUC (direction auto), the univariate-predictor form of Hand & Till (2001)
    used by pROC's multiclass.roc (step_select_roc.R:115)."""
    x = np.asarray(x, dtype=float)
    y = np.asarray(y)
    classes = sorted(set(y.tolist()))
    if len(classes) < 2:
        return float("nan")
    aucs = []
    for i in range(len(classes)):
        for j in range(i + 1, len(classes)):
            mask = (y == classes[i]) | (y == classes[j])
            aucs.append(auc_binary(x[mask], (y[mask] == classes[i])))
    return float(np.nanmean(aucs))


# --------------------------------------------------------------------------
# chi-square / Fisher (R stats::chisq.test / fisher.test parity,
# /root/reference/R/step_select_xtab.R:113-121)
# --------------------------------------------------------------------------

def chi2_stat(table: np.ndarray, correction: bool | None = None) -> tuple[float, int]:
    """Pearson chi-square statistic + dof; Yates continuity correction on
    2×2 by default, matching R chisq.test(correct=TRUE)."""
    t = np.asarray(table, dtype=float)
    t = t[t.sum(axis=1) > 0][:, t.sum(axis=0) > 0]
    if t.shape[0] < 2 or t.shape[1] < 2:
        return float("nan"), 0
    n = t.sum()
    expected = np.outer(t.sum(axis=1), t.sum(axis=0)) / n
    if correction is None:
        correction = t.shape == (2, 2)
    diff = np.abs(t - expected)
    if correction:
        diff = np.maximum(diff - 0.5, 0.0)
    stat = float((diff**2 / expected).sum())
    dof = (t.shape[0] - 1) * (t.shape[1] - 1)
    return stat, dof


def _gammainc_lower_reg(a: float, x: float) -> float:
    """Regularized lower incomplete gamma P(a, x) — series for x < a+1,
    continued fraction otherwise (Numerical-Recipes-style, public formulas)."""
    if x < 0 or a <= 0:
        return float("nan")
    if x == 0:
        return 0.0
    gln = math.lgamma(a)
    if x < a + 1.0:
        ap, total, delta = a, 1.0 / a, 1.0 / a
        for _ in range(500):
            ap += 1.0
            delta *= x / ap
            total += delta
            if abs(delta) < abs(total) * 1e-15:
                break
        return total * math.exp(-x + a * math.log(x) - gln)
    # continued fraction for Q(a,x), modified Lentz
    tiny = 1e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        d = tiny if abs(d) < tiny else d
        c = b + an / c
        c = tiny if abs(c) < tiny else c
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-15:
            break
    q = math.exp(-x + a * math.log(x) - gln) * h
    return 1.0 - q


def chi2_sf(stat: float, dof: int) -> float:
    """Survival function of the chi-square distribution: Q(dof/2, stat/2)."""
    if math.isnan(stat) or dof <= 0:
        return float("nan")
    return max(0.0, min(1.0, 1.0 - _gammainc_lower_reg(dof / 2.0, stat / 2.0)))


def chi2_test(table: np.ndarray, correction: bool | None = None) -> float:
    stat, dof = chi2_stat(table, correction)
    return chi2_sf(stat, dof)


def fisher_exact_2x2(table: np.ndarray) -> float:
    """Two-sided Fisher exact p-value on a 2×2 table: sum of hypergeometric
    probabilities <= the observed one (R fisher.test default). For general
    r×c tables use :func:`fisher_exact`."""
    t = np.asarray(table, dtype=int)
    if t.shape != (2, 2):
        raise NotImplementedError("fisher_exact_2x2 supports 2x2 tables only")
    a, b = int(t[0, 0]), int(t[0, 1])
    c, d = int(t[1, 0]), int(t[1, 1])
    row1, col1, n = a + b, a + c, a + b + c + d

    def log_p(k: int) -> float:
        return (
            math.lgamma(row1 + 1) - math.lgamma(k + 1) - math.lgamma(row1 - k + 1)
            + math.lgamma(n - row1 + 1) - math.lgamma(col1 - k + 1)
            - math.lgamma(n - row1 - col1 + k + 1)
            - (math.lgamma(n + 1) - math.lgamma(col1 + 1) - math.lgamma(n - col1 + 1))
        )

    lo, hi = max(0, col1 - (n - row1)), min(row1, col1)
    p_obs = log_p(a)
    total = 0.0
    for k in range(lo, hi + 1):
        lp = log_p(k)
        if lp <= p_obs + 1e-7:  # R's relative tolerance on ties
            total += math.exp(lp)
    return float(min(1.0, total))


class FisherBudgetExceeded(Exception):
    """Raised when the r×c network walk would hold more states or make more
    path insertions than the caller's budget — callers fall back to the
    chi-square approximation."""


def fisher_exact(table: np.ndarray, max_states: int = 2_000_000) -> float:
    """Two-sided Fisher exact conditional test for an r×c table.

    Parity target: ``stats::fisher.test(xtab)`` with no shape restriction
    (/root/reference/R/step_select_xtab.R:116). The p-value is the sum of
    probabilities, under the multiple-hypergeometric distribution with the
    observed margins, of every table at most as probable as the observed one
    (R's 1e-7 relative tie tolerance, as in the 2×2 path). 2×2 input
    short-circuits to the closed hypergeometric form; every larger shape is
    summed by a Mehta–Patel-style network algorithm (FEXACT, Algorithm 643 —
    the code R's fisher.test runs) over a DAG instead of the raw table space.

    Nodes are ``(row index, remaining column margins)`` states: many row-fill
    branches share one state, so each subtree is summarized ONCE with three
    memoized quantities over its completions —

    * ``minw``/``maxw``: min/max of ``sum lgamma(x_ij + 1)`` (the shortest /
      longest path of FEXACT), giving the p-value bound at every node, and
    * ``logS``: ``log(sum over completions of prod 1/x_ij!)`` — the subtree's
      TOTAL conditional probability mass in closed form.

    The main walk then prunes: if even the lightest completion qualifies
    (``acc + minw >= T``), the whole subtree's mass ``exp(const - acc +
    logS)`` is added without descending; if even the heaviest fails
    (``acc + maxw < T``), the subtree is skipped; only states the cutoff
    actually slices through are expanded, so tables whose raw enumeration
    runs to millions are summed exactly. ``max_states`` caps the memo table
    and the path insertions of the whole forward walk — its work, so its
    time as well as its memory (2M insertions, the default, take a few
    seconds); beyond either cap :class:`FisherBudgetExceeded` is raised for
    the callers' chi-square fallback.

    Transposition and row/column permutations do not change the p-value
    (the statistic is a symmetric function of the margins), so the table is
    oriented with the FEWER categories as columns — the state space is the
    lattice of column-margin vectors, so its size is driven by the column
    count — and rows are processed largest-first (the FEXACT ordering).
    The xtab step's tables are factor levels × outcome classes: many rows,
    few columns — exactly the orientation this DAG collapses well on.
    """
    tab = np.asarray(table, dtype=np.int64)
    if tab.ndim != 2 or min(tab.shape) < 2:
        raise ValueError("fisher_exact requires an r×c table with r,c >= 2")
    if tab.shape == (2, 2):
        return fisher_exact_2x2(tab)
    if tab.shape[1] > tab.shape[0]:
        tab = tab.T
    tab = tab[np.argsort(-tab.sum(axis=1), kind="stable"), :]
    rows = [int(x) for x in tab.sum(axis=1)]
    cols = tuple(int(x) for x in tab.sum(axis=0))
    n = int(tab.sum())
    lg = math.lgamma
    lgf = [lg(k + 1) for k in range(n + 1)]  # lgamma(k!) lookup
    const = sum(lgf[x] for x in rows) + sum(lgf[x] for x in cols) - lgf[n]
    obs_w = float(sum(lgf[int(x)] for x in tab.flat))
    # qualify: lp <= obs_lp + 1e-7  <=>  w >= T (the 2×2 tie tolerance)
    T = obs_w - 1e-7
    n_rows, n_cols = tab.shape

    memo: dict[tuple[int, tuple[int, ...]], tuple[float, float, float]] = {}

    def comps(total: int, caps: tuple[int, ...]):
        """Compositions of ``total`` into len(caps) parts with per-part caps
        (cells of one row against the remaining column margins)."""
        m = len(caps)
        cell = [0] * m

        def go(j: int, rem: int):
            if j == m - 1:
                if rem <= caps[j]:
                    cell[j] = rem
                    yield tuple(cell)
                return
            hi = min(rem, caps[j])
            lo = max(0, rem - sum(caps[j + 1:]))
            for v in range(lo, hi + 1):
                cell[j] = v
                yield from go(j + 1, rem - v)

        yield from go(0, total)

    def few_tables(cap: int) -> bool:
        """Whether at most ``cap`` tables share the margins: the number of
        row-by-row fills, counted per margin state, abandoned as soon as
        the fills of some row exceed ``cap`` (every fill completes)."""
        level = {cols: 1}
        for r in range(n_rows - 1):
            nxt: dict[tuple[int, ...], int] = {}
            total = 0
            for rem, cnt in level.items():
                for x in comps(rows[r], rem):
                    child = tuple(a - b for a, b in zip(rem, x))
                    nxt[child] = nxt.get(child, 0) + cnt
                    total += cnt
                    if total > cap:
                        return False
            level = nxt
        return True

    # fail FAST on hopeless tables (the runtime budgets below are the exact
    # backstop, but reaching them can itself take minutes): the state lattice
    # is bounded by prod(c_j + 1) margin vectors and each expands into at
    # most C(max_row + c - 1, c - 1) row fills. A table whose margins admit
    # at most max_states / 4 tables (500k by default) is walked whatever
    # that bound says: the walk expands no more states than there are fills.
    est_states = float(np.prod([c + 1.0 for c in cols]))
    est_work = n_rows * est_states * math.comb(max(rows) + n_cols - 1, n_cols - 1)
    if (
        est_states > max_states or est_work > 100 * max_states
    ) and not few_tables(max_states // 4):
        raise FisherBudgetExceeded(
            f"fisher_exact estimated work {est_work:.2g} exceeds budget"
        )

    def rec(r: int, rem: tuple[int, ...]) -> tuple[float, float, float]:
        """(minw, maxw, logS) over all completions of rows r..R-1."""
        key = (r, rem)
        hit = memo.get(key)
        if hit is not None:
            return hit
        if len(memo) >= max_states:
            raise FisherBudgetExceeded(
                f"fisher_exact exceeded {max_states} states"
            )
        if r == n_rows - 1:
            w = sum(lgf[x] for x in rem)
            out = (w, w, -w)
            memo[key] = out
            return out
        minw, maxw = math.inf, -math.inf
        log_terms: list[float] = []
        for x in comps(rows[r], rem):
            wx = sum(lgf[v] for v in x)
            child = rec(r + 1, tuple(a - b for a, b in zip(rem, x)))
            minw = min(minw, wx + child[0])
            maxw = max(maxw, wx + child[1])
            log_terms.append(-wx + child[2])
        mx = max(log_terms)
        logS = mx + math.log(sum(math.exp(t - mx) for t in log_terms))
        out = (minw, maxw, logS)
        memo[key] = out
        return out

    # Forward pass, level (row) by level. Paths reaching the same state with
    # the same accumulated weight are CLUMPED into one (weight -> count)
    # entry — FEXACT's path clumping: the weight is a sum of lgamma terms,
    # so every arrangement of the same filled-cell multiset collapses to one
    # entry, and the min/max bounds resolve most (state, weight) pairs
    # without expanding them. Only pairs the cutoff slices through survive
    # to the next level.
    total = 0.0
    # path insertions over the whole walk, so the budget bounds time as
    # well as memory: a two-column table (small margin lattice) passes the
    # work estimate and could otherwise expand paths for tens of seconds
    inserted = 0
    cur: dict[tuple[int, ...], dict[float, int]] = {cols: {0.0: 1}}
    for r in range(n_rows - 1):
        nxt: dict[tuple[int, ...], dict[float, int]] = {}
        for rem, paths in cur.items():
            minw, maxw, logS = rec(r, rem)
            live: dict[float, int] = {}
            for acc, cnt in paths.items():
                if acc + minw >= T:  # every completion qualifies
                    total += float(cnt) * math.exp(const - acc + logS)
                elif acc + maxw >= T:  # sliced: expand
                    live[acc] = cnt
            if not live:
                continue
            for x in comps(rows[r], rem):
                inserted += len(live)
                if inserted > max_states:
                    raise FisherBudgetExceeded(
                        f"fisher_exact exceeded {max_states} path insertions"
                    )
                wx = sum(lgf[v] for v in x)
                child = tuple(a - b for a, b in zip(rem, x))
                d = nxt.setdefault(child, {})
                for acc, cnt in live.items():
                    # clump on a 1e-9-rounded weight: identical cell
                    # multisets summed in different row orders differ by
                    # ulps and would otherwise never merge; the rounding
                    # error is two orders below the 1e-7 tie tolerance
                    k = round(acc + wx, 9)
                    d[k] = d.get(k, 0) + cnt
        cur = nxt
    for rem, paths in cur.items():  # last row: the fill is forced
        w = sum(lgf[v] for v in rem)
        for acc, cnt in paths.items():
            if acc + w >= T:
                total += float(cnt) * math.exp(const - acc - w)
    return float(min(1.0, total))


def bh_adjust(pvals: np.ndarray) -> np.ndarray:
    """Benjamini–Hochberg FDR adjustment, p.adjust(method='BH') parity
    (step_select_xtab.R:146-148). NaNs propagate; as in R, the scaling
    numerator is n = length(p) INCLUDING NAs (p.adjust's default ``n``)
    while ranks run over the non-NA values only (ADVICE r1)."""
    p = np.asarray(pvals, dtype=float)
    out = np.full_like(p, np.nan)
    ok = ~np.isnan(p)
    pv = p[ok]
    m = len(pv)
    if m == 0:
        return out
    order = np.argsort(pv, kind="mergesort")[::-1]  # descending
    ranked = pv[order] * len(p) / np.arange(m, 0, -1)
    adj = np.minimum.accumulate(ranked)
    res = np.empty(m)
    res[order] = np.minimum(adj, 1.0)
    out[ok] = res
    return out


# --------------------------------------------------------------------------
# CAR scores (care::carscore parity, /root/reference/R/step_select_carscore.R)
# --------------------------------------------------------------------------

def shrinkage_lambda_from_stats(
    r: np.ndarray, sum_w2: np.ndarray, n: int
) -> float:
    """Schäfer–Strimmer (2005) shrinkage intensity toward the identity
    correlation target (corpcor/care default when lambda is not supplied,
    step_select_carscore.R:141-144):

        λ* = Σ_{i≠j} Var̂(r_ij) / Σ_{i≠j} r_ij²,  clamped to [0, 1]

    with w_kij = z_ki·z_kj (z standardized by sample mean / sample sd),
    w̄_ij = (n−1)/n · r_ij, and Var̂(r_ij) = n/(n−1)³ · Σ_k (w_kij − w̄_ij)².
    ``sum_w2[i,j]`` must hold Σ_k w_kij² — the only moment beyond the
    correlation matrix itself, computable in one extra aggregation pass.
    """
    r = np.asarray(r, dtype=float)
    p = r.shape[0]
    if n < 2 or p < 2:
        return 0.0
    mask = ~np.eye(p, dtype=bool)
    w_bar = (n - 1) / n * r
    var_r = n / (n - 1) ** 3 * (np.asarray(sum_w2, dtype=float) - n * w_bar**2)
    den = float((r[mask] ** 2).sum())
    if den <= 0:
        return 1.0
    num = float(var_r[mask].sum())
    return float(min(1.0, max(0.0, num / den)))


def carscore(
    rxx: np.ndarray,
    rxy: np.ndarray,
    lam: float = 0.0,
    diagonal: bool = False,
) -> np.ndarray:
    """omega = R_XX^{-1/2} · corr(X, y), returned as |omega|
    (step_select_carscore.R:157-160). ``lam`` shrinks R_XX toward identity
    ((1-lam)·R + lam·I, care's shrinkage form with an explicit lambda);
    ``diagonal=True`` short-circuits to plain marginal correlations
    (step_select_carscore.R:151)."""
    rxy = np.asarray(rxy, dtype=float)
    if diagonal:
        return np.abs(rxy)
    r = np.asarray(rxx, dtype=float)
    if lam > 0:
        r = (1.0 - lam) * r + lam * np.eye(r.shape[0])
    vals, vecs = np.linalg.eigh(r)
    vals = np.maximum(vals, 1e-12)
    r_inv_sqrt = vecs @ np.diag(vals**-0.5) @ vecs.T
    return np.abs(r_inv_sqrt @ rxy)


# --------------------------------------------------------------------------
# exact binomial tails (Boruta hit tests,
# /root/reference/R/step_select_boruta.R:55 — pValue=0.01, mcAdj=TRUE)
# --------------------------------------------------------------------------

def binom_cdf(k: int, n: int, p: float = 0.5) -> float:
    ks = np.arange(0, k + 1)
    log_pmf = (
        [math.lgamma(n + 1) - math.lgamma(x + 1) - math.lgamma(n - x + 1)
         + x * math.log(p) + (n - x) * math.log(1 - p) for x in ks]
    )
    return float(min(1.0, np.exp(np.array(log_pmf)).sum()))


def binom_sf(k: int, n: int, p: float = 0.5) -> float:
    """P(X > k)."""
    return float(max(0.0, 1.0 - binom_cdf(k, n, p)))
