"""Numpy statistical kernels vs closed-form / hand-computed values."""

import math

import numpy as np

from recipeselectors_spark.functions import stats
from recipeselectors_spark.functions.discretize import (
    apply_cut_points,
    equal_freq_cut_points,
    mdl_cut_points,
)


def test_entropy():
    assert stats.entropy_from_counts(np.array([1, 1])) == math.log(2)
    assert stats.entropy_from_counts(np.array([4, 0])) == 0.0


def test_info_gain_perfect_predictor():
    joint = np.array([[10, 0], [0, 10]])
    ig = stats.info_gain_from_joint(joint, "infogain")
    assert np.isclose(ig, math.log(2))
    assert np.isclose(stats.info_gain_from_joint(joint, "symuncert"), 1.0)
    assert np.isclose(stats.info_gain_from_joint(joint, "gainratio"), 1.0)


def test_auc_known():
    x = np.array([1, 2, 3, 4, 5, 6], dtype=float)
    y = np.array([0, 0, 0, 1, 1, 1], dtype=bool)
    assert stats.auc_binary(x, y) == 1.0
    # anti-predictor: direction auto flips
    assert stats.auc_binary(-x, y) == 1.0
    # ties: all equal => auc 0.5
    assert stats.auc_binary(np.ones(6), y) == 0.5


def test_auc_midranks():
    x = np.array([1, 1, 2, 3], dtype=float)
    y = np.array([0, 1, 0, 1], dtype=bool)
    # pairs (pos > neg): (1 vs 1)=0.5, (1 vs 2)=0, (3>1)=1, (3>2)=1 => 2.5/4
    assert np.isclose(stats.auc_binary(x, y, direction_auto=False), 2.5 / 4)


def test_chi2_matches_r_yates():
    # Yates-corrected statistic, hand-computed: e = outer(rows, cols)/n,
    # sum((|o-e|-.5)^2/e) = 16.5785 for this table (R chisq.test default).
    stat, dof = stats.chi2_stat(np.array([[10, 30], [20, 5]]))
    t = np.array([[10, 30], [20, 5]], dtype=float)
    e = np.outer(t.sum(1), t.sum(0)) / t.sum()
    expected = (((np.abs(t - e) - 0.5) ** 2) / e).sum()
    assert np.isclose(stat, expected)
    assert dof == 1
    # df=1 closed form: sf(x) = erfc(sqrt(x/2))
    assert np.isclose(stats.chi2_sf(stat, 1), math.erfc(math.sqrt(stat / 2)), rtol=1e-10)
    # df=2 closed form: sf(x) = exp(-x/2)
    assert np.isclose(stats.chi2_sf(5.0, 2), math.exp(-2.5), rtol=1e-10)
    # df=4 closed form: sf(x) = (1 + x/2) exp(-x/2)
    assert np.isclose(stats.chi2_sf(7.0, 4), (1 + 3.5) * math.exp(-3.5), rtol=1e-9)


def test_chi2_no_correction_3x2():
    # R: chisq.test(matrix(c(10,20,30,5,12,18),3)) stat=21.5328, df=2
    tab = np.array([[10, 5], [20, 12], [30, 18]])
    stat, dof = stats.chi2_stat(tab)
    assert dof == 2
    # hand check via expected counts
    exp_stat = 0.0
    t = tab.astype(float)
    e = np.outer(t.sum(1), t.sum(0)) / t.sum()
    exp_stat = ((t - e) ** 2 / e).sum()
    assert np.isclose(stat, exp_stat)


def test_fisher_exact_r_parity():
    # R: fisher.test(matrix(c(3,1,1,3),2))$p.value == 0.4857143
    p = stats.fisher_exact_2x2(np.array([[3, 1], [1, 3]]))
    assert np.isclose(p, 0.4857143, atol=1e-6)
    # R: fisher.test(matrix(c(8,2,1,5),2))$p.value == 0.03496503
    p2 = stats.fisher_exact_2x2(np.array([[8, 2], [1, 5]]))
    assert np.isclose(p2, 0.03496503, atol=1e-6)


def _fisher_bruteforce(tab):
    """Independent oracle: enumerate ALL same-margin tables by brute force
    over cell ranges (itertools product), sum P(T) <= P(obs)·(1+1e-7) under
    the multiple hypergeometric — a different algorithm from the network
    walk of ``stats.fisher_exact``."""
    import itertools
    import math

    tab = np.asarray(tab, dtype=int)
    rows, cols = tab.sum(1), tab.sum(0)
    n = int(tab.sum())
    lg = math.lgamma
    const = sum(lg(x + 1) for x in rows) + sum(lg(x + 1) for x in cols) - lg(n + 1)

    def logp(m):
        return const - sum(lg(int(x) + 1) for x in np.asarray(m).flat)

    p_obs = logp(tab)
    r, c = tab.shape
    total = 0.0
    ranges = [range(min(int(rows[i]), int(cols[j])) + 1)
              for i in range(r - 1) for j in range(c - 1)]
    for inner in itertools.product(*ranges):
        m = np.zeros((r, c), dtype=int)
        m[: r - 1, : c - 1] = np.array(inner).reshape(r - 1, c - 1)
        m[: r - 1, c - 1] = rows[: r - 1] - m[: r - 1, : c - 1].sum(1)
        m[r - 1, :] = cols - m[: r - 1, :].sum(0)
        if (m >= 0).all():
            lp = logp(m)
            if lp <= p_obs + 1e-7:
                total += math.exp(lp)
    return min(1.0, total)


def test_fisher_rxc_matches_bruteforce_oracle():
    cases = [
        np.array([[3, 1, 4], [1, 5, 2]]),             # 2x3
        np.array([[2, 3, 1], [4, 1, 2], [1, 2, 5]]),  # 3x3
        np.array([[5, 0], [1, 4], [2, 2]]),           # 3x2 with a zero cell
    ]
    for tab in cases:
        got = stats.fisher_exact(tab)
        want = _fisher_bruteforce(tab)
        assert np.isclose(got, want, atol=1e-12), tab


def test_fisher_rxc_properties():
    # 2x2 short-circuits to the closed form
    t22 = np.array([[8, 2], [1, 5]])
    assert stats.fisher_exact(t22) == stats.fisher_exact_2x2(t22)
    # transpose invariance (conditional test is symmetric in margins)
    t = np.array([[3, 1, 4], [1, 5, 2]])
    assert np.isclose(stats.fisher_exact(t), stats.fisher_exact(t.T), atol=1e-12)
    # independence-shaped table -> p == 1; strong association -> small p
    indep = np.array([[10, 20, 30], [10, 20, 30]])
    assert stats.fisher_exact(indep) > 0.99
    strong = np.array([[12, 0, 0], [0, 12, 0], [0, 0, 12]])
    assert stats.fisher_exact(strong) < 1e-6


def test_fisher_budget_raises():
    import pytest as _pytest

    big = np.full((4, 4), 50)
    with _pytest.raises(stats.FisherBudgetExceeded):
        stats.fisher_exact(big, max_states=1000)


def test_fisher_network_matches_dfs_small():
    """The FEXACT-style network walk is a different summation over the
    same conditional distribution than the brute-force enumeration — they
    must agree on every table the brute force can enumerate."""
    rng = np.random.default_rng(7)
    checked = 0
    while checked < 15:
        r, c = rng.integers(2, 4), rng.integers(2, 4)
        tab = rng.integers(0, 8, size=(r, c))
        if (tab.sum(0) == 0).any() or (tab.sum(1) == 0).any():
            continue
        np.testing.assert_allclose(
            stats.fisher_exact(tab), _fisher_bruteforce(tab), atol=1e-9,
            err_msg=str(tab),
        )
        checked += 1


def test_fisher_network_beyond_dfs_budget():
    """A 9×2 table with 880,805 same-margin tables (past the 500k tables a
    raw enumeration was allowed): the network returns the exact p, pinned
    from a raw enumeration of every table."""
    tab = np.array(
        [[3, 4], [4, 1], [4, 1], [1, 4], [4, 1],
         [1, 2], [1, 5], [4, 2], [2, 3]]
    )
    np.testing.assert_allclose(
        stats.fisher_exact(tab), 0.2198111335731338, atol=1e-9
    )


def test_fisher_exact_covers_tables_a_raw_enumeration_answers():
    """Tables with fewer than 500k same-margin tables were answered exactly
    by a raw enumeration; the network's work estimate alone rejects the two
    3×3 ones. They must still get the exact p (pinned from that
    enumeration), not the chi-square fallback."""
    cases = [
        ([[37, 17, 17], [2, 13, 15], [14, 4, 19]], 1.062328766229843e-05),
        ([[15, 3, 8], [51, 16, 12], [8, 32, 4]], 3.78509736703313e-09),
        ([[0, 11, 34, 3, 10], [4, 24, 12, 5, 4]], 9.828326544213433e-05),
        ([[1, 1, 8, 5, 4, 2], [6, 26, 3, 11, 19, 11]], 0.000323795356363696),
    ]
    for tab, want in cases:
        np.testing.assert_allclose(
            stats.fisher_exact(np.array(tab)), want, rtol=1e-8, atol=1e-10,
            err_msg=str(tab),
        )


# 6×2 tables whose two-column margin lattice passes the work estimate but
# whose walk expands millions of paths (23.3 s and 4.6 s before failing
# when the budget was checked per margin state)
FISHER_WALK_REPRODUCERS = [
    [[60, 9], [15, 10], [1, 29], [3, 31], [10, 21], [29, 39]],
    [[34, 11], [44, 2], [47, 13], [15, 40], [9, 21], [42, 23]],
]


def count_path_insertions(monkeypatch) -> list[int]:
    """A one-element counter of the forward walk's path insertions in
    ``stats`` (one clumping ``round`` call each)."""
    import builtins

    counter = [0]

    def counting_round(*a):
        counter[0] += 1
        return builtins.round(*a)

    monkeypatch.setattr(stats, "round", counting_round, raising=False)
    return counter


def test_fisher_walk_work_is_bounded(monkeypatch):
    """``max_states`` bounds the path insertions of the whole forward walk,
    so hopeless tables fail after bounded work."""
    import pytest as _pytest

    inserted = count_path_insertions(monkeypatch)
    for tab in FISHER_WALK_REPRODUCERS:
        inserted[0] = 0
        with _pytest.raises(stats.FisherBudgetExceeded):
            stats.fisher_exact(np.array(tab))
        assert 0 < inserted[0] <= 2_000_000, (tab, inserted[0])


def test_fisher_network_tall_thin_fast():
    """The xtab shape (many factor levels × few classes): the network must
    handle margins whose raw enumeration is >10^6 tables, quickly."""
    rng = np.random.default_rng(11)
    tab = rng.integers(0, 5, size=(12, 2))
    tab[tab.sum(1) == 0, 0] = 1
    p = stats.fisher_exact(tab)
    assert 0.0 <= p <= 1.0
    # transpose invariance holds through the reorientation logic
    np.testing.assert_allclose(p, stats.fisher_exact(tab.T), atol=1e-9)


def test_bh_adjust_r_parity():
    # R: p.adjust(c(.01,.02,.03,.04), "BH") == c(.04,.04,.04,.04)
    out = stats.bh_adjust(np.array([0.01, 0.02, 0.03, 0.04]))
    assert np.allclose(out, [0.04, 0.04, 0.04, 0.04])
    # R: p.adjust(c(.001,.008,.039,.041,.09), "BH")
    out2 = stats.bh_adjust(np.array([0.001, 0.008, 0.039, 0.041, 0.09]))
    assert np.allclose(out2, [0.005, 0.02, 0.05125, 0.05125, 0.09])
    # R: p.adjust(c(.01,.02,NA,.04), "BH") == c(.04,.04,NA,.0533333) —
    # n includes NAs, ranks don't (ADVICE r1)
    out3 = stats.bh_adjust(np.array([0.01, 0.02, np.nan, 0.04]))
    assert np.isnan(out3[2])
    assert np.allclose(out3[[0, 1, 3]], [0.04, 0.04, 0.04 * 4 / 3])


def test_binom_tails():
    # P(X <= 2 | n=10) = 0.0546875; P(X > 7 | n=10) = 0.0546875
    assert np.isclose(stats.binom_cdf(2, 10), 0.0546875)
    assert np.isclose(stats.binom_sf(7, 10), 0.0546875)


def test_carscore_diagonal_is_marginal():
    rxy = np.array([0.5, -0.3])
    out = stats.carscore(np.eye(2), rxy, diagonal=True)
    assert np.allclose(out, [0.5, 0.3])


def test_carscore_identity_rxx():
    rxy = np.array([0.5, -0.3])
    out = stats.carscore(np.eye(2), rxy)
    assert np.allclose(out, [0.5, 0.3])


def test_mdl_cuts_separable():
    x = np.array([1, 2, 3, 4, 10, 11, 12, 13] * 5, dtype=float)
    y = np.array([0, 0, 0, 0, 1, 1, 1, 1] * 5)
    cuts = mdl_cut_points(x, y)
    assert len(cuts) >= 1
    assert any(4 < c < 10 for c in cuts)
    codes = apply_cut_points(x, cuts)
    # the MDL boundary separates the classes perfectly
    assert len(set(codes[y == 0]) & set(codes[y == 1])) == 0


def test_mdl_cuts_noise_gives_none():
    rng = np.random.default_rng(0)
    x = rng.normal(size=200)
    y = rng.integers(0, 2, size=200)
    assert mdl_cut_points(x, y) == []


def test_equal_freq_cuts():
    x = np.arange(100, dtype=float)
    cuts = equal_freq_cut_points(x, bins=4)
    assert len(cuts) == 3
    codes = apply_cut_points(x, cuts)
    assert set(codes) == {0, 1, 2, 3}


def test_mdl_hist_kernel_equals_row_kernel():
    """The histogram MDLP kernel (production path: runs on the compacted
    per-value class counts) must produce exactly the row formulation's
    cuts — including heavy ties and multiclass."""
    from hypothesis import given, settings, strategies as st

    from recipeselectors_spark.functions import discretize as D

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 15), st.integers(0, 2)),
            min_size=2, max_size=200,
        )
    )
    def check(rows):
        x = np.array([r[0] for r in rows], dtype=float)
        y = np.array([r[1] for r in rows], dtype=np.int64)
        assert D.mdl_cut_points(x, y) == D.mdl_cut_points_rows(x, y)

    check()


def test_mdl_known_split():
    from recipeselectors_spark.functions import discretize as D

    # perfectly separable: one cut between the classes
    x = np.array([1.0] * 30 + [5.0] * 30)
    y = np.array([0] * 30 + [1] * 30)
    assert D.mdl_cut_points(x, y) == [3.0]
    # pure noise: MDLP accepts no cut
    rng = np.random.default_rng(0)
    xn = rng.normal(size=200)
    yn = rng.integers(0, 2, size=200)
    assert D.mdl_cut_points(xn, yn) == []
