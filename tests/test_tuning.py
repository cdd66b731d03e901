"""Driver-only re-prune tuning (EP3) + hypothesis property tests for the
pruning kernels vs brute-force re-implementations."""

import math

import numpy as np
import pytest
from hypothesis import assume, given, settings, strategies as st

from recipeselectors_spark.functions import pruning
from recipeselectors_spark.plans import tuning
from recipeselectors_spark.plans.step import FittedStep

NA = float("nan")


def _fitted(scores):
    return FittedStep("step_select_test", "y", [], scores)


def test_reprune_no_spark():
    f = _fitted({"a": 4.0, "b": 3.0, "c": 2.0, "d": 1.0})
    r1 = tuning.reprune(f, top_p=2)
    assert set(r1.exclude) == {"c", "d"}
    r2 = tuning.reprune(f, threshold=0.5)
    assert set(r2.exclude) == {"c", "d"}
    r3 = tuning.reprune(f, top_p=1, threshold=0.9, prune_mode="dual")
    # dual: keep top-1 OR >= 0.9 absolute
    assert set(r3.exclude) == {"c", "d"} or "a" not in r3.exclude


def test_grid_covers_candidates():
    f = _fitted({"a": 4.0, "b": 3.0, "c": 2.0})
    g = tuning.grid(f, top_p_values=[1, 2], threshold_values=[0.5])
    assert len(g) == 3
    assert g[0]["n_kept"] == 1 and g[1]["n_kept"] == 2


def test_grid_matches_full_reprep(spark):
    """The zero-job grid must agree with actually re-prepping the step."""
    from recipeselectors_spark.operators import InfGainStep
    from tests import fixtures

    pdf = fixtures.iris_like()
    df = spark.createDataFrame(pdf)
    base = InfGainStep("species", top_p=2).prep(df)
    for tp in (1, 2, 3):
        fast = tuning.reprune(base, top_p=tp)
        slow = InfGainStep("species", top_p=tp).prep(df)
        assert sorted(fast.exclude) == sorted(slow.exclude)


def test_reprune_keeps_forced_exclusions(spark, monkeypatch):
    """Linear force-excludes NaN-coefficient features whatever the prune
    criteria (step_select_linear.R:188-189). A re-prune at the fitted top_p
    must reproduce prep's decision, also after a JSON round trip."""
    from recipeselectors_spark.operators import LinearStep

    scores = {"a": 3.0, "b": NA, "c": 1.0, "d": 2.0}
    monkeypatch.setattr(LinearStep, "score", lambda self, df, x: dict(scores))
    df = spark.createDataFrame([(1.0, 2.0, 3.0, 4.0, 0.5)], "a double, b double, c double, d double, y double")
    fitted = LinearStep("y", top_p=2).prep(df)
    assert "b" in fitted.exclude
    for f in (fitted, FittedStep.from_json(fitted.to_json())):
        again = tuning.reprune(f, top_p=fitted.params["top_p"])
        assert again.exclude == fitted.exclude
        assert tuning.reprune(again, top_p=3).exclude == ["b"]


def test_reprune_rejects_a_boruta_fit(spark, monkeypatch):
    """Boruta excludes its Rejected features, not by prune criteria: a
    re-prune or grid of its fit raises instead of silently keeping them."""
    from recipeselectors_spark.operators import BorutaStep

    # "a" beats every shadow in every run, "b" never does
    monkeypatch.setattr(
        BorutaStep, "_fit_importances",
        lambda self, df, feats, kind, run=0: np.array(
            [1.0, 0.0] + [0.5] * (len(feats) - 2)
        ),
    )
    df = spark.createDataFrame(
        [("p" if i % 2 else "n", float(i), float(i % 3)) for i in range(20)],
        "y string, a double, b double",
    )
    fitted = BorutaStep("y", max_runs=12).prep(df)
    assert fitted.exclude == ["b"]
    for f in (fitted, FittedStep.from_json(fitted.to_json())):
        with pytest.raises(ValueError, match="decision"):
            tuning.reprune(f, top_p=1)
        with pytest.raises(ValueError, match="decision"):
            tuning.grid(f, top_p_values=[1, 2])


def test_reprune_uses_the_fitted_steps_prune_semantics(spark):
    """roc prunes ``dual`` and xtab ``dual`` with minimize (p-values): a
    re-prune without prune_mode/maximize must apply the fit's own
    semantics, and equal a re-prep at every top_p, also after a JSON round
    trip (a reprune of an xtab fit used to drop its most significant
    feature)."""
    from recipeselectors_spark.operators import RocStep, XtabStep

    rng = np.random.default_rng(3)
    n = 300
    y = rng.integers(0, 2, n)
    df = spark.createDataFrame(
        [
            (
                "pos" if y[i] else "neg",
                float(rng.normal() + 1.5 * y[i]),
                float(rng.normal() + 0.5 * y[i]),
                float(rng.normal()),
                "a" if rng.random() < 0.2 + 0.6 * y[i] else "b",
                "a" if rng.random() < 0.4 + 0.2 * y[i] else "b",
                "a" if rng.random() < 0.5 else "b",
            )
            for i in range(n)
        ],
        "y string, x1 double, x2 double, x3 double, "
        "c1 string, c2 string, c3 string",
    ).cache()
    for make, names in (
        (lambda tp: RocStep("y", terms=["x1", "x2", "x3"], top_p=tp),
         ["x1", "x2", "x3"]),
        (lambda tp: XtabStep("y", terms=["c1", "c2", "c3"], top_p=tp),
         ["c1", "c2", "c3"]),
    ):
        ks = range(1, len(names))
        reprep = {k: make(k).prep(df).exclude for k in ks}
        fitted = make(len(names) - 1).prep(df)
        for f in (fitted, FittedStep.from_json(fitted.to_json())):
            for k in ks:
                assert tuning.reprune(f, top_p=k).exclude == reprep[k]
            grid = tuning.grid(f, top_p_values=ks)
            assert [g["exclude"] for g in grid] == [reprep[k] for k in ks]
    df.unpersist()


# ---- hypothesis properties ------------------------------------------------

scores_strategy = st.dictionaries(
    st.text(alphabet="abcdefghij", min_size=1, max_size=3),
    st.one_of(
        st.floats(min_value=-100, max_value=100, allow_nan=False), st.just(NA)
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=200, deadline=None)
@given(scores=scores_strategy, top_p=st.integers(1, 12))
def test_select_percentile_top_p_property(scores, top_p):
    """Brute force: keep the top_p largest non-NaN scores; NaN always kept."""
    removed = pruning.select_percentile(scores, top_p, NA, maximize=True)
    ok = {k: v for k, v in scores.items() if not math.isnan(v)}
    kept = set(scores) - set(removed)
    # NaN-scored features are never removed
    assert all(k in kept for k, v in scores.items() if math.isnan(v))
    assert len([k for k in kept if k in ok]) == min(top_p, len(ok))
    if removed:
        worst_kept = min(ok[k] for k in kept if k in ok)
        best_removed = max(ok[k] for k in removed)
        assert best_removed <= worst_kept


@settings(max_examples=200, deadline=None)
@given(
    scores=scores_strategy,
    threshold=st.floats(min_value=0.01, max_value=0.99),
)
def test_select_percentile_threshold_property(scores, threshold):
    removed = pruning.select_percentile(scores, NA, threshold, maximize=True)
    ok = {k: v for k, v in scores.items() if not math.isnan(v)}
    if not ok:
        assert removed == []
        return
    cutoff = float(np.quantile(list(ok.values()), threshold, method="linear"))
    assert set(removed) == {k for k, v in ok.items() if v < cutoff}


@settings(max_examples=200, deadline=None)
@given(
    scores=scores_strategy,
    top_p=st.one_of(st.just(NA), st.integers(1, 12)),
    threshold=st.one_of(st.just(NA), st.floats(-50, 50)),
)
def test_dual_filter_property(scores, top_p, threshold):
    if (isinstance(top_p, float) and math.isnan(top_p)) and (
        isinstance(threshold, float) and math.isnan(threshold)
    ):
        return
    ok = {k: v for k, v in scores.items() if not math.isnan(v)}
    # ties at the top_p boundary make "which tied feature survives"
    # implementation-defined (R sorts unstably too) — restrict to unique
    assume(len(set(ok.values())) == len(ok))
    removed = pruning.dual_filter(scores, top_p, threshold, maximize=True)
    na = [k for k, v in scores.items() if math.isnan(v)]
    # NaN always removed (misc.R:73)
    assert all(k in removed for k in na)
    kept = set(ok) - set(removed)
    ranked = sorted(ok, key=lambda k: -ok[k])
    has_top = not (isinstance(top_p, float) and math.isnan(top_p))
    has_thr = not (isinstance(threshold, float) and math.isnan(threshold))
    top_set = set(ranked[: int(top_p)]) if has_top else set()
    for k in ok:
        in_top = has_top and k in top_set
        passes_thr = has_thr and ok[k] >= threshold
        assert (k in kept) == (in_top or passes_thr)


def test_xtab_tunable_log10_threshold():
    """step_select_xtab.R:206-217: threshold tunes over (-10,-1) on the
    log10 scale — candidates are 10^x, not a linear (0,1) grid."""
    from recipeselectors_spark.operators.select_xtab import XtabStep
    from recipeselectors_spark.plans import tuning

    spec = XtabStep("y", top_p=2).tunable()["threshold"]
    assert spec["range"] == (-10.0, -1.0)
    assert spec["trans"] == "log10"
    cands = tuning.expand_candidates(spec, n=4)
    assert cands[0] == 10.0 ** -10 and cands[-1] == 10.0 ** -1
    assert all(0 < c <= 0.1 for c in cands)


def test_expand_candidates_int_space():
    from recipeselectors_spark.plans import tuning

    assert tuning.expand_candidates(
        {"type": "int", "range": (1, 4)}, n=4
    ) == [1, 2, 3, 4]
