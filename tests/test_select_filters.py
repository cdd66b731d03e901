"""Filter-style selection steps (infgain, roc, xtab, mrmr, carscore) vs the
pandas oracles — SURVEY.md §5 pattern 1: allclose on scores + exact equality
of the selected column set."""

import numpy as np
import pandas as pd
import pytest

from recipeselectors_spark.functions import stats
from recipeselectors_spark.operators import (
    CarScoreStep,
    InfGainStep,
    MrmrStep,
    RocStep,
    XtabStep,
)
from tests import fixtures, oracles

NA = float("nan")


@pytest.fixture(scope="module")
def iris(spark):
    pdf = fixtures.iris_like()
    return pdf, spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def cells(spark):
    pdf = fixtures.cells_like()
    return pdf, spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def lending(spark):
    pdf = fixtures.lending_like()
    return pdf, spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def cars(spark):
    pdf = fixtures.carprices_like()
    return pdf, spark.createDataFrame(pdf).cache()


def _scores_close(got: dict, want: dict, rtol=1e-9, atol=1e-12):
    assert set(got) == set(want)
    for k in got:
        np.testing.assert_allclose(
            got[k], want[k], rtol=rtol, atol=atol, err_msg=k, equal_nan=True
        )


# -- infgain ---------------------------------------------------------------

@pytest.mark.parametrize("mode", ["infogain", "gainratio", "symuncert"])
def test_infgain_scores_match_oracle(iris, mode):
    pdf, df = iris
    step = InfGainStep("species", top_p=2, mode=mode)
    fitted = step.prep(df)
    want = oracles.infgain_scores(pdf, fixtures.IRIS_X, "species", mode=mode)
    _scores_close(fitted.scores, want)


def test_infgain_top2_selects_petals(iris):
    pdf, df = iris
    fitted = InfGainStep("species", top_p=2).prep(df)
    kept = [c for c in fixtures.IRIS_X if c not in fitted.exclude]
    want = oracles.infgain_scores(pdf, fixtures.IRIS_X, "species")
    want_kept = sorted(want, key=want.get, reverse=True)[:2]
    assert sorted(kept) == sorted(want_kept)
    assert len(fitted.exclude) == 2
    baked = fitted.bake(df)
    assert set(baked.columns) == set(kept) | {"species"}


def test_infgain_equal_freq_mode(cells):
    pdf, df = cells
    fitted = InfGainStep("class", top_p=5, equal=True, bins=8).prep(df)
    want = oracles.infgain_scores(
        pdf, fixtures.CELLS_X, "class", equal=True, bins=8
    )
    _scores_close(fitted.scores, want, rtol=1e-7)


@pytest.mark.parametrize("equal", [False, True])
def test_infgain_all_null_predictor_matches_oracle(iris, equal):
    """A predictor with no non-NULL value (numeric or nominal) has an empty
    joint table in both cut-learning modes, as in the oracle."""
    from pyspark.sql import functions as F

    pdf, df = iris
    df = df.withColumn("none_num", F.lit(None).cast("double")).withColumn(
        "none_nom", F.lit(None).cast("string")
    )
    pdf = pdf.assign(none_num=np.nan, none_nom=pd.Series([None] * len(pdf), dtype=object))
    names = [*fixtures.IRIS_X, "none_num", "none_nom"]
    fitted = InfGainStep("species", top_p=2, equal=equal).prep(df)
    want = oracles.infgain_scores(pdf, names, "species", equal=equal)
    _scores_close(fitted.scores, want)


# -- roc -------------------------------------------------------------------

def test_roc_binary_scores_match_oracle(cells):
    pdf, df = cells
    fitted = RocStep("class", top_p=2).prep(df)
    want = oracles.roc_scores(pdf, fixtures.CELLS_X, "class")
    _scores_close(fitted.scores, want, rtol=1e-9)


def test_roc_dual_filter_or_semantics(cells):
    pdf, df = cells
    want = oracles.roc_scores(pdf, fixtures.CELLS_X, "class")
    fitted = RocStep("class", top_p=2, threshold=0.7).prep(df)
    keep_by_top = set(sorted(want, key=want.get, reverse=True)[:2])
    keep_by_thr = {k for k, v in want.items() if v >= 0.7}
    want_excl = set(want) - (keep_by_top | keep_by_thr)
    assert set(fitted.exclude) == want_excl


def test_roc_multiclass_hand_till(iris):
    pdf, df = iris
    fitted = RocStep("species", top_p=2).prep(df)
    want = oracles.roc_scores(pdf, fixtures.IRIS_X, "species")
    _scores_close(fitted.scores, want, rtol=1e-9)


def test_roc_requires_numeric_predictors(lending):
    pdf, df = lending
    with pytest.raises(TypeError):
        RocStep("Class", terms=["cat01"], top_p=1).prep(df)


def _sparse_predictor(spark, classes, present):
    """x1 is informative; x2 is non-NULL only for rows of ``present``."""
    rng = np.random.default_rng(4)
    y = [classes[i % len(classes)] for i in range(20 * (len(classes) - 1))]
    pdf = pd.DataFrame({
        "y": y,
        "x1": [float(classes.index(v)) + rng.normal() for v in y],
        "x2": [float(rng.integers(0, 5)) if v in present else None for v in y],
    })
    return pdf, spark.createDataFrame(pdf, "y string, x1 double, x2 double")


def test_roc_predictor_seen_in_one_class_scores_na(spark):
    """A predictor whose non-NULL values all fall in one class has no
    binary AUC: pROC fails and the reference scores NA
    (step_select_roc.R:121-122), instead of dividing by zero."""
    pdf, df = _sparse_predictor(spark, ["pos", "neg"], ["pos"])
    fitted = RocStep("y", top_p=1).prep(df)
    want = oracles.roc_scores(pdf, ["x1", "x2"], "y")
    assert np.isnan(want["x2"])
    _scores_close(fitted.scores, want)
    assert "x2" in fitted.exclude


def test_roc_hand_till_skips_pairs_a_predictor_lacks(spark):
    """Hand–Till averages the pairs whose AUC is defined: x2 lacks class
    "c", so only its (a, b) pair counts."""
    pdf, df = _sparse_predictor(spark, ["a", "b", "c"], ["a", "b"])
    fitted = RocStep("y", top_p=1).prep(df)
    want = oracles.roc_scores(pdf, ["x1", "x2"], "y")
    assert not np.isnan(want["x2"])
    _scores_close(fitted.scores, want)


def test_roc_prep_job_count_does_not_grow_with_classes(spark):
    """One window pass serves every class count: 3 and 5 classes run the
    same jobs, and a binary prep no more than the 7 of a per-pair scan."""
    rng = np.random.default_rng(8)
    sc = spark.sparkContext

    def n_jobs(k: int) -> int:
        y = rng.integers(0, k, 600)
        df = spark.createDataFrame(pd.DataFrame({
            "y": [f"c{v}" for v in y],
            "x1": np.round(rng.normal(size=600) + 0.5 * y, 2),
            "x2": np.round(rng.normal(size=600), 2),
        })).cache()
        df.count()
        group = f"roc-{k}"
        sc.setJobGroup(group, group)
        try:
            RocStep("y", top_p=1).prep(df)
        finally:
            sc.setJobGroup("", "")
            df.unpersist()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs = {k: n_jobs(k) for k in (2, 3, 5)}
    assert jobs[3] == jobs[5], jobs
    assert jobs[2] <= 7, jobs


# -- NaN is a missing value -------------------------------------------------

@pytest.fixture(scope="module")
def nan_predictor(spark):
    """40 rows whose predictor x holds 6 NaN values. Built from Rows, so x
    stays a Spark NaN (pandas NaN becomes NULL through createDataFrame)."""
    from pyspark.sql import Row

    rng = np.random.default_rng(3)
    y = np.where(rng.random(40) < 0.5, "pos", "neg")
    x = rng.normal(size=40) + 2.0 * (y == "pos")
    x[:6] = np.nan
    z = rng.normal(size=40) + 0.5 * (y == "pos")
    pdf = pd.DataFrame({"x": x, "z": z, "y": y})
    df = spark.createDataFrame(
        [Row(x=float(a), z=float(b), y=str(c)) for a, b, c in zip(x, z, y)]
    )
    assert df.where("isnan(x)").count() == 6
    return pdf, df.cache()


@pytest.mark.parametrize(
    "make_step, oracle",
    [
        (lambda: RocStep("y", top_p=1),
         lambda pdf: oracles.roc_scores(pdf, ["x", "z"], "y")),
        (lambda: InfGainStep("y", top_p=1, equal=True, bins=4),
         lambda pdf: oracles.infgain_scores(pdf, ["x", "z"], "y", equal=True, bins=4)),
        (lambda: InfGainStep("y", top_p=1),
         lambda pdf: oracles.infgain_scores(pdf, ["x", "z"], "y")),
        (lambda: MrmrStep("y", top_p=1, bins=4),
         lambda pdf: oracles.mrmr_scores(pdf, ["x", "z"], "y", bins=4)),
    ],
    ids=["roc", "infgain_equal", "infgain_mdl", "mrmr"],
)
def test_nan_predictor_is_missing(nan_predictor, make_step, oracle):
    """A numeric NaN counts as NA, as in R and the oracles: ROC drops it,
    equal-frequency and MDL cuts ignore it, binned tables drop it and
    mRMR gives it the NULL level."""
    pdf, df = nan_predictor
    fitted = make_step().prep(df)
    _scores_close(fitted.scores, oracle(pdf), rtol=1e-9)


# -- xtab ------------------------------------------------------------------

def test_xtab_chi2_scores_match_oracle(lending):
    pdf, df = lending
    fitted = XtabStep("Class", terms=fixtures.LENDING_CAT, top_p=3).prep(df)
    want = oracles.xtab_scores(pdf, fixtures.LENDING_CAT, "Class")
    _scores_close(fitted.scores, want, rtol=1e-8)
    # p-values: minimize => the strongly-associated cat01 must survive
    assert "cat01" not in fitted.exclude


def test_xtab_fisher_2x2(lending):
    pdf, df = lending
    fitted = XtabStep(
        "Class", terms=["cat04", "cat05"], top_p=1, test="fisher"
    ).prep(df)
    want = oracles.xtab_scores(pdf, ["cat04", "cat05"], "Class", test="fisher")
    _scores_close(fitted.scores, want, rtol=1e-8)


def test_xtab_fisher_rxc_scores_real_pvalues(lending):
    """A >2-level factor with test="fisher" now gets a real r×c Fisher p-value
    (round-1 behavior: silent NaN -> force-excluded). cat02 has 3 levels."""
    pdf, df = lending
    fitted = XtabStep(
        "Class", terms=["cat02", "cat04"], top_p=1, test="fisher"
    ).prep(df)
    assert not np.isnan(fitted.scores["cat02"])
    want = oracles.xtab_scores(pdf, ["cat02", "cat04"], "Class", test="fisher")
    _scores_close(fitted.scores, want, rtol=1e-8)


def test_xtab_bh_fdr(lending):
    pdf, df = lending
    fitted = XtabStep("Class", terms=fixtures.LENDING_CAT, top_p=3, fdr=True).prep(df)
    want = oracles.xtab_scores(pdf, fixtures.LENDING_CAT, "Class", fdr=True)
    _scores_close(fitted.scores, want, rtol=1e-8)


# -- mrmr ------------------------------------------------------------------

def test_mrmr_scores_match_oracle(iris):
    pdf, df = iris
    fitted = MrmrStep("species", top_p=2, bins=10).prep(df)
    want = oracles.mrmr_scores(pdf, fixtures.IRIS_X, "species", bins=10)
    _scores_close(fitted.scores, want, rtol=1e-9)


def test_mrmr_redundancy_penalty(cells):
    """x02 is highly correlated with x01 — mRMR must rank it below what pure
    relevance would give (the redundancy penalty at work)."""
    pdf, df = cells
    sub = ["x01", "x02", "x03", "x06"]
    fitted = MrmrStep("class", terms=sub, top_p=2).prep(df)
    want = oracles.mrmr_scores(pdf, sub, "class")
    _scores_close(fitted.scores, want, rtol=1e-9)
    kept = [c for c in sub if c not in fitted.exclude]
    # the redundancy penalty keeps at most one of the correlated pair
    assert len({"x01", "x02"} & set(kept)) == 1
    # and the pure-noise feature never survives ahead of the signal pair
    assert "x06" not in kept


def test_mrmr_all_pairs_mixed_types(lending):
    """NOMINAL predictors in the mix: their level codes ride through the
    same (index, code) pair explosion as the binned numeric codes, and the
    scores match the oracle's."""
    pdf, df = lending
    sub = ["num01", "num02", "cat01", "cat06"]
    fitted = MrmrStep("Class", terms=sub, top_p=2, bins=6).prep(df)
    want = oracles.mrmr_scores(pdf, sub, "Class", bins=6)
    _scores_close(fitted.scores, want, rtol=1e-9)


def test_mrmr_all_pairs_job_count(cells):
    """Redundancy is one all-pairs pass at every p: cut learning, cache,
    relevance and ONE pairwise shuffle, with no per-selected-feature job —
    so p = 16 launches exactly as many jobs as p = 4."""
    pdf, df = cells
    sc = df.sparkSession.sparkContext

    def n_jobs(p: int) -> int:
        group = f"mrmr-p{p}"
        terms = [f"x{i:02d}" for i in range(1, p + 1)]
        sc.setJobGroup(group, group)
        try:
            MrmrStep("class", terms=terms, top_p=2, bins=10).prep(df)
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    small, large = n_jobs(4), n_jobs(16)
    assert small == large, (small, large)
    # some of the passes split into 2 jobs under AQE
    assert small <= 8, small


def test_xtab_fisher_beyond_dfs_budget_is_exact(spark):
    """A 6-level factor × binary outcome whose 954,060 same-margin tables
    exceed the 500k DFS budget: the step must route to the FEXACT network
    algorithm and return the EXACT p (pinned against a raw 10M-budget DFS
    run), with NO chi-square-fallback warning."""
    import warnings

    counts = [[7, 13], [11, 4], [5, 9], [12, 13], [7, 2], [14, 12]]
    rows = [
        (f"lv{i}", cls)
        for i, (a, b) in enumerate(counts)
        for cls, k in (("yes", a), ("no", b))
        for _ in range(k)
    ]
    df = spark.createDataFrame(rows, "cat string, Class string")
    with warnings.catch_warnings():
        # the chi-square fallback warning (and only it) is a failure
        warnings.filterwarnings("error", message=".*chi-square.*")
        fitted = XtabStep(
            "Class", terms=["cat"], threshold=0.5, test="fisher"
        ).prep(df)
    np.testing.assert_allclose(
        fitted.scores["cat"], 0.11085372099126315, atol=1e-9
    )


def test_xtab_fisher_falls_back_to_chi2_after_bounded_work(spark, monkeypatch):
    """A factor whose exact Fisher walk exceeds its work budget scores the
    chi-square p-value, with the fallback warning, after at most the
    budget's 2M path insertions."""
    from tests.test_stats_kernels import (
        FISHER_WALK_REPRODUCERS,
        count_path_insertions,
    )

    inserted = count_path_insertions(monkeypatch)
    counts = FISHER_WALK_REPRODUCERS[0]
    rows = [
        (f"lv{i}", cls)
        for i, (a, b) in enumerate(counts)
        for cls, k in (("yes", a), ("no", b))
        for _ in range(k)
    ]
    df = spark.createDataFrame(rows, "cat string, Class string")
    with pytest.warns(UserWarning, match="chi-square"):
        fitted = XtabStep(
            "Class", terms=["cat"], threshold=0.5, test="fisher"
        ).prep(df)
    want = stats.chi2_test(np.array(counts))
    np.testing.assert_allclose(fitted.scores["cat"], want, rtol=1e-12)
    assert 0 < inserted[0] <= 2_000_000


# -- carscore --------------------------------------------------------------

def test_carscore_match_oracle(cars):
    """Default lam='auto' (care::carscore default): the Spark two-pass
    sufficient-stats λ must match the brute-force per-row-products oracle."""
    pdf, df = cars
    fitted = CarScoreStep("price", top_p=4).prep(df)
    want = oracles.carscore_scores(pdf, fixtures.CAR_X, "price")
    _scores_close(fitted.scores, want, rtol=1e-7)
    # shrinkage actually engages on this correlated fixture
    lam = oracles.schafer_strimmer_lambda(
        pdf[fixtures.CAR_X].dropna().to_numpy(dtype=float)
    )
    assert 0.0 < lam < 1.0


def test_carscore_explicit_lambda(cars):
    pdf, df = cars
    fitted = CarScoreStep("price", top_p=4, lam=0.3).prep(df)
    want = oracles.carscore_scores(pdf, fixtures.CAR_X, "price", lam=0.3)
    _scores_close(fitted.scores, want, rtol=1e-7)
    # auto != explicit-zero on an ill-conditioned correlation matrix
    zero = CarScoreStep("price", top_p=4, lam=0.0).prep(df).scores
    auto = CarScoreStep("price", top_p=4).prep(df).scores
    assert any(
        not np.isclose(zero[c], auto[c], rtol=1e-6) for c in fixtures.CAR_X
    )


def test_carscore_diagonal_is_marginal(cars):
    pdf, df = cars
    fitted = CarScoreStep("price", top_p=4, diagonal=True).prep(df)
    want = oracles.carscore_scores(pdf, fixtures.CAR_X, "price", diagonal=True)
    _scores_close(fitted.scores, want, rtol=1e-7)


def test_carscore_differs_from_marginal_on_correlated_block(cars):
    pdf, df = cars
    car = CarScoreStep("price", top_p=4).prep(df).scores
    marg = CarScoreStep("price", top_p=4, diagonal=True).prep(df).scores
    assert not np.allclose(
        [car[c] for c in fixtures.CAR_X[:3]],
        [marg[c] for c in fixtures.CAR_X[:3]],
        rtol=0.05,
    )


def test_carscore_no_complete_row_scores_nan(spark):
    """No row survives the NULL filter: every predictor must still be
    scored, as NaN, and kept (select_percentile keeps NaNs). A frame built
    from pandas is a local relation, so the filtered frame has NO partitions
    and the per-partition moment pass collects no row at all; a frame built
    from rows keeps its partitions, each contributing an empty sum."""
    rows = [(None, 1.0, 2.0), (None, 2.0, 3.0), (None, 3.0, 5.0)]
    schema = "a double, b double, y double"
    for df in (
        spark.createDataFrame(pd.DataFrame(rows, columns=["a", "b", "y"]), schema),
        spark.createDataFrame(rows, schema),
    ):
        fitted = CarScoreStep("y", terms=["a", "b"], top_p=1).prep(df)
        assert sorted(fitted.scores) == ["a", "b"]
        assert all(np.isnan(v) for v in fitted.scores.values())
        assert fitted.exclude == []


def test_carscore_rejects_nominal_outcome(iris):
    pdf, df = iris
    with pytest.raises(TypeError):
        CarScoreStep("species", top_p=2).prep(df)


# -- shared contract edge cases -------------------------------------------

def test_both_criteria_missing_raises():
    with pytest.raises(ValueError):
        InfGainStep("species")


def test_threshold_out_of_range_raises():
    with pytest.raises(ValueError):
        InfGainStep("species", threshold=1.5)


def test_top_p_clamped_warns(iris):
    pdf, df = iris
    with pytest.warns(UserWarning):
        fitted = InfGainStep("species", top_p=10).prep(df)
    # clamp to p-1 = 3 => exactly one feature excluded
    assert len(fitted.exclude) == 1


def test_empty_selection_passthrough(iris):
    pdf, df = iris
    fitted = InfGainStep("species", terms=[], top_p=2).prep(df)
    assert fitted.exclude == []
    assert fitted.bake(df).columns == df.columns


def test_fitted_step_json_roundtrip(iris):
    from recipeselectors_spark.plans.step import FittedStep

    from recipeselectors_spark.operators import BorutaStep

    pdf, df = iris
    for fitted in (
        InfGainStep("species", top_p=2).prep(df),
        # extras: Boruta's decision, hits and ImpHistory
        BorutaStep("species", max_runs=3, trees=5, max_depth=3).prep(df),
    ):
        back = FittedStep.from_json(fitted.to_json())
        assert back.exclude == fitted.exclude
        assert back.scores.keys() == fitted.scores.keys()
        assert back.extras == fitted.extras


# -- custom scoring kernel (user extension surface) -------------------------

def test_custom_score_step_matches_local_kernel(cells):
    import numpy as np

    from recipeselectors_spark.operators import CustomScoreStep

    def abs_corr(x, y):
        yv = (y == y.sort_values().iloc[0]).astype(float)
        return float(abs(np.corrcoef(x.astype(float), yv)[0, 1]))

    pdf, df = cells
    sub = ["x01", "x03", "x10", "x11"]
    fitted = CustomScoreStep("class", abs_corr, terms=sub, top_p=2).prep(df)
    for c in sub:
        want = abs_corr(pdf[c], pdf["class"])
        np.testing.assert_allclose(fitted.scores[c], want, rtol=1e-9)
    kept = [c for c in sub if c not in fitted.exclude]
    assert "x01" in kept  # strongest planted signal survives


def test_custom_score_kernel_failure_gives_nan(cells):
    from recipeselectors_spark.operators import CustomScoreStep

    def boom(x, y):
        raise RuntimeError("kernel failure")

    pdf, df = cells
    fitted = CustomScoreStep("class", boom, terms=["x01", "x02"], top_p=1).prep(df)
    import math

    assert all(math.isnan(v) for v in fitted.scores.values())
    assert fitted.exclude == []  # NaN kept by select_percentile (misc.R:80)


def test_mdl_gate_agrees_with_ungated(iris):
    """Size-gated pre-bucketing (gate=0 forces every feature through the
    Bucketizer path) must be bit-identical to the ungated kernel while each
    distinct value still gets its own bucket — the gate=0 trick."""
    from recipeselectors_spark.operators import _scoring

    pdf, df = iris
    ungated = _scoring.learn_numeric_cuts(
        df, fixtures.IRIS_X, "species", method="mdl", mdl_gate_distinct=None
    )
    gated = _scoring.learn_numeric_cuts(
        df, fixtures.IRIS_X, "species", method="mdl",
        mdl_gate_distinct=0, mdl_prebucket_bins=4096,
    )
    assert gated == ungated
    assert any(len(v) > 0 for v in ungated.values())  # non-degenerate


def test_mdl_gate_bounds_kernel_input(iris):
    """Above the budget the kernel input is genuinely collapsed: with a tiny
    bin budget the learned cuts land on representative-value midpoints and
    every feature yields at most bins distinct candidate values."""
    from recipeselectors_spark.operators import _scoring

    pdf, df = iris
    gated = _scoring.learn_numeric_cuts(
        df, fixtures.IRIS_X, "species", method="mdl",
        mdl_gate_distinct=0, mdl_prebucket_bins=4,
    )
    for feat, cuts in gated.items():
        assert len(cuts) <= 4, feat


def test_nominal_guard_rejects_id_like_column(spark):
    """An ID-like nominal predictor fails fast with an actionable error
    instead of collecting a data-sized contingency table to the driver."""
    from pyspark.sql import functions as F
    from recipeselectors_spark.operators import _scoring

    df = spark.range(5000).select(
        F.concat(F.lit("id-"), F.col("id")).alias("doc_key"),
        (F.col("id") % 2).cast("string").alias("y"),
    )
    with pytest.raises(ValueError, match="max_cells_per_feature"):
        _scoring.nominal_contingency(
            df, ["doc_key"], "y", max_cells_per_feature=1000
        )
    # genuine factors pass untouched
    df2 = spark.range(5000).select(
        (F.col("id") % 5).cast("string").alias("lvl"),
        (F.col("id") % 2).cast("string").alias("y"),
    )
    pdf = _scoring.nominal_contingency(
        df2, ["lvl"], "y", max_cells_per_feature=1000
    )
    assert set(pdf["feature"]) == {"lvl"}


def test_mrmr_nominal_guard_rejects_id_like_column(spark, monkeypatch):
    """mRMR's relevance and pairwise passes collect per-level cell tables,
    so an ID-like nominal predictor gets xtab's and infgain's guard (same
    error, default 100,000 cells); a numeric-only step never probes."""
    from pyspark.sql import functions as F
    from recipeselectors_spark.operators import _scoring

    df = spark.range(100_001).select(
        F.concat(F.lit("id-"), F.col("id")).alias("doc_key"),
        (F.col("id") % 7).cast("double").alias("num"),
        (F.col("id") % 2).cast("string").alias("y"),
    )
    with pytest.raises(ValueError, match="max_cells_per_feature"):
        MrmrStep("y", terms=["doc_key", "num"], top_p=1).prep(df)

    probes = []
    real = _scoring.nominal_cell_counts
    monkeypatch.setattr(
        _scoring, "nominal_cell_counts",
        lambda *a, **k: probes.append(a[1]) or real(*a, **k),
    )
    small = df.limit(200)
    MrmrStep("y", terms=["num"], threshold=0.5, bins=4).prep(small)
    assert probes == []
    MrmrStep("y", terms=["num", "lvl"], top_p=1, bins=4).prep(
        small.withColumn("lvl", (F.col("num") % 3).cast("string"))
    )
    assert probes == [["lvl"]]
