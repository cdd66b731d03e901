"""Model-based steps (linear, tree, forests, vip, boruta): cardinality
assertions (reference pattern 2, test_step_select_forests.R etc.), multiclass
abort, determinism, and the prep/bake pipeline contract."""

import numpy as np
import pytest
from pyspark import StorageLevel

from recipeselectors_spark.operators import (
    BorutaStep,
    ForestsStep,
    LinearStep,
    TreeStep,
    VipStep,
)
from recipeselectors_spark.plans.pipeline import NormalizeStep, Recipe
from tests import fixtures

NA = float("nan")


@pytest.fixture(scope="module")
def iris(spark):
    pdf = fixtures.iris_like()
    return pdf, spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def cells(spark):
    pdf = fixtures.cells_like(n=600)
    return pdf, spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def cars(spark):
    pdf = fixtures.carprices_like(n=400)
    return pdf, spark.createDataFrame(pdf).cache()


# -- tree / forests: top_p=2 on iris => 3 columns survive ------------------

def test_tree_top_p_cardinality(iris):
    pdf, df = iris
    fitted = TreeStep("species", top_p=2).prep(df)
    baked = fitted.bake(df)
    assert len(baked.columns) == 3  # test_step_select_tree.R:19-25
    assert "species" in baked.columns


def test_forests_top_p_cardinality(iris):
    pdf, df = iris
    fitted = ForestsStep("species", top_p=2, trees=30).prep(df)
    baked = fitted.bake(df)
    assert len(baked.columns) == 3  # test_step_select_forests.R:17-24
    # the strong petal features should dominate the forest importances
    kept = set(baked.columns) - {"species"}
    assert kept <= {"petal_length", "petal_width", "sepal_length"}


def test_forests_threshold_percentile(iris):
    pdf, df = iris
    f50 = ForestsStep("species", threshold=0.5, trees=30).prep(df)
    f90 = ForestsStep("species", threshold=0.9, trees=30).prep(df)
    # threshold=.5 removes ~half (scores < type-7 median); .9 removes more
    assert len(f90.exclude) >= len(f50.exclude)
    assert len(f50.exclude) == 2  # 4 features, median cut => 2 below


def test_forests_regression_mode(cars):
    pdf, df = cars
    fitted = ForestsStep("price", top_p=3, trees=30).prep(df)
    assert len(fitted.bake(df).columns) == 4


def test_forests_permutation_importance(cells):
    pdf, df = cells
    sub = ["x01", "x02", "x10", "x11"]
    fitted = ForestsStep(
        "class", terms=sub, top_p=2, trees=20, importance="permutation"
    ).prep(df)
    # permutation importance of the signal feature must beat pure noise
    assert fitted.scores["x01"] > fitted.scores["x10"]


def test_forests_pass_through_reprep_has_no_stale_baseline(cells):
    from recipeselectors_spark.plans import roles

    pdf, df = cells
    step = ForestsStep(
        "class", terms=roles.columns("x01", "x10"), top_p=1, trees=5,
        importance="permutation",
    )
    assert "baseline_metric" in step.prep(df).extras
    # the selector finds nothing on this frame: a pass-through fit
    again = step.prep(df.drop("x01", "x10"))
    assert again.exclude == [] and again.scores == {}
    assert "baseline_metric" not in again.extras


# -- linear ----------------------------------------------------------------

def test_linear_binary_with_normalize_pipeline(cells):
    pdf, df = cells
    rec = (
        Recipe()
        .add(NormalizeStep(fixtures.CELLS_X))
        .add(LinearStep("class", top_p=2))
    )
    fitted = rec.prep(df)
    juiced = fitted.juice()
    assert len(juiced.columns) == 3  # test_step_select_linear.R:23
    kept = set(juiced.columns) - {"class"}
    # strongest planted signals carry the largest |coef|
    assert kept <= {"x01", "x02", "x03"}
    # bake on fresh data applies the same stored decision
    baked = fitted.bake(df)
    assert set(baked.columns) == set(juiced.columns)


def test_linear_multiclass_aborts(iris):
    pdf, df = iris
    with pytest.raises(ValueError):  # step_select_linear.R:163-166
        LinearStep("species", top_p=2).prep(df)


def test_linear_regression_mode(cars):
    pdf, df = cars
    fitted = LinearStep("price", top_p=3).prep(df)
    kept = [c for c in fixtures.CAR_X if c not in fitted.exclude]
    assert len(kept) == 3


# -- vip -------------------------------------------------------------------

def test_vip_with_user_estimator(iris):
    from pyspark.ml.classification import DecisionTreeClassifier

    pdf, df = iris
    fitted = VipStep(
        "species", model=DecisionTreeClassifier(maxDepth=4, seed=7), top_p=2
    ).prep(df)
    assert len(fitted.bake(df).columns) == 3  # test_step_select_vip.R:22-28


def test_vip_custom_extractor_registry(iris):
    from recipeselectors_spark.operators.importance import pull_importances

    class Fake:
        pass

    from recipeselectors_spark.operators import importance as imp

    imp.register_extractor(
        "Fake", lambda m, names: {n: float(i) for i, n in enumerate(names)},
        scaled_default=False,
    )
    out = pull_importances(Fake(), ["a", "b"])
    assert out == {"a": 0.0, "b": 1.0}


# -- boruta ----------------------------------------------------------------

def test_boruta_rejects_noise_keeps_signal(cells):
    pdf, df = cells
    sub = ["x01", "x02", "x03", "x10", "x11", "x12"]
    fitted = BorutaStep(
        "class", terms=sub, max_runs=15, trees=40, seed=11
    ).prep(df)
    dec = fitted.extras["decision"]
    assert dec["x01"] == "Confirmed"
    # pure-noise features must not be Confirmed
    assert dec["x10"] != "Confirmed" and dec["x11"] != "Confirmed"
    # only Rejected are excluded; Tentative kept (step_select_boruta.R:116)
    assert set(fitted.exclude) == {c for c, d in dec.items() if d == "Rejected"}


def test_boruta_deterministic(cells):
    pdf, df = cells
    sub = ["x01", "x03", "x10", "x11"]
    a = BorutaStep("class", terms=sub, max_runs=6, trees=20, seed=5).prep(df)
    b = BorutaStep("class", terms=sub, max_runs=6, trees=20, seed=5).prep(df)
    assert a.exclude == b.exclude
    assert a.extras["hits"] == b.extras["hits"]
    # ImpHistory analogue: one record per run, real + shadow-max columns
    hist = a.extras["imp_history"]
    assert len(hist) == a.params["runs"]
    assert all(set(sub) | {"__shadow_max__"} == set(h) for h in hist)
    assert hist == b.extras["imp_history"]

def _replay_boruta_decisions(imp_history, x_names, p_value, mc_adj):
    """INDEPENDENT Boruta:::TestFeatures replay from the importance stream
    alone: exact rational binomial tails (math.comb — no shared code with
    functions/stats.py), hits recomputed from imp > shadow_max per run,
    Bonferroni over ALL attributes, same early-decide-once semantics."""
    from fractions import Fraction
    from math import comb

    def tail_ge(h, n):  # P(X >= h), X ~ Binom(n, 1/2)
        return Fraction(sum(comb(n, i) for i in range(max(h, 0), n + 1)), 2**n)

    def tail_le(h, n):  # P(X <= h)
        return Fraction(sum(comb(n, i) for i in range(0, min(h, n) + 1)), 2**n)

    alpha = Fraction(p_value).limit_denominator(10**9) / (
        len(x_names) if mc_adj else 1
    )
    hits = {c: 0 for c in x_names}
    decision = {c: "Tentative" for c in x_names}
    for run_no, rec in enumerate(imp_history, start=1):
        shadow_max = rec["__shadow_max__"]
        for c in x_names:
            if rec[c] > shadow_max:
                hits[c] += 1
        for c in [c for c, d in decision.items() if d == "Tentative"]:
            if tail_ge(hits[c], run_no) < alpha:
                decision[c] = "Confirmed"
            elif tail_le(hits[c], run_no) < alpha:
                decision[c] = "Rejected"
        if all(d != "Tentative" for d in decision.values()):
            break
    return decision, hits, run_no


def test_boruta_imphistory_golden_artifact(cells):
    """The per-run (feature importances, max-shadow) stream from the REAL
    RandomForest path is emitted as a reviewable golden artifact
    (tests/golden/boruta_imphistory.json), and the step's decisions are
    re-derived from that stream ALONE by an independent exact-rational
    TestFeatures replay — decision agreement on the same hit stream,
    reviewable run-by-run (VERDICT r4 #9)."""
    import json
    import os

    pdf, df = cells
    sub = ["x01", "x02", "x03", "x10", "x11", "x12"]
    step = BorutaStep("class", terms=sub, max_runs=15, trees=40, seed=11)
    fitted = step.prep(df)
    hist = fitted.extras["imp_history"]

    # 1. the decision layer is a pure function of the emitted stream
    dec, hits, runs = _replay_boruta_decisions(
        hist, sub, step.p_value, step.mc_adj
    )
    assert dec == fitted.extras["decision"]
    assert hits == fitted.extras["hits"]
    assert runs == fitted.params["runs"] == len(hist)

    # 2. golden artifact: written on first run, compared after (the RF is
    # seeded and the permutation layout is fixed by the local[4] session,
    # so the stream is reproducible in this environment)
    path = os.path.join(
        os.path.dirname(__file__), "golden", "boruta_imphistory.json"
    )
    payload = {
        "fixture": "cells_like(n=600)",
        "features": sub,
        "config": {"max_runs": 15, "trees": 40, "seed": 11},
        "runs": runs,
        "imp_history": [
            {k: round(float(v), 10) for k, v in rec.items()} for rec in hist
        ],
        "hits": hits,
        "decision": dec,
        "exclude": sorted(fitted.exclude),
    }
    if not os.path.exists(path):
        with open(path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    golden = json.load(open(path))
    assert golden["decision"] == payload["decision"]
    assert golden["hits"] == payload["hits"]
    assert golden["imp_history"] == payload["imp_history"]


def _cars_with_rid(spark):
    pdf = fixtures.carprices_like(n=400).reset_index(drop=True)
    pdf["rid"] = pdf.index.astype("int64")
    return spark.createDataFrame(pdf)


def test_forests_rotation_permutation_deterministic(spark):
    """permute='rotation' (content-deterministic md5-bucket cyclic shift,
    operators/_permute.py:rotate_columns): identical scores on identical
    content regardless of layout, and the extras carry the baseline metric
    the relative drops are measured against."""
    df = _cars_with_rid(spark)

    def step():
        return ForestsStep(
            "price",
            terms=["x01", "x05"],
            top_p=1,
            trees=1,
            mtry=2,
            bootstrap=False,
            max_depth=1,
            max_bins=10_000,
            importance="permutation",
            permute="rotation",
            permute_ids=["rid"],
            permute_bucket_chars=1,
            seed=42,
        )

    a = step().prep(df)
    b = step().prep(df.repartition(5))
    assert a.scores == b.scores  # layout-invariant, bit-identical
    assert "baseline_metric" in a.extras
    assert a.extras["baseline_metric"] == b.extras["baseline_metric"]
    # permuting the signal feature hurts the fit; deltas are MSE increases
    assert max(a.scores.values()) > 0


def test_forests_rotation_requires_ids():
    with pytest.raises(ValueError, match="permute_ids"):
        ForestsStep("price", top_p=1, permute="rotation", importance="permutation")


def test_forests_single_tree_no_bootstrap_is_deterministic_stump(cars):
    """trees=1 + bootstrap=False + mtry=p: no RNG stream left — two seeds
    give the identical fit (the variance-gain argmax stump)."""
    pdf, df = cars
    kw = dict(
        terms=["x01", "x05"], top_p=1, trees=1, mtry=2,
        bootstrap=False, max_depth=1, max_bins=10_000,
    )
    a = ForestsStep("price", seed=1, **kw).prep(df)
    b = ForestsStep("price", seed=99, **kw).prep(df)
    assert a.scores == b.scores
    assert a.exclude == b.exclude


def test_vip_gbt_stump_boosting_deterministic(cars):
    """GBT maxDepth=1 + maxBins >= #distinct: the whole boosting loop is
    RNG-free — two seeds give identical registry importances."""
    from pyspark.ml.regression import GBTRegressor

    pdf, df = cars

    def mk(seed):
        return VipStep(
            "price",
            model=GBTRegressor(
                maxIter=5, maxDepth=1, maxBins=10_000, seed=seed, stepSize=0.1
            ),
            terms=["x01", "x05"],
            top_p=1,
        )

    a = mk(1).prep(df)
    b = mk(12345).prep(df)
    assert a.scores == b.scores

def test_boruta_label_mapping_computed_once(cells, monkeypatch):
    """The label dictionary is invariant across Boruta runs (shadowing never
    touches the outcome), so prep computes it ONCE and threads it through
    _mllib.prepare — no per-run distinct job through the Arrow shadow
    pass."""
    from recipeselectors_spark.operators import _mllib

    pdf, df = cells
    calls = []
    real = _mllib.label_mapping
    monkeypatch.setattr(
        _mllib, "label_mapping", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    BorutaStep(
        "class", terms=["x01", "x02", "x10", "x11"], max_runs=4,
        trees=5, max_depth=3,
    ).prep(df)
    assert len(calls) == 1, calls


def test_forests_permutation_label_mapping_computed_once(cells, monkeypatch):
    """Same invariance for permutation importance: the model fit computes
    one mapping, and baseline + per-feature passes share ONE more — never
    one per permuted frame."""
    from recipeselectors_spark.operators import _mllib

    pdf, df = cells
    calls = []
    real = _mllib.label_mapping
    monkeypatch.setattr(
        _mllib, "label_mapping", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    ForestsStep(
        "class", terms=["x01", "x02", "x10", "x11"], top_p=2,
        trees=5, max_depth=3, importance="permutation",
    ).prep(df)
    # r6: the fit now shares the cached frame AND the mapping with the
    # scoring passes — exactly ONE label-dictionary job for the whole step
    assert len(calls) == 1, calls


def _spy(monkeypatch, owner, name, calls):
    real = getattr(owner, name)
    monkeypatch.setattr(
        owner, name, lambda *a, **k: calls.append(name) or real(*a, **k)
    )


def test_linear_one_label_job_no_class_count(cells, iris, monkeypatch):
    """The label dictionary of the cleaned rows is the class count: one
    distinct job, no separate count — and the multiclass abort still
    fires."""
    from recipeselectors_spark.operators import _mllib

    calls = []
    _spy(monkeypatch, _mllib, "label_mapping", calls)
    _spy(monkeypatch, type(cells[1]), "count", calls)
    LinearStep("class", terms=["x01", "x02"], top_p=1).prep(cells[1])
    assert calls == ["label_mapping"]
    calls.clear()
    with pytest.raises(ValueError, match="multiclass"):
        LinearStep("species", top_p=2).prep(iris[1])
    assert calls == ["label_mapping"]


def test_linear_counts_classes_on_the_fitted_rows(spark):
    """A third class seen only on rows with a missing predictor is not a
    class of the fit: the binary logit runs instead of the multiclass
    abort."""
    rng = np.random.default_rng(5)
    rows = [
        (float(rng.normal() + (y == "b")), float(rng.normal()), y)
        for y in rng.choice(["a", "b"], 200)
    ] + [(None, 0.0, "c")]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y string")
    fitted = LinearStep("y", top_p=1).prep(df)
    assert fitted.exclude == ["x2"]


def test_forests_permutation_builds_one_training_frame(cells, monkeypatch):
    """One cached training frame serves the fit and every per-feature
    pass; the passes assemble their permuted copy and re-prepare
    nothing."""
    from recipeselectors_spark.operators import _mllib, _parallel

    calls = []
    _spy(monkeypatch, _mllib, "training_frame", calls)
    _spy(monkeypatch, _mllib, "ensure_parallelism", calls)
    _spy(monkeypatch, _parallel, "ensure_parallelism", calls)
    _spy(monkeypatch, _mllib, "assemble", calls)
    x = ["x01", "x02", "x10"]
    ForestsStep(
        "class", terms=x, top_p=2, trees=5, max_depth=3,
        importance="permutation",
    ).prep(cells[1])
    # one frame; fit + baseline + one pass per feature assemble it
    assert calls.count("training_frame") == 1
    assert "ensure_parallelism" not in calls
    assert calls.count("assemble") == 2 + len(x)


# -- one shadow pass per Boruta run; class count in the label schema -------

NOT_CACHED = StorageLevel(False, False, False, False)
BORUTA_4 = dict(terms=["x01", "x02", "x10", "x11"], max_runs=4, trees=5,
                max_depth=3)


def test_boruta_runs_the_shadow_kernel_once_per_run(cells, monkeypatch, tmp_path):
    """Each run's shadowed frame is persisted for its fit, so the Python
    shadow kernel runs once per partition per run — not once per MLlib
    read of the fit's input."""
    from recipeselectors_spark.operators import _permute

    log = tmp_path / "kernel_calls"
    log.touch()
    path = str(log)
    real = _permute._permute_map

    def counting(cols, out_names, seed):
        gen = real(cols, out_names, seed)

        def counted(batches):
            with open(path, "a") as f:
                f.write("call\n")
            yield from gen(batches)

        return counted

    monkeypatch.setattr(_permute, "_permute_map", counting)
    fitted = BorutaStep("class", **BORUTA_4).prep(cells[1])
    runs = fitted.params["runs"]
    assert runs == 4
    partitions = cells[1].sparkSession.sparkContext.defaultParallelism
    assert len(log.read_text().splitlines()) == runs * partitions


class _RecordingBoruta(BorutaStep):
    """Records every frame a fit receives; fails run ``fail_run``."""

    def __init__(self, *a, fail_run=None, **k):
        super().__init__(*a, **k)
        self.fail_run = fail_run
        self.frames = []

    def _fit_importances(self, df, all_feats, kind, run=0):
        self.frames.append((df, df.storageLevel != NOT_CACHED))
        if run == self.fail_run:
            raise RuntimeError(f"fit of run {run} failed")
        return super()._fit_importances(df, all_feats, kind, run)


def test_boruta_fit_input_is_cached_only_while_it_fits(cells):
    """The frame each fit receives is cached; after prep no shadowed frame
    is, also when a fit raises."""
    step = _RecordingBoruta("class", **BORUTA_4)
    step.prep(cells[1])
    assert len(step.frames) == 4
    assert all(cached for _, cached in step.frames)
    assert all(df.storageLevel == NOT_CACHED for df, _ in step.frames)

    failing = _RecordingBoruta("class", fail_run=2, **BORUTA_4)
    with pytest.raises(RuntimeError, match="run 2 failed"):
        failing.prep(cells[1])
    assert len(failing.frames) == 4
    assert all(df.storageLevel == NOT_CACHED for df, _ in failing.frames)


def test_training_frame_label_carries_its_class_count(cells, iris, cars):
    """Classification labels carry ``num_vals`` = the class count (MLlib
    classifiers then skip their label-max job); the shadow pass and the
    assembler keep the field. Regression labels carry no attribute."""
    from recipeselectors_spark.operators import _mllib, _permute

    for (_, df), outcome, x, n_classes in (
        (cells, "class", ["x01", "x02"], 2),
        (iris, "species", list(iris[0].columns[:2]), 3),
    ):
        for cached in (False, True):
            tf = _mllib.training_frame(df, x, outcome, cached=cached)
            try:
                assert tf.n_classes == n_classes
                meta = tf.frame.schema[_mllib.LABEL_COL].metadata
                assert meta["ml_attr"] == {"type": "nominal",
                                           "num_vals": n_classes}
                shadowed, _ = _permute.with_permuted(tf.frame, x, seed=1)
                fit_input = _mllib.assemble(shadowed, x)
                assert fit_input.schema[_mllib.LABEL_COL].metadata == meta
            finally:
                tf.unpersist()
    reg = _mllib.training_frame(cars[1], ["x01"], "price")
    assert reg.frame.schema[_mllib.LABEL_COL].metadata == {}


def test_boruta_four_run_prep_job_count(cells):
    """Four runs on cells: one label-dictionary job, then per run the
    cache-building read and the forest's own jobs — no label-max job and
    no shadow recomputation per read (36 jobs before)."""
    sc = cells[1].sparkSession.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    sc.setJobGroup("boruta-4", "boruta 4 runs")
    try:
        BorutaStep("class", **BORUTA_4).prep(cells[1])
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    bus.waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("boruta-4"))
    assert 0 < n_jobs <= 32, n_jobs
