"""Recipe.prep in waves: concurrent prep of column-disjoint selection steps
must give exactly what the step-by-step loop gives (each step prepped on the
data baked by every earlier step) — scores, excludes, tidy order, juiced
columns and the exception raised."""

import time

import numpy as np
import pandas as pd
import pytest

from recipeselectors_spark.operators import (
    CarScoreStep,
    ForestsStep,
    InfGainStep,
    LinearStep,
    RocStep,
    XtabStep,
)
from recipeselectors_spark.plans import roles as R
from recipeselectors_spark.plans.pipeline import FittedRecipe, NormalizeStep, Recipe
from recipeselectors_spark.plans.step import FittedStep

X = [f"x{j:02d}" for j in range(12)]


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.default_rng(7)
    n = 400
    y = rng.integers(0, 2, n)
    cols = {c: rng.normal(0, 1, n) for c in X}
    for c in ("x00", "x04", "x08"):  # planted signal
        cols[c] = cols[c] + 1.5 * y
    cols["x05"] = np.round(cols["x05"] * 100, 0)  # scale matters to linear
    cols["score"] = cols["x05"] / 100 + cols["x06"] + rng.normal(0, 0.5, n)
    cols["cat"] = np.where(rng.random(n) < 0.3 + 0.4 * y, "a", "b")
    cols["cat2"] = rng.choice(["u", "v", "w"], n)
    cols["y"] = np.where(y == 1, "pos", "neg")
    return spark.createDataFrame(pd.DataFrame(cols)).cache()


def sequential_prep(recipe: Recipe, df) -> FittedRecipe:
    """The reference contract, one step at a time."""
    fitted, current = [], df
    for step in recipe.steps:
        f = step.prep(current, recipe.roles)
        fitted.append(f)
        current = f.bake(current)
    return FittedRecipe(fitted, training=current)


def recipe(*steps) -> Recipe:
    rec = Recipe()
    for s in steps:
        rec.add(s)
    return rec


def spy(rec: Recipe) -> list[tuple[str, float, float]]:
    """Record each step's prep interval."""
    log: list[tuple[str, float, float]] = []
    for s in rec.steps:
        real = s.prep

        def prep(df, roles=None, _real=real, _name=s.step_name):
            t0 = time.monotonic()
            try:
                return _real(df, roles)
            finally:
                log.append((_name, t0, time.monotonic()))

        s.prep = prep
    return log


def assert_same(got: FittedRecipe, want: FittedRecipe) -> None:
    assert [type(f) for f in got.steps] == [type(f) for f in want.steps]
    for g, w in zip(got.steps, want.steps):
        assert g.exclude == w.exclude
        if isinstance(g, FittedStep):
            assert list(g.scores) == list(w.scores)
            assert g.scores == pytest.approx(w.scores, rel=1e-9, nan_ok=True)
        else:
            assert g.stats == pytest.approx(w.stats, rel=1e-12)
    assert got.exclude == want.exclude
    assert got.tidy() == want.tidy()
    assert got.juice().columns == want.juice().columns


def test_disjoint_filters_prep_as_one_concurrent_wave(frame):
    def steps():
        return recipe(
            InfGainStep("y", terms=X[0:4], top_p=2, equal=True),
            RocStep("y", terms=X[4:8], top_p=2),
            CarScoreStep("score", terms=X[8:12], top_p=2),
            # reads y, which no earlier step selects
            XtabStep("y", terms=["cat", "cat2"], top_p=1),
        )

    rec = steps()
    assert len(rec._wave(0, frame)) == 4
    log = spy(rec)
    got = rec.prep(frame)
    starts, ends = [t0 for _, t0, _ in log], [t1 for _, _, t1 in log]
    assert len(log) == 4 and max(starts) < min(ends)  # all four overlapped
    assert_same(got, sequential_prep(steps(), frame))


def test_all_predictors_step_sees_only_kept_columns(frame):
    df = frame.select(*X[:6], "y")

    def steps():
        return recipe(
            InfGainStep("y", terms=X[0:4], top_p=2, equal=True),
            RocStep("y", terms=None, top_p=2),
        )

    rec = steps()
    assert len(rec._wave(0, df)) == 1  # terms=None overlaps the first step
    got = rec.prep(df)
    dropped = got.steps[0].exclude
    assert len(dropped) == 2
    assert set(got.steps[1].scores) == set(X[:6]) - set(dropped)
    assert_same(got, sequential_prep(steps(), df))


def test_explicit_names_dropped_earlier_raise_the_same_error(frame):
    def steps():
        return recipe(
            InfGainStep("y", terms=X[0:4], top_p=2, equal=True),
            RocStep("y", terms=X[0:4], top_p=1),
        )

    with pytest.raises(ValueError, match="not in schema") as want:
        sequential_prep(steps(), frame)
    with pytest.raises(ValueError, match="not in schema") as got:
        steps().prep(frame)
    assert str(got.value) == str(want.value)


def test_outcome_selected_by_earlier_step_waits_for_its_bake(frame):
    def steps():
        return recipe(
            InfGainStep("y", terms=["x00", "score"], top_p=1, equal=True),
            CarScoreStep("score", terms=X[4:8], top_p=2),
        )

    rec = steps()
    assert len(rec._wave(0, frame)) == 1
    # the first step drops the second step's outcome, so in recipe order
    # the second step cannot find it — a shared wave would hide that
    assert steps().steps[0].prep(frame).exclude == ["score"]
    with pytest.raises(Exception) as want:
        sequential_prep(steps(), frame)
    with pytest.raises(Exception) as got:
        rec.prep(frame)
    assert type(got.value) is type(want.value)
    assert str(got.value) == str(want.value)


def test_normalize_step_is_a_wave_barrier(frame):
    def steps():
        return recipe(
            InfGainStep("y", terms=X[0:4], top_p=2, equal=True),
            NormalizeStep(X[4:8]),
            LinearStep("y", terms=X[4:8], top_p=2),
            RocStep("y", terms=X[8:12], top_p=2),
        )

    rec = steps()
    assert [len(rec._wave(i, frame)) for i in (0, 1, 2)] == [1, 1, 2]
    log = spy(rec)
    got = rec.prep(frame)
    when = {name: (t0, t1) for name, t0, t1 in log}
    assert when["step_select_infgain"][1] <= when["step_normalize"][0]
    assert when["step_normalize"][1] <= when["step_select_linear"][0]
    assert_same(got, sequential_prep(steps(), frame))


def test_failing_step_in_a_wave_raises_the_sequential_exception(frame):
    def steps():
        return recipe(
            InfGainStep("y", terms=X[0:4], top_p=2, equal=True),
            RocStep("y", terms=["cat"], top_p=1),  # nominal: TypeError
            XtabStep("y", terms=["x04"], top_p=1),  # numeric: TypeError too
        )

    rec = steps()
    assert len(rec._wave(0, frame)) == 3
    with pytest.raises(TypeError, match="step_select_roc") as want:
        sequential_prep(steps(), frame)
    with pytest.raises(TypeError, match="step_select_roc") as got:
        rec.prep(frame)
    assert str(got.value) == str(want.value)


def test_selector_that_is_not_a_schema_filter_is_replanned(frame):
    def fifth_and_sixth_x(schema, roles):
        return [f.name for f in schema.fields if f.name.startswith("x")][4:6]

    def steps():
        return recipe(
            InfGainStep("y", terms=X[0:4], top_p=2, equal=True),
            RocStep("y", terms=fifth_and_sixth_x, top_p=1),
        )

    rec = steps()
    assert len(rec._wave(0, frame)) == 2  # x04, x05 on the wave input
    got = rec.prep(frame)
    # after two of x00-x03 are dropped the selector picks x06, x07
    assert set(got.steps[1].scores) == {"x06", "x07"}
    assert_same(got, sequential_prep(steps(), frame))


def test_wave_planner_boundaries(frame):
    rec = recipe(
        InfGainStep("y", terms=X[0:2], top_p=1),
        # rotation permutation reads its ids column, selected above
        ForestsStep("score", terms=X[2:4], top_p=1, importance="permutation",
                    permute="rotation", permute_ids=["x00"]),
        RocStep("y", terms=["missing"], top_p=1),  # fails to resolve
        RocStep("y", terms=X[4:6], top_p=1),
        RocStep("y", terms=R.columns("x05", "x06"), top_p=1),  # overlaps x05
        NormalizeStep(X[8:10]),
    )
    assert [len(rec._wave(i, frame)) for i in range(6)] == [1, 1, 1, 1, 1, 1]
    assert [s.step_name for s, _ in rec._wave(1, frame)] == ["step_select_forests"]
    assert rec._wave(2, frame)[0][1] is None
    assert rec._wave(3, frame) == [(rec.steps[3], ["x04", "x05"])]
    rec.steps[1].permute_ids = ["x10"]
    assert len(rec._wave(0, frame)) == 2


def test_job_group_reaches_every_wave_job(spark, frame):
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def new_jobs(group, after):
        return {j for j in sc.statusTracker().getJobIdsForGroup(group) if j > after}

    rec = recipe(
        InfGainStep("y", terms=X[0:4], top_p=2, equal=True),
        RocStep("y", terms=X[4:8], top_p=2),
        # nested pool: per-feature permutation passes run on threads too
        ForestsStep("y", terms=X[8:11], top_p=1, importance="permutation",
                    trees=3, max_depth=3),
    )
    assert len(rec._wave(0, frame)) == 3
    bus.waitUntilEmpty()
    before = max(
        sc.statusTracker().getJobIdsForGroup(None)
        + sc.statusTracker().getJobIdsForGroup("wave-prep"),
        default=-1,
    )
    sc.setJobGroup("wave-prep", "recipe prep")
    try:
        rec.prep(frame)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    bus.waitUntilEmpty()
    in_group = new_jobs("wave-prep", before)
    assert len(in_group) >= 10
    assert not new_jobs(None, before)  # every prep job carries the group


def test_thread_map_gives_each_call_its_own_local_properties(spark):
    """Concurrent calls must not share one copy of the caller's local
    properties: Spark keeps per-query SQL execution ids there, and threads
    writing one shared copy race (``Cannot parse null string``)."""
    import threading

    from recipeselectors_spark.operators._parallel import thread_map

    sc = spark.sparkContext
    barrier = threading.Barrier(4, timeout=60)

    def probe(i):
        sc.setLocalProperty("probe.id", str(i))
        barrier.wait()  # every call has written before any reads back
        return sc.getLocalProperty("probe.id"), sc.getLocalProperty(
            "spark.jobGroup.id"
        )

    sc.setJobGroup("map-grp", "thread map")
    try:
        out = thread_map(probe, list(range(4)), 4)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert out == [(str(i), "map-grp") for i in range(4)]
    assert sc.getLocalProperty("probe.id") is None  # caller's copy untouched


def _tags_in_pool_threads() -> None:
    """Body of ``test_job_tags_reach_every_pool_thread``, run in a fresh
    process: in Spark 4.1, once a session has had a tag, MLlib model
    ``transform`` queries fail with ``NotSerializableException`` for the
    rest of the process, so the tag must not touch the suite's session."""
    import warnings

    from recipeselectors_spark.operators import BorutaStep, _parallel, select_boruta
    from recipeselectors_spark.session import get_spark

    spark = get_spark(app_name="tags", master="local[2]", shuffle_partitions=2)
    rng = np.random.default_rng(7)
    y = rng.integers(0, 2, 200)
    pdf = pd.DataFrame({c: rng.normal(0, 1, 200) + y for c in X[:11]})
    pdf["y"] = np.where(y == 1, "pos", "neg")
    frame = spark.createDataFrame(pdf).cache()
    seen: list[tuple[str, set[str]]] = []

    def tagged(name, fn):
        def call(*a, **k):
            seen.append((name, spark.getTags()))
            return fn(*a, **k)

        return call

    real_map = _parallel.thread_map
    select_boruta.thread_map = (
        lambda fn, items, n: real_map(tagged("boruta run", fn), items, n)
    )
    rec = recipe(
        InfGainStep("y", terms=X[0:4], top_p=2, equal=True),
        RocStep("y", terms=X[4:8], top_p=2),
        BorutaStep("y", terms=X[8:11], max_runs=3, trees=3, max_depth=3),
    )
    for s in rec.steps:
        s.prep = tagged(s.step_name, s.prep)
    assert len(rec._wave(0, frame)) == 3
    spark.addTag("pool-tag")
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        mapped = real_map(lambda i: spark.getTags(), list(range(4)), 4)
        rec.prep(frame)
    assert all("pool-tag" in tags for tags in mapped)
    names = [name for name, _ in seen]
    assert names.count("boruta run") == 3
    assert {s.step_name for s in rec.steps} <= set(names)
    assert all("pool-tag" in tags for _, tags in seen), seen
    spark.stop()


def test_job_tags_reach_every_pool_thread():
    """A tag added with ``SparkSession.addTag`` is seen by every
    ``thread_map`` call (Boruta's nested run batch included) and every
    wave-step prep, so ``interruptTag`` reaches their jobs; no pool warns
    that it was given no session."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run(
        [sys.executable, "-c",
         "from tests.test_pipeline import _tags_in_pool_threads as t; t()"],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
