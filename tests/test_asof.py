"""As-of join: union-window strategy vs cogroup merge_asof strategy vs the
pandas merge_asof oracle — all three must agree."""

import re

import numpy as np
import pandas as pd
import pytest

from recipeselectors_spark.operators import asof
from tests import oracles


@pytest.fixture(scope="module")
def frames():
    rng = np.random.default_rng(11)
    convs = [f"conv-{i:03d}" for i in range(12)]
    base = pd.Timestamp("2026-02-01")

    feat_rows = []
    for ci, c in enumerate(convs):
        n = 40 if ci == 0 else int(rng.integers(2, 12))  # one hot conversation
        t = base + pd.Timedelta(seconds=int(rng.integers(0, 3600)))
        for _ in range(n):
            t = t + pd.Timedelta(seconds=int(rng.integers(1, 500)))
            feat_rows.append((c, t, float(rng.normal()), float(rng.integers(0, 5))))
    features = pd.DataFrame(feat_rows, columns=["conv_id", "ts", "v1", "v2"])

    spine_rows = []
    for ci, c in enumerate(convs):
        n = 15 if ci == 0 else int(rng.integers(1, 6))
        t = base
        for _ in range(n):
            t = t + pd.Timedelta(seconds=int(rng.integers(1, 2000)))
            spine_rows.append((c, t, int(rng.integers(0, 2))))
    spine = pd.DataFrame(spine_rows, columns=["conv_id", "ts", "label"])
    # exact-match probe: one spine ts equal to a feature ts
    spine.loc[0, "ts"] = features.loc[0, "ts"]
    for f in (features, spine):
        f["ts"] = f["ts"].astype("datetime64[us]")
    return spine, features


KEY = ["conv_id", "ts"]


def _check(got: pd.DataFrame, want: pd.DataFrame):
    a = got.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    b = want.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    assert len(a) == len(b)
    for c in ("v1", "v2"):
        np.testing.assert_allclose(
            a[c].to_numpy(dtype=float), b[c].to_numpy(dtype=float), equal_nan=True
        )
    assert (a["label"] == b["label"]).all()


@pytest.mark.parametrize("tolerance", [None, 600])
def test_union_strategy(spark, frames, tolerance):
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    got = asof.asof_join_union(
        s, f, ["v1", "v2"], tolerance_s=tolerance
    ).toPandas()
    want = oracles.asof_join(spine, features, ["v1", "v2"], tolerance_s=tolerance)
    _check(got, want)


@pytest.mark.parametrize("tolerance", [None, 600])
def test_cogroup_strategy(spark, frames, tolerance):
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    got = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], tolerance_s=tolerance, num_shards=4
    ).toPandas()
    want = oracles.asof_join(spine, features, ["v1", "v2"], tolerance_s=tolerance)
    _check(got, want)


@pytest.mark.parametrize("tolerance", [None, 600])
def test_union_carries_whole_rows_with_nulls(spark, frames, tolerance):
    """ADVICE r1 (medium): the carried payload is the latest feature ROW —
    its internal NULLs included — not a per-column last-non-null mix; both
    strategies and the pandas merge_asof oracle must agree."""
    spine, features = frames
    features = features.copy()
    # poke NULLs into v1 on even rows and v2 on every third row: a
    # per-column carry would backfill these from OLDER rows
    features.loc[features.index % 2 == 0, "v1"] = np.nan
    features.loc[features.index % 3 == 0, "v2"] = np.nan
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    want = oracles.asof_join(spine, features, ["v1", "v2"], tolerance_s=tolerance)
    got_u = asof.asof_join_union(
        s, f, ["v1", "v2"], tolerance_s=tolerance
    ).toPandas()
    got_c = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], tolerance_s=tolerance, num_shards=4
    ).toPandas()
    _check(got_u, want)
    _check(got_c, want)


def test_shard_map_balances_and_isolates_skew(spark, frames):
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    hot = asof.hot_conv_shards(s, f, num_shards=4, skew_factor=1.0)
    # the hot conversation is detected and gets a DEDICATED shard (>= N)
    assert "conv-000" in set(hot["conv_id"])
    hot_shard = hot.loc[hot["conv_id"] == "conv-000", "shard"].iloc[0]
    assert hot_shard >= 4
    # the driver-side map is bounded by the hot-key count, NOT the conv count
    assert len(hot) < 12

    tagged = asof.with_shard(f, 4, hot, on="conv_id").toPandas()
    # every row got exactly one shard; conversations are never split
    assert tagged["shard"].notna().all()
    assert (tagged.groupby("conv_id")["shard"].nunique() == 1).all()
    # hot conv rides alone on its dedicated shard
    hot_rows = tagged[tagged["shard"] == hot_shard]
    assert set(hot_rows["conv_id"]) == {"conv-000"}


def test_with_shard_deterministic_and_complete(spark, frames):
    spine, features = frames
    s = spark.createDataFrame(spine)
    a = asof.with_shard(s, 8).toPandas().sort_values(["conv_id", "ts"])
    b = asof.with_shard(s, 8).toPandas().sort_values(["conv_id", "ts"])
    assert (a["shard"].to_numpy() == b["shard"].to_numpy()).all()
    assert a["shard"].between(0, 7).all()


def test_cogroup_sample_frac_drops_nothing(spark, frames):
    """ADVICE r1 (high): a sampled shard map must never drop conversations —
    sampling tunes hot detection only, membership is hash-based."""
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    got = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], num_shards=4, sample_frac=0.05
    ).toPandas()
    want = oracles.asof_join(spine, features, ["v1", "v2"])
    _check(got, want)


def test_salted_equi_join(spark, frames):
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    dim = spark.createDataFrame(
        pd.DataFrame({"conv_id": spine["conv_id"].unique(), "grp": 1})
    )
    got = asof.salted_equi_join(f, dim, salt=4).count()
    assert got == len(features)


def test_salted_equi_join_deterministic(spark, frames):
    """The salt is a pure function of row content: re-evaluations and
    different physical layouts of the same data give the same rows AND
    spread a hot key across salts (the content hash varies within a key)."""
    from pyspark.sql import functions as F

    spine, features = frames
    f = spark.createDataFrame(features)
    dim = spark.createDataFrame(
        pd.DataFrame({"conv_id": spine["conv_id"].unique(), "grp": 1})
    )
    a = asof.salted_equi_join(f, dim, salt=4).toPandas()
    b = asof.salted_equi_join(f.repartition(13), dim, salt=4).toPandas()
    key = sorted(a.columns)
    pd.testing.assert_frame_equal(
        a[key].sort_values(key).reset_index(drop=True),
        b[key].sort_values(key).reset_index(drop=True),
    )
    # hot-key spread: the busiest conv_id's rows land on >1 salt value
    hot = features["conv_id"].value_counts().idxmax()
    salts = (
        f.where(F.col("conv_id") == hot)
        .select(
            F.pmod(
                F.xxhash64(*[F.col(c) for c in f.columns]), F.lit(4)
            ).alias("s")
        )
        .distinct()
        .count()
    )
    assert salts > 1


def test_asof_empty_features(spark, frames):
    """No feature rows at all: every spine row survives with NULL values."""
    spine, features = frames
    s = spark.createDataFrame(spine)
    f = spark.createDataFrame(
        features.head(0),
        schema="conv_id string, ts timestamp_ntz, v1 double, v2 double",
    )
    for got in (
        asof.asof_join_union(s, f, ["v1", "v2"]).toPandas(),
        asof.asof_join_cogroup(s, f, ["v1", "v2"], num_shards=4).toPandas(),
    ):
        assert len(got) == len(spine)
        assert got["v1"].isna().all() and got["v2"].isna().all()


def test_asof_hypothesis_vs_merge_asof(spark):
    """Randomized conversations with heavy ts ties and tiny/empty sides:
    both strategies must match pandas merge_asof exactly."""
    from hypothesis import given, settings, strategies as st

    rows = st.lists(
        st.tuples(
            st.integers(0, 3),        # conv
            st.integers(0, 20),       # ts seconds (ties likely)
            st.integers(-5, 5),       # value
        ),
        min_size=0, max_size=25,
    )

    @settings(max_examples=12, deadline=None)
    @given(spine_rows=rows, feat_rows=rows)
    def check(spine_rows, feat_rows):
        base = pd.Timestamp("2026-03-01")

        def mk(rs, val_col):
            pdf = pd.DataFrame(
                {
                    "conv_id": [f"c{r[0]}" for r in rs],
                    "ts": [base + pd.Timedelta(seconds=r[1]) for r in rs],
                    val_col: [float(r[2]) for r in rs],
                }
            )
            pdf["ts"] = pdf["ts"].astype("datetime64[us]")
            return pdf

        spine = mk(spine_rows, "label")
        feats = mk(feat_rows, "v1")
        # merge_asof ties among equal feature ts pick the LAST sorted row;
        # make (conv, ts) unique on the feature side so the carried row is
        # well-defined in all three implementations
        feats = feats.drop_duplicates(["conv_id", "ts"], keep="last")
        if len(spine) == 0:
            return
        s = spark.createDataFrame(spine)
        f = spark.createDataFrame(
            feats, schema="conv_id string, ts timestamp_ntz, v1 double"
        )
        if len(feats):
            want = oracles.asof_join(spine, feats, ["v1"])
        else:  # merge_asof chokes on empty object-dtype keys
            want = spine.copy()
            want["v1"] = np.nan
        got_u = asof.asof_join_union(s, f, ["v1"]).toPandas()
        got_c = asof.asof_join_cogroup(s, f, ["v1"], num_shards=3).toPandas()
        for got in (got_u, got_c):
            a = got.sort_values(["conv_id", "ts", "label"], kind="mergesort").reset_index(drop=True)
            b = want.sort_values(["conv_id", "ts", "label"], kind="mergesort").reset_index(drop=True)
            assert len(a) == len(b)
            np.testing.assert_allclose(
                a["v1"].to_numpy(dtype=float),
                b["v1"].to_numpy(dtype=float),
                equal_nan=True,
            )

    check()


@pytest.mark.parametrize("direction", ["forward", "nearest"])
def test_cogroup_direction_variants(spark, frames, direction):
    """The cogroup path supports forward/nearest as-of semantics (the
    union-window form is backward-only by construction)."""
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    got = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], num_shards=4, direction=direction
    ).toPandas()
    want = oracles.asof_join(spine, features, ["v1", "v2"], direction=direction)
    _check(got, want)


def test_oversized_conversation_warns(spark):
    """A conversation bigger than the Arrow-group budget triggers the
    max_conv_rows guard (actionable warning + metric) while the join result
    stays correct — whole-conversation locality is by design (SURVEY §4),
    so the guard is the visibility mechanism, not a row splitter."""
    import warnings as W

    import pandas as pd
    from pyspark.sql import functions as F

    n = 500
    spine = pd.DataFrame({
        "conv_id": ["giant"] * n + ["tiny"],
        "ts": pd.to_datetime(list(range(1, n + 1)) + [5], unit="s"),
    })
    feats = pd.DataFrame({
        "conv_id": ["giant", "tiny"],
        "ts": pd.to_datetime([0, 0], unit="s"),
        "v": [1.0, 2.0],
    })
    s, f = spark.createDataFrame(spine), spark.createDataFrame(feats)
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        hot = asof.hot_conv_shards(s, f, num_shards=4, max_conv_rows=100)
    assert any("max_conv_rows" in str(r.message) for r in rec)
    assert hot.attrs["max_conv_rows"] >= n
    # and the join itself still produces every spine row
    out = asof.asof_join_cogroup(
        s, f, ["v"], num_shards=4, hot_pdf=hot
    )
    assert out.count() == n + 1
    # quiet when the budget is honored
    with W.catch_warnings(record=True) as rec2:
        W.simplefilter("always")
        asof.hot_conv_shards(s, f, num_shards=4, max_conv_rows=10_000)
    assert not any("max_conv_rows" in str(r.message) for r in rec2)


def _exchange_keys(df) -> list[str]:
    """The hashpartitioning keys of every exchange in the executed plan,
    expression ids stripped (``["shard", "__slice__"]`` per sliced side)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        re.sub(r"#\d+L?", "", k)
        for k in re.findall(r"hashpartitioning\(([^)]*), \d+\)", plan)
    ]


def _sliced(s, f, cols, **kw):
    """asof_join_cogroup forced onto its time-sliced path: the frames'
    largest conversation is far above a 10-row budget. The over-budget
    RuntimeWarning from hot_conv_shards is expected and silenced."""
    import warnings as W

    with W.catch_warnings():
        W.simplefilter("ignore", RuntimeWarning)
        out = asof.asof_join_cogroup(s, f, cols, max_conv_rows=10, **kw)
    assert _exchange_keys(out) == ["shard, __slice__"] * 2
    return out


@pytest.mark.parametrize("tolerance_s", [600, 1800, 7200])
def test_sliced_cogroup_matches_unsliced(spark, frames, tolerance_s):
    """The time-slice decomposition (slice width = tolerance): identical
    output to the single-group backward+tolerance join at several
    widths."""
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    want = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], tolerance_s=tolerance_s, num_shards=4,
        max_conv_rows=None,
    ).toPandas()
    got = _sliced(
        s, f, ["v1", "v2"], tolerance_s=tolerance_s, num_shards=4
    ).toPandas()
    _check(got, want)


@pytest.mark.parametrize("tolerance_s", [600, 1800])
def test_sliced_cogroup_forward(spark, frames, tolerance_s):
    """direction='forward' slicing (feature replicated to floor((t-tol)/W)
    instead of floor((t+tol)/W)): identical to the single-group forward
    join at several widths."""
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    want = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], tolerance_s=tolerance_s, num_shards=4,
        direction="forward", max_conv_rows=None,
    ).toPandas()
    got = _sliced(
        s, f, ["v1", "v2"], tolerance_s=tolerance_s, num_shards=4,
        direction="forward",
    ).toPandas()
    _check(got, want)


def test_sliced_cogroup_zero_tolerance(spark, frames):
    """tolerance_s=0 (exact-timestamp matches only) is legal: the slice
    width becomes 1s and the result equals the single-group join, in both
    sliceable directions."""
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    for direction in ("backward", "forward"):
        want = asof.asof_join_cogroup(
            s, f, ["v1", "v2"], tolerance_s=0, num_shards=4,
            direction=direction, max_conv_rows=None,
        ).toPandas()
        got = _sliced(
            s, f, ["v1", "v2"], tolerance_s=0, num_shards=4,
            direction=direction,
        ).toPandas()
        _check(got, want)


def test_sliced_cogroup_splits_giant_conversation(spark):
    """A single 5000-row conversation spanning many slices: the sliced join
    stays correct AND no Arrow group ever holds the whole conversation
    (pinned by counting per-slice spine group sizes at width = tolerance)."""
    from pyspark.sql import functions as F

    n = 5000
    spine = pd.DataFrame({
        "conv_id": ["giant"] * n,
        "ts": pd.to_datetime(np.arange(1, n + 1) * 10, unit="s"),
        "label": np.arange(n) % 3,
    })
    feats = pd.DataFrame({
        "conv_id": ["giant"] * (n // 2),
        "ts": pd.to_datetime(np.arange(1, n // 2 + 1) * 17, unit="s"),
        "v1": np.arange(n // 2, dtype=float),
        "v2": np.ones(n // 2),
    })
    s, f = spark.createDataFrame(spine), spark.createDataFrame(feats)
    want = asof.asof_join_cogroup(
        s, f, ["v1", "v2"], tolerance_s=120, num_shards=4, max_conv_rows=None
    ).toPandas()
    got = _sliced(s, f, ["v1", "v2"], tolerance_s=120, num_shards=4).toPandas()
    _check(got, want)
    # group-size bound: spine rows every 10s in 120s slices -> the biggest
    # (shard, slice) spine group is 12 rows, never 5000
    from recipeselectors_spark.operators.windows import epoch_s

    sizes = (
        s.withColumn("sl", F.floor(epoch_s(F.col("ts")) / F.lit(120)))
        .groupBy("sl").count().agg(F.max("count")).collect()[0][0]
    )
    assert sizes <= 12


def test_cogroup_slices_pathological_conversation(spark):
    """A conversation above max_conv_rows takes the time-sliced path
    UNPROMPTED — same rows out — and raises a clear error when slicing is
    impossible (no finite tolerance, or direction='nearest');
    ``max_conv_rows=None`` keeps the single-group plan."""
    import warnings as W

    n = 400
    spine = pd.DataFrame({
        "conv_id": ["giant"] * n + ["tiny"],
        "ts": pd.to_datetime(list(range(1, n + 1)) + [5], unit="s"),
    })
    feats = pd.DataFrame({
        "conv_id": ["giant", "tiny"],
        "ts": pd.to_datetime([0, 3], unit="s"),
        "v": [1.0, 2.0],
    })
    s, f = spark.createDataFrame(spine), spark.createDataFrame(feats)

    with W.catch_warnings():
        W.simplefilter("ignore", RuntimeWarning)  # the size warning — expected
        out = asof.asof_join_cogroup(
            s, f, ["v"], tolerance_s=10, num_shards=4, max_conv_rows=100
        )
        # took the sliced path unprompted
        assert _exchange_keys(out) == ["shard, __slice__"] * 2
        want = asof.asof_join_cogroup(
            s, f, ["v"], tolerance_s=10, num_shards=4, max_conv_rows=None
        )
        key = ["conv_id", "ts"]
        a = out.toPandas().sort_values(key).reset_index(drop=True)
        b = want.toPandas().sort_values(key).reset_index(drop=True)
        assert len(a) == n + 1
        pd.testing.assert_frame_equal(a, b)
        # slicing impossible -> loud error, not an OOM
        with pytest.raises(RuntimeError, match="max_conv_rows"):
            asof.asof_join_cogroup(
                s, f, ["v"], num_shards=4, max_conv_rows=100
            )
        with pytest.raises(RuntimeError, match="nearest"):
            asof.asof_join_cogroup(
                s, f, ["v"], tolerance_s=10, num_shards=4,
                direction="nearest", max_conv_rows=100,
            )
        # explicit opt-out keeps the single-group behavior
        plain = asof.asof_join_cogroup(
            s, f, ["v"], num_shards=4, max_conv_rows=None
        )
        assert _exchange_keys(plain) == ["shard"] * 2
        assert plain.count() == n + 1


def test_sliced_cogroup_plan_shape(spark, frames):
    """Physical-plan pin for the sliced join: exactly one exchange per
    side (hash on (shard, slice)), no SinglePartition stage, no extra
    shuffle introduced by the slice replication (it is a map-side
    explode)."""
    spine, features = frames
    s, f = spark.createDataFrame(spine), spark.createDataFrame(features)
    out = _sliced(s, f, ["v1", "v2"], tolerance_s=600, num_shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 2, f"expected 2 exchanges (one per side): {n_exchanges}"
    assert "FlatMapCoGroupsInPandas" in plan or "CoGroup" in plan
