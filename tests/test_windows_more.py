"""Window-operator API coverage: lag/lead helper, time-range and row
rolling, the ``order`` parameter, per-group top-k, GBT importances through
the registry, VIP regression."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from recipeselectors_spark.operators import windows as W
from recipeselectors_spark.sources import transcripts as T


@pytest.fixture(scope="module")
def tx(spark):
    return spark.createDataFrame(
        T.synthesize_transcripts_pandas(n_convs=10, seed=17),
        schema=T.TRANSCRIPT_SCHEMA,
    ).withColumn("text_len", F.length("text").cast("double")).cache()


def test_with_lag_lead_multi_k(tx):
    out = (
        W.with_lag_lead(tx, "text_len", ks=(1, 2))
        .where("conv_id = 'conv-000003'")
        .orderBy("ts", "turn_idx")
        .toPandas()
    )
    vals = out["text_len"].tolist()
    assert out["text_len_lag1"].tolist()[1:] == vals[:-1]
    assert out["text_len_lead1"].tolist()[:-1] == vals[1:]
    assert out["text_len_lag2"].tolist()[2:] == vals[:-2]


def test_with_rolling_time(tx):
    out = (
        W.with_rolling_time(tx, 120, {"n_120s": F.count("text_len")})
        .where("conv_id = 'conv-000003'")
        .orderBy("ts", "turn_idx")
        .toPandas()
    )
    # oracle: pandas time-window count
    sec = out["ts"].values.astype("datetime64[s]").astype("int64")
    want = [
        int(((sec >= s - 120) & (sec <= s)).sum()) for s in sec
    ]
    assert out["n_120s"].tolist() == want


def test_with_rolling_time_aggregates_share_one_window(tx):
    out = W.with_rolling_time(
        tx, 120, {"n_120s": F.count("text_len"), "sum_120s": F.sum("text_len")}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"(?m)^[\s+:*-]*Window \[", plan)) == 1
    got = out.where("conv_id = 'conv-000003'").orderBy("ts", "turn_idx").toPandas()
    sec = got["ts"].values.astype("datetime64[s]").astype("int64")
    lens = got["text_len"].values
    inside = [(sec >= s - 120) & (sec <= s) for s in sec]
    assert got["n_120s"].tolist() == [int(m.sum()) for m in inside]
    np.testing.assert_allclose(got["sum_120s"], [lens[m].sum() for m in inside])


def test_with_rolling_rows(tx):
    out = (
        W.with_rolling_rows(tx, 3, {"mean3": F.avg("text_len")})
        .orderBy("conv_id", "ts", "turn_idx")
        .toPandas()
    )
    want = out.groupby("conv_id")["text_len"].transform(
        lambda s: s.rolling(3, min_periods=1).mean()
    )
    np.testing.assert_allclose(out["mean3"], want)


def test_order_breaks_ts_ties_on_events(spark):
    """Events-shaped frame (user_id, ts, event_id) whose ts ties are broken
    by event_id, against pandas sorted the same way."""
    rng = np.random.default_rng(5)
    n = 60
    pdf = pd.DataFrame(
        {
            "user_id": rng.integers(0, 3, n),
            # few distinct timestamps: most rows tie on ts
            "ts": pd.Timestamp("2026-01-01")
            + pd.to_timedelta(rng.integers(0, 4, n) * 3000, unit="s"),
            "event_id": rng.permutation(n),
            "value": np.where(rng.random(n) < 0.5, np.nan, rng.random(n)),
        }
    )
    by_user = {"partition": "user_id", "order": ("ts", "event_id")}
    df = spark.createDataFrame(pdf)
    df = W.with_lag_lead(df, "value", **by_user)
    df = W.with_ffill(df, "value", **by_user)
    df = W.with_session_id(df, gap_seconds=3600, **by_user)
    df = W.with_rolling_rows(df, 2, {"first2": F.first("event_id")}, **by_user)
    got = df.orderBy("user_id", "ts", "event_id").toPandas()

    want = pdf.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    g = want.groupby("user_id")
    want["value_lag1"] = g["value"].shift(1)
    want["value_lead1"] = g["value"].shift(-1)
    want["value_ffill"] = g["value"].ffill()
    gap = g["ts"].diff().dt.total_seconds()
    want["session_id"] = (gap.isna() | (gap > 3600)).astype(int).groupby(
        want["user_id"]
    ).cumsum() - 1
    want["first2"] = g["event_id"].shift(1).fillna(want["event_id"])

    assert got["event_id"].tolist() == want["event_id"].tolist()
    for c in ("value_lag1", "value_lead1", "value_ffill"):
        np.testing.assert_array_equal(got[c].to_numpy(float), want[c].to_numpy(float))
    assert got["session_id"].tolist() == want["session_id"].tolist()
    assert got["first2"].tolist() == want["first2"].astype(int).tolist()


def test_top_k_per_group(tx):
    out = W.top_k_per_group(
        tx, 2, W.CONV, (F.col("text_len").desc(), *W.ORDER)
    ).toPandas()
    assert (out.groupby("conv_id").size() <= 2).all()
    # each kept row is among that conversation's top-2 lengths, ranked 1, 2
    full = tx.toPandas()
    for conv, g in out.groupby("conv_id"):
        top2 = full[full["conv_id"] == conv]["text"].str.len().nlargest(2).tolist()
        assert sorted(g["text_len"], reverse=True) == sorted(
            [float(v) for v in top2], reverse=True
        )
        assert g.sort_values("rank")["text_len"].is_monotonic_decreasing
        assert sorted(g["rank"]) == list(range(1, len(g) + 1))


def test_top_k_per_group_rejects_rank_column(tx):
    """The window writes ``rank``: an input column of that name would be
    overwritten, and drop_exact_duplicates would then drop it."""
    from recipeselectors_spark.operators import dedup

    ranked = tx.withColumn("rank", F.lit(7))
    with pytest.raises(ValueError, match="rank"):
        W.top_k_per_group(ranked, 1, W.CONV, W.ORDER)
    with pytest.raises(ValueError, match="rank"):
        dedup.drop_exact_duplicates(ranked, id_col="turn_idx")


def test_gbt_importances_via_vip(spark):
    from pyspark.ml.classification import GBTClassifier

    from recipeselectors_spark.operators import VipStep
    from tests import fixtures

    df = spark.createDataFrame(fixtures.cells_like(n=400))
    sub = ["x01", "x02", "x10", "x11"]
    fitted = VipStep(
        "class", model=GBTClassifier(maxIter=5, maxDepth=3, seed=3),
        terms=sub, top_p=2,
    ).prep(df)
    assert len(fitted.bake(df.select(*sub, "class")).columns) == 3
    # tree-family default: rescaled 0..100 (pull_importances.R:71-151)
    assert max(fitted.scores.values()) == 100.0


def test_vip_regression_mode(spark):
    from pyspark.ml.regression import GBTRegressor

    from recipeselectors_spark.operators import VipStep
    from tests import fixtures

    df = spark.createDataFrame(fixtures.carprices_like(n=300))
    fitted = VipStep(
        "price", model=GBTRegressor(maxIter=5, maxDepth=3, seed=3), top_p=3
    ).prep(df)
    assert len(fitted.exclude) == 7
