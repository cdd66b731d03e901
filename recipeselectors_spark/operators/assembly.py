"""Feature-matrix assembly: transcript table → per-(conv_id, ts) features.

The north-rule layer that *produces* the training matrix the selection steps
consume (SURVEY.md §1.2): one row per turn (entity×timestamp) with windowed
features — text length, lag/lead, tool forward-fill indicator, session index,
rolling mean — plus an outcome column. Everything is Catalyst window/scalar
expressions over ``Window.partitionBy(conv_id).orderBy(ts, turn_idx)``; no
Python, no extra shuffles beyond the single conv_id window exchange.

Zero leakage: every feature at (conv_id, ts) is a function of rows with
``(ts', turn') <= (ts, turn)`` in the stable ordering only — lead features
are the *labels'* business (they come from the spine/label side, see
tests/test_leakage.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from recipeselectors_spark.operators import windows as W

FEATURE_COLS = [
    "f_text_len",
    "f_lag1_len",
    "f_lag2_len",
    "f_delta_ts",
    "f_roll_mean_len",
    "f_sess_turn",
    "f_tool_seen",
    "f_is_assistant",
    "f_turn_in_conv",
]


def assemble_features(
    transcripts: DataFrame,
    session_gap_s: int = 1800,
    rolling_n: int = 5,
    outcome_col: str | None = "role",
) -> DataFrame:
    """Per-turn feature vector with stable (ts, turn_idx) ordering."""
    df = W.dedup_turns(transcripts)
    w = W.turn_window()
    cum = w.rowsBetween(Window.unboundedPreceding, 0)

    df = df.withColumn("f_text_len", F.length("text").cast("double"))
    df = df.withColumn("f_lag1_len", F.lag("f_text_len", 1).over(w))
    df = df.withColumn("f_lag2_len", F.lag("f_text_len", 2).over(w))
    df = df.withColumn(
        "f_delta_ts",
        (
            W.epoch_s("ts") - F.lag(W.epoch_s("ts"), 1).over(w)
        ).cast("double"),
    )
    df = W.with_rolling_rows(df, rolling_n, {"f_roll_mean_len": F.avg("f_text_len")})
    # sessionize + turn-within-session on the SAME conv_id partitioning
    # (f_sess_turn = rows since the latest session start), so no extra
    # (conv_id, session) exchange is needed
    gap = W.epoch_s("ts") - F.lag(W.epoch_s("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > session_gap_s), 1).otherwise(0)
    df = df.withColumn("__rn__", F.row_number().over(w)).withColumn(
        "__sess_start__",
        F.max(F.when(new_sess == 1, F.col("__rn__"))).over(cum),
    )
    df = df.withColumn(
        "f_sess_turn", (F.col("__rn__") - F.col("__sess_start__")).cast("double")
    )
    df = df.withColumn(
        "f_tool_seen",
        F.when(
            F.last("tool", ignorenulls=True).over(cum).isNotNull(), 1.0
        ).otherwise(0.0),
    )
    df = df.withColumn(
        "f_is_assistant", (F.col("role") == "assistant").cast("double")
    )
    df = df.withColumn(
        "f_turn_in_conv", (F.col("__rn__") - 1).cast("double")
    )

    out_cols = ["conv_id", "turn_idx", "ts"] + FEATURE_COLS
    if outcome_col:
        out_cols.append(outcome_col)
    return df.select(*out_cols)
