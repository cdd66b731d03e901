"""Feature-matrix assembly: transcript table → per-(conv_id, ts) features.

The north-rule layer that *produces* the training matrix the selection steps
consume (SURVEY.md §1.2): one row per turn (entity×timestamp) with text
length, its two lags, the gap since the previous turn, a rolling mean, the
turn's place in its session and in its conversation, a tool forward-fill
indicator, plus an outcome column.

Every window comes from ``operators/windows.py`` (``dedup_turns``,
``with_lag_lead``, ``with_gap`` + ``session_starts``, ``with_rolling_rows``,
``with_turn_idx``, ``with_ffill``) over ``(conv_id; ts, turn_idx)``, so the
whole matrix rides one conv_id exchange; no Python. The gap column is
``f_delta_ts`` itself, so the ``ts`` lag runs once, and the session rule
reads it.

Zero leakage: every feature at (conv_id, ts) is a function of rows with
``(ts', turn') <= (ts, turn)`` in the stable ordering only. The lag helper
also emits lead columns; they are projected away (and pruned from the plan)
— leads are the *labels'* business (they come from the spine/label side,
see tests/test_leakage.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

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
    df = df.withColumn("f_text_len", F.length("text").cast("double"))
    df = W.with_lag_lead(df, "f_text_len", ks=(1, 2))
    df = W.with_gap(df, "f_delta_ts")
    df = W.with_rolling_rows(df, rolling_n, {"f_roll_mean_len": F.avg("f_text_len")})
    df = W.with_turn_idx(df, "f_turn_in_conv")
    # f_sess_turn = rows since the latest session start, carried forward on
    # the SAME conv_id partitioning, so no (conv_id, session) exchange
    starts = W.session_starts(F.col("f_delta_ts"), session_gap_s)
    df = df.withColumn("__start__", F.when(starts, F.col("f_turn_in_conv")))
    df = W.with_ffill(df, "__start__", "__sess_start__")
    df = W.with_ffill(df, "tool", "__tool__")

    features = {
        "f_lag1_len": F.col("f_text_len_lag1"),
        "f_lag2_len": F.col("f_text_len_lag2"),
        "f_sess_turn": F.col("f_turn_in_conv") - F.col("__sess_start__"),
        "f_tool_seen": F.col("__tool__").isNotNull(),
        "f_is_assistant": F.col("role") == "assistant",
    }
    out_cols = ["conv_id", "turn_idx", "ts"] + [
        features.get(c, F.col(c)).cast("double").alias(c) for c in FEATURE_COLS
    ]
    if outcome_col:
        out_cols.append(outcome_col)
    return df.select(*out_cols)
