"""Windowed feature-engineering operators over transcript tables.

The [NORTH] layer (SURVEY.md §2.4 "Window functions"): lag/lead, forward/
backward fill, rolling aggregates, gap-based sessionization, stable-ordering
dedup and per-group top-k — all pure Catalyst window expressions (JVM,
whole-stage codegen; no Python in any hot path).

Ordering invariant: every window orders by ``(ts, turn_idx)`` — the
input_hint's "stable turn ordering". Partitioning is by ``conv_id``; at
10^12-turn scale one conversation is the locality unit (conversations are
never split; skewed/hot conversations are handled in the as-of layer's shard
map, operators/asof.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window, WindowSpec

CONV = "conv_id"
ORDER = ("ts", "turn_idx")


def epoch_s(col):
    """Seconds since epoch for timestamp OR timestamp_ntz columns (Spark 4
    forbids a direct NTZ→long cast; under a UTC session timezone the
    double-cast is exact)."""
    from pyspark.sql import Column, functions as F

    c = col if isinstance(col, Column) else F.col(col)
    return c.cast("timestamp").cast("long")


def turn_window(partition: str = CONV) -> WindowSpec:
    return Window.partitionBy(partition).orderBy(*ORDER)


def with_lag_lead(
    df: DataFrame, col: str, ks: tuple[int, ...] = (1,), partition: str = CONV
) -> DataFrame:
    w = turn_window(partition)
    for k in ks:
        df = df.withColumn(f"{col}_lag{k}", F.lag(col, k).over(w))
        df = df.withColumn(f"{col}_lead{k}", F.lead(col, k).over(w))
    return df


def with_ffill(df: DataFrame, col: str, out: str | None = None, partition: str = CONV) -> DataFrame:
    """Forward-fill: last non-null up to current row."""
    w = turn_window(partition).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out or f"{col}_ffill", F.last(col, ignorenulls=True).over(w))


def with_bfill(df: DataFrame, col: str, out: str | None = None, partition: str = CONV) -> DataFrame:
    """Backward-fill: first non-null from current row onward."""
    w = turn_window(partition).rowsBetween(0, Window.unboundedFollowing)
    return df.withColumn(out or f"{col}_bfill", F.first(col, ignorenulls=True).over(w))


def with_rolling_time(
    df: DataFrame,
    col: str,
    seconds: int,
    agg: str = "avg",
    out: str | None = None,
    partition: str = CONV,
) -> DataFrame:
    """Rolling aggregate over a trailing time range (rangeBetween on epoch)."""
    w = (
        Window.partitionBy(partition)
        .orderBy(epoch_s("ts"))
        .rangeBetween(-seconds, 0)
    )
    fn = getattr(F, agg)
    return df.withColumn(out or f"{col}_roll{seconds}s_{agg}", fn(col).over(w))


def with_session_id(
    df: DataFrame, gap_seconds: int = 1800, out: str = "session_id", partition: str = CONV
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap since the
    previous turn exceeds ``gap_seconds``. session_id = running count of
    session starts (0-based within conversation)."""
    w = turn_window(partition)
    gap = epoch_s("ts") - F.lag(epoch_s("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    cum = Window.partitionBy(partition).orderBy(*ORDER).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("__new_sess__", new_sess).withColumn(
        out, F.sum("__new_sess__").over(cum) - 1
    ).drop("__new_sess__")


def dedup_turns(df: DataFrame, partition: str = CONV) -> DataFrame:
    """Drop duplicate (conv_id, turn_idx) rows keeping the first (smallest
    ts) — SURVEY.md §2.4 ranking/dedup.

    Implemented as a lag over the *conversation-level* partition ordered by
    (turn_idx, ts): a row is a duplicate iff it repeats the previous row's
    turn_idx. Same result as a per-(conv, turn) row_number, but it shares the
    conv_id hash partitioning with every downstream window — Catalyst reuses
    ONE exchange for the whole assembly instead of one per partition key."""
    w = Window.partitionBy(partition).orderBy("turn_idx", "ts")
    dup = F.lag("turn_idx").over(w) == F.col("turn_idx")
    return (
        df.withColumn("__dup__", F.coalesce(dup, F.lit(False)))
        .where(~F.col("__dup__"))
        .drop("__dup__")
    )


def top_k_per_group(
    df: DataFrame, k: int, order_col: str, ascending: bool = False, partition: str = CONV
) -> DataFrame:
    oc = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    w = Window.partitionBy(partition).orderBy(oc, *[F.col(c) for c in ORDER])
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def conversation_rollup(df: DataFrame, partition: str = CONV) -> DataFrame:
    """Per-conversation aggregates (SURVEY.md §2.4 [NORTH] aggregations):
    hash-agg with automatic partial aggregation, one shuffle."""
    return df.groupBy(partition).agg(
        F.count("*").alias("n_turns"),
        F.countDistinct("tool").alias("n_tools"),
        F.avg(F.length("text")).alias("avg_text_len"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias(
            "n_assistant"
        ),
    )
