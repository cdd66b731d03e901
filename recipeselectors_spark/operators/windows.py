"""Windowed feature-engineering operators over transcript tables.

The [NORTH] layer (SURVEY.md §2.4 "Window functions"): turn index, lag/lead,
forward/backward fill, rolling aggregates, the gap and its session rule,
sessionization, stable-ordering dedup and per-group top-k (also the
keep-first tail of exact dedup) — all pure Catalyst window expressions (JVM,
whole-stage codegen; no Python in any hot path). Feature assembly, the as-of
union carry, the transcript mapping and the driver's window queries are
built from these helpers (tests/test_window_sites.py guards it).

Ordering: the row-ordered operators take ``order``, which defaults to
``ORDER = (ts, turn_idx)`` — the input_hint's "stable turn ordering". The
driver's event queries pass ``("ts", "event_id")`` with ``partition=
"user_id"``. Partitioning defaults to ``conv_id``; at 10^12-turn scale one
conversation is the locality unit (conversations are never split; skewed/hot
conversations are handled in the as-of layer's shard map, operators/asof.py).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window, WindowSpec

CONV = "conv_id"
ORDER = ("ts", "turn_idx")


def epoch_s(col):
    """Seconds since epoch for timestamp OR timestamp_ntz columns (Spark 4
    forbids a direct NTZ→long cast; under a UTC session timezone the
    double-cast is exact)."""
    c = col if isinstance(col, Column) else F.col(col)
    return c.cast("timestamp").cast("long")


def turn_window(
    partition: str | Column | list[str] = CONV, order: Sequence = ORDER
) -> WindowSpec:
    """The one window spec of this module: ``partition`` (a name, a Column
    or a list of names) ordered by ``order``."""
    return Window.partitionBy(partition).orderBy(*order)


def with_turn_idx(
    df: DataFrame,
    out: str = "turn_idx",
    partition: str = CONV,
    order: Sequence = ORDER,
) -> DataFrame:
    """``out`` = the 0-based position of each row in its partition's order."""
    return df.withColumn(out, F.row_number().over(turn_window(partition, order)) - 1)


def with_lag_lead(
    df: DataFrame,
    col: str,
    ks: tuple[int, ...] = (1,),
    partition: str = CONV,
    order: Sequence = ORDER,
) -> DataFrame:
    w = turn_window(partition, order)
    out = {}
    for k in ks:
        out[f"{col}_lag{k}"] = F.lag(col, k).over(w)
        out[f"{col}_lead{k}"] = F.lead(col, k).over(w)
    return df.withColumns(out)


def with_ffill(
    df: DataFrame,
    col: str,
    out: str | None = None,
    partition: str = CONV,
    order: Sequence = ORDER,
) -> DataFrame:
    """Forward-fill: last non-null up to current row."""
    w = turn_window(partition, order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out or f"{col}_ffill", F.last(col, ignorenulls=True).over(w))


def with_bfill(
    df: DataFrame,
    col: str,
    out: str | None = None,
    partition: str = CONV,
    order: Sequence = ORDER,
) -> DataFrame:
    """Backward-fill: first non-null from current row onward."""
    w = turn_window(partition, order).rowsBetween(0, Window.unboundedFollowing)
    return df.withColumn(out or f"{col}_bfill", F.first(col, ignorenulls=True).over(w))


def with_rolling_rows(
    df: DataFrame,
    n: int,
    aggs: Mapping[str, Column],
    partition: str = CONV,
    order: Sequence = ORDER,
) -> DataFrame:
    """Rolling aggregates over the current row and the ``n - 1`` before it;
    ``aggs`` maps each output name to its aggregate. All of them share one
    window frame, so they run in one ``Window`` node."""
    w = turn_window(partition, order).rowsBetween(-(n - 1), 0)
    return df.withColumns({name: a.over(w) for name, a in aggs.items()})


def with_rolling_time(
    df: DataFrame, seconds: int, aggs: Mapping[str, Column], partition: str = CONV
) -> DataFrame:
    """Rolling aggregates over a trailing time range (rangeBetween on epoch
    seconds of ``ts``); ``aggs`` maps each output name to its aggregate, all
    computed in one ``Window`` node."""
    w = turn_window(partition, (epoch_s("ts"),)).rangeBetween(-seconds, 0)
    return df.withColumns({name: a.over(w) for name, a in aggs.items()})


def with_gap(
    df: DataFrame, out: str, partition: str = CONV, order: Sequence = ORDER
) -> DataFrame:
    """``out`` = seconds since the previous row of the partition (NULL on
    its first row). Callers read the column, so the ``ts`` lag is evaluated
    once however often the gap is used."""
    w = turn_window(partition, order)
    return df.withColumn(out, epoch_s("ts") - F.lag(epoch_s("ts")).over(w))


def session_starts(gap: Column, gap_seconds: int) -> Column:
    """The session rule on a :func:`with_gap` column: a row starts a session
    when it is its partition's first row or its gap exceeds ``gap_seconds``."""
    return gap.isNull() | (gap > gap_seconds)


def with_session_id(
    df: DataFrame,
    gap_seconds: int = 1800,
    out: str = "session_id",
    partition: str = CONV,
    order: Sequence = ORDER,
) -> DataFrame:
    """Gap-based sessionization (:func:`session_starts`). session_id =
    running count of session starts (0-based within the partition)."""
    df = with_gap(df, "__gap__", partition, order)
    starts = F.when(session_starts(F.col("__gap__"), gap_seconds), 1).otherwise(0)
    cum = turn_window(partition, order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out, F.sum(starts).over(cum) - 1).drop("__gap__")


def dedup_turns(df: DataFrame, partition: str = CONV) -> DataFrame:
    """Drop duplicate (conv_id, turn_idx) rows keeping the first (smallest
    ts) — SURVEY.md §2.4 ranking/dedup.

    Implemented as a lag over the *conversation-level* partition ordered by
    (turn_idx, ts): a row is a duplicate iff it repeats the previous row's
    turn_idx. Same result as a per-(conv, turn) row_number, but it shares the
    conv_id hash partitioning with every downstream window — Catalyst reuses
    ONE exchange for the whole assembly instead of one per partition key."""
    w = turn_window(partition, ("turn_idx", "ts"))
    dup = F.lag("turn_idx").over(w) == F.col("turn_idx")
    return (
        df.withColumn("__dup__", F.coalesce(dup, F.lit(False)))
        .where(~F.col("__dup__"))
        .drop("__dup__")
    )


def top_k_per_group(
    df: DataFrame, k: int, partition: str | Column | list[str], order: Sequence
) -> DataFrame:
    """The first ``k`` rows of each ``partition`` group (a name, a Column or
    a list of names) by ``order`` (names or sort Columns; end it with a
    unique key for a total order), with their 1-based ``rank``; k = 1 is a
    keep-first dedup. One ``row_number`` window: one exchange on the group
    key, then a sort within each group. "Top-k Sorting Under Partial Order
    Information" (SIGMOD 2018) is the reference for any cheaper per-group
    selection. Raises ``ValueError`` if ``df`` already has a ``rank``
    column, which the window's would overwrite."""
    if "rank" in (c.lower() for c in df.columns):
        raise ValueError("top_k_per_group writes column 'rank'; the input has one")
    w = turn_window(partition, order)
    return df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


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
