"""Transcript table source.

The north-rule input (BASELINE.json input_hint) is an Iceberg table of
multi-turn conversation / agent transcripts:

    conv_id:string, turn_idx:int, role:string, text:string,
    tool:string, ts:timestamp

Locally that is parquet with the same schema. Two providers:

* ``synthesize_transcripts_pandas`` — a deterministic seeded generator
  (FIXTURES.md F1): Zipf-skewed conversation lengths (hot conversations to
  exercise salting / skew split), sparse ``tool`` values (to exercise
  ffill/backfill), session-sized time gaps, out-of-order on-disk row order
  (so correct ordering must come from ``(ts, turn_idx)``), and an optional
  duplicate-(conv_id, turn_idx) variant for stable-ordering dedup tests.
* ``events_as_transcripts`` — adapter mapping the driver's read-only
  ``events`` parquet (TESTDATA.md) onto the transcript shape for the
  DuckDB-oracle harness.

At 100 TB the real table is Iceberg partitioned by ``days(ts)`` and bucketed
by ``conv_id`` — ``read_transcripts`` accepts either an Iceberg table name or
a parquet path and relies on Catalyst pushdown for pruning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["search", "python", "browser", "calculator", "sql"]
_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega".split()
)


def synthesize_transcripts_pandas(
    n_convs: int = 200,
    seed: int = 7,
    mean_turns: int = 12,
    zipf_a: float = 2.0,
    hot_convs: int = 2,
    hot_factor: int = 120,
    session_gap_s: int = 1800,
    duplicate_frac: float = 0.0,
    start: str = "2026-01-01",
) -> pd.DataFrame:
    """Deterministic transcript synthesis (FIXTURES.md F1). Returns rows in a
    SHUFFLED order — consumers must order by (ts, turn_idx)."""
    rng = np.random.default_rng(seed)
    base_ts = pd.Timestamp(start, tz=None)

    lengths = np.minimum(rng.zipf(zipf_a, size=n_convs) * max(1, mean_turns // 3), 400)
    lengths = np.maximum(lengths, 1)
    for h in range(min(hot_convs, n_convs)):
        lengths[h] = mean_turns * hot_factor  # hot conversations (skew)

    rows: list[tuple] = []
    for i in range(n_convs):
        conv = f"conv-{i:06d}"
        n = int(lengths[i])
        conv_start = base_ts + pd.Timedelta(seconds=int(rng.integers(0, 90 * 86400)))
        t = conv_start
        for turn in range(n):
            gap = int(rng.exponential(40)) + 1
            if rng.random() < 0.04:  # occasional session break
                gap += session_gap_s + int(rng.exponential(session_gap_s))
            t = t + pd.Timedelta(seconds=gap)
            role = _ROLES[turn % 2] if rng.random() > 0.15 else "tool"
            n_words = int(rng.integers(3, 8 if role == "user" else 25))
            text = " ".join(
                _WORDS[int(w)] for w in rng.integers(0, len(_WORDS), n_words)
            )
            tool = (
                _TOOLS[int(rng.integers(0, len(_TOOLS)))]
                if role == "tool" or rng.random() < 0.05
                else None
            )
            rows.append((conv, turn, role, text, tool, t))

    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    if duplicate_frac > 0:
        dup = pdf.sample(frac=duplicate_frac, random_state=seed)
        pdf = pd.concat([pdf, dup], ignore_index=True)
    # out-of-order on-disk layout
    pdf = pdf.sample(frac=1.0, random_state=seed + 1).reset_index(drop=True)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


def synthesize_transcripts_distributed(
    spark: SparkSession,
    n_convs: int = 100_000,
    mean_turns: int = 40,
    seed: int = 42,
    hot_convs: int = 3,
    hot_factor: int = 50,
    session_every: int = 13,
    start: str = "2026-01-01",
) -> DataFrame:
    """Deterministic transcript synthesis as a pure Catalyst plan — no
    driver-side row loop, so it generates at memory bandwidth and the same
    recipe would generate the 10^12-turn table on a cluster.

    Pseudo-randomness is ``xxhash64(conv, turn, seed)`` based: same seed =>
    byte-identical table at any parallelism. Conversation lengths vary
    around ``mean_turns`` with ``hot_convs`` skewed conversations
    (``hot_factor``×) to exercise salting; timestamps are strictly
    increasing per conversation with a session gap every ``session_every``
    turns.
    """
    h = lambda *cols: F.xxhash64(*cols, F.lit(seed))
    convs = spark.range(n_convs).select(
        F.concat(F.lit("conv-"), F.format_string("%08d", "id")).alias("conv_id"),
        F.col("id").alias("cid"),
    )
    n_turns = (
        F.when(F.col("cid") < hot_convs, mean_turns * hot_factor)
        .otherwise(F.pmod(h(F.col("cid")), F.lit(2 * mean_turns)) + 1)
    )
    words = F.lit(
        " ".join(_WORDS) + " " + " ".join(reversed(_WORDS))
    )
    t = convs.select(
        "conv_id",
        "cid",
        F.explode(F.sequence(F.lit(0), n_turns - 1)).alias("turn_idx"),
    )
    rnd = F.pmod(h(F.col("cid"), F.col("turn_idx")), F.lit(1000))
    role = (
        F.when(rnd < 150, "tool")
        .when(F.col("turn_idx") % 2 == 0, "user")
        .otherwise("assistant")
    )
    tool = F.when(
        rnd < 200, F.element_at(F.array(*[F.lit(x) for x in _TOOLS]), (rnd % 5 + 1).cast("int"))
    )
    text_len = (rnd % 120 + 12).cast("int")
    ts = F.to_timestamp(F.lit(start)) + F.make_dt_interval(
        days=F.lit(0),
        hours=F.lit(0),
        mins=F.lit(0),
        secs=(
            F.pmod(h(F.col("cid"), F.lit(-1)), F.lit(90 * 86400))  # conv start
            + F.col("turn_idx") * 41
            + F.pmod(rnd, F.lit(20))
            + F.floor(F.col("turn_idx") / session_every) * 7200
        ).cast("double"),
    )
    return t.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        F.substring(words, (rnd % 40 + 1).cast("int"), text_len).alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def read_transcripts(spark: SparkSession, source: str) -> DataFrame:
    """Read the transcript table from an Iceberg table name or parquet path."""
    if "/" in source or source.endswith(".parquet"):
        return spark.read.parquet(source)
    return spark.read.format("iceberg").load(source)


def events_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's events table onto the transcript shape:
    conv_id=user_id, turn_idx=per-user rank by (ts, event_id), role=event_type,
    text=props, tool set sparsely from event_type, ts=ts."""
    from recipeselectors_spark.operators import windows as W

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = W.with_turn_idx(ev, partition="user_id", order=("ts", "event_id"))
    return ev.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        "turn_idx",
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "click", F.lit("browser")).alias("tool"),
        F.col("ts"),
        F.col("value"),
    )
