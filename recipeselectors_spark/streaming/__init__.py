"""Streaming surface.

The reference is batch-only (SURVEY.md §2.4 "Streaming — [ABSENT]"), and the
north rule is batch spark-submit jobs with resumable checkpoints, so this
package holds the 1:1 mapping layer for users who feed transcripts from a
stream, both executed for real in tests/test_streaming.py:

* ``session_window_features`` — how the batch gap-sessionization maps onto
  ``F.session_window`` + watermark (built-in stateful aggregation);
* ``stateful_turn_features`` — a CUSTOM stateful operator via
  ``applyInPandasWithState``: per-conversation running turn index and
  cumulative average text length, state carried across micro-batches (the
  streaming analogue of the assembly layer's running window features).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def session_window_features(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Structured-Streaming analogue of operators.windows.with_session_id:
    per-(conv_id, session) turn counts with late-data handling."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.avg(F.length("text")).alias("avg_text_len"),
        )
    )


STATEFUL_OUT_SCHEMA = (
    "conv_id string, ts timestamp, turn_in_conv int, cum_avg_text_len double"
)
STATEFUL_STATE_SCHEMA = "n long, total_len double"


def stateful_turn_features(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-conversation running turn index and cumulative average text length.

    State = (turn count, total text length) per conv_id, persisted in the
    state store across micro-batches — arriving turns continue the running
    features where the previous batch left off. Within a batch, a
    conversation's rows are processed in (ts, turn_idx) order (Arrow batches
    per key are concatenated and sorted — vectorized cumsum, no per-row
    Python). Append mode, no timeout: conversations never expire here;
    production jobs would set a ProcessingTimeTimeout and flush.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        rows = pd.concat(list(pdfs))
        if len(rows) == 0:
            return
        rows = rows.sort_values(["ts", "turn_idx"], kind="mergesort")
        lens = rows["text"].fillna("").str.len().astype("float64")
        idx = n + np.arange(len(rows), dtype="int64")
        cum = float(total) + lens.cumsum().to_numpy()
        out = pd.DataFrame(
            {
                "conv_id": key[0],
                "ts": rows["ts"].values,
                "turn_in_conv": idx.astype("int32"),
                "cum_avg_text_len": cum / (idx + 1),
            }
        )
        state.update((int(n + len(rows)), float(total + lens.sum())))
        yield out

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        STATEFUL_OUT_SCHEMA,
        STATEFUL_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming keep-first exact dedup — the batch ``dedup.dedup_exact``
    semantics over an unbounded source.

    Keys each document by ``md5(text)`` and drops repeats with
    ``dropDuplicatesWithinWatermark``: the first arrival passes, later
    copies are suppressed, and — the scale property — the dedup STATE for a
    hash expires once the event-time watermark moves past it, so state is
    bounded by the watermark horizon instead of growing with the corpus.
    The horizon is therefore the guarantee window: a duplicate arriving
    more than ``watermark`` of event time after its original is NOT
    caught; catch-everything dedup of an unbounded stream needs unbounded
    state by definition (use the batch operator on the landed data for the
    periodic full pass)."""
    keyed = stream.withColumn("__h__", F.md5(F.col(text_col)))
    return (
        keyed.withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["__h__"])
        .drop("__h__")
    )


def streaming_near_dup_flags(
    stream: DataFrame,
    corpus_banded: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Flag incoming documents that LSH-collide with an EXISTING corpus —
    the incremental-ingest shape of MinHash dedup.

    The stream side is fully STATELESS (shingle → minhash → band buckets
    from operators/dedup.py — Catalyst shingling plus the vectorized Arrow
    signature kernel; no action, no state store); collisions come from a stream-static equi-join on
    (band, bucket) against ``corpus_banded`` (the
    ``dedup.minhash_candidates`` output for the landed corpus — same
    num_perm/bands/seed or buckets will never match). The static side is
    re-read every micro-batch, so refreshing the corpus band table on disk
    rolls new documents into the filter without restarting the query.

    Emits one row PER COLLIDING BAND: (stream id, band, bucket, corpus
    ``dup_of``) — downstream either treats any hit as a flag or verifies
    est-Jaccard batch-side exactly like the batch pipeline."""
    from recipeselectors_spark.operators import dedup as D

    mh = D.with_minhash(
        stream, text_col, num_perm=num_perm, k_shingle=k_shingle, seed=seed
    )
    banded = D.minhash_candidates(
        mh, id_col=id_col, bands=bands, num_perm=num_perm
    )
    corpus = corpus_banded.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("dup_of")
    )
    return (
        banded.join(corpus, ["band", "bucket"])
        # a landed stream doc re-seen after a corpus refresh would collide
        # with itself on every band — never its own near-duplicate
        .where(F.col(id_col) != F.col("dup_of"))
        .select(id_col, "band", "bucket", "dup_of")
    )
