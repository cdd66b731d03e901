"""The streaming mapping helper actually RUNS as a Structured Streaming
query (file source -> availableNow micro-batches -> memory sink) and its
session aggregates agree with the batch gap-sessionization semantics."""

import pandas as pd
import pytest

from recipeselectors_spark.sources import transcripts as T
from recipeselectors_spark.streaming import session_window_features


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    pdf = T.synthesize_transcripts_pandas(n_convs=20, seed=13)
    spark.createDataFrame(pdf, schema=T.TRANSCRIPT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(d / "tx"))
    return str(d / "tx")


def test_session_window_stream_executes(spark, stream_dir):
    stream = spark.readStream.schema(T.TRANSCRIPT_SCHEMA).parquet(stream_dir)
    assert stream.isStreaming
    out = session_window_features(stream, gap="30 minutes", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sess_stream").toPandas()
    assert len(got) > 0
    assert {"conv_id", "n_turns", "avg_text_len"} <= set(got.columns)

    # semantics: per-conv turn totals equal the batch count, and the number
    # of session windows equals batch gap-sessionization's session count
    batch = spark.read.parquet(stream_dir).toPandas()
    batch_counts = batch.groupby("conv_id").size()
    got_counts = got.groupby("conv_id")["n_turns"].sum()
    assert got_counts.sort_index().equals(batch_counts.sort_index())

    def n_sessions(g: pd.DataFrame) -> int:
        ts = g.sort_values("ts")["ts"]
        gaps = ts.diff().dt.total_seconds()
        return int((gaps.isna() | (gaps > 1800)).sum())

    want_sessions = sum(
        n_sessions(g) for _, g in batch.groupby("conv_id")
    )
    assert len(got) == want_sessions


def test_stateful_turn_features_across_microbatches(spark, tmp_path):
    """applyInPandasWithState carries per-conversation state ACROSS
    micro-batches: three time-ordered parquet files processed one per
    trigger (maxFilesPerTrigger=1, availableNow) must produce exactly the
    single-pass batch computation of running turn index + cumulative
    average text length."""
    import numpy as np

    from recipeselectors_spark.streaming import stateful_turn_features

    pdf = T.synthesize_transcripts_pandas(n_convs=12, seed=21)
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    # split each conversation's timeline into 3 consecutive chunks so the
    # files arrive in ts order per conversation
    d = tmp_path / "tx"
    d.mkdir()
    rank = pdf.groupby("conv_id").cumcount()
    size = pdf.groupby("conv_id")["ts"].transform("size")
    for i in range(3):
        chunk = pdf[(rank * 3 // size) == i]
        spark.createDataFrame(chunk, schema=T.TRANSCRIPT_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(str(d / f"f{i}"))

    stream = (
        spark.readStream.schema(T.TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "f*"))
    )
    out = stateful_turn_features(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_turns")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3  # state really crossed batches
    got = (
        spark.sql("SELECT * FROM stateful_turns")
        .toPandas()
        .sort_values(["conv_id", "turn_in_conv"])
        .reset_index(drop=True)
    )

    want = pdf.copy()
    want["len"] = want["text"].fillna("").str.len().astype(float)
    want["turn_in_conv"] = want.groupby("conv_id").cumcount()
    want["cum_avg_text_len"] = (
        want.groupby("conv_id")["len"].cumsum()
        / (want["turn_in_conv"] + 1)
    )
    want = want.sort_values(["conv_id", "turn_in_conv"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    assert got["turn_in_conv"].tolist() == want["turn_in_conv"].tolist()
    np.testing.assert_allclose(
        got["cum_avg_text_len"].to_numpy(),
        want["cum_avg_text_len"].to_numpy(),
        rtol=1e-12,
    )


def test_streaming_exact_dedup_across_microbatches(spark, tmp_path):
    """streaming_exact_dedup: the first arrival of each text passes, later
    copies are dropped — including copies that arrive in a LATER
    micro-batch (the state store carries the seen-hash set across
    triggers within the watermark horizon)."""
    from recipeselectors_spark.streaming import streaming_exact_dedup

    base = pd.Timestamp("2026-03-01")
    texts = [f"unique document number {i} about topic {i % 5}" for i in range(8)]
    batches = [
        # batch 0: originals 0-5
        [(f"d0{i}", texts[i], base + pd.Timedelta(minutes=i)) for i in range(6)],
        # batch 1: two cross-batch duplicates + two fresh docs
        [
            ("dup-a", texts[1], base + pd.Timedelta(minutes=10)),
            ("dup-b", texts[4], base + pd.Timedelta(minutes=11)),
            ("d06", texts[6], base + pd.Timedelta(minutes=12)),
            ("d07", texts[7], base + pd.Timedelta(minutes=13)),
        ],
        # batch 2: an in-horizon duplicate of a batch-1 doc
        [("dup-c", texts[6], base + pd.Timedelta(minutes=20))],
    ]
    d = tmp_path / "docs"
    d.mkdir()
    schema = "doc_id string, text string, ts timestamp"
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text", "ts"]), schema=schema
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"b{i}"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "b*"))
    )
    out = streaming_exact_dedup(stream, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("exact_dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3
    got = spark.sql("SELECT * FROM exact_dedup_stream").toPandas()
    # every distinct text exactly once, and never via a dup-* row
    assert sorted(got["text"].tolist()) == sorted(texts)
    assert not got["doc_id"].str.startswith("dup-").any()


def test_streaming_near_dup_flags(spark, tmp_path):
    """streaming_near_dup_flags: stateless MinHash banding on the stream +
    a stream-static join against the landed corpus's band table — planted
    near-duplicates of corpus docs are flagged, unrelated docs are not."""
    import numpy as np

    from recipeselectors_spark.operators import dedup as D
    from recipeselectors_spark.streaming import streaming_near_dup_flags

    rng = np.random.default_rng(9)
    words = [f"w{i}" for i in range(60)]

    def doc(k: int, n: int = 30) -> str:
        return " ".join(rng.choice(words, size=n))

    corpus_texts = {f"c{i}": doc(i) for i in range(6)}
    corpus_pdf = pd.DataFrame(
        {"doc_id": list(corpus_texts), "text": list(corpus_texts.values())}
    )
    corpus = spark.createDataFrame(corpus_pdf)
    corpus_banded = D.minhash_candidates(
        D.with_minhash(corpus), bands=8, num_perm=32
    )

    # stream: near-copies of c1/c3 (one word changed) + unrelated docs
    near1 = corpus_texts["c1"].split(); near1[5] = "CHANGED"
    near3 = corpus_texts["c3"].split(); near3[0] = "ALTERED"
    base = pd.Timestamp("2026-03-02")
    stream_pdf = pd.DataFrame(
        {
            "doc_id": ["s-dup1", "s-dup3", "s-clean1", "s-clean2"],
            "text": [
                " ".join(near1),
                " ".join(near3),
                "completely different content about rivers and mountains xyz",
                "another unrelated short document qqq zzz about cooking",
            ],
            "ts": [base + pd.Timedelta(minutes=i) for i in range(4)],
        }
    )
    d = tmp_path / "in"
    d.mkdir()
    schema = "doc_id string, text string, ts timestamp"
    spark.createDataFrame(stream_pdf, schema=schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "b0"))

    stream = spark.readStream.schema(schema).parquet(str(d / "b*"))
    flags = streaming_near_dup_flags(stream, corpus_banded)
    q = (
        flags.writeStream.format("memory")
        .queryName("near_dup_flags")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM near_dup_flags").toPandas()
    flagged = dict(
        got.groupby("doc_id")["dup_of"].agg(lambda s: set(s)).items()
    )
    assert "c1" in flagged.get("s-dup1", set())
    assert "c3" in flagged.get("s-dup3", set())
    assert "s-clean1" not in flagged and "s-clean2" not in flagged


def test_streaming_quality_filter(spark, tmp_path):
    """quality_filter / quality_flags are stateless projections, so the
    Gopher/C4 gate runs unchanged on a real streaming query — a good
    document passes, a too-short and a gibberish (no-stopword) document are
    dropped; quality_flags surfaces the per-rule reasons instead."""
    from recipeselectors_spark.operators.quality_filter import (
        QualityRules,
        quality_filter,
        quality_flags,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and then it runs to "
        "the river where it drinks some water before it sleeps for a while "
        "in the warm afternoon sun near the old barn by the field"
    )
    short = "too short"
    salad = " ".join(f"zxq{i}" for i in range(60))  # long but zero stopwords
    d = tmp_path / "qdocs"
    d.mkdir()
    schema = "doc_id string, text string"
    spark.createDataFrame(
        pd.DataFrame(
            [("good", good), ("short", short), ("salad", salad)],
            columns=["doc_id", "text"],
        ),
        schema=schema,
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "b0"))

    stream = spark.readStream.schema(schema).parquet(str(d / "b*"))
    rules = QualityRules(min_tokens=20, max_pii=None)
    out = quality_filter(stream, rules=rules)
    q = (
        out.writeStream.format("memory")
        .queryName("quality_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "qckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM quality_stream").toPandas()
    assert got["doc_id"].tolist() == ["good"]
    assert set(got.columns) == {"doc_id", "text"}  # flags dropped

    flagged = quality_flags(stream, rules=rules)
    q2 = (
        flagged.writeStream.format("memory")
        .queryName("quality_stream_flagged")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "qckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    fl = (
        spark.sql("SELECT * FROM quality_stream_flagged")
        .toPandas()
        .set_index("doc_id")
    )
    assert bool(fl.loc["good", "kept"]) is True
    assert "too_few_tokens" in fl.loc["short", "drop_reasons"]
    assert "stopword_ratio" in fl.loc["salad", "drop_reasons"]
