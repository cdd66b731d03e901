"""Per-shard checkpoint/resume: manifests, skip-completed, byte-identical
resume output (north rule "resumable from per-partition checkpoints")."""

import json
import os

import pytest

from recipeselectors_spark.operators import assembly
from recipeselectors_spark.sources import checkpoint as ckpt
from recipeselectors_spark.sources import transcripts as T


@pytest.fixture(scope="module")
def tx(spark):
    return spark.createDataFrame(
        T.synthesize_transcripts_pandas(n_convs=30, seed=9),
        schema=T.TRANSCRIPT_SCHEMA,
    ).cache()


def test_sharded_run_writes_manifests(spark, tx, tmp_path):
    out = str(tmp_path / "run1")
    manifests = ckpt.run_sharded(
        tx, out, assembly.assemble_features, num_shards=4, source_desc="synth"
    )
    assert all(m["status"] == "complete" for m in manifests)
    assert sum(m["n_rows"] for m in manifests) == tx.count()
    back = ckpt.read_sharded(spark, out)
    assert back.count() == tx.count()


def test_resume_skips_completed_shards(spark, tx, tmp_path):
    out = str(tmp_path / "run2")
    first = ckpt.run_sharded(tx, out, assembly.assemble_features, num_shards=4)
    # simulate a crash on one shard: delete its manifest + data
    victim = first[-1]["shard"]
    os.remove(os.path.join(out, "_manifests", f"shard-{victim}.json"))

    calls = []

    def tracking_transform(df):
        calls.append(1)
        return assembly.assemble_features(df)

    second = ckpt.run_sharded(tx, out, tracking_transform, num_shards=4)
    # only the crashed shard was recomputed
    assert len(calls) == 1
    assert sorted(m["shard"] for m in second) == sorted(
        m["shard"] for m in first
    )
    total = ckpt.read_sharded(spark, out).count()
    assert total == tx.count()


def test_determinism_two_full_runs(spark, tx, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    ckpt.run_sharded(tx, a, assembly.assemble_features, num_shards=3)
    ckpt.run_sharded(tx, b, assembly.assemble_features, num_shards=3)
    pa = (
        ckpt.read_sharded(spark, a)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pb = (
        ckpt.read_sharded(spark, b)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(pa, pb)


def test_sampled_run_drops_no_conversations(spark, tx, tmp_path):
    """ADVICE r1 (high): sample_frac must affect balance only — every
    conversation still lands in exactly one shard of the output."""
    out = str(tmp_path / "sampled")
    ckpt.run_sharded(
        tx, out, assembly.assemble_features, num_shards=4, sample_frac=0.1
    )
    back = ckpt.read_sharded(spark, out)
    assert back.count() == tx.count()
    assert (
        back.select("conv_id").distinct().count()
        == tx.select("conv_id").distinct().count()
    )


def test_resume_recomputes_on_shard_map_change(spark, tx, tmp_path):
    """ADVICE r1 (medium): a completed shard is only skipped when its
    conv-set digest still matches — rerunning with different --shards must
    recompute, not silently reuse mismatched checkpoints."""
    out = str(tmp_path / "remap")
    ckpt.run_sharded(tx, out, assembly.assemble_features, num_shards=4)
    calls = []

    def tracking(df):
        calls.append(1)
        return assembly.assemble_features(df)

    second = ckpt.run_sharded(tx, out, tracking, num_shards=3)
    # shard maps differ (mod 3 vs mod 4) -> digests mismatch -> recompute all
    assert len(calls) == 3
    assert sum(m["n_rows"] for m in second) == tx.count()


def test_manifest_digest_deterministic(spark, tx, tmp_path):
    a, b = str(tmp_path / "d1"), str(tmp_path / "d2")
    ma = ckpt.run_sharded(tx, a, assembly.assemble_features, num_shards=3)
    mb = ckpt.run_sharded(tx, b, assembly.assemble_features, num_shards=3)
    ha = {m["shard"]: m["convs_hash"] for m in ma}
    hb = {m["shard"]: m["convs_hash"] for m in mb}
    assert ha == hb


def test_lineage_log(tmp_path):
    out = str(tmp_path)
    ckpt.lineage_log(out, {"shard": 1, "rows": 10})
    ckpt.lineage_log(out, {"shard": 2, "rows": 20})
    lines = open(os.path.join(out, "lineage.jsonl")).read().splitlines()
    assert [json.loads(l)["shard"] for l in lines] == [1, 2]


def test_manifest_score_metrics(spark, tx, tmp_path):
    out = str(tmp_path / "metrics_run")
    manifests = ckpt.run_sharded(
        tx, out, assembly.assemble_features, num_shards=2
    )
    m = manifests[0]
    assert "score_metrics" in m
    assert "f_text_len" in m["score_metrics"]
    assert m["score_metrics"]["f_text_len"]["mean"] > 0
    # lag1 has exactly one null per conversation in this shard
    assert m["score_metrics"]["f_lag1_len"]["nulls"] == m["n_convs"]


def test_job_group_reaches_every_shard_job(spark, tx, tmp_path):
    """Concurrent shard jobs run on pool threads; each must carry the
    caller's job group (cancellable and attributable as one unit)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def new_jobs(group, after):
        return {j for j in sc.statusTracker().getJobIdsForGroup(group) if j > after}

    bus.waitUntilEmpty()
    before = max(
        sc.statusTracker().getJobIdsForGroup(None)
        + sc.statusTracker().getJobIdsForGroup("shard-grp"),
        default=-1,
    )
    sc.setJobGroup("shard-grp", "sharded run")
    try:
        ckpt.run_sharded(
            tx, str(tmp_path / "grp"), assembly.assemble_features,
            num_shards=4, max_concurrent=2,
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    bus.waitUntilEmpty()
    assert len(new_jobs("shard-grp", before)) >= 8
    assert not new_jobs(None, before)  # no shard job escaped the group


def test_run_sharded_skips_oversized_conversation_check(tx, tmp_path, monkeypatch):
    """run_sharded never cogroups, so the as-of merge's oversized-
    conversation warning (and the job that names the worst conversation)
    must not fire, however small the as-of budget."""
    import warnings

    real = ckpt.hot_conv_shards

    def tiny_budget(*args, **kwargs):
        kwargs.setdefault("max_conv_rows", 1)
        return real(*args, **kwargs)

    monkeypatch.setattr(ckpt, "hot_conv_shards", tiny_budget)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        manifests = ckpt.run_sharded(
            tx, str(tmp_path / "budget"), assembly.assemble_features, num_shards=2
        )
    assert sum(m["n_rows"] for m in manifests) == tx.count()
