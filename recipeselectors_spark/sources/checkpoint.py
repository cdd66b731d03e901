"""Per-shard checkpoint / resume / lineage for long feature-assembly jobs.

North rule: "resumable from per-partition checkpoints with lineage +
row-count/score metrics emitted per shard" (BASELINE.json). Design:

* the conversation space is hash-partitioned into N shards distributed
  (``pmod(xxhash64(conv_id), N)``) with hot conversations isolated into
  dedicated shards via a bounded broadcast override — same machinery as the
  as-of join (operators/asof.py); conversations are never split and no
  driver-side map of the conversation universe exists;
* each shard is materialized by its own Spark job to
  ``<out>/shard=<k>/`` parquet, followed by an atomically-renamed manifest
  ``<out>/_manifests/shard-<k>.json`` holding lineage (input source, shard
  conv list hash, code version) + metrics (row count, min/max ts, per-column
  null counts, wall seconds);
* on restart, shards with a valid manifest are skipped — the job resumes
  exactly where it stopped. Output is idempotent: a crashed shard directory
  without its manifest is overwritten.

The driver loop costs one Spark job per shard — that is the *point*
(job-level restart granularity); Spark's own task retry handles
within-job failures, this layer handles whole-process death
(SURVEY.md §4 "NOT built-in" #4).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

from recipeselectors_spark import __version__
from recipeselectors_spark.operators._parallel import thread_map
from recipeselectors_spark.operators.asof import hot_conv_shards, with_shard


def _manifest_path(out_dir: str, shard: int) -> str:
    return os.path.join(out_dir, "_manifests", f"shard-{shard}.json")


def completed_shards(out_dir: str) -> set[int]:
    mdir = os.path.join(out_dir, "_manifests")
    if not os.path.isdir(mdir):
        return set()
    done = set()
    for f in os.listdir(mdir):
        if f.startswith("shard-") and f.endswith(".json"):
            try:
                with open(os.path.join(mdir, f)) as fh:
                    m = json.load(fh)
                if m.get("status") == "complete":
                    done.add(int(m["shard"]))
            except (ValueError, KeyError, json.JSONDecodeError):
                continue
    return done


def run_sharded(
    transcripts: DataFrame,
    out_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    num_shards: int = 32,
    on: str = "conv_id",
    source_desc: str = "",
    sample_frac: float | None = None,
    max_concurrent: int = 4,
) -> list[dict]:
    """Apply ``transform`` shard-by-shard with checkpoint/resume.

    Up to ``max_concurrent`` shard jobs run at once via a driver-side thread
    pool — Spark's scheduler interleaves concurrent jobs across executors, so
    a shard whose tasks underfill the cluster doesn't leave cores idle, while
    checkpoint granularity stays per-shard. Returns the list of shard
    manifests (existing + newly written).
    """
    spark = transcripts.sparkSession
    os.makedirs(os.path.join(out_dir, "_manifests"), exist_ok=True)

    # Shard membership = pmod(xxhash64(conv_id), N) computed DISTRIBUTED for
    # every conversation (hash default + bounded hot-key override) — sampling
    # only tunes which convs are detected hot; no conversation can be dropped
    # and the driver never materializes the conversation universe. No
    # oversized-conversation check: that guards the cogroup as-of merge,
    # which run_sharded does not run.
    hot_pdf = hot_conv_shards(
        transcripts, transcripts.limit(0), num_shards, on=on,
        sample_frac=sample_frac, max_conv_rows=None,
    )
    tagged = with_shard(transcripts, num_shards, hot_pdf, on=on)

    # One bounded-output job: per-shard conv count + order-independent
    # deterministic digest (sum of xxhash64 over DISTINCT conv ids, summed as
    # decimal(38,0) — ANSI-safe). Used for lineage AND verified on resume:
    # a completed shard is only skipped if its recorded conv-set digest still
    # matches the current shard map (guards against --shards/input changes).
    digest_pdf = (
        tagged.select("shard", on)
        .distinct()
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_convs"),
            F.sum(F.xxhash64(F.col(on)).cast("decimal(38,0)")).alias("digest"),
        )
        .toPandas()
    )
    shard_digest = {
        int(r["shard"]): (int(r["n_convs"]), str(r["digest"]))
        for _, r in digest_pdf.iterrows()
    }

    done = completed_shards(out_dir)

    def run_one(shard: int) -> dict:
        mpath = _manifest_path(out_dir, shard)
        n_convs, digest = shard_digest.get(shard, (0, "0"))
        if shard in done:
            with open(mpath) as fh:
                m = json.load(fh)
            # skip only if the shard's conv set is unchanged under the
            # current map — otherwise recompute (stale checkpoint)
            if m.get("convs_hash") == digest:
                return m

        t0 = time.time()
        part = tagged.where(F.col("shard") == shard).drop("shard")
        out = transform(part)
        shard_dir = os.path.join(out_dir, f"shard={shard}")
        out.write.mode("overwrite").parquet(shard_dir)

        written = spark.read.parquet(shard_dir)
        aggs = [F.count("*").alias("n_rows")]
        if "ts" in written.columns:
            aggs += [F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts")]
        # per-shard score metrics (north rule): mean + null count of every
        # double-typed feature column, one agg pass
        from pyspark.sql.types import DoubleType

        score_cols = [
            fld.name for fld in written.schema.fields
            if isinstance(fld.dataType, DoubleType)
        ]
        for c in score_cols:
            aggs += [
                F.avg(c).alias(f"avg__{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}"),
            ]
        stats_row = written.agg(*aggs).collect()[0].asDict()
        score_metrics = {
            c: {
                "mean": None if stats_row[f"avg__{c}"] is None
                else round(float(stats_row[f"avg__{c}"]), 6),
                "nulls": int(stats_row[f"nulls__{c}"]),
            }
            for c in score_cols
        }

        manifest = {
            "shard": shard,
            "status": "complete",
            "engine_version": __version__,
            "source": source_desc,
            "n_convs": n_convs,
            "convs_hash": digest,
            "n_rows": int(stats_row["n_rows"]),
            "min_ts": str(stats_row.get("min_ts")),
            "max_ts": str(stats_row.get("max_ts")),
            "score_metrics": score_metrics,
            "wall_seconds": round(time.time() - t0, 3),
        }
        tmp = mpath + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, mpath)  # atomic completion marker
        return manifest

    shards = sorted(set(range(num_shards)) | set(shard_digest))
    # shard jobs run in the caller's job group, like every other pool
    return thread_map(run_one, shards, max_concurrent)


def read_sharded(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "shard=*"))


def lineage_log(out_dir: str, record: dict) -> None:
    """Append a lineage/metrics record (JSON lines sink, SURVEY.md §2.4)."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "lineage.jsonl"), "a") as fh:
        fh.write(json.dumps(record, default=str) + "\n")
