"""Driver-side parallelism: the scan-parallelism guard for CPU-heavy narrow
stages, and the thread map (with its per-call ``inherit`` wrapper) that
overlaps independent Spark jobs.

A parquet file written as one (or few) row groups scans as one (or few)
tasks — Spark cannot split inside a row group — so any expensive per-row
work that precedes the first exchange (minhash signatures, LSH banding,
pandas-UDF kernels, regex chains) serializes onto a handful of cores no
matter how large the cluster is (guide §2.5 "input skew": fix at the
source, otherwise repartition immediately after the read).

``ensure_parallelism`` is the scale-adaptive form of that repartition: it
round-robins the frame up to the cluster's default parallelism ONLY when
the planned scan has materially fewer partitions, and is a no-op on inputs
that already split well (at real scale a 100 TB table scans as 10^5+
tasks, so this never fires there). Round-robin keeps its deterministic
sort-before-repartition behavior (SPARK-23207), and every operator using
it is layout-invariant by construction, so results are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# share of defaultParallelism below which ensure_parallelism repartitions
MIN_RATIO = 0.5


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` when its planned
    partition count is below ``MIN_RATIO`` of it. Batch frames only
    (streaming frames cannot be probed; callers on streaming paths must
    not use this)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.isStreaming:
        return df
    n = df.rdd.getNumPartitions()
    if n < target * MIN_RATIO:
        return df.repartition(target)
    return df


def inherit(fn):
    """``fn`` wrapped to run, on another driver thread, with its OWN copy of
    the caller's local properties (job group, description, scheduler pool)
    and the caller's job tags (``SparkSession.addTag``, so
    ``interruptTag`` reaches the thread's jobs). Wrap once per call: one
    copy shared by several threads races on the SQL execution ids Spark
    keeps among the local properties (seen as ``NumberFormatException:
    Cannot parse null string`` in ``SQLExecution``)."""
    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    return inheritable_thread_target(SparkSession.active())(fn)


def thread_map(fn, items: list, max_workers: int) -> list:
    """``[fn(x) for x in items]`` with up to ``max_workers`` calls at once
    on driver threads, so one job's stage tail back-fills with the next
    job's tasks (guide §2.6); results in ``items`` order, the first
    exception in that order raised. Each call is wrapped by ``inherit``
    (its own copy of the caller's local properties, the caller's job
    tags)."""
    if max_workers <= 1 or len(items) <= 1:
        return [fn(x) for x in items]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = [pool.submit(inherit(fn), x) for x in items]
        return [f.result() for f in futures]
