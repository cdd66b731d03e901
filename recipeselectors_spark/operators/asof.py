"""Point-in-time as-of join — the north-rule centerpiece.

Spark has no native as-of join (SURVEY.md §2.4 "Joins"). Two strategies:

* ``asof_join_union`` — the pure-Catalyst form: tag + union both sides,
  one window per conversation ordered by ``(ts, side)``, and
  ``last(struct(ts, *values), ignorenulls=True)`` carries the latest
  feature ROW (NULL fields included) with ``feature.ts <= spine.ts`` onto
  each spine row. ONE shuffle, whole-stage codegen, no Python.

* ``asof_join_cogroup`` — the general scalable form the north rule names
  ("sorted-merge over range-partitioned, salt-balanced conv_id shards"):
  shard = ``pmod(xxhash64(conv_id), N)`` computed DISTRIBUTED (no driver
  map of the conversation universe), with hot conversations detected by a
  distributed count filter and overridden to dedicated shards via a bounded
  broadcast map (≤ N/skew_factor keys) — explicit skew split; conversations
  are never split across shards, preserving the whole-conversation locality
  that as-of correctness requires. Each shard is sorted-merged with
  ``pandas.merge_asof`` inside ``cogroup(...).applyInPandas``
  (Arrow-vectorized, no per-row Python). Supports tolerance and arbitrary
  value columns; a conversation over the ``max_conv_rows`` budget is
  additionally split into tolerance-wide time slices.

At 10^12 turns the driver holds only the hot-key map (bounded by shard
count, not data size); ``sample_frac`` bounds the hot-detection count cost
and affects balance only, never shard membership.
"""

from __future__ import annotations

import math
import warnings

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from recipeselectors_spark.operators import windows as W

CONV = "conv_id"


def asof_join_union(
    spine: DataFrame,
    features: DataFrame,
    value_cols: list[str],
    on: str = CONV,
    ts: str = "ts",
    tolerance_s: int | None = None,
    ungated_suffix: str | None = None,
) -> DataFrame:
    """Backward as-of join, exact matches allowed (feature.ts <= spine.ts).

    Result: every spine row + ``value_cols`` from the latest qualifying
    feature row (NULL when none). Catalyst-only: union + one window.

    The carried payload is ``last(struct(ts, *value_cols), ignorenulls)``
    over FEATURE rows only: the whole latest row is carried — including any
    NULLs inside it — matching ``pandas.merge_asof`` / DuckDB ASOF JOIN row
    semantics (a per-column last-non-null would mix columns from different
    feature rows; ADVICE r1). The tolerance check uses the carried row's own
    ts, by construction.

    ``ungated_suffix`` (with a tolerance): ALSO emit each value column
    WITHOUT the tolerance gate as ``<c><ungated_suffix>`` — both the plain
    and the tolerance-gated answers from ONE union + ONE window exchange,
    instead of two full passes joined back together (guide §2.4: operations
    keyed the same way share one exchange).
    """
    spine_cols = spine.columns
    s = spine.withColumn("__side__", F.lit(1))
    f = features.select(
        on, ts, *value_cols
    ).withColumn("__side__", F.lit(0))

    for c in spine_cols:
        if c not in f.columns:
            f = f.withColumn(c, F.lit(None).cast(dict(spine.dtypes)[c]))
    for c in value_cols:
        if c not in s.columns:
            s = s.withColumn(c, F.lit(None).cast(dict(f.dtypes)[c]))

    unioned = s.select(*spine_cols, "__side__", *value_cols).unionByName(
        f.select(*spine_cols, "__side__", *value_cols)
    )

    # NULL for spine rows => last(ignorenulls) lands on the latest feature
    # ROW; the struct is non-null for every feature row even when its value
    # fields are null, so those nulls are carried intact. The feature ts
    # rides along ONLY when a tolerance needs it — without tolerance the
    # window payload is just the value fields (fast path: same semantics,
    # one fewer carried field per row).
    payload_fields = [F.col(c).alias(c) for c in value_cols]
    if tolerance_s is not None:
        payload_fields.insert(0, F.col(ts).alias("__fts__"))
    payload = F.when(F.col("__side__") == 0, F.struct(*payload_fields))
    # the forward fill orders features before spine rows at equal ts, so
    # exact matches are visible
    out = W.with_ffill(
        unioned.withColumn("__payload__", payload), "__payload__", "__carry__",
        partition=on, order=(ts, "__side__"),
    )
    keep = F.lit(True)
    if tolerance_s is not None:
        age = W.epoch_s(ts) - W.epoch_s(F.col("__carry__")["__fts__"])
        keep = age <= tolerance_s
        if ungated_suffix is not None:
            for c in value_cols:
                out = out.withColumn(
                    f"{c}{ungated_suffix}", F.col("__carry__")[c]
                )
    for c in value_cols:
        out = out.withColumn(
            c, F.when(keep, F.col("__carry__")[c]).otherwise(F.lit(None))
        )
    return (
        out.where(F.col("__side__") == 1)
        .drop("__side__", "__payload__", "__carry__")
    )


def hot_conv_shards(
    left: DataFrame,
    right: DataFrame,
    num_shards: int,
    on: str = CONV,
    sample_frac: float | None = None,
    seed: int = 42,
    skew_factor: float = 2.0,
    max_conv_rows: int | None = 5_000_000,
) -> pd.DataFrame:
    """Detect HOT conversations and give each a dedicated shard id.

    The default shard assignment is ``pmod(xxhash64(conv_id), num_shards)``
    computed distributed (see :func:`with_shard`) — the driver never sees the
    conversation universe. This function only finds the skewed tail: convs
    whose row count exceeds ``skew_factor × (total/num_shards)``. The filter
    runs DISTRIBUTED; only qualifying keys reach the driver, so the returned
    frame is bounded by ``num_shards/skew_factor`` rows regardless of input
    size (defensively capped at 4×num_shards). Each hot conv gets shard id
    ``num_shards + rank`` (rank by count desc, conv asc — deterministic).

    ``sample_frac`` bounds the counting cost at extreme scale; it affects
    only which convs are *detected* as hot (balance), never shard membership
    — unsampled conversations simply keep their hash shard.

    ``max_conv_rows`` is the oversized-conversation guard (VERDICT r3): a
    hot conversation gets a dedicated shard but still lands in ONE Arrow
    group in the cogroup merge — whole-conversation locality is the design
    (SURVEY §4: split conversations never, pad shards instead), so a single
    conversation larger than executor memory cannot be handled silently.
    When the largest (estimated, if sampled) per-conv row count exceeds
    this budget a RuntimeWarning names the worst offender and the
    mitigations (time slicing, which :func:`asof_join_cogroup` applies to
    backward/forward joins with a finite tolerance; or raise executor
    memory / Arrow batch budget). The observed maximum is also returned on
    the frame as ``result.attrs['max_conv_rows']`` for metrics pipelines.
    ``None`` disables the check.
    """
    l = left.select(on) if sample_frac is None else left.select(on).sample(
        fraction=sample_frac, seed=seed
    )
    r = right.select(on) if sample_frac is None else right.select(on).sample(
        fraction=sample_frac, seed=seed
    )
    counts = l.unionByName(r).groupBy(on).agg(F.count("*").alias("n"))
    # two actions on the SAME counts lineage: the second job reuses the
    # groupBy exchange as a skipped stage, so the inputs are scanned once
    tot_row = counts.agg(F.sum("n"), F.max("n")).collect()[0]
    total, max_n = tot_row[0] or 0, tot_row[1] or 0
    scale = 1.0 / sample_frac if sample_frac else 1.0
    if max_conv_rows is not None and max_n * scale > max_conv_rows:
        worst = counts.orderBy(F.col("n").desc()).limit(1).collect()[0]
        warnings.warn(
            f"conversation {worst[on]!r} has ~{int(worst['n'] * scale):,} "
            f"rows (> max_conv_rows={max_conv_rows:,}); it will occupy ONE "
            "Arrow group in the cogroup as-of merge. asof_join_cogroup "
            "time-slices backward/forward joins with a finite tolerance "
            "(bounded groups); otherwise raise the executor/Arrow memory "
            "budget.",
            RuntimeWarning,
            stacklevel=2,
        )
    cap = skew_factor * total / max(num_shards, 1)
    hot = (
        counts.where(F.col("n") > F.lit(float(cap)))
        .orderBy(F.col("n").desc(), F.col(on))
        .limit(4 * num_shards)
        .toPandas()
    )
    out = pd.DataFrame(
        {on: hot[on].tolist(), "shard": [num_shards + i for i in range(len(hot))]}
    )
    # ceil, not int(): the warning above fires on max_n*scale > budget, and
    # the slicing dispatch in asof_join_cogroup compares this attr to
    # the same budget — flooring a fractional sampled estimate could warn
    # without dispatching
    out.attrs["max_conv_rows"] = math.ceil(max_n * scale)
    return out


def with_shard(
    df: DataFrame,
    num_shards: int,
    hot_pdf: pd.DataFrame | None = None,
    on: str = CONV,
) -> DataFrame:
    """Add a ``shard`` column: hash-partitioned by conversation, hot convs
    overridden to their dedicated shards via a (bounded) broadcast join.

    Deterministic across runs (xxhash64 is seed-stable) and identical for any
    two frames sharing conv ids — both sides of a join land on the same
    shard. A fresh DataFrame is built from ``hot_pdf`` per call so two inputs
    derived from one scan never share broadcast lineage (ambiguous-self-join
    trap, see :func:`_fresh`).
    """
    base = F.pmod(F.xxhash64(F.col(on)), F.lit(num_shards)).cast("int")
    if hot_pdf is None or len(hot_pdf) == 0:
        return df.withColumn("shard", base)
    spark = df.sparkSession
    hot = F.broadcast(
        spark.createDataFrame(hot_pdf.rename(columns={"shard": "__hot_shard__"}))
    )
    return (
        df.join(hot, on, "left")
        .withColumn("shard", F.coalesce(F.col("__hot_shard__").cast("int"), base))
        .drop("__hot_shard__")
    )


def _fresh(df: DataFrame) -> DataFrame:
    """Re-alias every column: fresh expression IDs, so two cogroup sides
    derived from one scan don't trip the ambiguous-self-join analysis."""
    return df.select([F.col(c).alias(c) for c in df.columns])


def asof_join_cogroup(
    spine: DataFrame,
    features: DataFrame,
    value_cols: list[str],
    on: str = CONV,
    ts: str = "ts",
    tolerance_s: int | None = None,
    num_shards: int | None = None,
    sample_frac: float | None = None,
    direction: str = "backward",
    hot_pdf: pd.DataFrame | None = None,
    max_conv_rows: int | None = 5_000_000,
) -> DataFrame:
    """General sorted-merge as-of join over salt-balanced conv_id shards.

    ``hot_pdf`` (a frame from :func:`hot_conv_shards`) can be passed in to
    reuse a previously computed hot-key map across repeated joins on the
    same conversation universe — skipping the detection count pass. Shard
    assignment never affects the OUTPUT rows (conversations are whole
    either way), only balance.

    Oversized conversations: when the largest conversation exceeds
    ``max_conv_rows`` — which would put one Arrow group beyond the
    executor-memory budget — the timeline is also cut into slices of
    width ``W = max(tolerance_s, 1)`` and the cogroup key becomes
    ``(shard, slice)``. With a finite tolerance the match window of a
    spine row at ``t`` is bounded (``[t - tol, t]`` backward, ``[t, t +
    tol]`` forward), so:

    * each SPINE row belongs to exactly ONE slice (``floor(epoch/W)``) —
      output rows are never duplicated;
    * each FEATURE row at ``t`` can only serve spine rows in slices
      ``floor(t/W)`` and ``floor((t ± tol)/W)`` (+ backward, − forward) —
      it is replicated to exactly those, a bounded ≤2× blow-up;
    * every match window stays complete inside its group, so the
      per-group ``merge_asof`` result equals the unsliced one.

    The split changes balance, never answers. ``direction='nearest'`` or
    no tolerance has no such decomposition, so an oversized conversation
    then raises instead of silently building a join that will OOM an
    executor at scale; pass ``max_conv_rows=None`` to accept the
    single-group memory risk knowingly.
    """
    spark = spine.sparkSession
    if num_shards is None:
        num_shards = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    if hot_pdf is None:
        hot_pdf = hot_conv_shards(
            spine, features, num_shards, on=on, sample_frac=sample_frac,
            max_conv_rows=max_conv_rows,
        )

    observed_max = hot_pdf.attrs.get("max_conv_rows")  # absent on user maps
    sliced = (
        max_conv_rows is not None
        and observed_max is not None
        and observed_max > max_conv_rows
    )
    if sliced and (
        direction not in ("backward", "forward") or tolerance_s is None
    ):
        raise RuntimeError(
            f"largest conversation has ~{observed_max:,} rows "
            f"(> max_conv_rows={max_conv_rows:,}) and would occupy ONE "
            "Arrow group, but the join cannot be time-sliced "
            f"(direction={direction!r}, tolerance_s={tolerance_s!r}: "
            "slicing needs backward or forward with a finite tolerance). "
            "Set a finite tolerance_s, or pass max_conv_rows=None to "
            "accept the single-group memory risk."
        )

    # with_shard builds an independent broadcast frame per call, so the two
    # sides never share lineage even when derived from the same scan
    s = with_shard(_fresh(spine), num_shards, hot_pdf, on=on)
    feats = _fresh(features.select(on, ts, *value_cols))
    f = with_shard(feats, num_shards, hot_pdf, on=on)
    keys = ["shard"]
    if sliced:
        from recipeselectors_spark.operators.windows import epoch_s

        # tolerance_s=0 (exact-timestamp matches only) is legal — any
        # positive width covers its zero-length match window
        w = F.lit(max(tolerance_s, 1))
        shift = tolerance_s if direction == "backward" else -tolerance_s
        t = epoch_s(F.col(ts))
        s = s.withColumn("__slice__", F.floor(t / w).cast("long"))
        f = f.withColumn("__slice__", F.explode(F.array_distinct(F.array(
            F.floor(t / w).cast("long"),
            F.floor((t + F.lit(shift)) / w).cast("long"),
        ))))
        keys.append("__slice__")

    spine_fields = [fld for fld in spine.schema.fields]
    out_schema_parts = [f"`{fld.name}` {fld.dataType.simpleString()}" for fld in spine_fields]
    fdtypes = dict(feats.dtypes)
    for c in value_cols:
        out_schema_parts.append(f"`{c}` {fdtypes[c]}")
    out_schema = ", ".join(out_schema_parts)
    spine_names = [fld.name for fld in spine_fields]

    tol = pd.Timedelta(seconds=tolerance_s) if tolerance_s is not None else None

    def merge(left_pdf: pd.DataFrame, right_pdf: pd.DataFrame) -> pd.DataFrame:
        left_pdf = left_pdf.drop(columns=keys).sort_values(
            [ts, on], kind="mergesort"
        )
        right_pdf = right_pdf.drop(columns=keys).sort_values(
            [ts, on], kind="mergesort"
        )
        if left_pdf.empty:
            return pd.DataFrame(columns=spine_names + value_cols)
        merged = pd.merge_asof(
            left_pdf,
            right_pdf,
            on=ts,
            by=on,
            direction=direction,
            tolerance=tol,
            allow_exact_matches=True,
        )
        return merged[spine_names + value_cols]

    return (
        s.groupBy(*keys)
        .cogroup(f.groupBy(*keys))
        .applyInPandas(merge, schema=out_schema)
    )


def salted_equi_join(
    big: DataFrame,
    small: DataFrame,
    on: str = CONV,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi join: salt the big side with
    ``pmod(xxhash64(<all big columns>), S)``, explode the small side 0..S-1
    (SURVEY.md §2.4). The salt is a pure function of the ROW CONTENT, so it
    is stable across retries, recomputations, and scan order — unlike the
    previous ``hash(monotonically_increasing_id())`` form, whose salt
    depended on partition layout (correct under retries but
    non-deterministic for lineage; ADVICE r2). Identical rows spread only
    as far as their duplicate count, which is exactly the skew a
    content-hash can address. For genuinely small dims prefer
    ``big.join(F.broadcast(small), on)`` — Catalyst broadcasts free."""
    b = big.withColumn(
        "__salt__",
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt)),
    )
    s = small.withColumn(
        "__salt__", F.explode(F.array([F.lit(i) for i in range(salt)]))
    )
    return b.join(s, [on, "__salt__"], how).drop("__salt__")
