"""Shared distributed-scoring layout.

The filter-style steps (infgain, roc, xtab, mrmr, custom) all reduce to
statistics of per-feature histograms against the outcome. Rather than p
separate jobs, ``melt`` stacks the p selected columns into a tall
``(feature, x, y)`` frame — ONE shuffle then serves every feature's
aggregation (SURVEY.md §4 "single-pass multi-feature contingency
aggregation"). ``cell_counts`` is the one histogram builder: the lazy
``(feature, x, y) → n`` counts with one NULL rule (a NULL x or y counts in
no cell; ``typed`` and ``bin_code`` turn a numeric NaN into NULL first, as
R and the pandas oracles treat NaN as NA). It feeds the ROC window pass,
the MDL cut learner, the nominal contingency tables (xtab, infgain, mRMR's
ID-like-column guard), infgain's binned joint tables and mRMR's MI tables.
The tables (p × bins × classes cells) are tiny and collected to the
driver, where ``joint_tables`` pivots them for the numpy kernels in
functions/stats.py.

Scale notes (100 TB): the melt multiplies rows by p but the immediate
``groupBy(feature, x, y).count()`` map-side-combines before the shuffle, so
shuffle volume is bounded by distinct cells, not rows. Cut-point learning
reads every row; the MDL kernel's input is bounded by the distinct-value
gate of ``learn_numeric_cuts``, and binning is one Catalyst expression per
feature (``bin_code``) applied distributed, post-learning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import NumericType, StringType

from recipeselectors_spark.functions import discretize


def quote(c: str) -> str:
    return f"`{c}`"


def numeric_cols(df: DataFrame, names: list[str]) -> list[str]:
    types = {f.name: f.dataType for f in df.schema.fields}
    return [c for c in names if isinstance(types[c], NumericType)]


def nominal_cols(df: DataFrame, names: list[str]) -> list[str]:
    types = {f.name: f.dataType for f in df.schema.fields}
    return [c for c in names if isinstance(types[c], StringType)]


def not_nan(x: Column) -> Column:
    """``x`` as a double, NULL where it is NaN: the filter steps' one NaN
    rule. A numeric NaN is a missing value, as in R and in the pandas
    oracles, so every NULL rule downstream covers it."""
    xd = x.cast("double")
    return F.when(~F.isnan(xd), xd)


def typed(names: list[str], to: str) -> dict[str, Column]:
    """Each of ``names`` cast to ``to``, keyed by name: the ``cols`` of
    ``melt`` and ``cell_counts`` for raw predictors. A ``"double"`` cast
    maps NaN to NULL (``not_nan``)."""
    if to == "double":
        return {c: not_nan(F.col(quote(c))) for c in names}
    return {c: F.col(quote(c)).cast(to) for c in names}


def melt(df: DataFrame, cols: dict[str, Column], outcome: str) -> DataFrame:
    """(feature:string, x, y:string) tall frame, one row per input row and
    ``cols`` entry (x = that entry's column; all must share one type), via
    ``stack`` — a zero-shuffle generator, codegen'd. Deliberately NOT
    repartitioned on narrow inputs (r6): the melt feeds a map-side-combined
    aggregation whose pre-shuffle work is light, so an extra round-robin
    exchange costs more than the parallelism it buys (measured: chi2/roc
    regressed ~1 s at sf1.0 with it; contrast the minhash/UDF paths where
    the narrow-stage work is seconds and spreading wins 10x)."""
    pairs = [e for name, col in cols.items() for e in (F.lit(name), col)]
    return df.select(
        F.stack(F.lit(len(cols)), *pairs).alias("feature", "x"),
        F.col(quote(outcome)).cast("string").alias("y"),
    )


def cell_counts(df: DataFrame, cols: dict[str, Column], outcome: str) -> DataFrame:
    """Lazy (feature, x, y, n) histogram of the ``melt`` of ``cols``: one
    map-side-combined ``groupBy(feature, x, y).count()``. The one NULL rule
    of every filter step: a row whose x or y is NULL counts in no cell."""
    return (
        melt(df, cols, outcome)
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("feature", "x", "y")
        .agg(F.count("*").alias("n"))
    )


def nominal_cell_counts(
    df: DataFrame,
    x_names: list[str],
    outcome: str,
    max_cells_per_feature: int | None = 100_000,
) -> DataFrame:
    """Lazy ``cell_counts`` of nominal predictors. Fine for genuine factors
    (cells = levels × classes), unbounded for an ID-like string column — so
    any feature whose cell count exceeds ``max_cells_per_feature`` fails
    fast with an actionable error instead of flooding the driver (VERDICT
    r3). The size probe is one action; a caller that collects the returned
    frame reuses its shuffle (skipped stages)."""
    agg = cell_counts(df, typed(x_names, "string"), outcome)
    if max_cells_per_feature is not None:
        sizes = agg.groupBy("feature").agg(F.count("*").alias("cells")).collect()
        too_big = {
            r["feature"]: r["cells"]
            for r in sizes
            if r["cells"] > max_cells_per_feature
        }
        if too_big:
            raise ValueError(
                f"nominal feature(s) {sorted(too_big)} have "
                f"{max(too_big.values()):,}+ contingency cells "
                f"(> max_cells_per_feature={max_cells_per_feature:,}). "
                "An ID-like string column is not a factor: drop it from the "
                "step's terms, discretize it upstream, or raise "
                "max_cells_per_feature if the cardinality is intentional."
            )
    return agg


def nominal_contingency(
    df: DataFrame,
    x_names: list[str],
    outcome: str,
    max_cells_per_feature: int | None = 100_000,
) -> pd.DataFrame:
    """``nominal_cell_counts`` collected for the driver-side test kernels."""
    return nominal_cell_counts(
        df, x_names, outcome, max_cells_per_feature
    ).toPandas()


def learn_numeric_cuts(
    df: DataFrame,
    x_names: list[str],
    outcome: str,
    method: str = "mdl",
    bins: int = 10,
    mdl_gate_distinct: int = 65536,
    mdl_prebucket_bins: int = 4096,
) -> dict[str, list[float]]:
    """Learn per-feature cut points in one pass over the melted frame
    (small output: p rows of cut arrays).

    ``method="equal"`` is pure Catalyst: ``percentile(x, qs)`` per feature —
    Spark's exact percentile interpolates identically to
    ``np.quantile(method="linear")`` (R type-7 / DuckDB quantile_cont), is
    map-side combined over value-count maps, and never funnels a feature's
    whole column into one Python group. ``method="mdl"`` (Fayyad–Irani
    recursive entropy partitioning) aggregates to the per-(feature, value,
    class) count histogram first — one map-side-combined shuffle — and runs
    the MDLP kernel over DISTINCT-VALUE-sized groups
    (discretize.mdl_cut_points_hist), never raw rows.

    Size gate (100 TB): a *continuous* feature has a data-sized
    distinct-value set, so without a bound one kernel task would hold the
    feature's whole histogram. Features whose approx distinct count exceeds
    ``mdl_gate_distinct`` are pre-bucketed into at most
    ``mdl_prebucket_bins`` candidate bins (boundaries from a distributed
    ``percentile_approx`` sketch over the distinct-value set, assignment via
    JVM binary search, representative value = the bucket's min) BEFORE the
    MDLP kernel, so every kernel group is bounded by
    ``mdl_prebucket_bins × classes`` cells. When every distinct value lands
    in its own bucket (always true once distinct ≤ bins, the gate's whole
    point) the result is bit-identical to the ungated path — pinned by
    tests/test_select_filters.py::test_mdl_gate_agrees_with_ungated via the
    gate=0 trick;
    above the budget, cuts land on bucket-representative midpoints (a
    documented approximation). ``mdl_gate_distinct=None`` disables the
    gate."""
    cols = typed(x_names, "double")
    if method == "equal":
        if bins < 2:
            return {c: [] for c in x_names}
        qs = [float(q) for q in np.linspace(0.0, 1.0, bins + 1)[1:-1]]
        rows = (
            melt(df, cols, outcome)
            .where(F.col("x").isNotNull())
            .groupBy("feature")
            .agg(F.percentile("x", F.lit(qs).cast("array<double>")).alias("qs"))
            .collect()
        )
        out: dict[str, list[float]] = {}
        for r in rows:
            cuts: list[float] = []
            for q in r["qs"] or []:
                # strictly-increasing dedup, as in equal_freq_cut_points
                if q is not None and (not cuts or q > cuts[-1]):
                    cuts.append(float(q))
            out[r["feature"]] = cuts
        return out

    if method != "mdl":
        raise ValueError(f"unknown cut-learning method {method!r}")

    hist = cell_counts(df, cols, outcome)
    if mdl_gate_distinct is not None:
        hist = _prebucket_oversized(hist, mdl_gate_distinct, mdl_prebucket_bins)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        feat = pdf["feature"].iloc[0]
        piv = pdf.pivot_table(
            index="x", columns="y", values="n", aggfunc="sum", fill_value=0
        ).sort_index()
        cuts = discretize.mdl_cut_points_hist(
            piv.index.to_numpy(dtype=float), piv.to_numpy(np.int64)
        )
        return pd.DataFrame({"feature": [feat], "cuts": [cuts]})

    out = (
        hist.groupBy("feature")
        .applyInPandas(kernel, schema="feature string, cuts array<double>")
        .collect()
    )
    found = {r["feature"]: list(r["cuts"]) for r in out}
    # features with no non-null (x, y) rows still get an (empty) entry so
    # downstream binning keeps them (single-bin semantics)
    return {c: found.get(c, []) for c in x_names}


def _prebucket_oversized(
    hist: DataFrame, gate: int, n_bins: int
) -> DataFrame:
    """Bound every feature's (x, y) histogram to ≤ ``n_bins`` distinct values.

    Features whose approx distinct-value count exceeds ``gate`` get their
    values collapsed onto ``n_bins`` percentile buckets: boundaries come from
    one distributed ``percentile_approx`` sketch over the feature's distinct
    values (mergeable GK summary — bounded memory at any scale, and exact
    while the value count stays under its accuracy), assignment is a JVM
    binary search (``ml.feature.Bucketizer``), and each bucket is replaced by
    its minimum actual value so that when distinct ≤ bins every value keeps
    its own bucket and the output is bit-identical to the input. The two
    driver actions (distinct counts, boundaries) reuse the histogram
    shuffle (skipped stages), so the gate costs ~nothing when it never
    fires."""
    counts = (
        hist.groupBy("feature")
        .agg(F.approx_count_distinct("x").alias("d"))
        .collect()
    )
    big = [r["feature"] for r in counts if r["d"] > gate]
    if not big:
        return hist
    from pyspark.ml.feature import Bucketizer

    accuracy = max(10000, 2 * n_bins)
    qs = [j / n_bins for j in range(1, n_bins)]
    bounds_rows = (
        hist.where(F.col("feature").isin(big))
        .select("feature", "x")
        .distinct()
        .groupBy("feature")
        .agg(
            F.percentile_approx(
                "x", F.lit(qs).cast("array<double>"), F.lit(accuracy)
            ).alias("bounds")
        )
        .collect()
    )
    splits = {
        r["feature"]: sorted({float(b) for b in (r["bounds"] or []) if b is not None})
        for r in bounds_rows
    }
    small = hist.where(~F.col("feature").isin(big))
    parts = []
    for feat in big:
        sp = splits.get(feat) or []
        part = hist.where(F.col("feature") == feat)
        if not sp:
            parts.append(part.withColumn("_bin", F.lit(0.0)))
            continue
        buck = Bucketizer(
            splits=[float("-inf"), *sp, float("inf")],
            inputCol="x",
            outputCol="_bin",
            handleInvalid="keep",  # x is never NaN here (typed maps it to NULL)
        )
        parts.append(buck.transform(part))
    bucketed = parts[0]
    for p in parts[1:]:
        bucketed = bucketed.unionByName(p)
    regrouped = bucketed.groupBy("feature", "_bin", "y").agg(
        F.sum("n").alias("n")
    )
    reps = bucketed.groupBy("feature", "_bin").agg(F.min("x").alias("x"))
    rebuilt = regrouped.join(reps, ["feature", "_bin"]).select(
        "feature", "x", "y", "n"
    )
    return small.select("feature", "x", "y", "n").unionByName(rebuilt)


def bin_code(x: Column, cuts: list[float]) -> Column:
    """Bin index of ``x`` under sorted ``cuts``: the number of cuts <= x,
    NULL for a NULL or NaN x (``not_nan``), so ``cell_counts``' NULL rule
    drops it. A pure-Catalyst array expression over literal cuts."""
    xd = not_nan(x)
    arr = F.array(*[F.lit(float(c)) for c in cuts])
    code = F.size(F.filter(arr, lambda c: xd >= c)) if cuts else F.lit(0)
    return F.when(xd.isNotNull(), code)


def binned_joint_counts(
    df: DataFrame,
    cuts: dict[str, list[float]],
    outcome: str,
) -> dict[str, np.ndarray]:
    """``cell_counts`` of every feature's ``bin_code`` under its cut points,
    collected as {feature: joint matrix}."""
    codes = {c: bin_code(F.col(quote(c)), v) for c, v in cuts.items()}
    return joint_tables(cell_counts(df, codes, outcome).toPandas())


def joint_tables(pdf: pd.DataFrame) -> dict[str, np.ndarray]:
    """Pivot a collected ``cell_counts`` (feature, x, y, n) histogram into
    per-feature joint count matrices (rows=x values, cols=classes)."""
    return {
        str(feat): g.pivot_table(
            index="x", columns="y", values="n", aggfunc="sum", fill_value=0
        ).to_numpy(dtype=float)
        for feat, g in pdf.groupby("feature")
    }
