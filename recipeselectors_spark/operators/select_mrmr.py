"""mRMR (max-relevance min-redundancy) selection step.

Reference: /root/reference/R/step_select_mrmr.R (prep :116-165; kernel
``praznik::MRMR`` at :129-136 with ``k = p`` so all features are ranked
(:134); greedy score at selection time: score_i = I(Xi;Y) − mean_{s∈S}
I(Xi;Xs); prune via ``select_percentile``, maximize).

Spark plan: discretize numeric predictors once (equal-frequency bins — the MI
estimator's binning, ``_scoring.bin_code``; nominal predictors use their
levels, after the same ID-like-column guard as xtab and infgain), materialize
a compact per-row *codes* frame, cache it. Relevance I(Xi;Y) for all i = one
melted shuffle, pivoted by ``_scoring.joint_tables``. Redundancy is ONE
pass: ALL pairwise MIs in one double-exploded ``groupBy(i, va, j, vb)
.count()`` shuffle; the greedy loop then runs purely driver-side over the
MI matrix. One relevance pass and one redundancy pass at every p.

Cost, at p predictors: the map side emits p(p-1)/2 (index, code) pairs per
row — the same total as p per-selected-feature melts would emit over p jobs
(Σ(p−k) = p(p−1)/2), so no other path is kept. The map-side combine holds
per-partition aggregate state of up to p(p-1)/2 × bins² keys (about 4.5M at
p = 300, bins = 10); that state's memory is not measured.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from recipeselectors_spark.functions import stats
from recipeselectors_spark.operators import _scoring
from recipeselectors_spark.plans.step import SelectionStep


class MrmrStep(SelectionStep):
    step_name = "step_select_mrmr"
    prune_mode = "percentile"
    maximize = True

    def __init__(
        self,
        outcome: str,
        terms=None,
        top_p=float("nan"),
        threshold=float("nan"),
        bins: int = 10,
        skip: bool = False,
    ) -> None:
        super().__init__(outcome, terms, top_p, threshold, skip)
        self.bins = bins

    def _codes_frame(self, df: DataFrame, x_names: list[str]) -> DataFrame:
        """Per-row string codes for every predictor + the outcome."""
        num = _scoring.numeric_cols(df, x_names)
        cuts = (
            _scoring.learn_numeric_cuts(
                df, num, self.outcome, method="equal", bins=self.bins
            )
            if num
            else {}
        )
        cols = []
        for c in x_names:
            x = F.col(_scoring.quote(c))
            code = _scoring.bin_code(x, cuts.get(c, [])) if c in num else x
            # a NULL predictor value is its own level, "-1"
            cols.append(F.coalesce(code.cast("string"), F.lit("-1")).alias(c))
        cols.append(F.col(_scoring.quote(self.outcome)).cast("string").alias("__y__"))
        return df.select(*cols)

    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        nom = _scoring.nominal_cols(df, x_names)
        if nom:  # fail fast on an ID-like column before any cell table
            _scoring.nominal_cell_counts(df, nom, self.outcome)
        codes = self._codes_frame(df, x_names).cache()
        try:
            return self._greedy(codes, x_names)
        finally:
            codes.unpersist()

    def _relevance(self, codes: DataFrame, x_names: list[str]) -> dict[str, float]:
        """I(Xi; Y) for all i in one melted shuffle."""
        cols = {c: F.col(_scoring.quote(c)) for c in x_names}
        pdf = _scoring.cell_counts(codes, cols, "__y__").toPandas()
        tables = _scoring.joint_tables(pdf)
        return {f: stats.mutual_information(t) for f, t in tables.items()}

    def _pairwise_mi(
        self, codes: DataFrame, x_names: list[str]
    ) -> dict[tuple[str, str], float]:
        """ALL pairwise I(Xi;Xj) in one shuffle: explode each row into its
        p(p-1)/2 (feature, code) struct pairs, count the joint cells with a
        map-side-combined groupBy, pivot driver-side. The cell space is
        pairs × bins² — tiny regardless of row count."""
        # the exploded tuples carry FEATURE INDICES, not name strings — the
        # shuffled pair stream is (tinyint, code, tinyint, code); names are
        # mapped back on the p²-sized driver frame (measured ~2× cheaper
        # than struct-of-strings tuples at p=8 × 3.2M rows)
        arr = F.array(*[F.col(c) for c in x_names])
        pairs = (
            codes.select(F.posexplode(arr).alias("i", "va"), arr.alias("__arr__"))
            .select("i", "va", F.posexplode("__arr__").alias("j", "vb"))
            .where(F.col("i") < F.col("j"))
        )
        pdf = (
            pairs.groupBy("i", "va", "j", "vb")
            .agg(F.count("*").alias("n"))
            .toPandas()
        )
        out: dict[tuple[str, str], float] = {}
        for (i, j), g in pdf.groupby(["i", "j"]):
            tab = g.pivot_table(
                index="va", columns="vb", values="n", aggfunc="sum", fill_value=0
            ).to_numpy(dtype=float)
            # store BOTH orientations: the greedy loop sums each table with
            # the CANDIDATE on the rows, as the oracle does (MI is symmetric,
            # but float summation order differs under transpose)
            out[(x_names[int(i)], x_names[int(j)])] = stats.mutual_information(tab)
            out[(x_names[int(j)], x_names[int(i)])] = stats.mutual_information(tab.T)
        return out

    def _greedy(self, codes: DataFrame, x_names: list[str]) -> dict[str, float]:
        relevance = self._relevance(codes, x_names)
        relevance = {c: relevance.get(c, 0.0) for c in x_names}
        pair_mi = self._pairwise_mi(codes, x_names) if len(x_names) > 1 else {}

        selected: list[str] = []
        scores: dict[str, float] = {}
        redundancy_sum = {c: 0.0 for c in x_names}
        remaining = list(x_names)

        first = max(remaining, key=lambda c: relevance[c])
        scores[first] = relevance[first]
        selected.append(first)
        remaining.remove(first)

        while remaining:
            for c in remaining:
                redundancy_sum[c] += pair_mi.get((c, selected[-1]), 0.0)
            k = len(selected)
            cand = {
                c: relevance[c] - redundancy_sum[c] / k for c in remaining
            }
            best = max(cand, key=lambda c: cand[c])
            scores[best] = cand[best]
            selected.append(best)
            remaining.remove(best)
        return {c: float(scores[c]) for c in x_names}
