"""Random-forest importance selection step.

Reference: /root/reference/R/step_select_forests.R (prep :140-201; default
engine ranger with ``importance='permutation'`` :73-74; mode inferred from
the outcome type :156; tunable mtry/trees/min_n :242-256; prune via
``select_percentile``, maximize).

MLlib mapping: RandomForestClassifier/Regressor ``featureImportances``
(Gini / variance gain) as the default; ``importance='permutation'`` computes
true permutation importance — per-feature score drop after shuffling that
column (distributed: one scored pass per feature over a seeded per-partition
permutation; documented Gini-vs-permutation delta per SURVEY.md §7/M3).
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.regression import RandomForestRegressor
from pyspark.sql import DataFrame, functions as F

from recipeselectors_spark.operators import _mllib, _permute
from recipeselectors_spark.operators.importance import pull_importances
from recipeselectors_spark.plans.step import SelectionStep


class ForestsStep(SelectionStep):
    step_name = "step_select_forests"
    prune_mode = "percentile"
    maximize = True

    def __init__(
        self,
        outcome: str,
        terms=None,
        top_p=float("nan"),
        threshold=float("nan"),
        trees: int = 100,
        mtry: int | None = None,
        min_n: int = 1,
        max_depth: int = 10,
        max_bins: int | None = None,
        bootstrap: bool = True,
        importance: str = "impurity",  # impurity | permutation
        permute: str = "local",  # local | rotation
        permute_ids: list[str] | None = None,
        permute_bucket_chars: int = 3,
        seed: int = 42,
        skip: bool = False,
    ) -> None:
        super().__init__(outcome, terms, top_p, threshold, skip)
        self.trees = trees
        self.mtry = mtry
        self.min_n = min_n
        self.max_depth = max_depth
        self.max_bins = max_bins
        self.bootstrap = bootstrap
        self.importance = importance
        self.permute = permute
        self.permute_ids = permute_ids
        self.permute_bucket_chars = permute_bucket_chars
        self.seed = seed
        if permute == "rotation" and not permute_ids:
            raise ValueError(
                "permute='rotation' needs permute_ids (a row-unique key) — "
                "the content-deterministic permutation orders rows by "
                "md5(seed|ids)"
            )

    def _estimator(self, kind: str):
        cls = RandomForestClassifier if kind == "classification" else RandomForestRegressor
        kwargs = dict(
            numTrees=self.trees,
            minInstancesPerNode=self.min_n,
            maxDepth=self.max_depth,
            seed=self.seed,
            bootstrap=self.bootstrap,
        )
        if self.max_bins is not None:
            kwargs["maxBins"] = self.max_bins
        if self.mtry is not None:
            kwargs["featureSubsetStrategy"] = str(self.mtry)
        return cls(**kwargs)

    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        return self.score_with_extras(df, x_names)[0]

    def score_with_extras(self, df: DataFrame, x_names: list[str]):
        if self.importance == "impurity":
            assembled, kind = _mllib.prepare(df, x_names, self.outcome)
            model = _mllib.fit_estimator(self._estimator(kind), assembled)
            return pull_importances(model, x_names, scaled=True), {}
        # permutation: fit FROM the cached/mixed frame the scoring passes
        # use anyway — one scan + one label-dictionary job for the whole
        # step instead of a separate uncached prepare for the fit (every
        # MLlib internal pass then reads executor memory, not parquet)
        scores, baseline = self._permutation_importance(
            df, None, x_names, _mllib.outcome_kind(df, self.outcome)
        )
        # the unpermuted metric the deltas are measured against —
        # diagnostics + lets callers report scale-free relative drops
        return scores, {"baseline_metric": baseline}

    def reads(self, x_names: list[str]) -> list[str]:
        ids = self.permute_ids if self.permute == "rotation" else []
        return [*super().reads(x_names), *ids]

    def _metric(self, model, scored_input: DataFrame, kind: str) -> float:
        pred = model.transform(scored_input)
        if kind == "classification":
            return (
                pred.select(
                    F.avg(
                        (F.col(_mllib.LABEL_COL) == F.col("prediction")).cast("double")
                    ).alias("m")
                ).collect()[0]["m"]
            )
        return pred.select(
            (-F.avg((F.col(_mllib.LABEL_COL) - F.col("prediction")) ** 2)).alias("m")
        ).collect()[0]["m"]

    def _permutation_importance(
        self, df: DataFrame, model, x_names: list[str], kind: str
    ) -> tuple[dict[str, float], float]:
        """Baseline metric minus metric after per-column permutation, and
        the baseline metric itself.

        ``permute='local'`` (default): the input is round-robin
        repartitioned ONCE (each partition a systematic sample of the
        dataset, dispersing any global ordering) and cached; each feature's
        permutation is then a seeded PARTITION-LOCAL shuffle of that column
        via mapInPandas (operators/_permute.py) — map-only scoring pass per
        feature, no global sort, no join, nothing single-partition.

        ``permute='rotation'``: content-deterministic cyclic rotation in
        md5(seed|ids) order within hash buckets (_permute.rotate_columns) —
        one bounded exchange per feature, layout-invariant, SQL-replayable
        (the driver oracle replays it). Requires ``permute_ids``.
        """
        base_cols = list(x_names) + [self.outcome]
        if self.permute == "rotation":
            sel = base_cols + [c for c in self.permute_ids if c not in base_cols]
            clean = df.select(*sel).dropna().cache()
        else:
            n_parts = df.sparkSession.sparkContext.defaultParallelism
            clean = df.select(*base_cols).dropna().repartition(n_parts).cache()
        # label dictionary once — the outcome column is untouched by the
        # per-feature permutations, so every pass shares the same mapping
        mapping = (
            _mllib.label_mapping(clean, self.outcome)
            if kind == "classification"
            else None
        )
        assembled, _ = _mllib.prepare(clean, x_names, self.outcome, mapping=mapping)
        if model is None:
            model = _mllib.fit_estimator(self._estimator(kind), assembled)
        baseline = self._metric(model, assembled, kind)

        def one_feature(args: tuple[int, str]) -> float:
            i, c = args
            if self.permute == "rotation":
                # x+outcome as numeric tiebreaks: rows colliding in the
                # md5 key AND every scored column are interchangeable
                shuffled = _permute.rotate_columns(
                    clean, [c], self.permute_ids, seed=self.seed + i,
                    bucket_chars=self.permute_bucket_chars,
                    tiebreak_cols=base_cols,
                )
            else:
                shuffled = _permute.permute_columns(clean, [c], seed=self.seed + i)
            assembled_i, _ = _mllib.prepare(
                shuffled, x_names, self.outcome, mapping=mapping
            )
            return float(baseline - self._metric(model, assembled_i, kind))

        # the per-feature scoring passes are independent reads of the
        # cached frame — run a few concurrently so one pass's stage tail
        # back-fills with the next pass's tasks (guide §2.6); each result
        # depends only on (feature, seed+i), so output is order-invariant
        items = list(enumerate(x_names))
        if len(items) > 1:
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            with ThreadPoolExecutor(max_workers=min(3, len(items))) as pool:
                deltas = list(
                    pool.map(inheritable_thread_target(one_feature), items)
                )
        else:
            deltas = [one_feature(items[0])]
        out = dict(zip(x_names, deltas))
        clean.unpersist()
        return out, baseline

    def tunable(self):
        base = super().tunable()
        base["mtry"] = {"type": "int", "range": (1, 20), "finalize": "data_dim"}
        base["trees"] = {"type": "int", "range": (1, 2000)}
        base["min_n"] = {"type": "int", "range": (2, 40)}
        return base
