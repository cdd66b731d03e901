"""Boruta all-relevant selection step.

Reference: /root/reference/R/step_select_boruta.R (prep :97-133; kernel
``Boruta::Boruta`` with defaults ``pValue=0.01, mcAdj=TRUE, maxRuns=100``
(:55); keeps Confirmed **and Tentative**, excludes only
``finalDecision == "Rejected"`` (:116)).

Algorithm (Kursa & Rudnicki 2010, re-implemented Spark-first):
each run builds shadow features — seeded permutations of every real column —
fits a random forest on [real + shadow], and marks a "hit" for every real
feature whose importance exceeds max(shadow importances). After each run,
two exact binomial tail tests at p=0.5 over accumulated hits decide features,
each tail compared to pValue after Bonferroni adjustment over ALL attributes
when mcAdj (``Boruta:::TestFeatures`` semantics: ``p.adjust(pbinom(...),
"bonferroni") < pValue``). The loop stops when all features are decided or
maxRuns is reached; undecided features remain Tentative and are KEPT.

Spark plan: the training rows come from ``_mllib.training_frame(cached=True)``
— round-robin repartitioned ONCE (each partition a systematic sample of the
dataset) and cached, with one label-dictionary job that also builds the
cache; ``__label__`` carries its class count as ML-attribute metadata, so
the classifier skips its label-max job. Each run's shadow columns are a
seeded PARTITION-LOCAL permutation via mapInPandas (operators/_permute.py)
— map-only, no global sort, no join — and the shadowed frame is persisted
for the length of that run's one MLlib RF fit through ``_mllib.fit``: the
fit reads its input several times (tree metadata, the split sample, the
bagged input), and the cache makes the Python shadow pass run once per run
instead of once per read. The persist is lazy (the fit's first read builds
it; no extra ``count()``) and each run's plan has its own seed, so
concurrent runs never share a cache entry. Memory: at most 4 runs are in
flight, so at most 4 shadowed copies (rows × (2p + 1) doubles) are cached
at once, each released when its fit returns (also when it raises); the
default storage level spills to disk. The driver orchestrates ≤ maxRuns
fits (SURVEY.md §2.2 #9) with early stopping.

Parity ledger vs the R Boruta package (what is pinned, what cannot be):

* PINNED by tests: the decision rule (``Boruta:::TestFeatures`` — each
  one-sided exact-binomial tail Bonferroni-adjusted over ALL attributes and
  compared to ``pValue``, not ``pValue/2``, not undecided-only), Tentative
  features KEPT at maxRuns (step_select_boruta.R:116), early stop when all
  features are decided, and the ``extras["imp_history"]`` analogue of
  Boruta's ImpHistory (one row per run: every real importance + that run's
  max shadow importance).
* ARTIFACT (r5): the per-run (importances, max-shadow) stream from the
  REAL RF path is emitted as a committed golden file
  (tests/golden/boruta_imphistory.json) and an independent exact-rational
  ``TestFeatures`` replay re-derives the decisions from that stream alone
  (tests/test_select_models.py::test_boruta_imphistory_golden_artifact).
* NOT pinnable without R in this environment: the per-run importance VALUES
  themselves. The reference test pins exact ``exclude`` + ImpHistory under
  ``set.seed`` (tests/testthat/test_step_select_boruta.R:12-29), but those
  numbers come from ranger's permutation importance under R's RNG stream;
  MLlib RF importances are impurity-based with a different (seeded,
  deterministic-for-us) sampling stream. Decision AGREEMENT on seeded
  signal/noise frames is asserted instead (tests/test_select_models.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.regression import RandomForestRegressor
from pyspark.sql import DataFrame

from recipeselectors_spark.functions import stats
from recipeselectors_spark.operators import _mllib, _permute
from recipeselectors_spark.operators._parallel import thread_map
from recipeselectors_spark.plans.step import FittedStep, SelectionStep


class BorutaStep(SelectionStep):
    step_name = "step_select_boruta"
    prune_mode = "decision"
    maximize = True
    needs_criteria = False  # no top_p/threshold (:55), no tunable

    def __init__(
        self,
        outcome: str,
        terms=None,
        p_value: float = 0.01,
        mc_adj: bool = True,
        max_runs: int = 100,
        trees: int = 100,
        max_depth: int = 7,
        seed: int = 42,
        skip: bool = False,
    ) -> None:
        super().__init__(outcome, terms, skip=skip)
        self.p_value = p_value
        self.mc_adj = mc_adj
        self.max_runs = max_runs
        self.trees = trees
        self.max_depth = max_depth
        self.seed = seed

    def _with_shadows(self, df: DataFrame, x_names: list[str], run: int):
        """Append seeded partition-local permutations of every real column.

        ``df`` must already be round-robin mixed (done once in ``prep``);
        the permutation itself is map-only — no shuffle, no global sort.
        """
        return _permute.with_permuted(df, x_names, seed=self.seed * 1000 + run)

    def _fit_importances(
        self, df: DataFrame, all_feats: list[str], kind: str, run: int = 0
    ) -> np.ndarray:
        """One run's RF importances. ``run`` is the 1-based run number —
        passed explicitly (not derived from call order) so runs may be
        fitted CONCURRENTLY (guide §2.6) without changing what any run
        computes."""
        cls = RandomForestClassifier if kind == "classification" else RandomForestRegressor
        model = _mllib.fit(
            cls(numTrees=self.trees, maxDepth=self.max_depth, seed=self.seed),
            df, all_feats,
        )
        return model.featureImportances.toArray()

    def _earliest_decision_run(
        self, hits: dict[str, int], runs: int, undecided: list[str],
        alpha: float,
    ) -> int:
        """Smallest future run count at which ANY undecided feature could
        possibly flip to Confirmed/Rejected — assuming the most favorable
        outcomes of the runs in between (every future run a hit, or none).
        Every run up to (and including) that number is executed
        UNCONDITIONALLY by the sequential Boruta loop, so they can be
        fitted concurrently with zero speculative waste and byte-identical
        decisions: per-run importances depend only on the run number (the
        shadow seed is ``seed*1000+run``), never on other runs."""
        for r2 in range(runs + 1, self.max_runs + 1):
            extra = r2 - runs
            for c in undecided:
                if stats.binom_sf(hits[c] + extra - 1, r2, 0.5) < alpha:
                    return r2
                if stats.binom_cdf(hits[c], r2, 0.5) < alpha:
                    return r2
        return self.max_runs

    def prep(self, df: DataFrame, roles=None) -> FittedStep:
        x_names = self.resolve(df, roles)
        if not x_names:
            return self._fitted([], {})

        # one cached, round-robin mixed training frame for every run (its
        # label-dictionary job also builds the cache, so the concurrent
        # batch below reads it instead of each run recomputing it). The
        # label is numeric and the outcome dropped: every run's Arrow
        # shadow pass moves pure doubles across the Python boundary.
        tf = _mllib.training_frame(df, x_names, self.outcome, cached=True)

        hits = {c: 0 for c in x_names}
        decision = {c: "Tentative" for c in x_names}
        imp_history: list[dict[str, float]] = []
        runs = 0
        alpha = self.p_value / (len(x_names) if self.mc_adj else 1)

        def one_run(run: int) -> np.ndarray:
            shadowed, shadow_names = self._with_shadows(tf.frame, x_names, run)
            # the fit reads its input several times: one shadow pass per
            # run (lazy persist, released when the fit ends; module docstring)
            shadowed = shadowed.persist()
            try:
                return self._fit_importances(
                    shadowed, list(x_names) + shadow_names, tf.kind, run
                )
            finally:
                shadowed.unpersist()

        try:
            if tf.kind == "regression":
                # no dictionary job ran: build the cache once before the
                # batch (Spark's cache does not lock in-flight partitions)
                tf.frame.count()
            while runs < self.max_runs and any(
                d == "Tentative" for d in decision.values()
            ):
                # all runs up to the earliest-possible decision point are
                # unconditional (see _earliest_decision_run) — fit them
                # CONCURRENTLY so one fit's stage tail back-fills with the
                # next fit's tasks (guide §2.6); results are processed
                # strictly in run order below, so hits/decisions/history
                # are byte-identical to the sequential loop.
                undecided = [c for c, d in decision.items() if d == "Tentative"]
                horizon = self._earliest_decision_run(
                    hits, runs, undecided, alpha
                )
                batch = list(range(runs + 1, max(horizon, runs + 1) + 1))
                # at most 4 in flight: enough to fill stage tails, not so
                # many the fits fight for executor slots
                batch_imps = thread_map(one_run, batch, 4)

                for run, imps in zip(batch, batch_imps):
                    runs = run
                    real_imp = dict(zip(x_names, imps[: len(x_names)]))
                    shadow_max = (
                        float(np.max(imps[len(x_names):])) if len(imps) > len(x_names) else 0.0
                    )
                    imp_history.append({**real_imp, "__shadow_max__": shadow_max})
                    for c in x_names:
                        if real_imp[c] > shadow_max:
                            hits[c] += 1

                    # Boruta:::TestFeatures: each one-sided tail is
                    # Bonferroni-adjusted over ALL attributes (p.adjust
                    # method="bonferroni") and compared to pValue itself —
                    # not pValue/2, not undecided-only (ADVICE r1).
                    undecided = [
                        c for c, d in decision.items() if d == "Tentative"
                    ]
                    for c in undecided:
                        # too many hits: P(X >= hits) small → Confirmed
                        if stats.binom_sf(hits[c] - 1, runs, 0.5) < alpha:
                            decision[c] = "Confirmed"
                        # too few hits: P(X <= hits) small → Rejected
                        elif stats.binom_cdf(hits[c], runs, 0.5) < alpha:
                            decision[c] = "Rejected"
        finally:
            tf.unpersist()

        exclude = [c for c in x_names if decision[c] == "Rejected"]  # :116
        mean_imp = {
            c: float(np.mean([h[c] for h in imp_history])) if imp_history else float("nan")
            for c in x_names
        }
        return self._fitted(
            exclude,
            mean_imp,
            params={"p_value": self.p_value, "runs": runs},
            # imp_history mirrors Boruta's ImpHistory (one row per run,
            # real importances + the run's max shadow importance) — the
            # reference keeps the full Boruta result in res (:129)
            extras={
                "decision": decision,
                "hits": hits,
                "imp_history": imp_history,
            },
        )
