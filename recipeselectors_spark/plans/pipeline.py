"""Recipe / FittedRecipe — ordered step lists with prep/bake/juice.

Mirrors the recipes accumulation contract (``add_step``, reference
R/step_select_infgain.R:83-99): ``prep`` gives every step the training data
*as transformed by all prior steps* (evidenced by reference
tests/testthat/test_step_select_linear.R:13-17); ``bake`` applies only stored
decisions. ``juice`` = bake on the training set.

``prep`` keeps that contract while fitting steps in *waves*: a run of
consecutive ``SelectionStep``s whose columns cannot touch one another is
prepped concurrently on the wave's input frame (see ``Recipe.prep``), so the
small Spark jobs and driver work of independent steps overlap instead of
leaving cores idle. The fitted steps are appended and baked in recipe order,
so the result is the one the step-by-step loop gives.

Steps may be SelectionSteps (prep/bake) or plain transform steps exposing
``transform(df) -> df`` (e.g. normalize, feature assembly) — those are
stateless pass-throughs at bake unless they implement prep themselves.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Any

from pyspark.sql import DataFrame

from recipeselectors_spark.operators._parallel import inherit
from recipeselectors_spark.plans.step import FittedStep, SelectionStep


class NormalizeStep:
    """z-score normalization of the given columns — a minimal analogue of
    recipes::step_normalize, needed because the linear step's reference test
    normalizes first (test_step_select_linear.R:13). Fit state = per-column
    mean/std from training (leakage-safe)."""

    step_name = "step_normalize"

    def __init__(self, cols: list[str] | None = None):
        self.cols = cols

    def prep(self, df: DataFrame, roles=None) -> "FittedNormalize":
        from pyspark.sql import functions as F
        from pyspark.sql.types import NumericType

        cols = self.cols or [
            f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)
        ]
        aggs = []
        for c in cols:
            aggs += [F.avg(c).alias(f"{c}__mu"), F.stddev_samp(c).alias(f"{c}__sd")]
        row = df.agg(*aggs).collect()[0].asDict()
        stats = {
            c: (row[f"{c}__mu"], row[f"{c}__sd"] or 1.0) for c in cols
        }
        return FittedNormalize(stats)


class FittedNormalize:
    step_name = "step_normalize"
    exclude: list[str] = []

    def __init__(self, stats: dict[str, tuple[float, float]]):
        self.stats = stats

    def bake(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        for c, (mu, sd) in self.stats.items():
            if c in df.columns:
                df = df.withColumn(c, (F.col(c) - F.lit(mu)) / F.lit(sd if sd else 1.0))
        return df


class Recipe:
    """An untrained ordered list of steps bound to a roles map."""

    def __init__(self, roles: dict[str, str] | None = None):
        self.roles = roles
        self.steps: list[Any] = []

    def add(self, step: Any) -> "Recipe":
        self.steps.append(step)
        return self

    def prep(self, training: DataFrame) -> "FittedRecipe":
        """Fit every step, each on the data baked by all earlier steps.

        Steps are prepped in waves. A wave is a run of consecutive
        ``SelectionStep``s in which each step's ``reads`` (its resolved
        terms plus its outcome) is disjoint from the resolved terms of the
        earlier steps of the wave; terms resolve against the wave's input.
        A non-selection step, a step that overlaps the wave or a step whose
        terms fail to resolve starts a new wave. The steps of a wave are
        prepped concurrently on the wave's input frame, one thread each
        (local properties, job group included, and job tags inherited);
        their fitted steps are then appended and baked strictly in recipe
        order. The first
        exception in recipe order is the one raised; like the fits of steps
        after it, any later exception is discarded, as the step-by-step loop
        would never have run those steps.

        Why this equals the sequential loop: a fitted step's ``bake`` only
        drops columns of its ``exclude``, a subset of its own terms, and a
        step's prep reads only its ``reads`` columns. Disjointness means no
        earlier step of the wave can drop or change anything a later step
        reads. Selectors filter the schema, so dropping columns a step did
        not pick leaves its resolution unchanged; that is re-checked on the
        baked frame before a step's result is taken, and a step that
        resolves differently is re-planned from there, on the baked frame.

        Memory: the steps of a wave cache only their own columns, which are
        disjoint, so together they hold at most one copy of the training
        columns plus one outcome column per step.
        """
        fitted: list[Any] = []
        current = training
        i = 0
        while i < len(self.steps):
            wave = self._wave(i, current)
            if len(wave) > 1:
                with ThreadPoolExecutor(max_workers=len(wave)) as pool:
                    # one wrapper per step: each thread gets its own copy of
                    # the caller's local properties and the caller's job tags
                    futures = [
                        pool.submit(inherit(step.prep), current, self.roles)
                        for step, _ in wave
                    ]
                results = [fut.result for fut in futures]
            else:
                results = [partial(_prep_step, wave[0][0], current, self.roles)]
            for k, ((step, terms), result) in enumerate(zip(wave, results)):
                if k and _resolve_or_none(step, current, self.roles) != terms:
                    break  # a selector that is not a schema filter: re-plan
                f = result()
                fitted.append(f)
                current = f.bake(current)
                i += 1
        return FittedRecipe(fitted, training=current)

    def _wave(self, start: int, df: DataFrame) -> list[tuple[Any, list[str] | None]]:
        """The longest run of steps from ``start`` that may be prepped
        concurrently on ``df``, each with its resolved terms (at least the
        step at ``start``; its terms are None unless it is a SelectionStep
        that resolves)."""
        wave: list[tuple[Any, list[str] | None]] = []
        claimed: set[str] = set()
        for step in self.steps[start:]:
            if not isinstance(step, SelectionStep):
                break
            terms = _resolve_or_none(step, df, self.roles)
            if terms is None or claimed.intersection(step.reads(terms)):
                break
            wave.append((step, terms))
            claimed.update(terms)
        return wave or [(self.steps[start], None)]


def _resolve_or_none(step: SelectionStep, df: DataFrame, roles) -> list[str] | None:
    try:
        return step.resolve(df, roles)
    except Exception:
        # any error a selector raises: the step then preps alone, and its own
        # prep raises the error again after every earlier step has run
        return None


def _prep_step(step: Any, df: DataFrame, roles) -> Any:
    if hasattr(step, "prep"):
        return step.prep(df, roles)
    if hasattr(step, "transform"):
        return _TransformAdapter(step)
    raise TypeError(f"step {step!r} has neither prep nor transform")


class _TransformAdapter:
    """Wraps a stateless transform as a fitted step."""

    step_name = "transform"
    exclude: list[str] = []

    def __init__(self, step: Any):
        self.step = step

    def bake(self, df: DataFrame) -> DataFrame:
        return self.step.transform(df)


class FittedRecipe:
    def __init__(self, steps: list[Any], training: DataFrame | None = None):
        self.steps = steps
        self._training = training

    def bake(self, new_data: DataFrame) -> DataFrame:
        """Apply stored decisions only. Steps fitted with ``skip=True`` are
        applied during prep but skipped at bake (step_select_infgain.R:36-40)."""
        df = new_data
        for f in self.steps:
            if getattr(f, "skip", False):
                continue
            df = f.bake(df)
        return df

    def juice(self) -> DataFrame:
        """The retained training data (bake on train, skip honored during
        prep already) — test_step_select_infgain.R:24."""
        if self._training is None:
            raise ValueError("recipe was not prepped with retain")
        return self._training

    @property
    def exclude(self) -> list[str]:
        out: list[str] = []
        for f in self.steps:
            for c in getattr(f, "exclude", []):
                if c not in out:
                    out.append(c)
        return out

    def tidy(self) -> list[dict[str, Any]]:
        return [
            {"step": f.step_name, "excluded": list(getattr(f, "exclude", []))}
            for f in self.steps
        ]

    def to_json(self) -> str:
        parts = []
        for f in self.steps:
            if isinstance(f, FittedStep):
                parts.append({"kind": "selection", "data": json.loads(f.to_json())})
            elif isinstance(f, FittedNormalize):
                parts.append({"kind": "normalize", "data": f.stats})
            else:
                raise TypeError(f"cannot serialize fitted step {f!r}")
        return json.dumps(parts)

    @classmethod
    def from_json(cls, s: str) -> "FittedRecipe":
        steps: list[Any] = []
        for part in json.loads(s):
            if part["kind"] == "selection":
                steps.append(FittedStep.from_json(json.dumps(part["data"])))
            elif part["kind"] == "normalize":
                steps.append(
                    FittedNormalize({k: tuple(v) for k, v in part["data"].items()})
                )
        return cls(steps)


__all__ = ["Recipe", "FittedRecipe", "NormalizeStep", "SelectionStep"]
