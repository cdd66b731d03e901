"""SelectionStep / FittedStep — the prep/bake contract.

Mirrors the reference's step lifecycle (/root/reference/R/step_select_infgain.R):

* an untrained step holds a terms selector, the outcome name, and prune
  hyperparameters (``top_p`` / ``threshold``), validated eagerly
  (misc.R:36-46 fail-fast);
* ``prep(df, roles)`` resolves selectors against the schema, computes a
  per-feature ``{variable: score}`` via a distributed scoring pass, prunes on
  the driver, and returns a ``FittedStep`` holding only ``exclude`` +
  ``scores`` (step_select_infgain.R:165-178);
* ``FittedStep.bake(df)`` drops the excluded columns — a pure Catalyst
  projection, no recomputation on new data, hence zero leakage by
  construction (step_select_infgain.R:182-187).

FittedStep is JSON-serializable for checkpoint/resume.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, NumericType

from recipeselectors_spark.functions import pruning
from recipeselectors_spark.plans import roles as roles_mod

NA = float("nan")


@dataclass
class FittedStep:
    """Trained state: the pruning decision plus the evidence behind it."""

    step_name: str
    outcome: str
    exclude: list[str]
    scores: dict[str, float]
    skip: bool = False
    params: dict[str, Any] = field(default_factory=dict)
    extras: dict[str, Any] = field(default_factory=dict)
    #: excluded whatever the prune criteria (``SelectionStep.extra_exclude``)
    forced_exclude: list[str] = field(default_factory=list)
    #: the step's prune semantics, which ``tuning.reprune`` re-applies
    prune_mode: str = "percentile"
    maximize: bool = True

    def bake(self, df: DataFrame) -> DataFrame:
        """Drop excluded columns (step_select_infgain.R:182-187). Columns not
        present are ignored, matching R's ``%in%`` mask semantics."""
        present = [c for c in self.exclude if c in df.columns]
        return df.drop(*present) if present else df

    def tidy(self) -> list[dict[str, Any]]:
        """step_select_infgain.R:205-214 — the excluded terms."""
        return [{"terms": t} for t in self.exclude]

    def __repr__(self) -> str:  # print analogue, step_select_infgain.R:190-200
        return f"<{self.step_name} trained ({len(self.exclude)} excluded)>"

    def to_json(self) -> str:
        payload = {
            "step_name": self.step_name,
            "outcome": self.outcome,
            "exclude": self.exclude,
            "scores": {
                k: (None if pruning._is_na(v) else v) for k, v in self.scores.items()
            },
            "skip": self.skip,
            "params": self.params,
            "extras": self.extras,
            "forced_exclude": self.forced_exclude,
            "prune_mode": self.prune_mode,
            "maximize": self.maximize,
        }
        return json.dumps(payload, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "FittedStep":
        d = json.loads(s)
        d["scores"] = {
            k: (NA if v is None else float(v)) for k, v in d["scores"].items()
        }
        return cls(**d)


class SelectionStep:
    """Base class for the ten selection steps.

    Subclasses implement ``score(df, x_names) -> dict[str, float]`` (the
    distributed pass) and declare ``prune_mode`` ('percentile' | 'dual')
    and ``maximize``. The prune itself is driver-side (functions/pruning.py).
    Boruta records ``prune_mode = 'decision'`` and overrides ``prep``.
    """

    step_name = "step_select_base"
    prune_mode = "percentile"
    maximize = True
    #: required predictor / outcome Spark types (recipes check_type);
    #: None accepts any
    predictor_type: type[DataType] | None = None
    outcome_type: type[DataType] | None = None
    #: require both criteria check (boruta sets False — decision-based)
    needs_criteria = True

    def __init__(
        self,
        outcome: str,
        terms=None,
        top_p=NA,
        threshold=NA,
        skip: bool = False,
    ) -> None:
        self.outcome = outcome
        self.terms = terms
        self.threshold = pruning.check_zero_one(threshold)
        self.top_p = top_p  # clamped at prep time once p is known (misc.R:16)
        self.skip = skip
        if self.needs_criteria:
            pruning.check_criteria(self.top_p, self.threshold, self.step_name)

    # -- subclass surface ---------------------------------------------------
    def score(self, df: DataFrame, x_names: list[str]) -> dict[str, float]:
        raise NotImplementedError

    def score_with_extras(
        self, df: DataFrame, x_names: list[str]
    ) -> tuple[dict[str, float], dict[str, Any]]:
        """``score`` plus fit diagnostics for ``FittedStep.extras`` —
        returned, not stored on the step, so a re-prep never inherits them."""
        return self.score(df, x_names), {}

    def check_types(self, df: DataFrame, x_names: list[str]) -> None:
        """``TypeError`` unless every predictor is a ``predictor_type`` and
        the outcome an ``outcome_type`` (recipes check_type)."""

        def kind(t: type[DataType]) -> str:
            return "numeric" if t is NumericType else "nominal"

        types = {f.name: f.dataType for f in df.schema.fields}
        want = self.predictor_type
        bad = [c for c in x_names if want and not isinstance(types[c], want)]
        if bad:
            raise TypeError(
                f"{self.step_name} requires {kind(want)} predictors: {bad}"
            )
        want = self.outcome_type
        if want and not isinstance(types[self.outcome], want):
            raise TypeError(f"{self.step_name} requires a {kind(want)} outcome")

    def extra_exclude(
        self, scores: dict[str, float], x_names: list[str]
    ) -> list[str]:
        """Hook: e.g. linear force-excludes NaN-coef features
        (step_select_linear.R:188-189)."""
        return []

    def tunable(self) -> dict[str, Any]:
        """step_select_infgain.R:217-228 — hyperparameter search spaces."""
        return {
            "top_p": {"type": "int", "range": (1, 4), "finalize": "data_dim"},
            "threshold": {"type": "double", "range": (0.0, 1.0)},
        }

    # -- lifecycle ----------------------------------------------------------
    def resolve(
        self, df: DataFrame, roles: dict[str, str] | None = None
    ) -> list[str]:
        """The concrete predictor names ``terms`` selects on ``df`` (outcome
        excluded). ``roles=None`` makes every other column a predictor."""
        if roles is None:
            roles = {
                c: (roles_mod.OUTCOME if c == self.outcome else roles_mod.PREDICTOR)
                for c in df.columns
            }
        return roles_mod.resolve_terms(self.terms, df.schema, roles, self.outcome)

    def reads(self, x_names: list[str]) -> list[str]:
        """Every column ``prep`` reads once its terms resolved to ``x_names``."""
        return [*x_names, self.outcome]

    def prep(self, df: DataFrame, roles: dict[str, str] | None = None) -> FittedStep:
        x_names = self.resolve(df, roles)
        if not x_names:
            # empty selection => pass-through (step_select_infgain.R:161-163)
            return self._fitted([], {})
        self.check_types(df, x_names)

        top_p = pruning.check_top_p(self.top_p, len(x_names))

        scores, extras = self.score_with_extras(df, x_names)
        forced = self.extra_exclude(scores, x_names)
        exclude = pruning.prune(
            scores, self.prune_mode, top_p, self.threshold, self.maximize, forced
        )

        return self._fitted(
            exclude,
            scores,
            params=pruning.criteria_params(top_p, self.threshold),
            extras=extras,
            forced_exclude=forced,
        )

    def _fitted(self, exclude, scores, **kwargs) -> FittedStep:
        """This step's ``FittedStep``, recording its prune semantics."""
        return FittedStep(
            self.step_name, self.outcome, exclude, scores, self.skip,
            prune_mode=self.prune_mode, maximize=self.maximize, **kwargs,
        )
