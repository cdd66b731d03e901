"""Column roles and selector predicates.

The reference resolves tidyselect selectors (``all_predictors()``,
``all_nominal()``, ``-all_outcomes()``) against recipe metadata once at prep
time into a concrete name list (``terms_select``,
/root/reference/R/step_select_infgain.R:128-130). Here a selector is a plain
function ``(schema, roles) -> list[str]`` over the Spark ``StructType`` and a
``{column: role}`` dict; composition is by list ops, resolution happens at
prep time in ``SelectionStep.resolve``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql.types import NumericType, StringType, StructType

Selector = Callable[[StructType, dict[str, str]], list[str]]

PREDICTOR = "predictor"
OUTCOME = "outcome"
ID = "id"


def all_predictors() -> Selector:
    def sel(schema: StructType, roles: dict[str, str]) -> list[str]:
        return [f.name for f in schema.fields if roles.get(f.name) == PREDICTOR]

    return sel


def all_outcomes() -> Selector:
    def sel(schema: StructType, roles: dict[str, str]) -> list[str]:
        return [f.name for f in schema.fields if roles.get(f.name) == OUTCOME]

    return sel


def all_numeric() -> Selector:
    """Numeric (double/int/float/long) columns — R ``all_numeric()``."""

    def sel(schema: StructType, roles: dict[str, str]) -> list[str]:
        return [
            f.name for f in schema.fields if isinstance(f.dataType, NumericType)
        ]

    return sel


def all_nominal() -> Selector:
    """String columns — R factor/character ``all_nominal()``."""

    def sel(schema: StructType, roles: dict[str, str]) -> list[str]:
        return [f.name for f in schema.fields if isinstance(f.dataType, StringType)]

    return sel


def has_role(role: str) -> Selector:
    def sel(schema: StructType, roles: dict[str, str]) -> list[str]:
        return [f.name for f in schema.fields if roles.get(f.name) == role]

    return sel


def columns(*names: str) -> Selector:
    def sel(schema: StructType, roles: dict[str, str]) -> list[str]:
        present = {f.name for f in schema.fields}
        return [n for n in names if n in present]

    return sel


def resolve_terms(
    terms,
    schema: StructType,
    roles: dict[str, str],
    outcome: str,
) -> list[str]:
    """Resolve a terms spec into concrete predictor names, outcome excluded.

    ``terms`` may be None (=> all predictors), a list of column names, a
    single Selector, or a list of Selectors/names (union, order-preserving).
    """
    if terms is None:
        terms = [all_predictors()]
    if callable(terms):
        terms = [terms]
    if isinstance(terms, str):
        terms = [terms]

    out: list[str] = []
    for t in terms:
        picked = t(schema, roles) if callable(t) else [t]
        for name in picked:
            if name != outcome and name not in out:
                out.append(name)
    missing = [n for n in out if n not in {f.name for f in schema.fields}]
    if missing:
        raise ValueError(f"selected columns not in schema: {missing}")
    return out
