"""Shared MLlib plumbing for the model-based steps: one training-frame path.

``training_frame`` builds the rows every fit trains on: it selects the
predictors, the outcome and any ``keep`` columns, drops incomplete rows and
replaces the outcome by a numeric ``__label__`` — the class index from the
label dictionary (fit state, learned on train only: the leakage rule) or a
double cast for regression. A classification label carries its class
count as nominal ML-attribute metadata (``{"ml_attr": {"type": "nominal",
"num_vals": n}}``), so MLlib classifiers take the number of classes from
the schema instead of scanning the label for its maximum; the metadata
rides along through ``assemble`` and the permutation passes, which copy the
input fields.

* Single-fit callers (tree, VIP, linear, impurity forests) get the cleaned
  rows spread by ``ensure_parallelism``.
* Iterative callers (permutation forests, Boruta) pass ``cached=True`` and
  get ONE round-robin ``repartition(defaultParallelism).cache()`` — each
  partition a systematic sample of the data, which the partition-local
  permutations rely on. The label dictionary is read off that cache, so the
  job that builds the dictionary also materialises it; the label is
  projected on top (after the repartition, so the cached row layout is
  ``select(x…, outcome, keep…).dropna()`` round-robined, as always).

``fit`` assembles the predictor vector and fits an estimator on such a
frame; permutation scoring passes ``assemble`` their permuted copy of the
cached frame and never re-prepare it. All heavy lifting is MLlib's (JVM,
distributed); the driver only sees the label dictionary and the p-sized
importance vector.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import NumericType, StringType

from recipeselectors_spark.operators._parallel import ensure_parallelism


FEATURES_COL = "__features__"
LABEL_COL = "__label__"


def outcome_kind(df: DataFrame, outcome: str) -> str:
    t = {f.name: f.dataType for f in df.schema.fields}[outcome]
    if isinstance(t, NumericType):
        return "regression"
    if isinstance(t, StringType):
        return "classification"
    raise TypeError(f"unsupported outcome type {t}")


def label_mapping(df: DataFrame, outcome: str) -> dict[str, int]:
    """Deterministic label index: lexicographic class order (fit state)."""
    classes = sorted(
        r[0]
        for r in df.select(outcome).where(F.col(outcome).isNotNull()).distinct().collect()
    )
    return {c: i for i, c in enumerate(classes)}


def label_expr(outcome: str, mapping: dict[str, int] | None):
    """The label column: mapped class index (classification) or a double
    cast (regression/None mapping)."""
    if mapping is None:
        return F.col(outcome).cast("double")
    expr = F.lit(None).cast("double")
    for cls_name, idx in mapping.items():
        expr = F.when(F.col(outcome) == cls_name, float(idx)).otherwise(expr)
    return expr


@dataclass(frozen=True)
class TrainingFrame:
    """The rows a fit trains on: predictors, ``keep`` columns and a numeric
    ``__label__`` (the outcome column itself is dropped)."""

    frame: DataFrame
    kind: str  # "classification" | "regression"
    n_classes: int  # size of the label dictionary; 0 for regression
    cache: DataFrame | None = None  # the cached rows under ``frame``

    def unpersist(self) -> None:
        if self.cache is not None:
            self.cache.unpersist()


def training_frame(
    df: DataFrame,
    x_names: list[str],
    outcome: str,
    keep=(),
    cached: bool = False,
) -> TrainingFrame:
    """The one way a model step builds its training rows (module docstring).
    With ``cached=True`` the caller owns the cache: ``unpersist()`` it."""
    kind = outcome_kind(df, outcome)
    extra = [c for c in keep if c not in x_names and c != outcome]
    rows = df.select(*x_names, outcome, *extra).dropna()
    if cached:
        n_parts = df.sparkSession.sparkContext.defaultParallelism
        rows = rows.repartition(n_parts).cache()
    else:
        # MLlib tree/ensemble fits iterate over the INPUT partitioning; a
        # single-row-group parquet scan would serialize the whole fit onto
        # one core (guide §2.5) — spread narrow inputs before the fit
        rows = ensure_parallelism(rows)
    mapping = label_mapping(rows, outcome) if kind == "classification" else None
    label = label_expr(outcome, mapping)
    if mapping is not None:
        # nominal ML attribute: MLlib classifiers read the class count
        # from the schema instead of running a label-max job
        label = label.alias(
            LABEL_COL,
            metadata={"ml_attr": {"type": "nominal", "num_vals": len(mapping)}},
        )
    frame = rows.withColumn(LABEL_COL, label).drop(outcome)
    return TrainingFrame(
        frame, kind, len(mapping) if mapping else 0, rows if cached else None
    )


def assemble(frame: DataFrame, x_names: list[str]) -> DataFrame:
    """``frame`` plus the predictor vector column the estimators read."""
    return VectorAssembler(
        inputCols=list(x_names), outputCol=FEATURES_COL, handleInvalid="skip"
    ).transform(frame)


def fit(estimator: Any, frame: DataFrame, x_names: list[str]) -> Any:
    """Assemble ``x_names`` of a training frame and fit ``estimator``."""
    estimator = estimator.setFeaturesCol(FEATURES_COL).setLabelCol(LABEL_COL)
    return estimator.fit(assemble(frame, x_names))
