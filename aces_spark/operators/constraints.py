"""Constraint filtering — the engine's WHERE/HAVING (SURVEY §2.3).

Reimplements:
  * ``check_constraints`` — reference ``src/aces/constraints.py:12-119``:
    conjunctive inclusive count-range filter over window-summary rows.
  * ``check_static_variables`` — reference
    ``src/aces/constraints.py:122-185``: keep subjects whose null-timestamp
    (static/demographic) rows satisfy ALL listed demographics, then drop the
    static rows and demographic columns.

Both are pure Column-expression filters (no UDFs, no actions) so Catalyst
can push them down; the static filter is a per-subject windowed ANY, which
keeps the plan join-free and reuses the subject_id partitioning.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..types import ANY_EVENT_COLUMN


def constraints_hold(
    window_constraints: dict[str, tuple[int | None, int | None]], prefix: str = ""
) -> Column:
    """True where every predicate count (column ``{prefix}{name}``) lies in
    its constraint's inclusive ``(min, max)`` range; ``None`` endpoints are
    unbounded and ``"*"`` aliases the any-event column (reference
    ``src/aces/constraints.py:95-119``)."""
    should_drop = F.lit(False)

    for col, (valid_min_inc, valid_max_inc) in window_constraints.items():
        if (valid_min_inc is None and valid_max_inc is None) or (
            valid_min_inc is not None and valid_max_inc is not None and valid_max_inc < valid_min_inc
        ):
            raise ValueError(f"Invalid constraint for '{col}': {valid_min_inc} - {valid_max_inc}")

        if col == "*":
            col = ANY_EVENT_COLUMN

        if valid_min_inc is not None:
            should_drop = should_drop | (F.col(f"{prefix}{col}") < valid_min_inc)
        if valid_max_inc is not None:
            should_drop = should_drop | (F.col(f"{prefix}{col}") > valid_max_inc)

    return ~should_drop


def check_constraints(
    window_constraints: dict[str, tuple[int | None, int | None]],
    summary_df: DataFrame,
) -> DataFrame:
    """Filter rows whose predicate counts fall outside any constraint's
    range (see :func:`constraints_hold`).

    Unlike the reference, no per-constraint row counts are materialized
    (those would be eager actions on a 100 TB input); exclusion counts are
    observable via the Spark UI instead.
    """
    return summary_df.filter(constraints_hold(window_constraints))


def check_static_variables(patient_demographics: list[str], predicates_df: DataFrame) -> DataFrame:
    """Keep only subjects where, for EVERY listed demographic, some
    null-timestamp row has a positive count; then drop null-timestamp rows
    and the demographic columns (reference
    ``src/aces/constraints.py:122-185``).

    Spark formulation: per-subject ``max(when(ts is null & col > 0, 1))``
    windowed ANY (SURVEY §2.3 C2) — semi-join semantics without a join.
    """
    for demographic in patient_demographics:
        if demographic not in predicates_df.columns:
            raise ValueError(f"Static predicate '{demographic}' not found in the predicates dataframe.")

    w_subj = Window.partitionBy("subject_id")
    constraints = [
        F.max(
            F.when(F.col("timestamp").isNull() & (F.col(demographic) > 0), F.lit(1)).otherwise(F.lit(0))
        ).over(w_subj)
        == 1
        for demographic in patient_demographics
    ]
    keep = reduce(lambda a, b: a & b, constraints)

    # window functions cannot appear in a WHERE clause — materialize the
    # per-subject flag as a column first, then filter on it
    return (
        predicates_df.withColumn("__keep_subject", keep)
        .filter(F.col("__keep_subject"))
        .filter(F.col("timestamp").isNotNull())
        .drop("__keep_subject", *patient_demographics)
    )
