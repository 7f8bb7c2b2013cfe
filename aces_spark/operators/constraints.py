"""Constraint filtering — the engine's WHERE/HAVING (SURVEY §2.3).

Reimplements:
  * ``check_constraints`` — reference ``src/aces/constraints.py:12-119``:
    conjunctive inclusive count-range filter over window-summary rows.
  * ``check_static_variables`` — reference
    ``src/aces/constraints.py:122-185``: keep subjects whose null-timestamp
    (static/demographic) rows satisfy ALL listed demographics, then drop the
    static rows and demographic columns.

Both are pure SQL-expression filters (no UDFs, no actions) so Catalyst
can push them down; the static filter is a per-subject windowed ANY, which
keeps the plan join-free and reuses the subject_id partitioning.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..types import ANY_EVENT_COLUMN
from ..utils import ident


def constraints_sql(
    window_constraints: dict[str, tuple[int | None, int | None]],
    count: Callable[[str], str],
) -> str:
    """SQL text: true where every predicate count lies in its constraint's
    inclusive ``(min, max)`` range; ``None`` endpoints are unbounded and
    ``"*"`` aliases the any-event column (reference
    ``src/aces/constraints.py:95-119``). ``count(name)`` is the SQL text of
    predicate ``name``'s count."""
    should_drop = []
    for col, (valid_min_inc, valid_max_inc) in window_constraints.items():
        if (valid_min_inc is None and valid_max_inc is None) or (
            valid_min_inc is not None and valid_max_inc is not None and valid_max_inc < valid_min_inc
        ):
            raise ValueError(f"Invalid constraint for '{col}': {valid_min_inc} - {valid_max_inc}")

        value = count(ANY_EVENT_COLUMN if col == "*" else col)
        if valid_min_inc is not None:
            should_drop.append(f"({value}) < {valid_min_inc}")
        if valid_max_inc is not None:
            should_drop.append(f"({value}) > {valid_max_inc}")

    return f"NOT ({' OR '.join(should_drop)})" if should_drop else "true"


def constraints_hold(
    window_constraints: dict[str, tuple[int | None, int | None]], prefix: str = ""
) -> Column:
    """:func:`constraints_sql` over the columns ``{prefix}{name}``, as a
    Column."""
    return F.expr(constraints_sql(window_constraints, lambda c: ident(f"{prefix}{c}")))


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

    Spark formulation: per-subject ``max(CASE WHEN ts IS NULL AND col > 0
    THEN 1 ELSE 0 END)`` windowed ANY (SURVEY §2.3 C2) — semi-join
    semantics without a join.
    """
    columns = predicates_df.columns
    for demographic in patient_demographics:
        if demographic not in columns:
            raise ValueError(f"Static predicate '{demographic}' not found in the predicates dataframe.")

    keep = " AND ".join(
        f"max(CASE WHEN `timestamp` IS NULL AND {ident(d)} > 0 THEN 1 ELSE 0 END) "
        "OVER (PARTITION BY subject_id) = 1"
        for d in patient_demographics
    )

    # window functions cannot appear in a WHERE clause — materialize the
    # per-subject flag as a column first, then filter on it
    return (
        predicates_df.selectExpr("*", f"{keep} AS __keep_subject")
        .filter("__keep_subject AND `timestamp` IS NOT NULL")
        .drop("__keep_subject", *patient_demographics)
    )
