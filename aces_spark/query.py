"""Query orchestration (SURVEY §3.3; reference ``src/aces/query.py:19-197``).

``query(cfg, predicates_df)`` runs the full pipeline lazily:

1. validate ``(subject_id, timestamp)`` uniqueness (the reference always
   does, ``query.py:110-115``; here the default is ``"auto"`` — skip it for
   frames whose loader collapsed events, run the eager check when
   Catalyst's size estimate for the input is below a threshold, skip with a
   logged notice above it, since the check is a full aggregation pass over
   a 100 TB input);
2. static/demographic filter OR drop null-timestamp rows
   (``query.py:121-127``);
3. trigger anchors and the whole window tree in one windowed scan over the
   ``subject_id``-partitioned frame (``plans/fused.py``);
4. in one projection: rename the anchor to ``trigger``, extract
   ``label`` / ``index_timestamp`` from their windows' struct summaries
   (``query.py:153-196``) and order the output columns in window-tree
   pre-order (``query.py:155-159``).

Nothing is cached and no session conf is touched: the plan is one hash
exchange on ``subject_id`` followed by window operators. Every stage is
SQL expression text applied with one ``selectExpr`` (see
``operators/aggregate.py``), so building the plan costs a few py4j calls
per stage rather than one per expression node.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .config import TaskExtractorConfig
from .operators.constraints import check_static_variables
from .plans.fused import ANCHOR, KEEP, extract_tree
from .utils import ident, preorder_iter

logger = logging.getLogger(__name__)


def _estimated_plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the optimized plan (parquet footer
    sizes propagate through it), or None when it is unknown — the backend
    doesn't expose the JVM plan (Spark Connect), or the estimate is the
    Long.MaxValue "no idea" sentinel (Arrow-built local relations)."""
    try:  # pragma: no cover - depends on backend internals
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return None if est >= (1 << 62) else est


def _has_duplicate_keys(df: DataFrame) -> bool:
    """True iff some ``(subject_id, timestamp)`` key (nulls included,
    matching the reference's ``n_unique`` semantics) occurs twice. One
    partial-aggregated pass; ``isEmpty`` stops at the first offender."""
    dups = (
        df.groupBy("subject_id", "timestamp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
    )
    return not dups.isEmpty()


#: Above this Catalyst size estimate, ``validate_uniqueness="auto"`` skips
#: the eager check (it is a full aggregation pass over the input).
UNIQUENESS_AUTO_MAX_BYTES = 8 << 30


def query(
    cfg: TaskExtractorConfig,
    predicates_df: DataFrame,
    validate_uniqueness: bool | str = "auto",
) -> DataFrame:
    """Extract the cohort realizations for ``cfg`` from ``predicates_df``.

    Returns one row per valid trigger realization with columns
    ``subject_id``, optional ``index_timestamp``, optional ``label``,
    ``trigger`` (anchor timestamp), then one struct column per window-tree
    node in pre-order (reference ``src/aces/query.py:155-197``).

    ``validate_uniqueness``: ``"auto"`` (default) runs the reference's
    mandatory ``(subject_id, timestamp)`` uniqueness check
    (``src/aces/query.py:110-115``) when the input's estimated size is
    under :data:`UNIQUENESS_AUTO_MAX_BYTES`, and skips it with a logged
    notice above that (un-collapsed events would silently corrupt window
    counts, so force with ``True`` if provenance is uncertain).
    """
    if validate_uniqueness == "auto":
        if getattr(predicates_df, "_aces_keys_unique", False):
            # the loader collapsed events with groupBy(subject_id,
            # timestamp) — unique by construction, nothing to re-check
            do_validate = False
        else:
            # skip only for provably-large inputs (parquet scans report
            # real sizes); an UNKNOWN size means a hand-built local frame
            # — exactly the un-collapsed-input case the check exists for
            est = _estimated_plan_bytes(predicates_df)
            do_validate = est is None or est <= UNIQUENESS_AUTO_MAX_BYTES
            if not do_validate:
                logger.info(
                    "Skipping (subject_id, timestamp) uniqueness validation "
                    "(input estimated at %s bytes); pass validate_uniqueness=True to force.",
                    est,
                )
    else:
        do_validate = bool(validate_uniqueness)
    if do_validate:
        logger.info("Checking if '(subject_id, timestamp)' columns are unique...")
        if _has_duplicate_keys(predicates_df):
            raise ValueError("The (subject_id, timestamp) columns must be unique.")

    static_variables = [p for p in cfg.predicates if cfg.predicates[p].static]
    if static_variables:
        predicates_df = check_static_variables(static_variables, predicates_df)
    else:
        predicates_df = predicates_df.filter("subject_id IS NOT NULL AND `timestamp` IS NOT NULL")

    result = extract_tree(
        cfg.window_tree, predicates_df, f"{ident(cfg.trigger.predicate)} >= 1"
    )

    def summary_field(window_name: str, field: str) -> str:
        side = "end" if cfg.windows[window_name].root_node == "start" else "start"
        return f"{ident(f'{window_name}.{side}_summary')}.{ident(field)}"

    # rename, label, index and column order in one projection
    out = ["subject_id", f"{ident(ANCHOR)} AS `trigger`"]
    if cfg.label_window:
        label = summary_field(cfg.label_window, cfg.windows[cfg.label_window].label)
        out.insert(1, f"{label} AS `label`")
    if cfg.index_timestamp_window:
        side = cfg.windows[cfg.index_timestamp_window].index_timestamp
        index = summary_field(cfg.index_timestamp_window, f"timestamp_at_{side}")
        out.insert(1, f"{index} AS `index_timestamp`")
    out += [ident(f"{node.node_name}_summary") for node in preorder_iter(cfg.window_tree)][1:]
    return result.filter(ident(KEEP)).selectExpr(*out)


def cohort_stats_aggs(has_label: bool, label_col: str = "label") -> list[Column]:
    """The cohort sanity aggregates, shared by :func:`report_cohort_stats`
    and the CLI's observed write: rows, ~subjects (``approx_count_distinct``
    — an exact distinct on 100 TB of output would shuffle every subject_id,
    and DISTINCT aggregates are rejected in observed metrics) and, with a
    label, its min and max (equal ⟺ every label is the same)."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("subject_id").alias("n_subjects"),
    ]
    if has_label:
        aggs += [F.min(label_col).alias("label_min"), F.max(label_col).alias("label_max")]
    return aggs


def log_cohort_stats(stats: dict) -> None:
    """The reference's post-query sanity lines (``src/aces/query.py:148-151``
    row/subject counts, ``:174-179`` label-uniformity warning) from
    :func:`cohort_stats_aggs` values."""
    logger.info(
        "Done. %s valid rows returned corresponding to ~%s subjects.",
        f"{stats['n_rows']:,}",
        f"{stats['n_subjects']:,}",
    )
    if "label_min" in stats and stats["n_rows"] > 0 and stats["label_min"] == stats["label_max"]:
        logger.warning(
            "All labels in the extracted cohort are the same: '%s'. "
            "This may indicate an issue with the task logic. "
            "Please double-check your configuration file if this is not expected.",
            stats["label_min"],
        )


def report_cohort_stats(result: DataFrame, label_col: str = "label") -> dict:
    """Eager post-query sanity report: ONE aggregation job over ``result``
    computing :func:`cohort_stats_aggs`, logged by
    :func:`log_cohort_stats`. Returns the stats as a dict. The CLI collects
    the same aggregates with an ``Observation`` on its write instead of
    running this second job."""
    stats = result.agg(*cohort_stats_aggs(label_col in result.columns, label_col)).collect()[0].asDict()
    log_cohort_stats(stats)
    return stats
