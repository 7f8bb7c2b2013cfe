"""Window-tree planner: any task tree evaluated as one windowed scan.

The reference evaluates the tree recursively, materializing and joining
anchor sets at every edge (``src/aces/extract_subtree.py:279-386``). Here
the whole tree runs bottom-up on the one ``subject_id``-partitioned
predicates relation, with every node's result kept as columns of the event
row it is anchored at:

* a **temporal edge** keeps the child anchored on the same row; its offset
  accumulates into the child's edges (ref ``:300-310``);
* an **event-bound edge** anchors the child at the boundary row the kernel
  resolves (ref ``:311-327``). The child's subtree is first evaluated at
  every row, packed into one struct (validity, junk flag, every descendant's
  summary), and the event-bound kernel copies that struct from the boundary
  row onto the parent row through the same ``last(…, ignorenulls)`` fill
  that yields the boundary timestamp. The "hop" reads the boundary row's
  precomputed result instead of joining to it;
* the reference's anchor joins become row-wise validity flags: the trigger,
  each edge's count constraints, a resolved boundary on every event-bound
  edge, and the conjunction over siblings.

Junk rows. A pure single-child chain whose event-bound leaf finds no
boundary makes the reference emit one ``(subject, null)`` row per subject
with null summaries (its null child anchor survives the left joins back up
the chain but never matches an inner join). Each row carries a junk flag
for that case; the first flagged row per subject (the one at the subject's
minimum flagged timestamp, a whole-subject window in the same scan) is
kept and its anchor and summaries projected to null.

The plan is one hash exchange on ``subject_id`` followed by window
operators: no join, no union, no cache.
"""

from __future__ import annotations

import dataclasses
import itertools
from datetime import timedelta

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.aggregate import aggregate_temporal_window, boolean_expr_bound_sum
from ..operators.constraints import constraints_hold
from ..types import TemporalWindowBounds
from ..utils import Node

ANCHOR = "subtree_anchor_timestamp"


def can_fuse(tree: Node) -> bool:
    """Every window tree plans as one windowed scan; kept for callers that
    report which planner ran."""
    return True


@dataclasses.dataclass
class _Result:
    """A subtree anchored at each row: whether every edge below holds,
    whether anchoring here yields the junk row (``None``: it never can),
    and ``(node name, summary struct)`` for every descendant in pre-order."""

    valid: Column
    junk: Column | None
    summaries: list[tuple[str, Column]]

    def pack(self) -> Column:
        """One struct, non-null on every row: the hop's fill skips nulls,
        so a null here would let it reach past the nearest boundary."""
        junk = F.lit(False) if self.junk is None else self.junk
        return F.struct(
            F.coalesce(self.valid, F.lit(False)).alias("valid"),
            F.coalesce(junk, F.lit(False)).alias("junk"),
            *[s.alias(f"s{i}") for i, (_, s) in enumerate(self.summaries)],
        )

    def unpack(self, packed: Column) -> _Result:
        """This result, read from a copy of :meth:`pack` on another row."""
        return _Result(
            packed["valid"],
            None if self.junk is None else packed["junk"],
            [(name, packed[f"s{i}"]) for i, (name, _) in enumerate(self.summaries)],
        )


def extract_tree(tree: Node, predicates_df: DataFrame, root_valid: Column) -> DataFrame:
    """Evaluate the window tree rooted at ``tree`` in one windowed scan.

    Returns ``(subject_id, subtree_anchor_timestamp, {node}_summary...)``
    with one row per trigger realization (``root_valid`` holds and every
    edge realizes), plus the junk row described in the module docstring.
    Summary structs hold ``window_name``, ``timestamp_at_start``,
    ``timestamp_at_end`` and every predicate count (reference
    ``src/aces/extract_subtree.py:366-375``).
    """
    pred_cols = [c for c in predicates_df.columns if c not in ("subject_id", "timestamp")]
    df = predicates_df
    ids = itertools.count(1)

    def subtree(node: Node, offset: timedelta) -> _Result:
        nonlocal df
        valid, junk, summaries = F.lit(True), None, []
        for child in node.children:
            pfx = f"__n{next(ids)}_"
            # fold the accumulated offset into a copy: the config's own
            # bounds are never mutated (ref :292-298)
            bounds = dataclasses.replace(
                child.endpoint_expr, offset=child.endpoint_expr.offset + offset
            )
            if isinstance(bounds, TemporalWindowBounds):
                df = aggregate_temporal_window(
                    df, bounds, prefix=pfx, append=True, value_cols=pred_cols
                )
                hop_ok, below = F.lit(True), subtree(child, offset + bounds.window_size)
            else:
                at_row = subtree(child, timedelta(0)) if child.children else None
                kw = bounds.bound_sum_kwargs
                df = boolean_expr_bound_sum(
                    df, kw["boundary"], kw["mode"], kw["closed"], kw["offset"],
                    prefix=pfx, append=True, value_cols=pred_cols,
                    carry={} if at_row is None else {f"{pfx}hop": at_row.pack()},
                )
                side = "start" if kw["mode"] == "bound_to_row" else "end"
                resolved = F.col(f"{pfx}timestamp_at_{side}").isNotNull()
                if at_row is None:
                    # an unresolved leaf boundary is where the junk row comes from
                    hop_ok, below = F.lit(True), _Result(resolved, ~resolved, [])
                else:
                    # the child is anchored at the boundary row: read its
                    # subtree from there
                    hop_ok, below = resolved, at_row.unpack(F.col(f"{pfx}hop"))
            gate = constraints_hold(child.constraints, pfx) & hop_ok
            valid = valid & gate & below.valid
            junk = None if below.junk is None else gate & below.junk
            summaries.append((child.name, _summary(child.name, pfx, pred_cols)))
            summaries += below.summaries
        return _Result(valid, junk if len(node.children) == 1 else None, summaries)

    result = subtree(tree, timedelta(0))
    trigger = F.coalesce(root_valid, F.lit(False))
    df = df.withColumn("__valid", trigger & result.valid)
    keep = F.col("__valid")
    if result.junk is not None:
        # the subject's first junk row; a whole-subject frame needs no sort
        # beyond the subject_id clustering every kernel already has
        junk_ts = F.when(trigger & F.coalesce(result.junk, F.lit(False)), F.col("timestamp"))
        df = df.withColumn(
            "__first_junk",
            F.col("timestamp") == F.min(junk_ts).over(Window.partitionBy("subject_id")),
        )
        keep = keep | F.coalesce(F.col("__first_junk"), F.lit(False))
    return df.filter(keep).select(
        "subject_id",
        F.when(F.col("__valid"), F.col("timestamp")).alias(ANCHOR),
        *[F.when(F.col("__valid"), s).alias(f"{name}_summary") for name, s in result.summaries],
    )


def _summary(name: str, pfx: str, pred_cols: list[str]) -> Column:
    return F.struct(
        F.lit(name).alias("window_name"),
        F.col(f"{pfx}timestamp_at_start").alias("timestamp_at_start"),
        F.col(f"{pfx}timestamp_at_end").alias("timestamp_at_end"),
        *[F.col(f"{pfx}{c}").alias(c) for c in pred_cols],
    )
