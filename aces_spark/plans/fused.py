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

The plan is built as SQL text. Validity, junk flags and summary structs
(``named_struct``) are expression strings over the one relation; a temporal
edge adds one ``selectExpr`` stage and an event-bound edge two (sums, then
fills), whose outputs stay text that later stages read. The tail is one
projection and a filter. Construction cost therefore follows the number of
plan operations, not the number of expression nodes: the HF readmission
task builds in ~140 py4j calls, against ~6k when every node was a Column.
"""

from __future__ import annotations

import dataclasses
import itertools
from datetime import timedelta

from pyspark.sql import DataFrame

from ..operators.aggregate import (
    _event_bound_fills,
    _event_bound_outputs,
    _temporal_outputs,
    _with_ts_us,
    aggregate_temporal_window,
)
from ..operators.constraints import constraints_sql
from ..types import TemporalWindowBounds
from ..utils import Node, ident, sql_str

ANCHOR = "subtree_anchor_timestamp"

#: The boolean column :func:`extract_tree` leaves for its caller to filter on.
KEEP = "__keep"


def can_fuse(tree: Node) -> bool:
    """Every window tree plans as one windowed scan; kept for callers that
    report which planner ran."""
    return True


def _and(*terms: str) -> str:
    """SQL conjunction of ``terms`` (``true`` terms dropped)."""
    return " AND ".join(f"({t})" for t in terms if t != "true") or "true"


@dataclasses.dataclass
class _Result:
    """A subtree anchored at each row, as SQL text over the planner's
    relation: whether every edge below holds, whether anchoring here yields
    the junk row (``None``: it never can), and ``(node name, summary
    struct)`` for every descendant in pre-order."""

    valid: str
    junk: str | None
    summaries: list[tuple[str, str]]

    def pack(self) -> str:
        """One struct, non-null on every row: the hop's fill skips nulls,
        so a null here would let it reach past the nearest boundary."""
        junk = "false" if self.junk is None else f"coalesce({self.junk}, false)"
        fields = [
            f"'valid', coalesce({self.valid}, false)",
            f"'junk', {junk}",
            *[f"'s{i}', {s}" for i, (_, s) in enumerate(self.summaries)],
        ]
        return f"named_struct({', '.join(fields)})"

    def unpack(self, packed: str) -> _Result:
        """This result, read from a copy of :meth:`pack` on another row."""
        return _Result(
            f"{packed}.`valid`",
            None if self.junk is None else f"{packed}.`junk`",
            [(name, f"{packed}.`s{i}`") for i, (name, _) in enumerate(self.summaries)],
        )


def extract_tree(tree: Node, predicates_df: DataFrame, root_valid: str) -> DataFrame:
    """Evaluate the window tree rooted at ``tree`` in one windowed scan.

    ``root_valid`` is SQL text, true on the trigger rows. Returns
    ``(subject_id, subtree_anchor_timestamp, {node}_summary..., __keep)``
    for every event row; :data:`KEEP` is true on each trigger realization
    (``root_valid`` holds and every edge realizes) and on the junk row
    described in the module docstring. The caller filters on it and drops
    it in its own projection, so the whole tail is two plan operations.
    Summary structs hold ``window_name``, ``timestamp_at_start``,
    ``timestamp_at_end`` and every predicate count (reference
    ``src/aces/extract_subtree.py:366-375``).
    """
    pred_cols = [c for c in predicates_df.columns if c not in ("subject_id", "timestamp")]
    df = _with_ts_us(predicates_df)
    ids = itertools.count(1)

    def subtree(node: Node, offset: timedelta) -> _Result:
        nonlocal df
        valid, junk, summaries = [], None, []
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
                outs = {name: ident(name) for name in _temporal_outputs(pred_cols, bounds, pfx)}
                hop_ok, below = "true", subtree(child, offset + bounds.window_size)
            else:
                at_row = subtree(child, timedelta(0)) if child.children else None
                kw = bounds.bound_sum_kwargs
                df = _event_bound_fills(
                    df, kw["boundary"], kw["mode"], kw["closed"], kw["offset"], pfx, pred_cols,
                    carry={} if at_row is None else {f"{pfx}hop": at_row.pack()},
                )
                # the outputs stay SQL text over the fills: no stage of their own
                outs = _event_bound_outputs(
                    pred_cols, kw["mode"], kw["closed"], kw["offset"], pfx, prefix=pfx
                )
                side = "start" if kw["mode"] == "bound_to_row" else "end"
                resolved = f"{outs[f'{pfx}timestamp_at_{side}']} IS NOT NULL"
                if at_row is None:
                    # an unresolved leaf boundary is where the junk row comes from
                    hop_ok, below = "true", _Result(resolved, f"NOT ({resolved})", [])
                else:
                    # the child is anchored at the boundary row: read its
                    # subtree from there
                    hop_ok, below = resolved, at_row.unpack(ident(f"{pfx}hop"))
            gate = _and(constraints_sql(child.constraints, lambda c: outs[f"{pfx}{c}"]), hop_ok)
            valid += [gate, below.valid]
            junk = None if below.junk is None else _and(gate, below.junk)
            summaries.append((child.name, _summary(child.name, pfx, pred_cols, outs)))
            summaries += below.summaries
        return _Result(_and(*valid), junk if len(node.children) == 1 else None, summaries)

    result = subtree(tree, timedelta(0))
    trigger = f"coalesce({root_valid}, false)"
    valid = _and(trigger, result.valid)
    keep = valid
    if result.junk is not None:
        # the subject's first junk row; a whole-subject frame needs no sort
        # beyond the subject_id clustering every kernel already has
        junk_ts = f"CASE WHEN {_and(trigger, f'coalesce({result.junk}, false)')} THEN `timestamp` END"
        first_junk = f"`timestamp` = min({junk_ts}) OVER (PARTITION BY subject_id)"
        keep = f"({valid}) OR coalesce({first_junk}, false)"
    return df.selectExpr(
        "subject_id",
        f"CASE WHEN {valid} THEN `timestamp` END AS {ident(ANCHOR)}",
        *[
            f"CASE WHEN {valid} THEN {s} END AS {ident(f'{name}_summary')}"
            for name, s in result.summaries
        ],
        f"{keep} AS {ident(KEEP)}",
    )


def _summary(name: str, pfx: str, pred_cols: list[str], outs: dict[str, str]) -> str:
    fields = [
        ("window_name", sql_str(name)),
        ("timestamp_at_start", outs[f"{pfx}timestamp_at_start"]),
        ("timestamp_at_end", outs[f"{pfx}timestamp_at_end"]),
        *[(c, outs[f"{pfx}{c}"]) for c in pred_cols],
    ]
    return f"named_struct({', '.join(f'{sql_str(k)}, {v}' for k, v in fields)})"
