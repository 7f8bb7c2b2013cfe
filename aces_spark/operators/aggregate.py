"""The two window-aggregation kernels (SURVEY §2.4 / §2.5).

Reimplements, on Spark window functions, the semantics of the reference
kernels:

* ``aggregate_temporal_window`` — reference
  ``src/aces/aggregate.py:91-315`` (Polars ``rolling``): for every event
  row, sum all predicate columns over ``[ts+offset, ts+offset+window_size]``
  within the subject, honoring 4-way endpoint closedness; negative window
  sizes look backward.
* ``boolean_expr_bound_sum`` / ``aggregate_event_bound_window`` — reference
  ``src/aces/aggregate.py:318-1126``: for every row, sum predicates from the
  row (± offset) to the *nearest* per-subject row satisfying a boundary
  expression (forward ``row_to_bound`` or backward ``bound_to_row``), with
  closedness; window timestamps are null when no qualifying boundary exists.

Spark-first design decisions (vs the reference's physical plan):

* The temporal kernel sums each row's ``[lo, hi]`` μs range over
  ``unix_micros(timestamp)`` as the difference of two growing ``RANGE``
  frames (``_range_sum``) — open endpoints become exact ±1 μs bound
  shrinks (timestamps are μs precision; the reference itself relies on the
  same trick at ``src/aces/aggregate.py:1013-1017``).
* The event-bound kernel reproduces the reference's
  cumsum + epsilon-shifted-boundary-interleave + directional-fill algorithm
  (``src/aces/aggregate.py:964-1126``) — that interleave is load-bearing for
  the "can a boundary row bound its own window" corner cases — but runs it
  entirely with window functions over ONE hash partitioning by
  ``subject_id``: the reference's offset-correction join (its J6,
  ``aggregate.py:1115-1126``) is replaced by an inline range-frame
  window computed in the same stage, so the whole kernel is join-free and
  shuffle-minimal (exactly one exchange on ``subject_id``, reused by every
  window function via identical partition keys).
* Every projection is written as SQL expression text and applied with one
  ``DataFrame.selectExpr`` per stage: the temporal kernel is one stage, the
  event-bound kernel two (sums, then fills) plus its output projection. A
  Column-API expression costs a py4j round trip per node, so building a
  plan that way cost more than running it; a text stage costs a handful of
  calls whatever the number of predicates. Every identifier is
  backtick-quoted (:func:`~aces_spark.utils.ident`), and range-frame bounds
  are written as ``n PRECEDING`` / ``n FOLLOWING`` with ``L`` literals.

At 100 TB: all per-subject windows are embarrassingly parallel after the
single hash exchange; no broadcast, no driver materialization. Every frame
is growing (``UNBOUNDED PRECEDING`` to a bound) or whole-partition, which
Spark evaluates in one pass, so a subject costs its sort plus linear work.
A subject with millions of events still runs within one task; a 1M-event
subject takes seconds (ARCHITECTURE.md "Skew").
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import Column, DataFrame

from ..types import (
    PRED_CNT_TYPE,
    TemporalWindowBounds,
    ToEventWindowBounds,
    td_to_us,
)
from ..utils import ident

#: The sort key of every kernel window: ``unix_micros(timestamp)``, made a
#: column once. In append mode it stays on the relation, so kernels stacked
#: by the planner order by one attribute and share their sorts (Spark
#: aliases each window's own order expression apart and re-sorts for each).
TS_US = "__ts_us"

META_COLS = {"subject_id", "timestamp", TS_US}

_TS = ident("timestamp")


def _pred_cols(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in META_COLS]


def _with_ts_us(df: DataFrame) -> DataFrame:
    if TS_US in df.columns:
        return df
    return df.selectExpr("*", f"unix_micros({_TS}) AS {ident(TS_US)}")


def _as(outputs: dict[str, str]) -> list[str]:
    """``{name: SQL text}`` as ``selectExpr`` items."""
    return [f"{text} AS {ident(name)}" for name, text in outputs.items()]


def _bound(us: int) -> str:
    """A range-frame bound ``us`` μs from the current row's sort key."""
    if us == 0:
        return "CURRENT ROW"
    return f"{-us}L PRECEDING" if us < 0 else f"{us}L FOLLOWING"


def _over(frame: str, desc: bool = False) -> str:
    """A window over the subject's rows in shared-sort-key order."""
    order = f"{ident(TS_US)} DESC" if desc else f"{ident(TS_US)} ASC"
    return f"OVER (PARTITION BY subject_id ORDER BY {order} {frame})"


def _range_sum(c: str, lo: int, hi: int) -> str:
    """``c`` summed over the rows ``[lo, hi]`` μs from the current row, 0
    when empty.

    Written as ``S(hi) - S(lo - 1)``, where ``S(x)`` sums the subject's rows
    up to ``x`` μs from the current row. ``S`` is a growing frame, which
    Spark evaluates incrementally; a sliding ``RANGE BETWEEN lo AND hi``
    frame is re-aggregated row by row, quadratic in the rows it holds. Both
    frames share the partition and order spec, so they land in one
    ``Window`` operator. An empty frame (``lo > hi``) is a literal zero:
    Spark rejects a start above the end, and ``S(hi) - S(lo - 1)`` is not
    zero once ``lo - 1 > hi``.
    """
    if lo > hi:
        return "0L"

    def upto(x: int) -> str:
        frame = _over(f"RANGE BETWEEN UNBOUNDED PRECEDING AND {_bound(x)}")
        return f"coalesce(sum({ident(c)}) {frame}, 0L)"

    return f"({upto(hi)} - {upto(lo - 1)})"


def _temporal_outputs(
    pred_cols: list[str], bounds: TemporalWindowBounds, prefix: str
) -> dict[str, str]:
    """Output texts of the temporal kernel over a relation carrying
    ``__ts_us``."""
    lo, hi = bounds.spark_range_bounds
    off_us = td_to_us(bounds.offset)
    ws_us = td_to_us(bounds.window_size)
    sums = {f"{prefix}{c}": f"CAST({_range_sum(c, lo, hi)} AS {PRED_CNT_TYPE})" for c in pred_cols}
    ts_us = ident(TS_US)
    return {
        f"{prefix}timestamp_at_start": f"timestamp_micros({ts_us} + {off_us}L)",
        f"{prefix}timestamp_at_end": f"timestamp_micros({ts_us} + {off_us + ws_us}L)",
        **sums,
    }


def aggregate_temporal_window(
    predicates_df: DataFrame,
    endpoint_expr: TemporalWindowBounds | tuple,
    prefix: str = "",
    append: bool = False,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Per-row fixed-duration window sums (reference
    ``src/aces/aggregate.py:91-315``).

    Returns the same rows with predicate columns replaced by their sums over
    each row's temporal window, plus ``timestamp_at_start = ts + offset`` and
    ``timestamp_at_end = ts + offset + window_size`` (end precedes start for
    negative window sizes, matching the reference's emitted bounds at
    ``aggregate.py:305-313``).

    ``append=True`` keeps every input column and ADDS the outputs under
    ``{prefix}{name}`` instead — the window-tree planner
    (``plans/fused.py``) stacks every window node onto one relation this
    way, all sharing the single subject_id partitioning (zero joins).
    ``value_cols`` restricts which columns are summed (default: every
    non-meta column — only valid when the frame carries nothing else).

    The reference special-cases ≤1-row inputs because Polars ``rolling``
    cannot handle them (``aggregate.py:10-88``); Spark window functions
    handle 1-row partitions natively so no special case exists here.
    Rows with a null timestamp get zero sums; ``query()`` drops them
    before any kernel runs.
    """
    if not isinstance(endpoint_expr, TemporalWindowBounds):
        endpoint_expr = TemporalWindowBounds(*endpoint_expr)

    pred_cols = value_cols if value_cols is not None else _pred_cols(predicates_df)
    df = _with_ts_us(predicates_df)
    outputs = _as(_temporal_outputs(pred_cols, endpoint_expr, prefix))
    if append:
        return df.selectExpr("*", *outputs)
    return df.selectExpr("subject_id", _TS, *outputs)


def _boundary_sql(boundary) -> str:
    """SQL text of a boundary descriptor (from
    ``ToEventWindowBounds.bound_sum_kwargs``). Record start/end
    pseudo-events mirror ``src/aces/types.py:309-318``."""
    match boundary:
        case ("col", name):
            return f"{ident(name)} > 0"
        case ("record_start",):
            return f"{_TS} = min({_TS}) OVER (PARTITION BY subject_id)"
        case ("record_end",):
            return f"{_TS} = max({_TS}) OVER (PARTITION BY subject_id)"
        case _:
            raise ValueError(f"Invalid boundary descriptor: {boundary!r}")


def _fill_spec(mode: str, closed: str, off_us: int) -> tuple[int, int, bool]:
    """Reduce the reference's epsilon-shifted boundary interleave
    (ref ``:1012-1017``, ``:1032-1036``) to a single eligibility half-line:
    returns ``(sign, bound, exclude_boundary_counts)`` such that, on the
    sort key ``k = sign * unix_micros(ts)``, a boundary row is eligible for
    a given real row iff ``k_boundary <= k_row + bound`` (inclusive), and
    the NEAREST qualifying boundary is the eligible one with maximal ``k``.

    Valid because all timestamps are integral μs, so the strict/inclusive
    distinctions and the real-before-pseudo tie rule fold into ±1 μs on the
    bound. ``exclude_boundary_counts`` is the mode×closed rule for whether
    the boundary row's own counts leave the window (ref ``:1004-1010``).
    """
    exclude_boundary_counts = (mode == "bound_to_row" and closed in ("left", "both")) or (
        mode == "row_to_bound" and closed not in ("right", "both")
    )
    if mode == "bound_to_row":
        eps = -1 if closed in ("left", "both") else 1  # ref :1013-1017
        # eligible iff ts_b - offset + eps sorts before the row (ties: real
        # row first) ⟺ ts_b ≤ ts_r + (offset - eps - 1)
        return 1, off_us - eps - 1, exclude_boundary_counts
    eps = 1 if closed in ("right", "both") else -1  # ref :1032-1036
    # eligible iff ts_b - offset + eps sorts at-or-after the row
    # ⟺ ts_b ≥ ts_r + offset - eps ⟺ (-ts_b) ≤ (-ts_r) - (offset - eps)
    return -1, -(off_us - eps), exclude_boundary_counts


def _offset_interval_bounds(mode: str, closed: str, offset: timedelta) -> tuple[int, int] | None:
    """Range-frame μs bounds of the offset-interval correction sums
    (ref ``:969-995``); ``None`` when ``offset == 0`` (no correction)."""
    zero = timedelta(0)
    if offset == zero:
        return None
    if offset > zero:
        left_inclusive = False
        if mode == "row_to_bound":
            right_inclusive = closed not in ("left", "both")
        else:
            right_inclusive = closed in ("right", "both")
    else:
        right_inclusive = False
        if mode == "row_to_bound":
            left_inclusive = closed in ("left", "both")
        else:
            left_inclusive = closed not in ("right", "both")
    return TemporalWindowBounds(left_inclusive, offset, right_inclusive, None).spark_range_bounds


def _event_bound_outputs(
    pred_cols: list[str], mode: str, closed: str, offset: timedelta, tp: str, prefix: str = ""
) -> dict[str, str]:
    """Output texts of the event-bound kernel (steps 4+5: cumsum
    differences, endpoint corrections, offset correction, window
    timestamps), keyed by output name, over a relation carrying the
    ``{tp}``-namespaced temp columns ``cum_*`` / ``bcum_*`` / ``off_*`` /
    ``ts_at_boundary``."""
    zero = timedelta(0)
    off_us = td_to_us(offset)

    # --- step 4: cumsum differences + endpoint corrections ---
    def window_sum(c: str) -> str:
        cum, bcum = ident(f"{tp}cum_{c}"), ident(f"{tp}bcum_{c}")
        if mode == "bound_to_row":
            val = f"{cum} - {bcum}"
            if (closed in ("left", "none") and offset <= zero) or offset < zero:
                val += f" - {ident(c)}"  # ref :1027-1031
        else:
            val = f"{bcum} - {cum}"
            if (closed in ("left", "both") and offset <= zero) or offset < zero:
                val += f" + {ident(c)}"  # ref :1046-1050
        return val

    # --- step 5: offset-interval correction (ref :1094-1113) ---
    def with_offset(c: str, val: str) -> str:
        if offset == zero:
            return val
        off = ident(f"{tp}off_{c}")
        if mode == "bound_to_row" and offset > zero:
            return f"{val} + {off}"
        if (mode == "bound_to_row" and offset < zero) or (mode == "row_to_bound" and offset > zero):
            return f"{val} - {off}"
        return f"{val} + {off}"  # row_to_bound, offset < 0

    bnd_ts = ident(f"{tp}ts_at_boundary")
    row_ts_shifted = (
        f"CASE WHEN {bnd_ts} IS NOT NULL THEN timestamp_micros(unix_micros({_TS}) + {off_us}L) END"
    )
    st_ts, end_ts = (bnd_ts, row_ts_shifted) if mode == "bound_to_row" else (row_ts_shifted, bnd_ts)
    return {
        f"{prefix}timestamp_at_start": st_ts,
        f"{prefix}timestamp_at_end": end_ts,
        **{
            f"{prefix}{c}": f"coalesce(CAST({with_offset(c, window_sum(c))} AS {PRED_CNT_TYPE}), 0L)"
            for c in pred_cols
        },
    }


def _event_bound_fills(
    df: DataFrame,
    boundary_expr,
    mode: str,
    closed: str,
    offset: timedelta,
    tp: str,
    pred_cols: list[str],
    carry: dict[str, str],
) -> DataFrame:
    """Steps 1-3 and 5 prep of :func:`boolean_expr_bound_sum` on a relation
    carrying ``__ts_us``: one stage adds the ``{tp}``-namespaced cumsums,
    offset sums and boundary flag, a second the boundary fills and the
    carried columns. :func:`_event_bound_outputs` reads the result."""
    if isinstance(boundary_expr, Column):
        df = df.withColumn(f"{tp}bexpr", boundary_expr)

    # --- step 1: per-subject cumulative sums (ref :999-1000) ---
    cum_over = _over("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
    stage1 = {f"{tp}cum_{c}": f"sum({ident(c)}) {cum_over}" for c in pred_cols}

    # --- step 5 prep: offset-interval temporal sums, inline (ref :969-995) ---
    interval = _offset_interval_bounds(mode, closed, offset)
    if interval is not None:
        lo, hi = interval
        stage1.update({f"{tp}off_{c}": _range_sum(c, lo, hi) for c in pred_cols})
    if not isinstance(boundary_expr, Column):
        stage1[f"{tp}bexpr"] = _boundary_sql(boundary_expr)
    df = df.selectExpr("*", *_as(stage1))

    # --- steps 2+3: nearest-qualifying-boundary resolution ---
    # The reference interleaves epsilon-shifted boundary pseudo-rows and
    # directionally fills (ref :1012-1017, :1032-1036, :1052-1072). Because
    # every timestamp is integral μs, that interleave is EXACTLY a
    # conditional first/last over a range frame on unix_micros: a boundary
    # at ts_b is eligible for the row at ts_r iff its shifted sort key
    # ``ts_b - offset + eps`` falls strictly before (forward fill) / at-or-
    # after (backward fill) the row's key — i.e. iff ts_b - ts_r lies in a
    # closed half-line whose finite bound folds in offset, eps, and the
    # real-before-pseudo tie rule. This keeps the kernel union-free: one
    # window stage instead of union + re-sort + fill over a doubled
    # relation (the Spark-first reformulation SURVEY §2.5 anticipates).
    # Eligibility reduced to one half-line on a signed key (see _fill_spec).
    # For row_to_bound the key is NEGATED so the frame is GROWING rather
    # than the direct shrinking frame (off_us - eps, unboundedFollowing):
    # Spark evaluates growing frames incrementally but re-scans the
    # remaining partition per row for shrinking ones — O(n) vs O(n²) per
    # subject, which is the difference between a skewed 100k-event subject
    # finishing in milliseconds and stalling its whole task. The negated key
    # is the shared sort column in descending order: Spark flips the sign
    # of range offsets for a descending key.
    sign, fill_bound, exclude_boundary_counts = _fill_spec(mode, closed, td_to_us(offset))
    fill_over = _over(f"RANGE BETWEEN UNBOUNDED PRECEDING AND {_bound(fill_bound)}", desc=sign == -1)
    bexpr = ident(f"{tp}bexpr")

    def fill(text: str) -> str:
        return f"last(CASE WHEN {bexpr} THEN {text} END, true) {fill_over}"

    def bnd_cum(c: str) -> str:
        cum = ident(f"{tp}cum_{c}")
        return f"{cum} - {ident(c)}" if exclude_boundary_counts else cum

    fills = {
        f"{tp}ts_at_boundary": fill(_TS),
        **{f"{tp}bcum_{c}": fill(bnd_cum(c)) for c in pred_cols},
        **{name: fill(text) for name, text in carry.items()},
    }
    return df.selectExpr("*", *_as(fills))


def boolean_expr_bound_sum(
    df: DataFrame,
    boundary_expr,
    mode: str,
    closed: str,
    offset: timedelta = timedelta(0),
    prefix: str = "",
    append: bool = False,
    value_cols: list[str] | None = None,
    carry: dict[str, str] | None = None,
) -> DataFrame:
    """Sum all predicate columns between each row (± ``offset``) and the
    nearest per-subject boundary row (reference
    ``src/aces/aggregate.py:479-1126``; its 8-case mode×closed truth table at
    ``:520-541`` is the spec, pinned by tests/test_event_bound.py).

    Algorithm (faithful to the reference, reformulated join-free):

    1. Per-subject running cumulative sums of every predicate column
       (ref ``:999-1000``) — ``ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
       ROW``.
    2. A boundary side-relation built by filtering boundary rows, carrying
       the cumsum at the boundary (± the boundary row's own counts per
       mode×closed, ref ``:1002-1010``) and a sort key shifted by
       ``-offset ± 1 μs`` so interleaving encodes closedness exactly
       (ref ``:1012-1017``, ``:1032-1036``).
    3. Union real + boundary rows, order within subject by the shifted key
       (ties: real rows first, matching the reference's stable concat), and
       directionally fill the boundary cumsum/timestamp onto real rows
       (forward for ``bound_to_row``, backward for ``row_to_bound``,
       ref ``:1052-1072``) — ``last(…, true)`` over a growing range frame.
    4. Window sum = difference of cumsums with endpoint-inclusion
       corrections (ref ``:1020-1031``, ``:1039-1050``).
    5. Non-zero offsets add/subtract a temporal aggregation over the offset
       interval (ref ``:969-995``, ``:1094-1126``) — computed INLINE as a
       range-frame window before the union instead of the reference's
       left join.
    6. No qualifying boundary ⇒ null window timestamps, zero counts
       (ref ``:1085-1092``).

    ``boundary_expr`` is a descriptor (``ToEventWindowBounds.bound_sum_kwargs``)
    or a boolean Column; a Column is added with one ``withColumn`` and
    everything after it is SQL text.

    ``prefix``/``append``/``value_cols`` behave as in
    :func:`aggregate_temporal_window` (outputs — and all internal temp
    columns — are namespaced so several kernel applications can stack on
    one relation).

    ``carry`` maps output names to SQL expression text that is copied from
    each row's boundary row, through the same fill frame as the window
    timestamps (null where no boundary qualifies). Each carried expression
    must be non-null on every boundary row, or the fill skips to an older
    boundary.
    """
    if mode not in ("bound_to_row", "row_to_bound"):
        raise ValueError(f"Mode '{mode}' invalid!")
    if closed not in ("both", "none", "left", "right"):
        raise ValueError(f"Closed '{closed}' invalid!")

    pred_cols = value_cols if value_cols is not None else _pred_cols(df)
    tp = f"__{prefix}" if prefix else "__"  # temp-column namespace
    df = _with_ts_us(df)
    carry = carry or {}
    filled = _event_bound_fills(df, boundary_expr, mode, closed, offset, tp, pred_cols, carry)
    keep = [ident(c) for c in df.columns] if append else ["subject_id", _TS]
    outputs = _event_bound_outputs(pred_cols, mode, closed, offset, tp, prefix)
    return filled.selectExpr(*keep, *_as(outputs), *map(ident, carry))


def aggregate_event_bound_window(
    predicates_df: DataFrame,
    endpoint_expr: ToEventWindowBounds | tuple,
) -> DataFrame:
    """Event-bound window aggregation (reference
    ``src/aces/aggregate.py:318-476``): delegates to
    :func:`boolean_expr_bound_sum` after translating the bounds object."""
    if not isinstance(endpoint_expr, ToEventWindowBounds):
        endpoint_expr = ToEventWindowBounds(*endpoint_expr)
    kwargs = endpoint_expr.bound_sum_kwargs
    return boolean_expr_bound_sum(
        predicates_df,
        kwargs["boundary"],
        kwargs["mode"],
        kwargs["closed"],
        kwargs["offset"],
    )
