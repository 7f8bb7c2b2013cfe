"""Both window kernels on a dense subject, against pure-Python oracles.

One subject holds most of the rows, and its windows span tens to hundreds
of them; two sparse subjects share the partitioning. This is the shape
where a sliding range frame goes quadratic, so it is the shape on which the
linear ``S(hi) - S(lo - 1)`` range sum (``aggregate._range_sum``) must agree
with a per-row filter-and-sum: ties at the frame edges, empty frames, and
frames that reach past the subject's first or last row.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest

from aces_spark import (
    TemporalWindowBounds,
    ToEventWindowBounds,
    aggregate_event_bound_window,
    aggregate_temporal_window,
    boolean_expr_bound_sum,
)
from aces_spark.operators.aggregate import _range_sum
from tests.test_event_bound_hypothesis import simulate
from tests.test_temporal_window import brute_force

EPOCH = datetime(2020, 1, 1)
TW_SCHEMA = "subject_id long, timestamp timestamp, p1 long, p2 long"
EB_SCHEMA = "subject_id long, timestamp timestamp, b long, p1 long"


def _minutes(rng: random.Random, sid: int, unique: bool) -> list[int]:
    """Minute offsets of one subject: subject 1 is dense (~one row per 5
    minutes over ~33 hours), the others hold a handful of rows."""
    n, span = (400, 2_000) if sid == 1 else (rng.randint(3, 25), 2_000)
    if unique:
        return sorted(rng.sample(range(span), n))
    return sorted(rng.choices(range(span), k=n))  # duplicate timestamps


def _tw_rows(seed: int) -> list[tuple]:
    rng = random.Random(seed)
    return [
        (sid, EPOCH + timedelta(minutes=m), rng.randint(0, 3), rng.randint(0, 1))
        for sid in (1, 2, 3)
        for m in _minutes(rng, sid, unique=False)
    ]


def _eb_rows(seed: int) -> list[tuple]:
    """``(sid, minute, is_boundary, value)`` with unique times per subject,
    so the cumulative sums have one order."""
    rng = random.Random(seed)
    return [
        (sid, m, 1 if rng.random() < 0.15 else 0, rng.randint(0, 3))
        for sid in (1, 2, 3)
        for m in _minutes(rng, sid, unique=True)
    ]


# ---------------- temporal kernel ----------------

H = timedelta(hours=1)
US = timedelta(microseconds=1)

TEMPORAL_BOUNDS = [
    TemporalWindowBounds(True, 10 * H, True, None),
    TemporalWindowBounds(False, 10 * H, False, None),
    TemporalWindowBounds(True, -10 * H, False, None),
    TemporalWindowBounds(False, 6 * H, True, 3 * H),
    TemporalWindowBounds(True, -6 * H, True, -3 * H),
    TemporalWindowBounds(True, 2 * H, True, 30 * H),  # reaches past the last row
    TemporalWindowBounds(True, 1000 * H, True, None),  # covers the whole subject
    TemporalWindowBounds(True, timedelta(0), True, None),  # the row's own timestamp peers
    TemporalWindowBounds(False, US, False, None),  # empty: lo = 1 μs > hi = 0
    TemporalWindowBounds(False, timedelta(0), False, -H),  # empty, offset
]


@pytest.mark.parametrize(
    "bounds",
    TEMPORAL_BOUNDS,
    ids=lambda b: f"li{b.left_inclusive}-ws{b.window_size}-ri{b.right_inclusive}-off{b.offset}",
)
def test_temporal_kernel_dense_subject(spark, bounds):
    rows = _tw_rows(11)
    out = aggregate_temporal_window(spark.createDataFrame(rows, TW_SCHEMA), bounds)
    got = sorted(
        (r["subject_id"], r["timestamp"], r["timestamp_at_start"], r["timestamp_at_end"], r["p1"], r["p2"])
        for r in out.collect()
    )
    assert got == sorted(brute_force(rows, bounds))


def test_range_sum_empty_frame_is_literal_zero():
    """``S(hi) - S(lo - 1)`` is not zero once ``lo - 1 > hi``, so an empty
    frame must never reach the window text."""
    assert _range_sum("p", 1, 0) == "0L"
    assert _range_sum("p", 5, -5) == "0L"


def test_range_sum_uses_growing_frames_only():
    text = _range_sum("p", -10, 20)
    assert text.count("UNBOUNDED PRECEDING") == 2
    assert "20L FOLLOWING" in text and "11L PRECEDING" in text


# ---------------- event-bound kernel ----------------


def _eb_got(out) -> list[tuple]:
    def us(ts):
        return None if ts is None else int((ts - EPOCH) / US)

    return sorted(
        (r["subject_id"], us(r["timestamp"]), us(r["timestamp_at_start"]), us(r["timestamp_at_end"]), r["b"], r["p1"])
        for r in out.collect()
    )


def _eb_inputs(spark, rows):
    df = spark.createDataFrame(
        [(sid, EPOCH + timedelta(minutes=m), b, v) for sid, m, b, v in rows], EB_SCHEMA
    )
    sim_rows = [(sid, m * 60_000_000, b, v) for sid, m, b, v in rows]
    return df, sim_rows


@pytest.mark.parametrize("mode", ["bound_to_row", "row_to_bound"])
@pytest.mark.parametrize("closed", ["both", "none", "left", "right"])
@pytest.mark.parametrize("offset", [timedelta(0), 3 * H, -3 * H], ids=["off0", "off+", "off-"])
def test_event_bound_kernel_dense_subject(spark, mode, closed, offset):
    """The offset correction is a range sum over ``offset``; on the dense
    subject a 3 h offset spans ~36 rows."""
    rows = _eb_rows(23)
    df, sim_rows = _eb_inputs(spark, rows)
    boundary_idx = {i for i, r in enumerate(rows) if r[2]}
    out = boolean_expr_bound_sum(df, ("col", "b"), mode, closed, offset)
    want = simulate(sim_rows, boundary_idx, mode, closed, offset_us=int(offset / US))
    assert _eb_got(out) == want


@pytest.mark.parametrize("end_event", ["-_RECORD_START", "_RECORD_END"])
def test_record_bounds_dense_subject(spark, end_event):
    """A record bound is a boundary at the subject's first (or last) row."""
    rows = _eb_rows(29)
    df, sim_rows = _eb_inputs(spark, rows)
    pick = min if end_event == "-_RECORD_START" else max
    edge = {sid: pick(m for s, m, _, _ in rows if s == sid) for sid in {r[0] for r in rows}}
    boundary_idx = {i for i, (sid, m, _, _) in enumerate(rows) if edge[sid] == m}
    mode = "bound_to_row" if end_event.startswith("-") else "row_to_bound"

    out = aggregate_event_bound_window(df, ToEventWindowBounds(True, end_event, True, None))
    assert _eb_got(out) == simulate(sim_rows, boundary_idx, mode, "both")


@pytest.mark.parametrize("mode", ["bound_to_row", "row_to_bound"])
def test_event_bound_no_boundary_subject(spark, mode):
    """A subject with no boundary gets null window timestamps and zero
    sums; the dense subject's boundaries do not leak across subjects."""
    rows = [r for r in _eb_rows(31) if r[0] != 2] + [(2, 5, 0, 3), (2, 900, 0, 1)]
    df, sim_rows = _eb_inputs(spark, rows)
    boundary_idx = {i for i, r in enumerate(rows) if r[2]}
    got = _eb_got(boolean_expr_bound_sum(df, ("col", "b"), mode, "both"))
    assert got == simulate(sim_rows, boundary_idx, mode, "both")
    assert [(st, end, v) for sid, _, st, end, _, v in got if sid == 2] == [(None, None, 0)] * 2
