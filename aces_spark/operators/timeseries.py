"""Time-series join and resample operators: as-of join, bucketed range
join, LOCF gap-fill, and multi-granularity time rollups.

These are the operators a time-series / event warehouse (kdb ``aj``,
DuckDB ``ASOF JOIN``, TimescaleDB ``time_bucket_gapfill`` /
continuous aggregates) provides that vanilla Spark SQL lacks.  Each is
expressed as a composition of built-in DataFrame ops so Catalyst keeps
the whole plan in whole-stage codegen:

- ``asof_join`` uses the union-tag-fill formulation: ONE exchange on the
  join key, no join operator at all.  This beats the naive
  "range join + argmax" plan (a shuffle join followed by a second
  aggregation exchange) and is the only formulation that stays linear
  when one left row would range-match millions of right rows.
- ``range_join`` (interval containment) buckets both sides to a coarse
  time grain and equi-joins on ``(key, bucket)`` — Spark turns the
  non-equi predicate into a plain hash join with a residual filter,
  instead of the broadcast-nested-loop plan a raw ``ts BETWEEN s AND e``
  condition produces.
- ``gapfill_locf`` materializes each key's regular grid with
  ``sequence()`` (narrow after one aggregate) and fills with a growing
  last-non-null frame.
- ``time_rollup`` is GROUPING SETS over truncated timestamps — one
  shuffle, map-side partials for every granularity at once.

Reference parity: the reference engine has no time-series joins (its
temporal windows are covered by ``operators/aggregate.py``); these close
the gap against the time-series engines surveyed in PAPERS.md and the
training-data use case "attach the nearest prior snapshot/label to each
event".
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timecol import as_timestamp, epoch_micros

__all__ = [
    "asof_join",
    "asof_join_chunked",
    "range_join",
    "interval_overlap_join",
    "gapfill_locf",
    "time_rollup",
    "rolling_stats",
    "rolling_stats_time",
    "group_linear_trend",
    "time_weighted_avg",
    "interval_coverage",
    "decayed_sum",
]

_BUCKET_US = {
    "minute": 60 * 1_000_000,
    "hour": 3600 * 1_000_000,
    "day": 86400 * 1_000_000,
}


def _td_us(td: timedelta) -> int:
    return (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds


def _check_order_col(right: DataFrame, right_order: str | None) -> None:
    """``right_order`` must be integral: it is cast to long (and sign-
    flipped for forward joins), so a string/uuid column would silently
    become all-null and defeat the determinism it exists to provide —
    fail loudly instead and tell the caller to derive a numeric key."""
    if right_order is None:
        return
    import pyspark.sql.types as _T

    dt = right.schema[right_order].dataType
    if not isinstance(dt, (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType)):
        raise ValueError(
            f"right_order column {right_order!r} has type {dt.simpleString()}; "
            "an integral column is required (derive one, e.g. xxhash64(col), "
            "if the natural id is a string)"
        )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    right_order: str | None = None,
    direction: str = "backward",
    tolerance: timedelta | None = None,
    ts_out: str = "asof_ts",
) -> DataFrame:
    """For every left row, attach ``right_cols`` from the single right row
    with the largest ``right_ts`` <= ``left_ts`` (``direction="backward"``,
    inclusive — the DuckDB ASOF JOIN / pandas ``merge_asof`` default) or
    the smallest ``right_ts`` >= ``left_ts`` (``"forward"``), matching on
    the equi-key ``on``.  Left rows with no match keep nulls;
    ``tolerance`` additionally nulls matches further than the given
    timedelta from ``left_ts``.

    Ties: right rows sharing the boundary timestamp are resolved by
    ``right_order`` (largest wins for backward, smallest for forward);
    pass a unique column whenever ``right_ts`` can repeat per key so the
    result is deterministic.

    Plan shape: union the tagged sides, ONE window over ``on`` ordered by
    ``(ts, side, order)`` with a growing ``last(ignorenulls)`` frame, then
    filter back to left rows.  One hash exchange on ``on``; zero join
    operators; the growing ROWS frame is O(n) incremental (same reasoning
    as the event-bound kernel, ``operators/aggregate.py:328``).  At
    100 TB this is the only shape that survives keys with millions of
    rows on both sides — any join-based formulation multiplies candidate
    pairs before it reduces them.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    _check_order_col(right, right_order)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_ts)]
    sign = 1 if direction == "backward" else -1

    payload = F.struct(
        *[F.col(c) for c in right_cols], as_timestamp(right_ts).alias("__rts")
    )
    ord_expr = (
        (F.col(right_order).cast("long") * sign) if right_order else F.lit(0).cast("long")
    )
    r = right.select(
        F.col(on),
        (epoch_micros(right_ts) * sign).alias("__k"),
        F.lit(0).alias("__side"),
        ord_expr.alias("__ord"),
        payload.alias("__payload"),
    )
    payload_type = r.schema["__payload"].dataType

    lcols = list(left.columns)
    l = left.select(
        *lcols,
        (epoch_micros(left_ts) * sign).alias("__k"),
        F.lit(1).alias("__side"),
        F.lit(0).cast("long").alias("__ord"),
        F.lit(None).cast(payload_type).alias("__payload"),
    )
    r_wide = r.select(
        on, "__k", "__side", "__ord", "__payload",
        *[F.lit(None).cast(l.schema[c].dataType).alias(c) for c in lcols if c != on],
    )
    tagged = r_wide.unionByName(l)

    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__k").asc(), F.col("__side").asc(), F.col("__ord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = tagged.withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w)
    ).filter(F.col("__side") == 1)
    if tolerance is not None:
        gap = (
            epoch_micros(left_ts) - epoch_micros(F.col("__match.__rts"))
        ) * sign
        out = out.withColumn(
            "__match", F.when((gap >= 0) & (gap <= _td_us(tolerance)), F.col("__match"))
        )
    proj = [F.col(c) for c in lcols]
    proj.append(F.col("__match.__rts").alias(ts_out))
    proj.extend(F.col("__match").getField(c).alias(c) for c in right_cols)
    return out.select(*proj)


def asof_join_chunked(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    right_order: str | None = None,
    tolerance: timedelta | None = None,
    ts_out: str = "asof_ts",
    chunk: timedelta = timedelta(days=365),
) -> DataFrame:
    """Skew-safe backward as-of join: bit-identical to
    :func:`asof_join(direction="backward")` but the growing fill runs
    within ``(on, time-chunk)`` partitions — parallelism scales with
    ``|keys| × |chunks|`` instead of ``|keys|``: the escape hatch for the
    one-dominant-key corpus where a single key holds millions of rows.

    Stitching: each chunk's unmatched prefix takes its match from a tiny
    per-``(on, chunk)`` side relation (the last right payload of every
    chunk, prefix-filled over STRICTLY PRIOR chunks with an exclusive
    frame). Three exchanges total — the wide ``(on, chunk)`` one plus two
    over the small side relation.

    Pass ``right_order`` whenever right timestamps can repeat per key —
    it is what makes both the chunked and unchunked results
    deterministic, and therefore identical.
    """
    _check_order_col(right, right_order)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_ts)]
    chunk_us = _td_us(chunk)
    if chunk_us <= 0:
        raise ValueError("chunk must be a positive timedelta")

    payload = F.struct(
        *[F.col(c) for c in right_cols], as_timestamp(right_ts).alias("__rts")
    )
    ord_expr = (
        F.col(right_order).cast("long") if right_order else F.lit(0).cast("long")
    )
    r = right.select(
        F.col(on),
        epoch_micros(right_ts).alias("__k"),
        F.lit(0).alias("__side"),
        ord_expr.alias("__ord"),
        payload.alias("__payload"),
    )
    payload_type = r.schema["__payload"].dataType
    lcols = list(left.columns)
    l = left.select(
        *lcols,
        epoch_micros(left_ts).alias("__k"),
        F.lit(1).alias("__side"),
        F.lit(0).cast("long").alias("__ord"),
        F.lit(None).cast(payload_type).alias("__payload"),
    )
    r_wide = r.select(
        on, "__k", "__side", "__ord", "__payload",
        *[F.lit(None).cast(l.schema[c].dataType).alias(c) for c in lcols if c != on],
    )
    tagged = r_wide.unionByName(l).withColumn(
        "__chunk", F.floor(F.col("__k") / chunk_us)
    )

    w_in = (
        Window.partitionBy(on, "__chunk")
        .orderBy(F.col("__k").asc(), F.col("__side").asc(), F.col("__ord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = tagged.withColumn(
        "__m_in", F.last("__payload", ignorenulls=True).over(w_in)
    ).filter(F.col("__side") == 1)

    # tiny side relation: last right payload of every (key, chunk) …
    chunk_last = (
        tagged.filter(F.col("__side") == 0)
        .groupBy(on, "__chunk")
        .agg(F.max_by("__payload", F.struct("__k", "__ord")).alias("__last"))
    )
    # … prefix-filled over strictly prior chunks (exclusive frame), on the
    # full chunk range so left-only chunks still receive a carry. The
    # range comes from a per-key min/max span (map-side partial agg —
    # NOT a distinct over the full relation, which would cost a second
    # full-data exchange) exploded into the contiguous chunk ids.
    all_chunks = (
        tagged.groupBy(on)
        .agg(F.min("__chunk").alias("__c0"), F.max("__chunk").alias("__c1"))
        .select(
            F.col(on),
            F.explode(F.sequence(F.col("__c0"), F.col("__c1"))).alias("__chunk"),
        )
    )
    w_carry = (
        Window.partitionBy(on)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        all_chunks.join(chunk_last, [on, "__chunk"], "left")
        .withColumn("__carry", F.last("__last", ignorenulls=True).over(w_carry))
        .select(on, "__chunk", "__carry")
    )

    out = intra.join(carry, [on, "__chunk"], "left").withColumn(
        "__match", F.coalesce(F.col("__m_in"), F.col("__carry"))
    )
    if tolerance is not None:
        gap = epoch_micros(left_ts) - epoch_micros(F.col("__match.__rts"))
        out = out.withColumn(
            "__match", F.when((gap >= 0) & (gap <= _td_us(tolerance)), F.col("__match"))
        )
    proj = [F.col(c) for c in lcols]
    proj.append(F.col("__match.__rts").alias(ts_out))
    proj.extend(F.col("__match").getField(c).alias(c) for c in right_cols)
    return out.select(*proj)


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    left_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    on: str | None = None,
    bucket: str = "hour",
) -> DataFrame:
    """Interval-containment join: every (left row, interval) pair with
    ``start <= left_ts < end`` (half-open), optionally also matching the
    equi-key ``on``.  Output = left columns + interval columns.

    Plan shape: each interval explodes into the coarse time buckets it
    covers (``sequence`` + ``explode`` — narrow); the left side buckets
    its timestamp; the sides equi-join on ``(on?, bucket)`` and a
    residual filter applies the exact bounds.  Catalyst plans a plain
    shuffled (or broadcast, when the interval side is small) HASH join —
    never the O(n·m) broadcast-nested-loop a raw inequality join
    degenerates to.  Pick ``bucket`` near the typical interval length:
    each interval then lands in ~2 buckets and the pre-filter fan-out
    stays linear in the true match count.
    """
    # end <= start is an empty half-open interval: drop it up front so a
    # single malformed row cannot crash sequence() with descending bounds
    iv = intervals.filter(
        as_timestamp(start_col) < as_timestamp(end_col)
    ).withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.date_trunc(bucket, as_timestamp(start_col)),
                F.date_trunc(bucket, as_timestamp(end_col)),
                F.expr(f"interval 1 {bucket}"),
            )
        ),
    )
    lb = left.withColumn("__bucket", F.date_trunc(bucket, as_timestamp(left_ts)))
    keys = ["__bucket"] if on is None else [on, "__bucket"]
    exact = (as_timestamp(left_ts) >= as_timestamp(start_col)) & (as_timestamp(left_ts) < as_timestamp(end_col))
    return lb.join(iv, keys).filter(exact).drop("__bucket")


def gapfill_locf(
    df: DataFrame,
    on: str,
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "hour",
    order_col: str | None = None,
    max_buckets: int = 100_000,
) -> DataFrame:
    """Resample each key's series to a regular ``bucket`` grid between its
    first and last observation, carrying the last observation forward into
    empty buckets (TimescaleDB ``time_bucket_gapfill`` + ``locf``).

    Output: ``(on, grid_ts, value, is_observed)``; ``value`` in an
    observed bucket is the LAST observation in that bucket (ties broken
    by ``order_col`` descending — pass a unique id when timestamps can
    repeat).

    Plan shape: one aggregate builds each key's ``(min, max)`` span and
    ``sequence()`` explodes the grid (narrow after the aggregate); one
    window reduces observations to per-bucket last values; a left join on
    ``(key, bucket)`` aligns them — both sides arrive partitioned by the
    same key — and a growing last-non-null frame fills forward.  Skew
    guard: a key spanning more than ``max_buckets`` grid points raises at
    execution time instead of silently materializing a runaway array —
    coarsen ``bucket`` or chunk such keys.
    """
    if bucket not in _BUCKET_US:
        raise ValueError(f"bucket must be one of {sorted(_BUCKET_US)}, got {bucket!r}")
    ord_desc = [F.col(ts_col).desc()] + ([F.col(order_col).desc()] if order_col else [])
    w_last = Window.partitionBy(on, "__bucket").orderBy(*ord_desc)
    obs = (
        df.withColumn("__bucket", F.date_trunc(bucket, as_timestamp(ts_col)))
        .withColumn("__rn", F.row_number().over(w_last))
        .filter(F.col("__rn") == 1)
        .select(F.col(on), F.col("__bucket").alias("grid_ts"), F.col(value_col).alias("__obs"))
    )
    span = df.groupBy(on).agg(
        F.date_trunc(bucket, F.min(as_timestamp(ts_col))).alias("__lo"),
        F.date_trunc(bucket, F.max(as_timestamp(ts_col))).alias("__hi"),
    )
    n_buckets = (
        F.floor(
            (epoch_micros("__hi") - epoch_micros("__lo"))
            / F.lit(_BUCKET_US[bucket])
        )
        + 1
    )
    guard = F.when(
        n_buckets <= max_buckets, F.col("__lo")
    ).otherwise(
        F.raise_error(
            F.format_string(
                "gapfill_locf: a key spans %s " + bucket + " buckets "
                f"(max_buckets={max_buckets}); coarsen bucket or chunk the key",
                n_buckets.cast("string"),
            )
        ).cast("timestamp")
    )
    grid = span.select(
        F.col(on),
        F.explode(
            F.sequence(guard, F.col("__hi"), F.expr(f"interval 1 {bucket}"))
        ).alias("grid_ts"),
    )
    aligned = grid.join(obs, [on, "grid_ts"], "left")
    w_fill = (
        Window.partitionBy(on)
        .orderBy("grid_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return aligned.select(
        F.col(on),
        F.col("grid_ts"),
        F.last("__obs", ignorenulls=True).over(w_fill).alias(value_col),
        F.col("__obs").isNotNull().alias("is_observed"),
    )


def time_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    by: str | None = None,
    grains: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Continuous-aggregate-style rollup: the same aggregates computed at
    several time granularities in ONE pass (GROUPING SETS) — e.g. hourly
    + daily + grand-total rows from a single shuffle.

    Output: ``(grain, bucket_ts, by?, <aggs>)`` — ``grain`` names each
    row's granularity (``'hour'``, ``'day'``, ..., ``'all'``);
    ``bucket_ts`` is the truncated timestamp (null for ``'all'``).

    Plan shape: Spark expands grouping sets BEFORE the exchange, so every
    granularity shares one shuffle and map-side partial aggregation —
    strictly better at 100 TB than a union of per-grain group-bys, which
    re-scans and re-shuffles the input once per grain.
    """
    if grains is None:
        grains = ["hour", "day"]
    if aggs is None:
        aggs = [F.count(F.lit(1)).cast("long").alias("n_events")]
    gcols = [f"__g_{g}" for g in grains]
    proj = [F.date_trunc(g, as_timestamp(ts_col)).alias(c) for g, c in zip(grains, gcols)]
    base = df.select(*proj, *df.columns)
    extra = [by] if by else []
    sets = [[c] + extra for c in gcols] + [extra]
    grouped = base.groupingSets(sets, *(gcols + extra))
    out = grouped.agg(F.grouping_id().alias("__gid"), *aggs)

    # grouping_id bit j (MSB-first over gcols + extra) is 1 when that
    # column is aggregated away; grain i's id has every gcol bit set
    # except its own, and the by bit (if any) always 0
    n_total = len(gcols) + len(extra)
    all_gbits = sum(1 << (n_total - 1 - j) for j in range(len(gcols)))
    grain_expr = F.lit("all")
    bucket_expr = F.lit(None).cast("timestamp")
    for i, g in enumerate(grains):
        gid_i = all_gbits - (1 << (n_total - 1 - i))
        hit = F.col("__gid") == gid_i
        grain_expr = F.when(hit, F.lit(g)).otherwise(grain_expr)
        bucket_expr = F.when(hit, F.col(gcols[i])).otherwise(bucket_expr)
    agg_names = [c for c in out.columns if c not in gcols + extra + ["__gid"]]
    return out.select(
        grain_expr.alias("grain"),
        bucket_expr.alias("bucket_ts"),
        *extra,
        *agg_names,
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str = "start_ts",
    left_end: str = "end_ts",
    right_start: str = "start_ts",
    right_end: str = "end_ts",
    on: str | None = None,
    bucket: str = "hour",
) -> DataFrame:
    """Interval × interval OVERLAPS join: every (left, right) pair whose
    half-open spans intersect (``l.start < r.end AND r.start < l.end`` —
    the SQL ``OVERLAPS`` convention), optionally equi-matched on ``on``.
    The conflict-detection / concurrent-session primitive that
    point-in-interval :func:`range_join` cannot express.

    Plan shape: BOTH sides explode into the coarse buckets their span
    covers, equi-join on ``(on?, bucket)``, apply the exact predicate,
    then keep only the join row from the overlap's CANONICAL bucket —
    the bucket containing ``greatest(l.start, r.start)``, which both
    sides are guaranteed to have exploded. A pair overlapping several
    buckets therefore survives exactly once WITHOUT a ``dropDuplicates``
    (which would also collapse genuinely duplicate input rows and
    undercount). Linear in true overlaps when ``bucket`` is near the
    typical span; the same hash-join-not-nested-loop guarantee as
    :func:`range_join`. Malformed intervals (``end <= start`` — empty
    under the half-open convention) match nothing instead of crashing
    the ``sequence`` call.

    Columns must not collide between the two inputs (alias beforehand);
    the half-open convention means touching endpoints do NOT overlap.
    """
    overlap = (
        (as_timestamp(left_start) < as_timestamp(right_end))
        & (as_timestamp(right_start) < as_timestamp(left_end))
    )

    def explode_buckets(df, s, e):
        return df.filter(as_timestamp(s) < as_timestamp(e)).withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.date_trunc(bucket, as_timestamp(s)),
                    F.date_trunc(bucket, as_timestamp(e)),
                    F.expr(f"interval 1 {bucket}"),
                )
            ),
        )

    l = explode_buckets(left, left_start, left_end)
    r = explode_buckets(right, right_start, right_end)
    keys = ["__bucket"] if on is None else [on, "__bucket"]
    canonical = F.col("__bucket") == F.date_trunc(
        bucket, F.greatest(as_timestamp(left_start), as_timestamp(right_start))
    )
    return l.join(r, keys).filter(overlap & canonical).drop("__bucket")


def rolling_stats(
    df: DataFrame,
    on: str,
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
    window_rows: int = 5,
) -> DataFrame:
    """Trailing ``window_rows``-row statistics per key: count, sum, mean,
    min, max of ``value_col`` over the current row and the
    ``window_rows - 1`` before it in (``ts_col``, ``order_col``) order —
    the moving-average / smoothing primitive (pandas ``rolling(n)``,
    kdb ``mavg``), kept deterministic under timestamp ties by the
    ``order_col`` tie-break.

    Output: the key, order, and timestamp columns plus ``roll_n``,
    ``roll_sum``, ``roll_mean``, ``roll_min``, ``roll_max``. Sums run in
    DECIMAL(18,6) (order-independent exact addition — the repo's
    engine-portable money-math rule); the mean applies the
    ``floor(x*1e6 + 0.5)`` rule to the decimal-exact sum/count ratio.

    Scale shape: ONE key exchange for the window sort; the bounded ROWS
    frame is streaming state of ``window_rows`` rows per task, never a
    growing buffer — a million-row key costs memory O(window_rows).
    Nulls in ``value_col`` count toward frame POSITION but not toward
    n/sum/min/max (SQL aggregate-over-window semantics in both engines).
    """
    if window_rows < 1:
        raise ValueError("window_rows must be >= 1")
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts_col).asc(), F.col(order_col).asc())
        .rowsBetween(-(window_rows - 1), 0)
    )
    val_dec = F.col(value_col).cast("decimal(18,6)")
    s = F.sum(val_dec).over(w)
    n = F.count(F.col(value_col)).over(w)
    mean = s.cast("double") / n.cast("double")
    return df.select(
        F.col(on),
        F.col(order_col),
        F.col(ts_col),
        n.cast("long").alias("roll_n"),
        s.cast("double").alias("roll_sum"),
        (F.floor(mean * 1000000 + 0.5).cast("double") / 1000000.0).alias("roll_mean"),
        F.min(F.col(value_col)).over(w).alias("roll_min"),
        F.max(F.col(value_col)).over(w).alias("roll_max"),
    )


def rolling_stats_time(
    df: DataFrame,
    on: str,
    window: timedelta,
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Trailing TIME-window statistics per key: count/sum/mean/min/max of
    ``value_col`` over ``[ts - window, ts]`` (inclusive both ends — SQL
    RANGE-frame semantics) — the row-count-agnostic sibling of
    :func:`rolling_stats` for irregular event streams ("value averaged
    over the last hour", however many events that is).

    Output: key, order, and timestamp columns plus ``roll_n``,
    ``roll_sum``, ``roll_mean``, ``roll_min``, ``roll_max`` (same
    DECIMAL-sum / floor-mean determinism rules as :func:`rolling_stats`).

    Scale shape: ONE key exchange; the RANGE frame runs over
    ``unix_micros`` (integer range bounds — Spark range frames need a
    numeric sort key). NOTE Spark re-aggregates sliding range frames per
    row (no inverse combine), so per-row cost is O(frame population);
    bound ``window`` to what the stream's density supports — the same
    caveat as the temporal kernel, documented there.
    """
    us = _td_us(window)
    if us <= 0:
        raise ValueError("window must be a positive timedelta")
    w = (
        Window.partitionBy(on)
        .orderBy(epoch_micros(ts_col).asc())
        .rangeBetween(-us, 0)
    )
    val_dec = F.col(value_col).cast("decimal(18,6)")
    s = F.sum(val_dec).over(w)
    n = F.count(F.col(value_col)).over(w)
    mean = s.cast("double") / n.cast("double")
    return df.select(
        F.col(on),
        F.col(order_col),
        F.col(ts_col),
        n.cast("long").alias("roll_n"),
        s.cast("double").alias("roll_sum"),
        (F.floor(mean * 1000000 + 0.5).cast("double") / 1000000.0).alias("roll_mean"),
        F.min(F.col(value_col)).over(w).alias("roll_min"),
        F.max(F.col(value_col)).over(w).alias("roll_max"),
    )


def group_linear_trend(
    df: DataFrame,
    on: str,
    ts_col: str = "ts",
    value_col: str = "value",
    *,
    x_unit_us: int = 86_400_000_000,
) -> DataFrame:
    """Per-key least-squares linear trend of ``value_col`` over time —
    the trend-feature primitive ("is this lab drifting up?", "is this
    user's activity decaying?"). One aggregation, engine-exact.

    The slope is computed entirely in INTEGER arithmetic so every engine
    agrees bit-for-bit (the repo's portable-math rule): x is the
    ``x_unit_us``-grain index of ``ts`` *re-based to the key's first
    observation* (keeps products small and every x non-negative), y is
    micro-unit ``floor(value * 1e6 + 0.5)``; the classic normal-equation
    integers ``num = n*Sxy - Sx*Sy`` and ``den = n*Sxx - Sx^2`` (den >= 0
    by Cauchy-Schwarz) then give ``slope = num/den`` truncated TOWARD
    ZERO at micro precision — spelled ``sign(num) * (|num| div den)``
    because Spark's ``div`` truncates while DuckDB's ``//`` floors, and
    the two only agree on non-negative operands. The intercept (at the
    key's first-observation epoch) reuses the already-agreed slope:
    ``(Sy - slope*Sx) / n`` under the same sign-decomposed division.

    Output: ``(key, n_points, x_span, slope_per_unit, intercept)`` —
    slope/intercept as doubles recovered from the micro-unit integers
    (identical bits in every engine: same integer, same division).
    ``slope_per_unit`` is NULL when the key has a single distinct x
    (den = 0 — no trend direction exists); rows with null ts/value are
    excluded, keys with no valid rows disappear.

    Scale shape: ONE key-partitioned hash aggregate with map-side
    partial combine — five integer sums, O(1) state per key; no window,
    no join, no second pass. Magnitude guard: products stay inside
    BIGINT while ``n * span_units * |y|_micro^... n*Sxy`` is below 2^63
    — with day grain and |value| <= 1e6 that holds to ~10^5 rows x 10^3
    units per key; re-base/coarsen ``x_unit_us`` for wider spans.
    """
    if x_unit_us <= 0:
        raise ValueError("x_unit_us must be a positive microsecond grain")
    rows = df.select(
        F.col(on).alias("__k"),
        epoch_micros(ts_col).alias("__us"),
        F.floor(F.col(value_col).cast("double") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("__y"),
    ).filter(F.col("__us").isNotNull() & F.col("__y").isNotNull())
    # partition-only window min: same hash partitioning as the groupBy
    # below, so Catalyst inserts ONE exchange for both stages
    x = F.expr(f"(__us - min(__us) OVER (PARTITION BY __k)) div {int(x_unit_us)}")
    pts = rows.select("__k", x.alias("__x"), "__y")
    agg = pts.groupBy("__k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("sx"),
        F.sum("__y").alias("sy"),
        F.sum(F.expr("__x * __y")).alias("sxy"),
        F.sum(F.expr("__x * __x")).alias("sxx"),
        F.max("__x").alias("span"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_u = F.when(den == 0, F.lit(None).cast("long")).otherwise(
        F.when(num >= 0, F.expr(
            "(n*sxy - sx*sy) div (n*sxx - sx*sx)"
        )).otherwise(-F.expr("(sx*sy - n*sxy) div (n*sxx - sx*sx)"))
    )
    agg = agg.withColumn("__slope_u", slope_u)
    inum = F.col("sy") - F.coalesce(F.col("__slope_u"), F.lit(0)) * F.col("sx")
    icept_u = F.when(inum >= 0, F.expr("(sy - coalesce(__slope_u, 0) * sx) div n")).otherwise(
        -F.expr("(coalesce(__slope_u, 0) * sx - sy) div n")
    )
    return agg.select(
        F.col("__k").alias(on),
        F.col("n").cast("long").alias("n_points"),
        F.col("span").cast("long").alias("x_span"),
        (F.col("__slope_u").cast("double") / 1000000.0).alias("slope_per_unit"),
        (icept_u.cast("double") / 1000000.0).alias("intercept"),
    )


def time_weighted_avg(
    df: DataFrame,
    on: str,
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-key time-weighted average under LOCF semantics (TimescaleDB's
    ``time_weight('locf')`` / kdb ``wavg`` over durations): each
    observation holds until the next one, so the average is
    ``sum(v_i * dt_i) / span`` over ``[t_first, t_last]`` — the correct
    mean for irregularly sampled gauges, where the row-mean over-weights
    bursts of dense sampling.

    Integer-exact (engine-portable): values in micro-units
    (``floor(v*1e6 + 0.5)``), hold durations in whole SECONDS
    (truncating integer division of the μs gap — same truncation in
    every engine, documented second-grain integration), one BIGINT sum
    per key, final ``sum div span`` on non-negative span. Magnitude
    envelope: ``|v|_micro x span_seconds`` per key must stay below 2^63
    (~9.2e18 — e.g. |v| <= 10^6 held over ~300 years); re-base or
    pre-aggregate wider keys. A single-observation key (span 0) returns
    its own value, matching the reference semantics.

    Output: ``(key, n_points, span_secs, twa)``.

    Scale shape: ONE key exchange shared by the lead() window and the
    final aggregate; O(1) window state (lead 1) and O(1) aggregate
    state per key. Null ts/value rows are excluded before pairing so
    LOCF holds across them rather than poisoning a duration.
    """
    rows = df.select(
        F.col(on).alias("__k"),
        epoch_micros(ts_col).alias("__us"),
        F.floor(F.col(value_col).cast("double") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("__y"),
        F.col(order_col).alias("__o"),
    ).filter(F.col("__us").isNotNull() & F.col("__y").isNotNull())
    w = Window.partitionBy("__k").orderBy(F.col("__us").asc(), F.col("__o").asc())
    paired = rows.select(
        "__k",
        "__y",
        ((F.coalesce(F.lead("__us").over(w), F.col("__us")) - F.col("__us")))
        .alias("__dt_us"),
    ).withColumn("__dt_s", F.expr("__dt_us div 1000000"))
    agg = paired.groupBy("__k").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.expr("__y * __dt_s")).alias("__wsum"),
        F.sum("__dt_s").alias("span_secs"),
    )
    # span 0 (single observation, or all gaps under a second): fall back
    # to the key's FIRST value by (ts, order) — recompute deterministically
    firsts = rows.withColumn(
        "__rk", F.row_number().over(w)
    ).filter(F.col("__rk") == 1).select("__k", F.col("__y").alias("__first_y"))
    out = agg.join(firsts, "__k")
    # sign-decompose the integer division (like group_linear_trend):
    # Spark's `div` truncates toward zero while flooring engines round
    # toward -inf, so a negative __wsum would diverge by 1 micro-unit
    ratio_u = F.when(
        F.col("__wsum") >= 0, F.expr("__wsum div span_secs")
    ).otherwise(-F.expr("(-__wsum) div span_secs"))
    twa_u = F.when(F.col("span_secs") > 0, ratio_u).otherwise(F.col("__first_y"))
    return out.select(
        F.col("__k").alias(on),
        F.col("n_points").cast("long").alias("n_points"),
        F.col("span_secs").cast("long").alias("span_secs"),
        (twa_u.cast("double") / 1000000.0).alias("twa"),
    )


def interval_coverage(
    df: DataFrame,
    on: str,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Merge overlapping-or-touching half-open intervals per key into
    maximal covered islands — the gaps-and-islands primitive behind
    "total active time", SLA coverage, and sensor-uptime rollups that
    :func:`interval_overlap_join` (pairs) and :func:`gapfill_locf`
    (grids) don't express. Returns one row per island:
    ``(on, island_start, island_end, n_intervals)``.

    Under the repo's half-open convention ``[start, end)``, touching
    intervals (``next.start == prev.end``) merge — coverage has no gap
    between them; empty intervals (``end <= start``) are dropped. An
    island starts where an interval's start exceeds the running maximum
    end of everything before it in ``(start, end)`` order; the island id
    is the running count of such breaks. Identical (start, end)
    duplicates are interchangeable under both windows, so the result is
    deterministic and exactly SQL-mirrorable.

    Scale shape: ONE hash exchange on the key shared by both windows
    (running max-end and the cumulative break count use the same
    partition + ordering, so Catalyst plans them in one Window node) and
    the final island aggregate — no joins, no explode, per-key memory
    O(1). Skewed keys are bounded by the window's streaming frame, not
    by island fan-out.
    """
    w_order = [F.col(start_col).asc(), F.col(end_col).asc()]
    prev_max = F.max(as_timestamp(end_col)).over(
        Window.partitionBy(on)
        .orderBy(*w_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_max.isNull() | (as_timestamp(start_col) > prev_max), F.lit(1)
    ).otherwise(F.lit(0))
    island = F.sum(brk).over(
        Window.partitionBy(on)
        .orderBy(*w_order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.filter(as_timestamp(start_col) < as_timestamp(end_col))
        .withColumn("__island", island)
        .groupBy(on, "__island")
        .agg(
            F.min(as_timestamp(start_col)).alias("island_start"),
            F.max(as_timestamp(end_col)).alias("island_end"),
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
        )
        .drop("__island")
    )


def decayed_sum(
    df: DataFrame,
    on: str,
    ts_col: str = "ts",
    value_col: str = "value",
    half_life: timedelta = timedelta(days=7),
    ref_ts: datetime | None = None,
) -> DataFrame:
    """Exponential-decay aggregate per key:
    ``Σ value · 2^(-(t_ref - ts)/half_life)`` — the recency-weighted
    popularity / trending-items primitive (an event loses half its
    weight every ``half_life``). Unlike a recursive EWMA this is a pure
    per-row weight, so it is embarrassingly parallel, needs no ordering,
    and re-aggregates incrementally (yesterday's sum times a constant
    plus today's batch). Returns ``(on, n_events, decayed_sum)``.

    ``ref_ts`` anchors "now"; ``None`` uses the corpus max timestamp
    (deterministic, broadcast 1-row aggregate — never wall-clock, which
    would make the result unreproducible). Per-row contributions snap to
    integer micro-units before the SUM (order-free, oracle-exact); the
    weight itself is ``pow(2, -Δus/half_life_us)`` on exact integer
    microsecond deltas.

    Scale shape: map-only weighting + ONE key aggregate; no windows, no
    joins (the ref is a broadcast single row). Future rows (ts > ref)
    are kept and weigh MORE than 1 — callers filtering a closed corpus
    never see one, and truncating silently would corrupt incremental
    merges.
    """
    hl_us = _td_us(half_life)
    if hl_us <= 0:
        raise ValueError("decayed_sum: half_life must be positive")
    if ref_ts is not None:
        src = df.withColumn("__ref", F.lit(ref_ts).cast("timestamp"))
    else:
        ref = df.agg(F.max(as_timestamp(ts_col)).alias("__ref"))
        src = df.crossJoin(F.broadcast(ref))
    delta = F.unix_micros(F.col("__ref")) - F.unix_micros(as_timestamp(ts_col))
    w = F.pow(F.lit(2.0), -(delta.cast("double") / F.lit(float(hl_us))))
    contrib_u6 = F.floor(
        F.col(value_col).cast("double") * w * 1000000 + F.lit(0.5)
    ).cast("long")
    return (
        src.groupBy(on)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(contrib_u6).cast("long").alias("__s_u6"),
        )
        .select(
            on,
            "n_events",
            (F.col("__s_u6").cast("double") / 1000000.0).alias("decayed_sum"),
        )
    )


def seasonality_profile(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    period: str = "hour_of_day",
) -> DataFrame:
    """Seasonal profile of a metric stream (r10) — the decomposition
    step before any anomaly rule touches time-of-day-shaped data: a
    login spike at 9am is weather, not signal, and a per-user baseline
    (:func:`~aces_spark.datapipe.analytics.anomaly_zscore`) cannot see
    it. One row per seasonal bucket:
    ``(bucket, n, bucket_mean, seasonal_index)`` where
    ``seasonal_index = bucket_mean / global_mean`` (> 1 = the bucket
    runs hot; the classic ratio-to-moving-average index with the
    global mean as the trend stand-in for a stationary window).

    ``period``: ``"hour_of_day"`` (bucket = hour 0-23) or
    ``"day_of_week"`` (0 = Sunday — computed from the epoch-day count,
    NOT the engine's locale-dependent dayofweek, so every engine
    agrees). Means take the repo's exact route: DECIMAL(18,6) sums,
    one floor-round to 6 dp, and the index divides the two
    already-rounded doubles — bit-stable anywhere.

    Scale shape: one hash aggregate on ≤ 24 bucket keys (map-side
    partial combine does nearly all the work) + a broadcast 1-row
    global mean. Linear, one exchange."""
    if period == "hour_of_day":
        bucket = F.hour(F.col(ts_col))
    elif period == "day_of_week":
        bucket = F.pmod(
            F.floor(F.unix_timestamp(F.col(ts_col)) / 86400) + 4, F.lit(7)
        ).cast("int")
    else:
        raise ValueError(
            "seasonality_profile: period must be 'hour_of_day' or 'day_of_week'"
        )
    rows = df.filter(F.col(value_col).isNotNull()).select(
        bucket.alias("bucket"), F.col(value_col).cast("decimal(18,6)").alias("__v")
    )
    r6 = lambda col: F.floor(col * 1000000 + 0.5) / 1000000.0  # noqa: E731
    mean6 = lambda s, n: r6(s.cast("double") / n.cast("double"))  # noqa: E731
    per = rows.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__v").alias("__s"),
    )
    glob = rows.agg(
        F.count(F.lit(1)).cast("long").alias("__gn"), F.sum("__v").alias("__gs")
    )
    return (
        per.crossJoin(F.broadcast(glob))
        .select(
            "bucket",
            "n",
            mean6(F.col("__s"), F.col("n")).alias("bucket_mean"),
            r6(
                mean6(F.col("__s"), F.col("n"))
                / mean6(F.col("__gs"), F.col("__gn"))
            ).alias("seasonal_index"),
        )
    )
