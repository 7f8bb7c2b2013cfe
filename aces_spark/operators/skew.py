"""Skew mitigation for pathological subjects (ARCHITECTURE.md §Skew).

The engine's kernels hash-partition by ``subject_id``; a subject with ~10⁶+
events serializes inside one task. These operators break that subject into
TIME chunks — chunk assignment is a pure row-local expression
(``floor(unix_micros(ts) / chunk)``), so no serialized pass is needed to
split — and restore exactness in one of two ways:

* :func:`chunked_cumsum` — per-subject running sums computed as intra-chunk
  cumsums (parallel across chunks) plus a stitched per-chunk exclusive
  prefix: chunk totals are a tiny side-relation (one row per (subject,
  chunk)), prefix-summed with a window over chunks and broadcast-joined
  back. Two extra small shuffles, full parallelism across chunks.
* :func:`aggregate_temporal_window_chunked` — the temporal kernel
  (``aggregate.py::aggregate_temporal_window``) with halo replication: each
  row is exploded into every chunk whose windows can reach it (≤ 1 +
  ⌈frame_span/chunk⌉ copies, so ~2-3× with ``chunk ≥ span``), the range
  frame runs within ``(subject_id, chunk)`` — parallel across chunks — and
  only each row's home-chunk copy is emitted. Bit-identical to the
  unchunked kernel (pinned by a differential test).
* :func:`boolean_expr_bound_sum_chunked` /
  :func:`aggregate_event_bound_window_chunked` — the event-bound kernel
  re-expressed over ONE ``(subject, chunk)`` exchange: conditional
  intra-chunk cumsums, halo-replicated offset sums, and a chunk-local
  nearest-boundary fill, all stitched by a tiny per-(subject, chunk)
  side relation (chunk-prefix totals + last-boundary carry) built with
  plain aggregates and broadcast back. Bit-identical to the plain kernel
  across the whole mode×closed×offset grid (differential-pinned).

These are OPT-IN variants: for EHR-shaped data (≤ ~100k events/subject)
the plain kernels' single exchange wins; switch when a corpus has
documented hot keys (``tools/skew_probe.py`` measures the crossover).
Precondition (same as the kernels): ``(subject_id, timestamp)`` unique,
timestamps non-null.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..types import (
    PRED_CNT_TYPE,
    TemporalWindowBounds,
    ToEventWindowBounds,
    td_to_us,
)
from .aggregate import (
    _as,
    _event_bound_outputs,
    _fill_spec,
    _offset_interval_bounds,
    _pred_cols,
)

_US_PER_DAY = 86_400_000_000


def _explicit_partition_count(df: DataFrame) -> int:
    """An explicit shuffle-partition count for the chunked exchanges.
    Without it, AQE coalesces the fresh shuffle down to advisory-size
    partitions (~64 MB), which re-serializes exactly the work the chunking
    exists to spread — measured 5× slower on the 1M-event hot-subject
    probe.

    Derived from session config only — NEVER from ``df.rdd``: under AQE,
    converting a DataFrame to an RDD materializes its query stages, i.e.
    it silently EXECUTES the upstream exchanges once before the real
    action runs them again (measured ~2× on the whole chunked kernel).
    """
    spark = df.sparkSession
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )


def _repartition_chunked(df: DataFrame, key: str) -> DataFrame:
    """Pin an EXPLICIT exchange on ``(key, __chunk)`` before the chunked
    window (see :func:`_explicit_partition_count`)."""
    return df.repartition(_explicit_partition_count(df), key, "__chunk")


def chunked_cumsum(
    df: DataFrame,
    value_cols: list[str] | None = None,
    chunk: timedelta = timedelta(days=365),
    key: str = "subject_id",
    ts: str = "timestamp",
    prefix: str = "cum_",
) -> DataFrame:
    """Exact per-``key`` running cumulative sums with intra-chunk
    parallelism: adds ``{prefix}{col}`` columns equal to
    ``sum(col) over (partition by key order by ts rows unbounded preceding
    to current row)`` without ever materializing one key's full history in
    a single task's window frame.

    Stitching: chunk c's rows see their intra-chunk cumsum plus the sum of
    all earlier chunks — an exclusive prefix over the per-chunk totals,
    which is |keys|×|chunks| rows (tiny) and broadcast back.
    """
    cols = value_cols if value_cols is not None else [
        c for c in df.columns if c not in (key, ts)
    ]
    chunk_us = td_to_us(chunk)
    cid = F.floor(F.unix_micros(F.col(ts)) / F.lit(chunk_us)).alias("__chunk")
    data = _repartition_chunked(df.select("*", cid), key)

    w_intra = (
        Window.partitionBy(key, "__chunk")
        .orderBy(F.col(ts).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = data.withColumns({f"__intra_{c}": F.sum(F.col(c)).over(w_intra) for c in cols})

    totals = data.groupBy(key, "__chunk").agg(
        *[F.sum(F.col(c)).alias(f"__tot_{c}") for c in cols]
    )
    w_prev = (
        Window.partitionBy(key)
        .orderBy(F.col("__chunk").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefixes = totals.select(
        key,
        "__chunk",
        *[
            F.coalesce(F.sum(F.col(f"__tot_{c}")).over(w_prev), F.lit(0)).alias(f"__pre_{c}")
            for c in cols
        ],
    )

    joined = intra.join(F.broadcast(prefixes), on=[key, "__chunk"])
    out_cols = {
        f"{prefix}{c}": (F.col(f"__intra_{c}") + F.col(f"__pre_{c}")).cast(PRED_CNT_TYPE)
        for c in cols
    }
    return joined.withColumns(out_cols).drop(
        "__chunk", *[f"__intra_{c}" for c in cols], *[f"__pre_{c}" for c in cols]
    )


def _chunked_range_sums(df, lo: int, hi: int, cols, name, chunk_us: int) -> DataFrame:
    """Append ``name(c) = sum(c) over (partition by subject_id order by
    unix_micros(timestamp) range between lo and hi)`` for each ``c`` in
    ``cols``, computed within ``(subject_id, time-chunk)`` via halo
    replication (each row is exploded into every chunk whose frames can
    read it — ≤ 1 + ⌈(hi-lo)/chunk_us⌉ copies), so no subject ever
    serializes into one task. Exact for any ``chunk_us ≥ 1``; requires
    ``lo ≤ hi``. All input columns are preserved."""
    ts_us = F.unix_micros(F.col("timestamp"))
    home = F.floor(ts_us / F.lit(chunk_us))
    # the home chunk is folded in even when the frame excludes the row
    # itself (pure-offset frames with lo > 0 or hi < 0) — every row must
    # still be EMITTED from its home copy
    first_target = F.least(home, F.floor((ts_us - F.lit(hi)) / F.lit(chunk_us)))
    last_target = F.greatest(home, F.floor((ts_us - F.lit(lo)) / F.lit(chunk_us)))
    exploded = _repartition_chunked(
        df.select(
            "*",
            home.alias("__home"),
            F.explode(F.sequence(first_target, last_target)).alias("__chunk"),
        ),
        "subject_id",
    )
    w = Window.partitionBy("subject_id", "__chunk").orderBy(ts_us.asc()).rangeBetween(lo, hi)
    return (
        exploded.select(
            "*",
            *[F.coalesce(F.sum(F.col(c)).over(w), F.lit(0)).alias(name(c)) for c in cols],
        )
        .filter(F.col("__chunk") == F.col("__home"))
        .drop("__home", "__chunk")
    )


def aggregate_temporal_window_chunked(
    predicates_df: DataFrame,
    endpoint_expr: TemporalWindowBounds | tuple,
    chunk: timedelta | None = None,
) -> DataFrame:
    """Skew-resistant :func:`~aces_spark.operators.aggregate.aggregate_temporal_window`:
    identical output, but the range-frame window runs within
    ``(subject_id, time-chunk)`` so a hot subject's events spread across
    ``span(subject)/chunk`` parallel tasks instead of one.

    Exactness via halo replication: a context row at ``ts`` can be read by
    rows in chunks ``chunk_of(ts - hi) .. chunk_of(ts - lo)`` (the frame is
    ``[row + lo, row + hi]`` μs); the row is exploded into exactly those
    chunks, every chunk evaluates a complete frame locally, and only the
    home-chunk copy (``__chunk == chunk_of(ts)``) is emitted.

    ``chunk`` defaults to ``4 × frame span`` (≥ 1 day), bounding halo
    duplication at ~25% while still splitting multi-year hot subjects.
    """
    if not isinstance(endpoint_expr, TemporalWindowBounds):
        endpoint_expr = TemporalWindowBounds(*endpoint_expr)
    lo, hi = endpoint_expr.spark_range_bounds
    pred_cols = [c for c in predicates_df.columns if c not in ("subject_id", "timestamp")]
    ts_us = F.unix_micros(F.col("timestamp"))
    off_us = td_to_us(endpoint_expr.offset)
    ws_us = td_to_us(endpoint_expr.window_size)

    bound_cols = [
        F.timestamp_micros(ts_us + off_us).alias("timestamp_at_start"),
        F.timestamp_micros(ts_us + off_us + ws_us).alias("timestamp_at_end"),
    ]

    if lo > hi:  # degenerate empty frame — same shortcut as the plain kernel
        return predicates_df.select(
            "subject_id",
            "timestamp",
            *bound_cols,
            *[F.lit(0).cast(PRED_CNT_TYPE).alias(c) for c in pred_cols],
        )

    if chunk is None:
        chunk_us = max(4 * (hi - lo), _US_PER_DAY)
    else:
        chunk_us = td_to_us(chunk)

    summed = _chunked_range_sums(predicates_df, lo, hi, pred_cols, lambda c: f"__sum_{c}", chunk_us)
    return summed.select(
        "subject_id",
        "timestamp",
        *bound_cols,
        *[F.col(f"__sum_{c}").cast(PRED_CNT_TYPE).alias(c) for c in pred_cols],
    )


def _resolve_boundary_chunked(df: DataFrame, boundary) -> tuple[DataFrame, Column]:
    """Chunk-safe version of ``aggregate._resolve_boundary``: the plain
    kernel's record start/end pseudo-events use a whole-partition window
    (min/max over subject) — exactly the serialization this module avoids —
    so here they become a ``groupBy(subject_id)`` partial aggregate joined
    back (AQE skew-join handles a hot subject's join partition; window
    partitions have no such rescue). Returns a possibly-augmented frame and
    the boolean boundary column."""
    if isinstance(boundary, Column):
        return df, boundary
    match boundary:
        case ("col", name):
            return df, F.col(name) > 0
        case ("record_start",) | ("record_end",):
            agg = (F.min if boundary[0] == "record_start" else F.max)("timestamp")
            ext = df.groupBy("subject_id").agg(agg.alias("__ext_ts"))
            out = df.join(ext, "subject_id")
            return out, F.col("timestamp") == F.col("__ext_ts")
        case _:
            raise ValueError(f"Invalid boundary descriptor: {boundary!r}")


def boolean_expr_bound_sum_chunked(
    df: DataFrame,
    boundary_expr,
    mode: str,
    closed: str,
    offset: timedelta = timedelta(0),
    chunk: timedelta = timedelta(days=365),
) -> DataFrame:
    """Skew-resistant ``aggregate.boolean_expr_bound_sum``: identical output
    (same algorithm, same reference semantics — the spec lives on the plain
    kernel's docstring), but no per-subject stage ever serializes a hot
    subject into one task, and the event relation is exchanged exactly ONCE.

    Design — one big ``(subject_id, time-chunk)`` exchange hosts all three
    per-row window computations; everything cross-chunk rides a tiny
    per-(subject, chunk) side relation built from plain aggregates:

    * **intra-chunk cumsums** (step 1): conditional ``sum(home-copy preds)``
      over a rows frame; globalized later by adding the side relation's
      exclusive chunk-prefix totals.
    * **offset-interval sums** (step 5): the bounded range frame over halo
      copies (each row exploded into every chunk whose frames can read it,
      exactly the temporal-chunked trick) — same exchange, same sort.
    * **nearest-boundary fill** (steps 2+3): the plain kernel's half-line
      fill (``last(boundary state) over (unbounded preceding, D)`` on the
      signed key from ``aggregate._fill_spec``) runs WITHIN each chunk;
      boundaries in earlier (sign-order) chunks come from the side
      relation's carry — the last boundary state of every preceding chunk,
      prefix-filled over the subject's chunk sequence. Rows whose fill
      read-point ``ts + sign·D`` lands outside their home chunk (a
      ``|D|/chunk`` fraction near chunk borders) are resolved on a replica
      in the read-point's chunk; a second cheap exchange on
      ``(subject, read-chunk)`` colocates each row's copies and a per-row
      window hands the read copy's answer to the emitted home copy.

    The side relation needs the cum value AT each chunk's carry boundary,
    which a single groupBy cannot express (nested aggregate); it is built
    in two cheap scan passes over the un-exploded input — per-chunk totals
    + carry-boundary timestamp, then conditional sums at that timestamp —
    with no wide exchange (map-side partial aggregation only).

    Cost vs the plain kernel: one extra exchange (the copy-colocation
    step), two cheap scan passes for the side relation, and one extra
    in-partition sort when ``mode='row_to_bound'`` (the fill orders by the
    negated key).

    WHEN TO USE: unlike the temporal kernel (whose sliding frame makes a
    hot subject's task cost frame-size × events — chunking is a measured
    8× wall-clock win there), the plain event-bound kernel is O(n) per
    subject, so even a 10⁷-event subject costs one task only a linear
    pass (measured: 10M-event subject, 32 cores — plain 7.1 s vs chunked
    11.9 s). Reach for this variant as INSURANCE when a single subject's
    events approach the per-task sort/memory ceiling (~10⁸ events or
    multi-GB per subject), where the plain kernel's one-task sort spills
    or OOMs; ``tools/skew_probe.py`` reports both numbers.
    """
    if mode not in ("bound_to_row", "row_to_bound"):
        raise ValueError(f"Mode '{mode}' invalid!")
    if closed not in ("both", "none", "left", "right"):
        raise ValueError(f"Closed '{closed}' invalid!")

    pred_cols = _pred_cols(df)
    tp = "__"
    off_us = td_to_us(offset)
    sign, fill_bound, exclude = _fill_spec(mode, closed, off_us)
    interval = _offset_interval_bounds(mode, closed, offset)
    span = (interval[1] - interval[0]) if interval and interval[0] <= interval[1] else 0
    # widen the chunk so border-residual and halo fractions stay tiny
    chunk_us = max(td_to_us(chunk), 2 * (abs(fill_bound) + 1), 4 * span)

    base, boundary_col = _resolve_boundary_chunked(df, boundary_expr)
    ts_us = F.unix_micros(F.col("timestamp"))
    base = base.withColumns(
        {
            f"{tp}bexpr": boundary_col,
            "__home": F.floor(ts_us / F.lit(chunk_us)),
            # fill read-point ts + sign·D, on the ts axis
            "__cq": F.floor((ts_us + F.lit(sign * fill_bound)) / F.lit(chunk_us)),
        }
    )

    # ---- side relation: per-(subject, chunk) totals + carry-boundary state
    # pass 1: chunk totals and the carry boundary's timestamp (last boundary
    # in sign order: max ts for forward fill, min ts for backward fill)
    b_ts_agg = (F.max if sign == 1 else F.min)(
        F.when(F.col(f"{tp}bexpr"), F.col("timestamp"))
    ).alias("__b_ts")
    side1 = base.groupBy("subject_id", "__home").agg(
        *[F.sum(F.col(c)).alias(f"__tot_{c}") for c in pred_cols], b_ts_agg
    )
    # pass 2: the cum value AT that boundary = conditional sums at ts ≤ b_ts
    # (cumsums are always ts-ascending regardless of fill direction), minus
    # the boundary row's own counts when the mode×closed rule excludes them
    side2 = (
        base.join(
            F.broadcast(side1.select("subject_id", "__home", "__b_ts")),
            ["subject_id", "__home"],
        )
        .filter(F.col("__b_ts").isNotNull())
        .groupBy("subject_id", "__home")
        .agg(
            *[
                F.sum(
                    F.when(
                        F.col("timestamp") <= F.col("__b_ts"),
                        F.col(c)
                        - (
                            F.when(F.col("timestamp") == F.col("__b_ts"), F.col(c)).otherwise(0)
                            if exclude
                            else F.lit(0)
                        ),
                    )
                ).alias(f"__bic_{c}")
                for c in pred_cols
            ]
        )
    )
    # spine: every chunk that can be joined against — home chunks plus fill
    # read-point chunks (which may hold no events at all)
    spine = (
        base.select("subject_id", F.col("__home").alias("__chunk"))
        .unionByName(base.select("subject_id", F.col("__cq").alias("__chunk")))
        .distinct()
    )
    w_asc = (
        Window.partitionBy("subject_id")
        .orderBy(F.col("__chunk").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_carry = (
        Window.partitionBy("subject_id")
        .orderBy(F.col("__chunk").asc() if sign == 1 else F.col("__chunk").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_chunk = (
        spine.join(
            side1.withColumnRenamed("__home", "__chunk"), ["subject_id", "__chunk"], "left"
        )
        .join(side2.withColumnRenamed("__home", "__chunk"), ["subject_id", "__chunk"], "left")
        .withColumns(
            {f"__pre_{c}": F.coalesce(F.sum(F.col(f"__tot_{c}")).over(w_asc), F.lit(0)) for c in pred_cols}
        )
        .withColumn(
            "__cstate",
            F.when(
                F.col("__b_ts").isNotNull(),
                F.struct(
                    F.col("__b_ts").alias("ts"),
                    # globalize: chunk-local cum + exclusive prefix of totals
                    *[
                        (F.col(f"__bic_{c}") + F.col(f"__pre_{c}")).alias(f"bc_{c}")
                        for c in pred_cols
                    ],
                ),
            ),
        )
    )
    side = per_chunk.select(
        "subject_id",
        "__chunk",
        *[f"__pre_{c}" for c in pred_cols],
        F.last("__cstate", ignorenulls=True).over(w_carry).alias("__carry"),
    )

    # ---- the one big exchange: explode into home + read-point + halo chunks
    cands = [F.col("__home"), F.col("__cq")]
    if interval is not None and interval[0] <= interval[1]:
        lo, hi = interval
        cands += [
            F.floor((ts_us - F.lit(hi)) / F.lit(chunk_us)),
            F.floor((ts_us - F.lit(lo)) / F.lit(chunk_us)),
        ]
    expl = _repartition_chunked(
        base.select(
            "*", F.explode(F.sequence(F.least(*cands), F.greatest(*cands))).alias("__chunk")
        ),
        "subject_id",
    )
    is_home = F.col("__chunk") == F.col("__home")

    w_chunk = Window.partitionBy("subject_id", "__chunk")
    w_rows = w_chunk.orderBy(ts_us.asc()).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum_cols = {
        f"{tp}icum_{c}": F.sum(F.when(is_home, F.col(c)).otherwise(F.lit(0))).over(w_rows)
        for c in pred_cols
    }
    off_cols: dict[str, Column] = {}
    if interval is not None:
        lo, hi = interval
        if lo > hi:
            off_cols = {f"{tp}off_{c}": F.lit(0).cast("long") for c in pred_cols}
        else:
            w_off = w_chunk.orderBy(ts_us.asc()).rangeBetween(lo, hi)
            off_cols = {
                f"{tp}off_{c}": F.coalesce(F.sum(F.col(c)).over(w_off), F.lit(0))
                for c in pred_cols
            }
    step1 = expl.withColumns({**cum_cols, **off_cols})

    # intra-chunk fill: last home-boundary state within (unbounded, D] on
    # the signed key; carries the CHUNK-LOCAL cum (globalized on read by
    # adding the reader's chunk prefix — source and reader share a chunk)
    fill_key = ts_us if sign == 1 else (-ts_us)
    w_fill = w_chunk.orderBy(fill_key.asc()).rangeBetween(Window.unboundedPreceding, fill_bound)
    src = F.when(
        F.col(f"{tp}bexpr") & is_home,
        F.struct(
            F.col("timestamp").alias("ts"),
            *[
                (
                    F.col(f"{tp}icum_{c}") - (F.col(c) if exclude else F.lit(0))
                ).alias(f"bc_{c}")
                for c in pred_cols
            ],
        ),
    )
    step2 = step1.withColumn("__ifill", F.last(src, ignorenulls=True).over(w_fill))

    joined = step2.join(F.broadcast(side), ["subject_id", "__chunk"])
    has_ifill = F.col("__ifill").isNotNull()
    fill_cols = {
        "__f_ts": F.when(has_ifill, F.col("__ifill.ts")).otherwise(F.col("__carry.ts")),
        **{
            f"__f_{c}": F.when(
                has_ifill, F.col(f"__ifill.bc_{c}") + F.col(f"__pre_{c}")
            ).otherwise(F.col(f"__carry.bc_{c}"))
            for c in pred_cols
        },
    }
    resolved = joined.withColumns(fill_cols)

    # ---- assembly: every row's CORRECT fill lives on its read-point copy
    # (chunk == cq; for non-border rows that IS the home copy). Colocate
    # each row's home and read-point copies with one exchange on
    # (subject, cq) — all copies of a row share cq, and chunk-grained keys
    # keep a hot subject spread out — then hand the read copy's fill to the
    # home copy with a per-row-group window (1-2 rows per group) and emit
    # home copies. One cheap extra exchange instead of a second windowed
    # pass over the whole relation.
    is_read = F.col("__chunk") == F.col("__cq")
    moved = resolved.filter(is_home | is_read)
    moved = moved.repartition(
        _explicit_partition_count(moved), "subject_id", "__cq"
    )
    w_row = Window.partitionBy("subject_id", "__cq", "timestamp")
    transfer = {
        "__f_ts": F.max(F.when(is_read, F.col("__f_ts"))).over(w_row),
        **{
            f"__f_{c}": F.max(F.when(is_read, F.col(f"__f_{c}"))).over(w_row)
            for c in pred_cols
        },
    }
    final_cols = {
        f"{tp}ts_at_boundary": F.col("__f_ts"),
        **{f"{tp}bcum_{c}": F.col(f"__f_{c}") for c in pred_cols},
        **{
            f"{tp}cum_{c}": F.col(f"{tp}icum_{c}") + F.col(f"__pre_{c}") for c in pred_cols
        },
    }
    filled = moved.withColumns(transfer).filter(is_home).withColumns(final_cols)

    out_cols = _as(_event_bound_outputs(pred_cols, mode, closed, offset, tp))
    return filled.selectExpr("subject_id", "`timestamp`", *out_cols)


def aggregate_event_bound_window_chunked(
    predicates_df: DataFrame,
    endpoint_expr: ToEventWindowBounds | tuple,
    chunk: timedelta = timedelta(days=365),
) -> DataFrame:
    """Skew-resistant ``aggregate.aggregate_event_bound_window``: translates
    the bounds object and delegates to
    :func:`boolean_expr_bound_sum_chunked`."""
    if not isinstance(endpoint_expr, ToEventWindowBounds):
        endpoint_expr = ToEventWindowBounds(*endpoint_expr)
    kwargs = endpoint_expr.bound_sum_kwargs
    return boolean_expr_bound_sum_chunked(
        predicates_df,
        kwargs["boundary"],
        kwargs["mode"],
        kwargs["closed"],
        kwargs["offset"],
        chunk=chunk,
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    salt_key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Generic skew-breaking equi-join: the heavy LEFT side scatters each
    key across ``n_salts`` sub-partitions (deterministic salt =
    ``xxhash64(salt_key) mod n_salts`` — pass any stable left column,
    typically the row's unique id), and the smaller RIGHT side replicates
    into every salt. The join keys become ``on + [salt]``, so one hot
    key's rows land on ``n_salts`` reducers instead of one.

    Same results as ``left.join(right, on, how)`` for ``inner`` and
    ``left`` joins (each left row still meets every matching right row,
    exactly once per salt replica it can reach — its own). Right-side
    cost is ``n_salts×`` replication, so keep the replicated side the
    small one — when it is SMALL enough to broadcast, prefer
    ``F.broadcast`` (no shuffle at all); salting is for the middle
    ground where the right side is too big to broadcast and the left
    key distribution is too hot for a plain shuffle. AQE's skew-join
    handles sort-merge cases adaptively; salting is the deterministic,
    plan-time guarantee.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    on_cols = [on] if isinstance(on, str) else list(on)
    l = left.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_key)), F.lit(n_salts)).cast("int")
    )
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    return l.join(r, on_cols + ["__salt"], how).drop("__salt")
