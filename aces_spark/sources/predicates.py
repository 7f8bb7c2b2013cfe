"""Sources: raw data → the predicates DataFrame (SURVEY §2.1 / §2.2).

The engine's runtime data model is one flat table (reference
``src/aces/predicates.py:188-226``):

    subject_id: long | timestamp: timestamp(μs) | <one long column per predicate>

with ``(subject_id, timestamp)`` unique, and null-timestamp rows carrying
static (demographic) facts.

Supported standards (dispatch mirrors ``src/aces/predicates.py:693-715``):

* ``direct`` — user-supplied predicate-count table as CSV or parquet
  (reference ``:21-226``).
* ``meds`` — MEDS event parquet (``subject_id, time, code, numeric_value``),
  predicates evaluated as boolean SQL expressions
  (reference ``:229-288``). A directory of shards is read as ONE Spark scan
  (shards become input splits) — the reference's per-shard Hydra multirun
  (``src/aces/configs/data/sharded.yaml``) collapses into native
  partitioning.
* ``esgpt`` — the three-table EventStream model (subjects / events /
  dynamic measurements); per-table predicate eval, per-event measurement
  aggregation, event join, static-row concat (reference ``:291-474``).
  Loaded from the on-disk parquet artifacts directly — no EventStream
  package dependency.

Scale notes: only the source columns referenced by some predicate are
selected before any compute (column pruning reaches the parquet scan), the
event-collapse ``groupBy(subject_id, timestamp)`` is the pipeline's single
required shuffle, and everything downstream reuses that hash partitioning.

Row filter. An event that matches no plain predicate adds 0 to every count
and is never a trigger or a boundary; it matters only when the task reads
row existence (:attr:`TaskExtractorConfig.reads_every_event
<aces_spark.config.TaskExtractorConfig.reads_every_event>`: the trigger, a
``has:`` key or an event bound names ``_ANY_EVENT``, ``_RECORD_START`` or
``_RECORD_END``; a window starts or ends at ``NULL``; or a derived predicate
reads a static one). Otherwise the MEDS and direct loaders keep only
null-timestamp rows and rows where some plain predicate is non-zero, in the
scan stage before the exchange, so only the events a task can read are
shuffled. ESGPT has no collapse and keeps every row.

The loaders are SQL text applied with ``selectExpr`` (one py4j round trip
per stage and item, not one per expression node), as the planner is: the
plain-predicate projection, the collapse aggregates, derived predicates
with the static broadcast, and the ``_ANY_EVENT`` / record-flag columns.
"""

from __future__ import annotations

import logging
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import TaskExtractorConfig
from ..types import (
    ANY_EVENT_COLUMN,
    END_OF_RECORD_KEY,
    PRED_CNT_TYPE,
    START_OF_RECORD_KEY,
)
from ..utils import ident, sql_str

logger = logging.getLogger(__name__)


def _collapse(data: DataFrame, predicates: list[str], every_event: bool) -> DataFrame:
    """The MEDS and direct loaders' shared tail: the row filter (unless
    ``every_event``), the engine's one exchange, and the
    ``(subject_id, timestamp)`` collapse summing counts, where an all-null
    group sums to 0 (the reference's Polars sum).

    ONE exchange for the whole engine: hash-partitioning by subject_id
    satisfies the (subject_id, timestamp) clustering the collapse needs,
    and every downstream window is keyed by subject_id, so no further
    shuffle is ever required (SURVEY §4: "embarrassingly parallel by
    subject"). The filter sits before it, in the scan stage."""
    if not every_event:
        keep = ["`timestamp` IS NULL", *(f"{ident(c)} <> 0" for c in predicates)]
        data = data.filter(" OR ".join(keep))
    # df["name"] is one py4j round trip, F.col(name) three
    subject, ts = data["subject_id"], data["timestamp"]
    sums = [f"CAST(coalesce(sum({ident(c)}), 0) AS {PRED_CNT_TYPE}) AS {ident(c)}" for c in predicates]
    out = data.repartition(subject).groupBy(subject, ts).agg(*map(F.expr, sums))
    # unique keys by construction (the collapse) — lets query()'s
    # default-on uniqueness validation skip its aggregation pass
    out._aces_keys_unique = True
    return out


def direct_load_plain_predicates(
    spark: SparkSession,
    data_path: str | Path,
    predicates: list[str],
    ts_format: str | None,
    every_event: bool = True,
) -> DataFrame:
    """Load a user-supplied predicates table (reference
    ``src/aces/predicates.py:21-226``): validate columns, parse string
    timestamps with ``ts_format``, and collapse duplicate
    ``(subject_id, timestamp)`` rows by summing counts (see
    :func:`_collapse` for ``every_event``)."""
    data_path = Path(data_path)
    if not data_path.is_file() and not data_path.is_dir():
        raise FileNotFoundError(f"Direct predicates file {data_path} does not exist!")

    match data_path.suffix:
        case ".csv":
            data = spark.read.csv(str(data_path), header=True, inferSchema=True)
        case ".parquet" | "":
            data = spark.read.parquet(str(data_path))
        case _:
            raise ValueError(f"Unsupported file format: {data_path.suffix}")

    dtypes = dict(data.dtypes)
    missing_columns = [col for col in ["subject_id", "timestamp", *predicates] if col not in dtypes]
    if missing_columns:
        raise ValueError(f"Missing columns: {missing_columns}")

    ts, ts_type = ident("timestamp"), dtypes["timestamp"]
    if ts_type == "string":
        if ts_format is None:
            raise ValueError("Must provide a timestamp format for direct predicates with str timestamps.")
        ts = strptime_sql(ts, ts_format)
    elif ts_type.startswith("timestamp") or ts_type == "date":
        if ts_format is not None:
            logger.info("Ignoring timestamp format %s; timestamps are already %s", ts_format, ts_type)
        ts = f"CAST({ts} AS TIMESTAMP)"
    else:
        raise TypeError(f"Passed predicates have timestamps of invalid type {ts_type}.")

    data = data.selectExpr(
        "CAST(subject_id AS BIGINT) AS subject_id", f"{ts} AS `timestamp`", *map(ident, predicates)
    )
    return _collapse(data, predicates, every_event)


#: lenient English day-name token (``Mon``/``Monday``/…, any case) used to
#: strip ``%a``/``%A`` fields before parsing — the day name is redundant
#: with the date, and Spark's >=3.0 parser rejects EEE/EEEE for parsing
_DAY_NAME_RE = r"(?i)\b(?:Mon|Tue|Wed|Thu|Fri|Sat|Sun)(?:day|sday|nesday|rsday|urday)?\b"


def _strip_day_directives(fmt: str) -> tuple[str, bool]:
    """Remove ``%a``/``%A`` directives from a strptime format (directive-
    aware: a ``%a`` produced by ``%%a`` is literal text and survives).
    Returns ``(stripped_format, had_day_directive)``."""
    out: list[str] = []
    had = False
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            d = fmt[i : i + 2]
            if d in ("%a", "%A"):
                had = True
            else:
                out.append(d)
            i += 2
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out), had


def strptime_sql(col: str, ts_format: str) -> str:
    """SQL text parsing the string column ``col`` (SQL text) with a
    strptime-style format, including ``%a``/``%A``: Spark's >=3.0 parser
    cannot *parse* day-of-week fields (EEE/EEEE are format-only), so the
    day-name token — redundant with the date it accompanies — is stripped
    from the data and the directive from the format, then the rest parses
    normally. Lenient like the reference's Polars path
    (``src/aces/predicates.py:211``): the day name is not
    cross-validated against the parsed date."""
    fmt, had_day = _strip_day_directives(ts_format)
    if had_day:
        col = f"regexp_replace({col}, {sql_str(_DAY_NAME_RE)}, '')"
    return f"to_timestamp({col}, {sql_str(_strptime_to_spark(fmt))})"


def _strptime_to_spark(fmt: str) -> str:
    """Translate the strptime-style format the reference accepts
    (``%m/%d/%Y %H:%M``, ``tests/test_e2e.py:11``) into a Spark/Java
    datetime pattern.

    Walks the format left-to-right: known ``%`` directives map to their
    Java pattern, unknown ones raise immediately (silently passing them
    through would misparse), and literal text is single-quoted so Java
    pattern letters inside it (``T``, ``Z``, ...) stay literal.
    """
    # single-letter Java patterns accept 1-2 digits, matching strptime's
    # tolerance for unpadded fields (the reference fixtures use e.g.
    # "12/1/1989 2:24" with %m/%d/%Y %H:%M)
    mapping = {
        "%Y": "yyyy",
        "%y": "yy",
        "%m": "M",
        "%d": "d",
        "%H": "H",
        "%I": "h",
        "%M": "m",
        "%S": "s",
        "%f": "SSSSSS",
        # NOTE: no %a/%A here — Spark's >=3.0 parser REJECTS EEE/EEEE for
        # parsing (format-only patterns); strptime_sql() handles
        # them by stripping the redundant day-name token pre-parse
        "%b": "MMM",
        "%B": "MMMM",
        "%j": "D",
        "%p": "a",
        "%z": "xx",
        "%%": "'%'",
    }
    if "%I" in fmt and "%p" not in fmt:
        # Spark's 'h' silently defaults a missing am/pm marker to AM, so
        # '12:30' would parse as 00:30 where Python strptime keeps hour 12
        # — refuse rather than misparse (same policy as unknown directives)
        raise ValueError(
            f"%I (12-hour clock) requires %p (am/pm) in timestamp format {fmt!r}; "
            "without it Spark would misparse hour 12"
        )

    out: list[str] = []
    literal: list[str] = []

    def flush_literal() -> None:
        if literal:
            text = "".join(literal)
            if any(ch.isalpha() for ch in text):
                out.append("'" + text.replace("'", "''") + "'")
            else:
                out.append(text)
            literal.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            directive = fmt[i : i + 2]
            if directive not in mapping:
                raise ValueError(
                    f"Unsupported strptime directive {directive!r} in timestamp "
                    f"format {fmt!r}; supported: {sorted(mapping)}"
                )
            flush_literal()
            out.append(mapping[directive])
            i += 2
        else:
            literal.append(fmt[i])
            i += 1
    flush_literal()
    return "".join(out)


def generate_plain_predicates_from_meds(
    spark: SparkSession,
    data_path: str | Path,
    predicates: dict,
    every_event: bool = True,
) -> DataFrame:
    """MEDS parquet → predicate counts (reference
    ``src/aces/predicates.py:229-288``): rename ``time`` → ``timestamp``,
    evaluate each plain predicate over ``code``/``numeric_value``, and
    collapse per ``(subject_id, timestamp)``.

    ``data_path`` may be a single parquet file, a shard directory, or a
    glob — all become one distributed scan.
    """
    # MEDS shard directories nest (train/0, held_out/0/0, ...); recurse so
    # one scan covers the whole dataset (shards become input splits)
    data = spark.read.option("recursiveFileLookup", "true").parquet(str(data_path))
    return plain_predicates_from_meds_df(data, predicates, every_event)


def plain_predicates_from_meds_df(
    data: DataFrame, predicates: dict, every_event: bool = True
) -> DataFrame:
    """Evaluate plain predicates over an already-loaded MEDS-shaped
    DataFrame (``subject_id, time|timestamp, code, numeric_value, ...``)
    and collapse per ``(subject_id, timestamp)`` (see :func:`_collapse`
    for ``every_event``). The one projection reads only the source columns
    some predicate references, so column pruning reaches the scan."""
    dtypes = dict(data.dtypes)
    ts = "time" if "time" in dtypes and "timestamp" not in dtypes else "timestamp"
    if dtypes.get("code", "string") != "string":
        data = data.withColumn("code", F.expr("CAST(code AS STRING)"))
    data = data.selectExpr(
        "CAST(subject_id AS BIGINT) AS subject_id",
        f"CAST({ident(ts)} AS TIMESTAMP) AS `timestamp`",
        *[
            f"coalesce(CAST(({p.sql_expr()}) AS {PRED_CNT_TYPE}), 0) AS {ident(name)}"
            for name, p in predicates.items()
        ],
    )
    return _collapse(data, list(predicates), every_event)


def process_esgpt_data(
    subjects_df: DataFrame,
    events_df: DataFrame,
    dynamic_measurements_df: DataFrame,
    value_columns: dict[str, str | None],
    predicates: dict,
) -> DataFrame:
    """ESGPT three-table model → predicates DataFrame (reference
    ``src/aces/predicates.py:291-474``).

    Each predicate is evaluated on the table that carries its source data
    (``event_type`` codes on ``events_df``, ``static`` predicates on
    ``subjects_df``, everything else on ``dynamic_measurements_df`` with its
    measurement's ``values_column``); measurement-level counts are summed
    per ``event_id`` (A2), left-joined onto events (J5), and the subjects
    table contributes one null-timestamp static row per subject (O3).

    Scale notes: the per-event aggregation and the event join both key on
    ``event_id``, so Spark needs exactly one hash exchange per side and AQE
    picks broadcast when the aggregated measurements side is small; the
    static-row union is shuffle-free.
    """
    pred_cols = list(predicates.keys())
    dynamic_preds = [n for n in pred_cols if not predicates[n].static]
    static_preds = [n for n in pred_cols if predicates[n].static]

    event_level: list[str] = []
    meas_level: list[str] = []
    for name, pred in predicates.items():
        # dispatch mirrors the reference exactly (substring test on the
        # whole code, src/aces/predicates.py:374-385)
        if "event_type" in str(pred.code):
            events_df = events_df.withColumn(
                name, pred.esgpt_spark_expr().cast(PRED_CNT_TYPE)
            )
            event_level.append(name)
        elif pred.static:
            subjects_df = subjects_df.withColumn(
                name, pred.esgpt_spark_expr().cast(PRED_CNT_TYPE)
            )
        else:
            dynamic_measurements_df = dynamic_measurements_df.withColumn(
                name, pred.esgpt_spark_expr(value_columns.get(name)).cast(PRED_CNT_TYPE)
            )
            meas_level.append(name)

    # per-event measurement counts (reference :390-400). Polars' sum treats
    # an all-null group as 0, so coalesce the Spark sums to match.
    if meas_level:
        meas_counts = (
            dynamic_measurements_df.groupBy("event_id")
            .agg(*[F.coalesce(F.sum(c), F.lit(0)).cast(PRED_CNT_TYPE).alias(c) for c in meas_level])
        )
        data = events_df.join(meas_counts, on="event_id", how="left")
    else:
        data = events_df

    event_rows = data.select(
        F.col("subject_id").cast("long").alias("subject_id"),
        F.col("timestamp").cast("timestamp").alias("timestamp"),
        *[F.col(c) for c in dynamic_preds],
        *[F.lit(0).cast(PRED_CNT_TYPE).alias(c) for c in static_preds],
    )
    static_rows = subjects_df.select(
        F.col("subject_id").cast("long").alias("subject_id"),
        F.lit(None).cast("timestamp").alias("timestamp"),
        *[F.lit(0).cast(PRED_CNT_TYPE).alias(c) for c in dynamic_preds],
        *[F.col(c) for c in static_preds],
    )
    return static_rows.unionByName(event_rows)


def generate_plain_predicates_from_esgpt(
    spark: SparkSession,
    data_path: str | Path,
    predicates: dict,
    value_columns: dict[str, str | None] | None = None,
) -> DataFrame:
    """Load an ESGPT dataset directory and build the predicates DataFrame
    (reference ``src/aces/predicates.py:428-474``).

    The reference loads via the optional ``EventStream`` package; this
    engine reads the same on-disk artifacts directly — parquet files named
    ``subjects_df`` / ``events_df`` / ``dynamic_measurements_df`` in
    ``data_path``. ``value_columns`` maps each measurement-level predicate
    to the column holding its numeric values (the reference pulls this from
    the ESGPT dataset config); when omitted it is read from a
    ``value_columns`` mapping in ``{data_path}/config.json`` if present.
    """
    data_path = Path(data_path)
    tables = {}
    for stem in ("subjects_df", "events_df", "dynamic_measurements_df"):
        path = data_path / f"{stem}.parquet"
        if not path.exists():
            raise ValueError(
                f"{path} not found. Please ensure the path provided is a valid ESGPT dataset "
                "directory. If you mean to use a MEDS dataset, please specify the 'MEDS' standard."
            )
        tables[stem] = spark.read.parquet(str(path))

    if value_columns is None:
        value_columns = {}
        config_path = data_path / "config.json"
        if config_path.exists():
            import json

            with config_path.open() as f:
                raw = json.load(f)
            value_columns = dict(raw.get("value_columns", {}))

    return process_esgpt_data(
        tables["subjects_df"],
        tables["events_df"],
        tables["dynamic_measurements_df"],
        value_columns,
        predicates,
    )


def get_predicates_df(
    cfg: TaskExtractorConfig,
    spark: SparkSession,
    data_path: str | Path,
    standard: str = "meds",
    ts_format: str | None = None,
    value_columns: dict[str, str | None] | None = None,
) -> DataFrame:
    """Build the full predicates DataFrame for a task config (reference
    ``src/aces/predicates.py:677-792``): load plain predicates (dropping
    the events no predicate matches unless ``cfg.reads_every_event``; see
    the module docstring), evaluate derived predicates in topological order
    (propagating static values per subject first where needed), and
    synthesize the special ``_ANY_EVENT`` / ``_RECORD_START`` /
    ``_RECORD_END`` columns on demand, in one projection.
    """
    plain_predicates = cfg.plain_predicates
    every_event = cfg.reads_every_event
    match standard.lower():
        case "direct":
            data = direct_load_plain_predicates(
                spark, data_path, list(plain_predicates.keys()), ts_format, every_event
            )
        case "meds":
            data = generate_plain_predicates_from_meds(spark, data_path, plain_predicates, every_event)
        case "esgpt":
            data = generate_plain_predicates_from_esgpt(
                spark, data_path, plain_predicates, value_columns
            )
        case _:
            raise ValueError(
                f"Invalid data standard: {standard}. Options are 'direct', 'MEDS', 'ESGPT'."
            )
    # the MEDS and direct loaders collapse events with groupBy(subject_id,
    # timestamp); ESGPT events are not collapsed, so query() must check them
    keys_unique = getattr(data, "_aces_keys_unique", False)

    # {column: SQL text} of the columns added, and of those replaced in place
    texts: dict[str, str] = {}

    # derived predicates in topological order (src/aces/predicates.py:722-736)
    static_variables = [p for p, c in plain_predicates.items() if c.static]
    derived = cfg.derived_predicates
    if any(x in static_variables for d in derived.values() for x in d.input_predicates):
        # broadcast each subject's static value to all its rows; the
        # deterministic "first row" per subject is the null-timestamp row,
        # then the earliest event (src/aces/predicates.py:718, :727-729)
        w_first = (
            "OVER (PARTITION BY subject_id ORDER BY `timestamp` ASC NULLS FIRST "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
        )
        texts.update({sv: f"first({ident(sv)}) {w_first}" for sv in static_variables})
    for name, code in derived.items():
        # nested derived predicates read their inputs' text inline
        inline = code.sql_expr(lambda p: texts.get(p, ident(p)))
        texts[name] = f"CAST({inline} AS {PRED_CNT_TYPE})"

    # special predicate columns, synthesized only if referenced
    # (src/aces/predicates.py:742-789)
    special = {ANY_EVENT_COLUMN, START_OF_RECORD_KEY, END_OF_RECORD_KEY} & {cfg.trigger.predicate}
    for window in cfg.windows.values():
        special |= {ANY_EVENT_COLUMN} & window.referenced_predicates
        special |= {START_OF_RECORD_KEY, END_OF_RECORD_KEY} & window.constraint_predicates
    ts, w_subj = ident("timestamp"), "OVER (PARTITION BY subject_id)"
    for key, text in (
        (ANY_EVENT_COLUMN, f"CASE WHEN {ts} IS NOT NULL THEN 1 END"),
        (START_OF_RECORD_KEY, f"{ts} = min({ts}) {w_subj}"),
        (END_OF_RECORD_KEY, f"{ts} = max({ts}) {w_subj}"),
    ):
        if key in special:
            texts[key] = f"CAST({text} AS {PRED_CNT_TYPE})"

    if not texts:
        return data
    # one projection; a replaced column keeps its place, as with withColumn
    kept = ["*"]
    if texts.keys() & set(plain_predicates):
        kept = [f"{texts.pop(c, ident(c))} AS {ident(c)}" for c in data.columns]
    data = data.selectExpr(*kept, *[f"{text} AS {ident(name)}" for name, text in texts.items()])
    # the tag lets query()'s default-on uniqueness validation skip a
    # redundant aggregation pass; selectExpr returned a new frame, so re-tag
    data._aces_keys_unique = keys_unique
    return data
