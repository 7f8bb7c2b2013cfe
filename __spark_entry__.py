"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator family from SURVEY.md §2 —
sources/predicate evaluation (S2/P1-P9), constraint filters (C1-C3), the
temporal kernel (T1), the event-bound kernel (E1/E2), the full recursive
cohort query (§3.3), joins/aggregations (J/A/O) — plus the training-data
pipeline operators (dedup, similarity search, text analysis, multimodal,
sessionization) onto the driver's synthetic tables. Each entry has a
DuckDB oracle in ``oracle_sql()`` unless the op is not SQL-expressible
(Arrow-batched ``mapInPandas`` feature extraction), which the driver
records as a weaker rows-only check.

Determinism rules used throughout so the value-hash comparison is exact:
counts are BIGINT in both engines; money maths run in DECIMAL(18,2) and
cast to DOUBLE at the end; ratios are explicitly rounded; rankings order by
the *rounded* score with an id tie-break; portable hashes are md5-derived.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from datetime import timedelta

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aces_spark import (
    DerivedPredicateConfig,
    EventConfig,
    PlainPredicateConfig,
    TaskExtractorConfig,
    TemporalWindowBounds,
    ToEventWindowBounds,
    WindowConfig,
    aggregate_event_bound_window,
    aggregate_temporal_window,
    check_constraints,
    check_static_variables,
    query as aces_query,
)
from aces_spark.datapipe.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_dup_groups,
    simhash_near_pairs,
    winnowing_fingerprints,
)
from aces_spark.datapipe.multimodal import extract_features, payload_stats
from aces_spark.datapipe.pii import EMAIL_RE, IPV4_RE, PHONE_RE, pii_scrub
from aces_spark.datapipe.sessions import session_stats
from aces_spark.datapipe.similarity import (
    brute_force_topk,
    cosine_dup_pairs,
    ivf_topk,
    ivf_topk_indexed,
    save_ivf_index,
)
from aces_spark.datapipe.text import (
    bpe_ish_token_count,
    char_stats,
    fingerprint,
    lang_id,
    norm_tokens,
    quality_score,
    token_count,
)
from aces_spark.sources.predicates import plain_predicates_from_meds_df

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


# ---------------------------------------------------------------- helpers

#: per-(path) memo of INFERRED PARQUET SCHEMAS — catalog metadata, not
#: data (r11): ``spark.read.parquet`` with no user schema launches a
#: footer-inference JOB on every call (~0.2 s warm), and a 206-query
#: bench session re-infers the same 8 fixed-schema tables ~500 times.
#: A metastore-backed table pays this once at registration; the memo is
#: the same discipline scoped to the process. Every byte of data is
#: still read and computed per run — only the StructType is reused.
_SCHEMA_MEMO: dict[str, object] = {}


def _read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that infers each path's schema once per
    process and thereafter passes it explicitly (no inference job)."""
    schema = _SCHEMA_MEMO.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[path] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with sane parallelism.

    The driver's tables are single parquet files with one row group, so the
    scan yields ONE input split regardless of core count; without
    intervention every downstream stage before the first shuffle runs
    single-threaded. Repartition when (and only when) the scan is starved —
    at production scale a table has many splits and this no-ops.
    """
    df = _read_parquet_memo(spark, f"{sf_dir}/{name}.parquet")
    target = spark.sparkContext.defaultParallelism
    # file count is a plan-free proxy for scan splits (the repo rule is
    # no df.rdd — converting to RDD materializes a second plan per call);
    # single-row-group testdata files never split, many-file production
    # tables provide their own parallelism and skip the repartition
    files = df.inputFiles()
    if len(files) < max(2, target // 2):
        # few files ≠ few splits: ONE large file still splits into
        # ceil(size / maxPartitionBytes) scan partitions, so check total
        # bytes (filesystem metadata, still plan-free) before paying a
        # full repartition shuffle the scan would have made unnecessary
        local = [f[len("file:"):] for f in files if f.startswith("file:")]
        if len(local) == len(files) and local:
            try:
                total = sum(os.path.getsize(p) for p in local)
            except OSError:
                total = 0
            max_bytes = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
            if -(-total // max_bytes) >= max(2, target // 2):
                return df
        df = df.repartition(target)
    return df


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m', '1g')."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    if raw.endswith("b"):
        raw = raw[:-1]
    mult = 1
    if raw and raw[-1] in "kmgt":
        mult = 1 << (10 * ("kmgt".index(raw[-1]) + 1))
        raw = raw[:-1]
    try:
        return max(1, int(raw) * mult)
    except ValueError:
        return default


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table. Its ``ts`` is parquet TIMESTAMP(NANOS), which
    Spark rejects natively — read nanos as long and truncate to μs exactly
    as DuckDB/pyarrow do."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # no round-robin repartition here: every events consumer immediately
    # hash-partitions by its own key (subject_id/user_id), which both
    # provides the parallelism and avoids a second shuffle
    # memoized inference (see _read_parquet_memo): the schema is inferred
    # UNDER nanosAsLong=true (set just above), so the memo stores ts as
    # bigint and the explicit-schema path reads nanos the same way
    ev = _read_parquet_memo(spark, f"{sf_dir}/events.parquet")
    ts_type = dict(ev.dtypes).get("ts")
    if ts_type == "bigint":
        # integer division — going through double would lose sub-ms precision
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type != "timestamp":
        # e.g. TIMESTAMP_NTZ (parquet isAdjustedToUTC=false): normalize once
        # here so epoch math downstream (unix_micros) type-checks
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def _events_as_meds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's ``events`` table viewed as a MEDS-shaped event stream:
    user → subject, ts → time, event_type → code, value → numeric_value."""
    return _read_events(spark, sf_dir).select(
        F.col("user_id").alias("subject_id"),
        F.col("ts").alias("timestamp"),
        F.col("event_type").alias("code"),
        F.col("value").cast("float").alias("numeric_value"),
    )


def _pred_df(spark: SparkSession, sf_dir: str, preds: dict) -> DataFrame:
    return plain_predicates_from_meds_df(_events_as_meds(spark, sf_dir), preds)


def _plain(preds: list[str]) -> dict:
    return {p: PlainPredicateConfig(p) for p in preds}


_PRED_SQL = {
    "click": "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)",
    "view": "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)",
    "purchase": "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)",
    "signup": "CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)",
    "error": "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)",
}


def _pred_cte(preds: list[str]) -> str:
    cols = ",\n         ".join(f"{_PRED_SQL[p]} AS {p}" for p in preds)
    return (
        "SELECT user_id AS subject_id, ts AS timestamp,\n"
        f"         {cols}\n"
        "  FROM events GROUP BY user_id, ts"
    )


_DOC_TOKENS_SQL = (
    "regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"
)
_DOC_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

# The driver's synthetic documents contain no duplicates, which made the
# round-1 dedup oracles vacuous (0 matching groups). The dedup queries now
# union deterministically perturbed copies so the oracles exercise real
# group/pair structure: every 5th doc reappears with doc_id+1e6 and either
# case/punctuation noise (same normalized content → exact dup) or its last
# ~10% truncated (high-Jaccard near dup).
_DOCS_EXACT_DUPS_SQL = """SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, concat(upper(text), ' !!') AS text
  FROM documents WHERE doc_id % 5 = 0"""

_URLS_SQL = """SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN concat('HTTP://WWW.Example', CAST(doc_id % 7 AS VARCHAR),
    '.COM:80/Path/', CAST(doc_id AS VARCHAR),
    '?utm_source=feed&id=', CAST(doc_id % 50 AS VARCHAR), '&utm_campaign=x#frag')
  WHEN 1 THEN concat('https://Blog.Site', CAST(doc_id % 5 AS VARCHAR),
    '.org/post/', CAST(doc_id AS VARCHAR),
    '?id=', CAST(doc_id % 50 AS VARCHAR), '&fbclid=abc')
  WHEN 2 THEN concat('http://news.portal', CAST(doc_id % 3 AS VARCHAR),
    '.net/a/', CAST(doc_id AS VARCHAR))
  ELSE concat('https://Shop.Example', CAST(doc_id % 7 AS VARCHAR),
    '.COM:443/item?gclid=g', CAST(doc_id AS VARCHAR))
  END AS url FROM documents"""

# DuckDB mirror of urls.url_normalize_expr over a relation exposing (url):
# fragment → lowercase authority → default ports → tracking params
_URL_NORM_SQL = r"""
s1 AS (SELECT *, regexp_replace(url, '#.*$', '', 'g') AS u1 FROM raw),
s2 AS (SELECT *, regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS head FROM s1),
s3 AS (SELECT *, concat(lower(head), substring(u1, length(head) + 1)) AS u2 FROM s2),
s4 AS (SELECT *, regexp_replace(regexp_replace(u2,
         '^(http://[^/?#:]*):80([/?#]|$)', '\1\2'),
         '^(https://[^/?#:]*):443([/?#]|$)', '\1\2') AS u3 FROM s3),
s5 AS (SELECT *, regexp_extract(u3, '\?([^#]*)', 1) AS q,
         regexp_replace(u3, '\?[^#]*', '', 'g') AS base FROM s4),
s6 AS (SELECT *, COALESCE(array_to_string(list_filter(string_split(q, '&'),
         p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)=')), '&'), '') AS newq FROM s5),
normed AS (SELECT * EXCLUDE (u1, head, u2, u3, q, base, newq),
  CASE WHEN q = '' THEN u3 WHEN newq = '' THEN base
       ELSE concat(base, '?', newq) END AS norm_url FROM s6),
with_domain AS (SELECT *,
  regexp_extract(norm_url, '^[a-z][a-z0-9+.-]*://([^/?#@]*@)?([^/?#:]+)', 2) AS domain
  FROM normed)"""

_DOCS_NEAR_DUPS_SQL = """SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         substring(text, 1, CAST(floor(length(text) * 0.9) AS INT)) AS text
  FROM documents WHERE doc_id % 5 = 0"""


def _docs_with_exact_dups(spark, sf_dir):
    """documents ∪ case/punctuation-perturbed copies: identical normalized
    content → identical fingerprint (mirrors ``_DOCS_EXACT_DUPS_SQL``)."""
    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    pert = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
    )
    return docs.unionByName(pert)


# The synthetic documents are single-line, which would make line-repetition
# stats vacuous — re-line each doc deterministically into 5 fixed-width
# slices with slice 1 repeated (and slice 2 repeated for every 3rd doc) so
# the Gopher duplicate-line fractions exercise real repeat structure.
_DOCS_LINED_SQL = """SELECT doc_id,
  concat_ws(chr(10),
    substring(text, 1, 40), substring(text, 41, 40), substring(text, 1, 40),
    substring(text, 81, 40),
    CASE WHEN doc_id % 3 = 0 THEN substring(text, 41, 40)
         ELSE substring(text, 121, 40) END) AS text
  FROM documents"""


def _docs_lined(spark, sf_dir):
    """Deterministically re-lined corpus with genuine duplicate lines
    (mirrors ``_DOCS_LINED_SQL``)."""
    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring(t, 1, 40),
            F.substring(t, 41, 40),
            F.substring(t, 1, 40),
            F.substring(t, 81, 40),
            F.when(F.col("doc_id") % 3 == 0, F.substring(t, 41, 40)).otherwise(
                F.substring(t, 121, 40)
            ),
        ).alias("text"),
    )


# Cross-document boilerplate fixture: every doc opens with the same banner
# line and every even doc carries the same footer — those cross the
# min_docs bar; the per-doc content slices don't (random-word texts).
_DOCS_BOILER_SQL = """SELECT doc_id,
  concat_ws(chr(10),
    'subscribe to our newsletter',
    substring(text, 1, 40),
    CASE WHEN doc_id % 2 = 0 THEN 'all rights reserved'
         ELSE substring(text, 41, 40) END,
    substring(text, 81, 40)) AS text
  FROM documents"""


def _docs_boilerplate(spark, sf_dir):
    """Lined corpus with planted cross-document boilerplate (mirrors
    ``_DOCS_BOILER_SQL``)."""
    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("subscribe to our newsletter"),
            F.substring(t, 1, 40),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("all rights reserved")
            ).otherwise(F.substring(t, 41, 40)),
            F.substring(t, 81, 40),
        ).alias("text"),
    )


# The synthetic documents contain no PII — inject deterministic emails /
# IPs / phone numbers keyed off doc_id so the scrub oracle exercises real
# matches (every doc gets an email; every 4th an IP; every 3rd a phone).
_DOCS_PII_SQL = """SELECT doc_id,
  concat(text,
    ' contact user', CAST(doc_id AS VARCHAR), '@example.com',
    CASE WHEN doc_id % 4 = 0
         THEN concat(' from 10.0.', CAST(doc_id % 256 AS VARCHAR), '.',
                     CAST((doc_id * 7) % 256 AS VARCHAR))
         ELSE '' END,
    CASE WHEN doc_id % 3 = 0 THEN ' call 555-123-4567' ELSE '' END) AS text
  FROM documents"""


def _docs_with_pii(spark, sf_dir):
    """Corpus with deterministic injected PII (mirrors ``_DOCS_PII_SQL``)."""
    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            d.cast("string"),
            F.lit("@example.com"),
            F.when(
                d % 4 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (d % 256).cast("string"),
                    F.lit("."),
                    ((d * 7) % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(d % 3 == 0, F.lit(" call 555-123-4567")).otherwise(F.lit("")),
        ).alias("text"),
    )


def _docs_with_near_dups(spark, sf_dir):
    """documents ∪ truncated near-copies (~90% prefix): high-but-not-1.0
    Jaccard overlap (mirrors ``_DOCS_NEAR_DUPS_SQL``)."""
    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    pert = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.expr("substring(text, 1, cast(floor(length(text) * 0.9) as int))").alias("text"),
    )
    return docs.unionByName(pert)


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full recursive cohort extraction on sf0.001."""
    return _QUERIES["cohort_flagship"](spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------- queries

def q_predicates_meds_scan(spark, sf_dir):
    """S2 + A1 + P1: MEDS-style scan → per-(subject, ts) predicate counts."""
    return _pred_df(spark, sf_dir, _plain(["purchase", "signup", "error"])).select(
        "subject_id", "timestamp", "purchase", "signup", "error"
    )


def q_esgpt_predicates(spark, sf_dir):
    """S3 + P6 + A2 + J5: the events table viewed as an ESGPT three-table
    dataset (events carry `event_type`, measurements carry `value` keyed by
    `event_id`, subjects are the distinct users) → predicates DataFrame via
    the ESGPT loader: per-table predicate eval, per-event measurement
    aggregation, event join, null-timestamp static rows."""
    from aces_spark.sources.predicates import process_esgpt_data

    ev = _read_events(spark, sf_dir)
    events_df = ev.select(
        "event_id",
        F.col("user_id").alias("subject_id"),
        F.col("ts").alias("timestamp"),
        "event_type",
    )
    measurements_df = ev.select("event_id", "value")
    subjects_df = ev.select(F.col("user_id").alias("subject_id")).distinct()
    preds = {
        "is_purchase": PlainPredicateConfig("event_type//purchase"),
        "high_value": PlainPredicateConfig("value", value_min=75.0),
    }
    return process_esgpt_data(
        subjects_df, events_df, measurements_df, {"high_value": None}, preds
    )


def q_predicate_value_range(spark, sf_dir):
    """P4: value-range predicates with per-side inclusivity."""
    preds = {
        "big_purchase": PlainPredicateConfig("purchase", value_min=100, value_min_inclusive=True),
        "small_error": PlainPredicateConfig("error", value_max=50, value_max_inclusive=False),
        "mid_view": PlainPredicateConfig(
            "view", value_min=20, value_max=80, value_min_inclusive=False, value_max_inclusive=True
        ),
    }
    return _pred_df(spark, sf_dir, preds).select(
        "subject_id", "timestamp", "big_purchase", "small_error", "mid_view"
    )


def q_predicate_regex_anyof(spark, sf_dir):
    """P2 + P3: regex-matched and any-of-list predicates."""
    preds = {
        "engagement": PlainPredicateConfig({"regex": "^(click|view)$"}),
        "system_event": PlainPredicateConfig({"any": ["signup", "error"]}),
    }
    return _pred_df(spark, sf_dir, preds).select(
        "subject_id", "timestamp", "engagement", "system_event"
    )


def q_derived_and_or(spark, sf_dir):
    """P7: and()/or() derived predicates over count columns."""
    df = _pred_df(spark, sf_dir, _plain(["purchase", "signup", "click", "view"]))
    conv = DerivedPredicateConfig("or(purchase, signup)")
    engaged = DerivedPredicateConfig("and(click, view)")
    return df.select(
        "subject_id",
        "timestamp",
        conv.spark_expr().cast("long").alias("converted"),
        engaged.spark_expr().cast("long").alias("engaged"),
    )


def q_special_predicates(spark, sf_dir):
    """P9: _ANY_EVENT / _RECORD_START / _RECORD_END synthesis."""
    df = _pred_df(spark, sf_dir, _plain(["purchase"]))
    w = Window.partitionBy("subject_id")
    return df.select(
        "subject_id",
        "timestamp",
        "purchase",
        F.when(F.col("timestamp").isNotNull(), F.lit(1)).cast("long").alias("any_event"),
        (F.col("timestamp") == F.min("timestamp").over(w)).cast("long").alias("record_start"),
        (F.col("timestamp") == F.max("timestamp").over(w)).cast("long").alias("record_end"),
    )


def q_trigger_anchors(spark, sf_dir):
    """C1 + C3: count-range constraint filter selecting trigger anchors."""
    df = _pred_df(spark, sf_dir, _plain(["purchase", "error"]))
    anchors = check_constraints({"purchase": (1, None), "error": (None, 0)}, df)
    return anchors.select(
        "subject_id", F.col("timestamp").alias("subtree_anchor_timestamp")
    )


def q_static_filter(spark, sf_dir):
    """C2: static/demographic filter via null-timestamp rows (signup events
    recast as static facts)."""
    ev = _events_as_meds(spark, sf_dir).withColumn(
        "timestamp", F.when(F.col("code") == "signup", F.lit(None)).otherwise(F.col("timestamp"))
    )
    df = plain_predicates_from_meds_df(ev, _plain(["signup", "purchase", "error"]))
    return check_static_variables(["signup"], df).select(
        "subject_id", "timestamp", "purchase", "error"
    )


def q_temporal_window_fwd(spark, sf_dir):
    """T1: forward 24h window, both endpoints closed."""
    df = _pred_df(spark, sf_dir, _plain(["purchase", "error", "click"]))
    return aggregate_temporal_window(
        df, TemporalWindowBounds(True, timedelta(hours=24), True, None)
    )


def q_temporal_window_bwd(spark, sf_dir):
    """T1: backward 6h window (negative size), open left endpoint."""
    df = _pred_df(spark, sf_dir, _plain(["purchase", "error"]))
    return aggregate_temporal_window(
        df, TemporalWindowBounds(False, timedelta(hours=-6), True, None)
    )


def q_temporal_window_offset(spark, sf_dir):
    """T1: offset window (ts+1h, ts+25h), both endpoints open."""
    df = _pred_df(spark, sf_dir, _plain(["purchase", "error"]))
    return aggregate_temporal_window(
        df, TemporalWindowBounds(False, timedelta(hours=24), False, timedelta(hours=1))
    )


def q_event_bound_fwd(spark, sf_dir):
    """E1: row → next purchase event, closed both."""
    df = _pred_df(spark, sf_dir, _plain(["purchase", "error", "click"]))
    return aggregate_event_bound_window(df, ToEventWindowBounds(True, "purchase", True, None))


def q_event_bound_bwd(spark, sf_dir):
    """E1: previous signup event → row, closed left."""
    df = _pred_df(spark, sf_dir, _plain(["signup", "purchase", "error"]))
    return aggregate_event_bound_window(df, ToEventWindowBounds(True, "-signup", False, None))


def q_event_bound_record_end(spark, sf_dir):
    """E1 + E2: row → end of record (_RECORD_END pseudo-event), closed both."""
    df = _pred_df(spark, sf_dir, _plain(["purchase", "error"]))
    return aggregate_event_bound_window(df, ToEventWindowBounds(True, "_RECORD_END", True, None))


def _flagship_cfg() -> TaskExtractorConfig:
    return TaskExtractorConfig(
        predicates={
            "signup": PlainPredicateConfig("signup"),
            "click": PlainPredicateConfig("click"),
            "purchase": PlainPredicateConfig("purchase"),
        },
        trigger=EventConfig("signup"),
        windows={
            "obs": WindowConfig(
                start="trigger",
                end="start + 72h",
                start_inclusive=True,
                end_inclusive=True,
                has={"click": "(1, None)"},
                label="purchase",
                index_timestamp="end",
            )
        },
    )


def q_cohort_flagship(spark, sf_dir):
    """§3.3 full pipeline: trigger anchors → window tree → constraints →
    label + index_timestamp, struct summary flattened for comparison."""
    cfg = _flagship_cfg()
    pred_df = _pred_df(spark, sf_dir, _plain(["signup", "click", "purchase"]))
    result = aces_query(cfg, pred_df)
    s = "`obs.end_summary`"
    return result.select(
        "subject_id",
        "index_timestamp",
        "label",
        "trigger",
        F.col(f"{s}.timestamp_at_start").alias("w_start"),
        F.col(f"{s}.timestamp_at_end").alias("w_end"),
        F.col(f"{s}.signup").alias("w_signup"),
        F.col(f"{s}.click").alias("w_click"),
        F.col(f"{s}.purchase").alias("w_purchase"),
    )


def q_sessionization(spark, sf_dir):
    """Gap-based sessionization (30 min) + per-user session stats."""
    return session_stats(_read_events(spark, sf_dir), gap_minutes=30)


def q_lineitem_pricing_summary(spark, sf_dir):
    """A1/A7-style wide aggregation (TPC-H Q1 shape) in exact decimal."""
    li = _read_table(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(d("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - d("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price", "sum_disc_price",
            "count_order",
        )
    )


def q_revenue_join(spark, sf_dir):
    """J-ops: 3-way join customer ⋈ orders ⋈ lineitem with selective filter
    (TPC-H Q3 shape), exact decimal revenue."""
    c = _read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _read_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("o_orderkey", "o_orderdate", "revenue")
    )


def q_region_rollup(spark, sf_dir):
    """J-ops with broadcast dims: customer ⋈ nation ⋈ region rollup."""
    cst = _read_table(spark, sf_dir, "customer")
    nat = _read_table(spark, sf_dir, "nation")
    reg = _read_table(spark, sf_dir, "region")
    return (
        cst.join(F.broadcast(nat), cst["c_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), F.col("n_regionkey") == reg["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_acctbal"),
        )
    )


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: revenue by nation where the supplier and the
    ordering customer share a nation, restricted to one region. Tiny dims
    (nation, region) are broadcast; supplier joins by shuffle — at 100 TB
    supplier scales with the corpus and must not be broadcast (AQE may
    still choose to at small SF)."""
    cst = _read_table(spark, sf_dir, "customer")
    orders = _read_table(spark, sf_dir, "orders")
    li = _read_table(spark, sf_dir, "lineitem")
    sup = _read_table(spark, sf_dir, "supplier")
    nat = _read_table(spark, sf_dir, "nation")
    reg = _read_table(spark, sf_dir, "region")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        cst.join(orders, cst["c_custkey"] == orders["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            sup,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
    )


def q_brand_revenue(spark, sf_dir):
    """TPC-H Q14 shape: revenue per part brand over a shipdate slice —
    exercises the part dimension and shipdate predicate pushdown."""
    li = _read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    part = _read_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
    )


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: normalized-content fingerprint groups over documents."""
    docs = _read_table(spark, sf_dir, "documents")
    fp = fingerprint(docs)
    return fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


def q_dedup_exact_groups(spark, sf_dir):
    """Exact dedup groups (≥ 2 members only) over the corpus plus
    deterministic case/punctuation-perturbed copies — non-vacuous grouping
    (the raw corpus has no duplicates)."""
    return dedup_exact(_docs_with_exact_dups(spark, sf_dir)).withColumnRenamed(
        "n_dups", "n_docs"
    )


def q_text_char_stats(spark, sf_dir):
    """Text analysis: character/token statistics and ratios."""
    return char_stats(_read_table(spark, sf_dir, "documents"))


def q_text_quality(spark, sf_dir):
    """Text analysis: heuristic quality score."""
    return quality_score(_read_table(spark, sf_dir, "documents"))


def q_lang_id(spark, sf_dir):
    """Text analysis: stopword-marker language identification."""
    return lang_id(_read_table(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark, sf_dir):
    """Text analysis: md5 document fingerprint."""
    return fingerprint(_read_table(spark, sf_dir, "documents"))


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Near-dup: word-3-gram Jaccard pairs ≥ 0.2 via inverted-index join
    WITH the boilerplate document-frequency cap on (the linear-scale plan —
    unbounded per-shingle fanout is quadratic on boilerplate), over the
    near-dup-augmented corpus."""
    return ngram_jaccard_pairs(
        _docs_with_near_dups(spark, sf_dir), n=3, threshold=0.2, max_doc_freq=1000
    )


def q_minhash_signatures(spark, sf_dir):
    """Near-dup: 8-hash MinHash signatures (md5-derived, portable)."""
    docs = _read_table(spark, sf_dir, "documents")
    return minhash_signatures(docs, n=3, num_hashes=8)


def q_minhash_lsh_pairs(spark, sf_dir):
    """Near-dup: MinHash-LSH candidate pairs (8 hashes × 4 bands) over the
    near-dup-augmented corpus — real high-Jaccard pairs, not just band
    noise."""
    docs = _docs_with_near_dups(spark, sf_dir)
    return minhash_lsh_pairs(docs, n=3, num_hashes=8, bands=4)


def q_simhash_groups(spark, sf_dir):
    """Near-dup: SimHash signature buckets with ≥2 members (16-bit)."""
    docs = _read_table(spark, sf_dir, "documents")
    return simhash_dup_groups(docs, bits=16)


def q_simhash_near_pairs(spark, sf_dir):
    """Near-dup: SimHash pairs within Hamming distance 3 of a 32-bit
    signature via block rotation (pigeonhole bucketing + bit_count verify),
    over the near-dup-augmented corpus."""
    docs = _docs_with_near_dups(spark, sf_dir)
    return simhash_near_pairs(docs, bits=32, k=3)


def q_corpus_clean(spark, sf_dir):
    """Composite corpus-cleaning pipeline (datapipe.text.clean_corpus):
    quality gate ∧ english ∧ exact-dedup canonical in one pass, over the
    exact-dup-augmented corpus so the dedup stage does real work."""
    from aces_spark.datapipe.text import clean_corpus

    return clean_corpus(_docs_with_exact_dups(spark, sf_dir), min_quality=0.5)


def q_token_counts(spark, sf_dir):
    """Text analysis: whitespace + BPE-ish regex token counts."""
    docs = _read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


def q_decontamination(spark, sf_dir):
    """Benchmark decontamination (datapipe.decontam): corpus docs sharing
    ≥3 distinct word 8-grams with the benchmark split (every 20th base
    doc). The corpus is the near-dup-augmented set, so truncated copies of
    benchmark docs are contaminated by construction; the benchmark shingle
    set broadcasts (eval sets are tiny next to the corpus)."""
    from aces_spark.datapipe.decontam import decontaminate

    aug = _docs_with_near_dups(spark, sf_dir)
    bench = aug.filter((F.col("doc_id") % 20 == 0) & (F.col("doc_id") < 1_000_000))
    corpus = aug.filter((F.col("doc_id") % 20 != 0) | (F.col("doc_id") >= 1_000_000))
    return decontaminate(corpus, bench, n=8, min_overlap=3)


def q_sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing (datapipe.packing): per-source
    streams in doc_id order, 512-token packs — one window exchange keyed
    by source, everything else row-local."""
    from aces_spark.datapipe.packing import pack_sequences

    docs = _read_table(spark, sf_dir, "documents")
    return pack_sequences(docs, max_tokens=512)


def q_split_assignment(spark, sf_dir):
    """Deterministic train/val/test assignment (datapipe.packing): portable
    md5-bucket split, zero shuffle, bit-reproducible in any engine."""
    from aces_spark.datapipe.packing import assign_splits

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return assign_splits(docs)


def q_paragraph_dedup(spark, sf_dir):
    """Paragraph-granularity exact dedup (datapipe.dedup): per-doc
    duplicate-paragraph fractions over the lined near-dup-augmented corpus
    — truncated copies share their leading lines with the originals
    (cross-doc dups) and line 1 repeats as line 3 (within-doc dups)."""
    from aces_spark.datapipe.dedup import paragraph_dedup_stats

    docs = _docs_with_near_dups(spark, sf_dir)
    t = F.col("text")
    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring(t, 1, 40),
            F.substring(t, 41, 40),
            F.substring(t, 1, 40),
            F.substring(t, 81, 40),
        ).alias("text"),
    )
    return paragraph_dedup_stats(lined, min_chars=20)


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary stats (datapipe.text): 50 most frequent normalized
    words with doc frequencies; global top-k as TakeOrderedAndProject."""
    from aces_spark.datapipe.text import vocab_top_k

    return vocab_top_k(_read_table(spark, sf_dir, "documents"), k=50)


def q_fuzzy_vocab_pairs(spark, sf_dir):
    """Symmetric-delete fuzzy join (datapipe.fuzzy.fuzzy_self_pairs):
    edit-distance-1 near-match pairs over the corpus' 300 most frequent
    words PLUS a deterministic typo per long word (second character
    deleted — the synthetic vocabulary has almost no natural distance-1
    pairs, and a 0-row oracle would be vacuous) — the entity-resolution
    / typo-clustering primitive. Candidates come from ONE equi-join on
    exploded delete-variants (recall 1.0, no cartesian); exact
    `levenshtein` verifies. The oracle checks SEMANTICS with a direct
    levenshtein join over the tiny vocab — same pairs, different
    physical strategy; the delete-variant join is the part that scales."""
    from aces_spark.datapipe.fuzzy import fuzzy_self_pairs
    from aces_spark.datapipe.text import vocab_top_k

    vocab = vocab_top_k(
        _read_table(spark, sf_dir, "documents"), k=300
    ).select("word")
    typos = vocab.filter(F.length("word") >= 5).select(
        F.concat(F.substring("word", 1, 1), F.expr("substring(word, 3)")).alias("word")
    )
    return fuzzy_self_pairs(vocab.union(typos), "word", max_dist=1).select(
        F.col("left_str").alias("word_a"),
        F.col("right_str").alias("word_b"),
        "dist",
    )


def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking (datapipe.fuzzy
    .sorted_neighborhood_pairs, Hernández-Stolfo): distance-≤2 pairs
    among each value's 3 sorted neighbors within 2-char prefix blocks,
    over the vocab + injected-typo pool — the O(w)-per-value blocker
    complementing symmetric-delete. The oracle mirrors the window join
    with a rank-difference BETWEEN join over the tiny pool."""
    from aces_spark.datapipe.fuzzy import sorted_neighborhood_pairs
    from aces_spark.datapipe.text import vocab_top_k

    vocab = vocab_top_k(
        _read_table(spark, sf_dir, "documents"), k=300
    ).select("word")
    typos = vocab.filter(F.length("word") >= 5).select(
        F.concat(F.substring("word", 1, 1), F.expr("substring(word, 3)")).alias("word")
    )
    return sorted_neighborhood_pairs(
        vocab.union(typos), "word", window=3, max_dist=2, prefix=2
    )


def q_dedup_incremental(spark, sf_dir):
    """Incremental-ingest dedup (datapipe.dedup.dedup_against): a new
    batch of perturbed copies (exact dups of every 5th corpus doc, dropped
    by the anti-join), truncated variants (novel content, kept), and one
    within-batch duplicate pair per 10th doc (first occurrence kept)."""
    from aces_spark.datapipe.dedup import dedup_against

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
    )
    novel = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" novel suffix")).alias("text"),
    )
    novel_copy = novel.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    batch = dups.unionByName(novel).unionByName(novel_copy)
    return dedup_against(batch, docs).select("doc_id", "fingerprint")


def q_html_extract(spark, sf_dir):
    """Web-corpus HTML→text extraction (datapipe.text.strip_html): docs
    wrapped in deterministic markup (tags + script + comment + entities),
    then stripped row-locally inside codegen."""
    from aces_spark.datapipe.text import strip_html

    docs = _read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<html><head><style>p{x}</style></head><body><h1>T</h1><p>"),
            F.col("text"),
            F.lit("</p><script>var x='<p>';</script><!-- c -->&amp;</body></html>"),
        ).alias("text"),
    )
    return strip_html(docs)


def q_corpus_pipeline(spark, sf_dir):
    """The composed training-data pipeline end-to-end in ONE lazy plan —
    clean (quality ∧ lang ∧ exact-dedup canonical) → deterministic
    train/val/test split → concat-and-chunk packing per (source, split)
    stream — over the exact-dup-augmented corpus. Every stage is
    individually oracle-verified; this pins the COMPOSITION (the thing a
    user actually ships)."""
    from aces_spark.datapipe.packing import assign_splits, pack_sequences
    from aces_spark.datapipe.text import clean_corpus

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    pert = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
        "source",
    )
    aug = docs.unionByName(pert)
    survivors = aug.join(clean_corpus(aug, min_quality=0.5).select("doc_id"), "doc_id")
    streamed = assign_splits(survivors).withColumn(
        "stream", F.concat_ws("/", F.col("source"), F.col("split"))
    )
    return pack_sequences(streamed, max_tokens=512, part_col="stream")


def q_event_funnel(spark, sf_dir):
    """Sequential funnel view→click→purchase (datapipe.analytics.funnel):
    one user_id exchange, per-user sorted-array fold with aggregate() —
    no joins, no UDFs."""
    from aces_spark.datapipe.analytics import funnel

    return funnel(_read_events(spark, sf_dir), ["view", "click", "purchase"])


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix (datapipe.analytics.cohort_retention):
    two uniform hash aggregates."""
    from aces_spark.datapipe.analytics import cohort_retention

    return cohort_retention(_read_events(spark, sf_dir), bucket_days=7)


def q_doc_length_quantiles(spark, sf_dir):
    """Per-source doc-length quantiles (datapipe.analytics.length_quantiles):
    exact percentile aggregate with map-side partials."""
    from aces_spark.datapipe.analytics import length_quantiles

    return length_quantiles(_read_table(spark, sf_dir, "documents"))


def _chain_pairs(docs):
    """Deterministic chain-graph pair relation: doc i ↔ i+1 for doc_id %
    10 < 4 where both endpoints exist — 5-node chains whose transitive
    closure REQUIRES multi-hop resolution, plus genuine singletons."""
    nxt = docs.select((F.col("doc_id") - 1).alias("doc_a"))
    return (
        docs.filter(F.col("doc_id") % 10 < 4)
        .select(F.col("doc_id").alias("doc_a"))
        .join(nxt, "doc_a")  # keep edges whose right endpoint exists
        .select("doc_a", (F.col("doc_a") + 1).alias("doc_b"))
    )


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup clustering (datapipe.clusters.dedup_clusters):
    alternating large-star/small-star connected components over the chain
    graph. Oracle: DuckDB recursive CTE."""
    from aces_spark.datapipe.clusters import dedup_clusters

    docs = _read_table(spark, sf_dir, "documents").select("doc_id")
    return dedup_clusters(docs, _chain_pairs(docs))


def q_dedup_keep_best(spark, sf_dir):
    """Cluster-aware canonical selection (datapipe.clusters.keep_best):
    chain-graph components → per-cluster best quality doc (ties → min
    doc_id), with the number of removed near-dups per survivor."""
    from aces_spark.datapipe.clusters import dedup_clusters, keep_best
    from aces_spark.datapipe.text import quality_expr

    docs = _read_table(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    clustered = dedup_clusters(ids, _chain_pairs(ids)).join(
        docs.select("doc_id", quality_expr(F.col("text")).alias("quality")), "doc_id"
    )
    return keep_best(clustered, "quality").select(
        "doc_id", "cluster_id", "quality", "n_removed"
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-rate sampling (datapipe.sampling): per-language
    keep rates, row-local md5-bucket filter — zero shuffle, reproducible
    across engines (the DuckDB oracle recomputes the identical bucket)."""
    from aces_spark.datapipe.sampling import stratified_sample

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    rates = {"en": 0.5, "de": 0.25, "fr": 0.1, "zh": 1.0}
    return stratified_sample(docs, rates, default_rate=0.05).select(
        "doc_id", "lang", "sample_bucket"
    )


def q_stratified_take(spark, sf_dir):
    """Deterministic exact-k per stratum (datapipe.sampling): 10 docs per
    language chosen by portable-hash rank."""
    from aces_spark.datapipe.sampling import stratified_take

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_take(docs, k=10).select(
        "doc_id", "lang", F.col("sample_rank").cast("long").alias("sample_rank")
    )


def q_pii_scrub(spark, sf_dir):
    """PII scrub (datapipe.pii.pii_scrub): category counts + redacted-text
    digest, over the PII-injected corpus so every pattern fires."""
    return pii_scrub(_docs_with_pii(spark, sf_dir))


def q_repetition_stats(spark, sf_dir):
    """Gopher repetition filters (datapipe.repetition.repetition_stats):
    duplicate-line fractions + top word-2gram character fraction, over the
    deterministically re-lined corpus so line repeats actually occur."""
    from aces_spark.datapipe.repetition import repetition_stats

    return repetition_stats(_docs_lined(spark, sf_dir), n=2)


def q_boilerplate_lines(spark, sf_dir):
    """Cross-document boilerplate detection (datapipe.repetition
    .boilerplate_line_stats): non-blank lines shared verbatim by >= 10
    distinct documents of the planted-banner corpus — the CCNet/
    RefinedWeb nav-menu/footer signal."""
    from aces_spark.datapipe.repetition import boilerplate_line_stats

    return boilerplate_line_stats(_docs_boilerplate(spark, sf_dir), min_docs=10)


def q_boilerplate_strip(spark, sf_dir):
    """Cross-document boilerplate removal (datapipe.repetition
    .strip_boilerplate_lines): drop lines shared by >= 10 docs, reassemble
    survivors in order; one-pass marked aggregate counts kept + total
    together."""
    from aces_spark.datapipe.repetition import strip_boilerplate_lines

    return strip_boilerplate_lines(_docs_boilerplate(spark, sf_dir), min_docs=10)


def q_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity bands (datapipe.lm
    .perplexity_buckets): train the bigram model on even docs, cut the odd
    docs into per-source nll terciles with the ANSI NTILE fill rule."""
    from aces_spark.datapipe.lm import perplexity_buckets, train_bigram_lm

    docs = _read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    model = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return perplexity_buckets(
        docs.filter(F.col("doc_id") % 2 == 1), model, by="source"
    )


def q_lm_score_kn(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (datapipe.lm.train_kn_lm +
    score_documents_kn): D=3/4 absolute discount with continuation-count
    backoff, every probability a ratio of exact integers. Train on even
    docs, score odd docs (the lm_score split)."""
    from aces_spark.datapipe.lm import score_documents_kn, train_kn_lm

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = train_kn_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return score_documents_kn(docs.filter(F.col("doc_id") % 2 == 1), model)


def q_hamming_near_pairs(spark, sf_dir):
    """64-bit Hamming near-pair miner (datapipe.multimodal
    .phash_near_pairs, r8 — the block-rotation pigeonhole generalized to
    any int64 signature, here serving the pHash image-dedup family):
    planted signatures — family base hash (doc_id div 5) XOR up to three
    md5-positioned bit flips — so within-family Hamming is small and
    cross-family ~32. The oracle brute-forces all pairs, so the driver
    row verifies the pigeonhole's recall-1.0 claim exactly."""
    from aces_spark.datapipe.multimodal import phash_near_pairs
    from aces_spark.functions.hashing import md5_long60

    docs = _read_table(spark, sf_dir, "documents").select("doc_id")
    base = md5_long60(F.expr("doc_id div 5"))
    h = base
    for j in range(3):
        flip = F.expr(
            "shiftleft(cast(1 as bigint), cast("
            f"cast(conv(substring(md5(concat('b{j}|', cast(doc_id as string))),"
            " 1, 15), 16, 10) as bigint) % 60 as int))"
        )
        h = F.when(F.col("doc_id") % 4 >= j + 1, h.bitwiseXOR(flip)).otherwise(h)
    hashes = docs.select(F.col("doc_id").alias("media_id"), h.alias("phash"))
    return phash_near_pairs(hashes, k=10)


def q_lm_score_kn3(spark, sf_dir):
    """Interpolated Kneser-Ney TRIGRAM scoring (datapipe.lm.train_kn3_lm
    + score_documents_kn3, r8): raw counts at order 3, continuation type
    counts at orders 2 and 1 (the textbook recursive backoff), D=3/4 so
    every probability clears to exact integers. Train on even docs,
    score odd docs (the lm_score split)."""
    from aces_spark.datapipe.lm import score_documents_kn3, train_kn3_lm

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = train_kn3_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return score_documents_kn3(docs.filter(F.col("doc_id") % 2 == 1), model)


def q_ngram_overlap(spark, sf_dir):
    """ROUGE-2-style paired-text overlap (datapipe.text
    .ngram_overlap_stats): each doc's full text vs its first-half
    substring (the summary-vs-source proxy) — distinct-bigram precision/
    recall/F1 in exact basis points, entirely row-local, zero shuffle."""
    from aces_spark.datapipe.text import ngram_overlap_stats

    docs = _read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("text").alias("a"),
        F.expr(
            "substring(text, 1, cast(floor(length(text) / 2) as int))"
        ).alias("b"),
    )
    return ngram_overlap_stats(docs, "a", "b", n=2)


def q_binary_hamming_topk(spark, sf_dir):
    """Binary-quantized ANN baseline (datapipe.sq.binary_codes +
    hamming_topk): sign-bit codes (32x compression), XOR+popcount
    distance, shared deterministic tie rule; queries vec_id < 5, k=5."""
    from aces_spark.datapipe.sq import hamming_topk

    emb = _read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return hamming_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, dim=64)


def q_encoding_artifacts(spark, sf_dir):
    """Mojibake / encoding-damage report (datapipe.text
    .encoding_artifacts) over a corpus with planted damage: by doc_id
    mod 4, docs gain a double-encoding digraph, a U+FFFD + control
    char, a zero-width pair, or stay clean — row-local regexp counts,
    zero shuffle."""
    from aces_spark.datapipe.text import encoding_artifacts

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(" cafÃ© â€œquoteâ€"))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit(" bad�"), F.expr("char(1)")))
        .when(F.col("doc_id") % 4 == 2, F.lit(" a​b﻿"))
        .otherwise(F.lit(""))
    )
    damaged = docs.select("doc_id", F.concat(F.col("text"), suffix).alias("text"))
    return encoding_artifacts(damaged)


def q_vocab_divergence(spark, sf_dir):
    """Cross-corpus unigram KL/JS divergence (datapipe.text
    .vocab_divergence): even docs vs odd docs, add-one smoothed over the
    union vocabulary, micro-nat integer sums — the drift report between
    two crawls."""
    from aces_spark.datapipe.text import vocab_divergence

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_divergence(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def q_quality_classifier(spark, sf_dir):
    """fastText-style linear classifier inference (functions.features
    .linear_classifier_score): hashed-BoW dot against a 1024-bucket
    md5-derived weight table — train-elsewhere/serve-here, exact int64
    scores, broadcast model join + one per-doc aggregate."""
    from aces_spark.functions.features import linear_classifier_score
    from aces_spark.functions.hashing import md5_long60

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    weights = spark.range(1024).select(
        F.col("id").cast("long").alias("bucket"),
        (F.pmod(md5_long60(F.col("id")), F.lit(2001)) - 1000)
        .cast("long")
        .alias("weight_micro"),
    )
    return linear_classifier_score(docs, weights, n_buckets=1024)


def q_classifier_train_score(spark, sf_dir):
    """In-engine fastText-style classifier TRAINING + scoring
    (functions.features.train_linear_classifier, r8): three integer-exact
    full-batch gradient iterations over the hashed-BoW matrix — labels
    planted as lang='en' — then linear_classifier_score serves the
    trained (bucket, weight_micro) model back over the same corpus.
    Training determinism (integer sums, table sigmoid, truncating
    division) is what makes a train+score pipeline hash-exact against a
    SQL engine; the oracle unrolls all three iterations as CTEs."""
    from aces_spark.functions.features import (
        linear_classifier_score,
        train_linear_classifier,
    )

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    labeled = docs.withColumn("label", F.col("lang") == "en")
    # share ONE tokenize/hash pass: training hands back its persisted
    # feature matrix and scoring runs off it (the bilinear identity —
    # r10 batch 17); Spark's LRU / the bench's clearCache owns release
    reg: list = []
    w = train_linear_classifier(labeled, n_buckets=1024, n_iters=3, cache_registry=reg)
    return linear_classifier_score(
        docs.select("doc_id", "text"), w, n_buckets=1024, features=reg[0]
    )


def q_zipf_corpus_stats(spark, sf_dir):
    """Corpus Zipf diagnostics (datapipe.text.zipf_stats): OLS ln-ln fit
    over the top-200 terms (TakeOrdered head, no global sort) + exact
    type-token ratio, all from micro-unit integer sums."""
    from aces_spark.datapipe.text import zipf_stats

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return zipf_stats(docs, top_n=200)


def q_epoch_shard_plan(spark, sf_dir):
    """Deterministic epoch-1 shuffle + 8-way sharding (datapipe.packing
    .epoch_shards): portable md5 permutation, one exchange — the same
    shuffle the shard writer needs anyway."""
    from aces_spark.datapipe.packing import epoch_shards

    docs = _read_table(spark, sf_dir, "documents").select("doc_id")
    return epoch_shards(docs, n_shards=8, epoch=1)


def q_prefix_jaccard(spark, sf_dir):
    """PPJoin-style prefix-filtered Jaccard pairs (datapipe.dedup
    .prefix_jaccard_pairs): same contract as ngram_jaccard_pairs but the
    self-join touches only each doc's (1-t) rarest shingles — exact, no
    boilerplate cap, verified row-locally via array_intersect."""
    from aces_spark.datapipe.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(
        _docs_with_near_dups(spark, sf_dir), n=3, threshold=0.5
    )


def q_winnowing_fingerprints(spark, sf_dir):
    """Near-dup: rolling-hash (winnowing) fingerprints, 4-gram k, window 4."""
    docs = _read_table(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, k=4, window=4)


def q_embedding_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs within IVF cells at threshold 0.2
    (synthetic embeddings are near-orthogonal; a low threshold keeps the
    result non-trivial while exercising the real pipeline)."""
    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    # quantizer="seed": deterministic first-k centroids so DuckDB can mirror
    # the cell assignment exactly; production default is trained k-means
    # with corpus-proportional n_cells (similarity.py::_resolve_centroids)
    return cosine_dup_pairs(emb, threshold=0.2, n_cells=8, quantizer="seed")


def q_ann_cosine_topk(spark, sf_dir):
    """Similarity search: exact brute-force cosine top-5 for queries
    vec_id < 5, ranked on the rounded score for determinism."""
    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=5)


def q_knn_classify(spark, sf_dir):
    """k-NN majority-vote label prediction (datapipe.similarity
    .knn_classify): exact cosine top-10 neighbors per query, label vote
    with deterministic tie-breaks."""
    from aces_spark.datapipe.similarity import knn_classify

    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        "label",
    )
    queries = emb.filter(F.col("vec_id") < 25)
    return knn_classify(emb, queries, k=10)


def q_ann_ivf_topk(spark, sf_dir):
    """Similarity search: IVF-bucketed approximate top-5 (scale path)."""
    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    # seed quantizer → SQL-mirrorable cell assignment (see q_embedding_dup_pairs)
    return ivf_topk(emb, queries, k=5, n_cells=8, quantizer="seed")


def q_ann_ivf_indexed(spark, sf_dir):
    """Persisted-IVF-index ANN: build once with ``save_ivf_index`` (seed
    quantizer → SQL-mirrorable), then query via ``ivf_topk_indexed`` with
    ``n_probes=2`` — the build-once/query-many production shape where the
    probe cells become a static partition ``IN`` filter on the index scan
    (aces_spark/datapipe/similarity.py:261-338)."""
    import tempfile

    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"aces_spark_ivf_index_{tag}")
    save_ivf_index(emb, path, n_cells=8, quantizer="seed")
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk_indexed(spark, path, queries, k=5, n_probes=2)


def q_ivf_append_topk(spark, sf_dir):
    """Incremental IVF index maintenance (datapipe.similarity
    .append_ivf_index): build the index on 80% of the corpus (seed
    quantizer — SQL-mirrorable), APPEND the remaining 20% against the
    frozen centroids (row-local assignment, cell-partitioned parquet
    append — nothing rewrites), then query the unioned index. The oracle
    is the ann_ivf_indexed mirror with centroids drawn from the BASE
    corpus only — append ≡ build-over-union under frozen centroids, by
    construction."""
    import shutil
    import tempfile

    from aces_spark.datapipe.similarity import append_ivf_index

    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"aces_spark_ivf_append_{tag}")
    shutil.rmtree(path, ignore_errors=True)  # appends must not accumulate across runs
    save_ivf_index(
        emb.filter(F.col("vec_id") % 5 != 0), path, n_cells=8, quantizer="seed"
    )
    append_ivf_index(spark, path, emb.filter(F.col("vec_id") % 5 == 0))
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk_indexed(spark, path, queries, k=5, n_probes=2)


def q_ann_ivf_recall(spark, sf_dir):
    """ANN quality measurement: recall@5 of the IVF path (seed quantizer,
    8 cells, 2 probes) against exact brute force, per query — the
    accuracy↔cost dial for tuning n_probes before scaling out."""
    from aces_spark.datapipe.similarity import ivf_recall_at_k

    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_recall_at_k(emb, queries, k=5, n_cells=8, n_probes=2, quantizer="seed")


def q_ivf_cell_stats(spark, sf_dir):
    """IVF index balance report: per-cell vector count + corpus fraction —
    the skew check run before committing to an index layout."""
    from aces_spark.datapipe.similarity import ivf_cell_stats

    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return ivf_cell_stats(emb, n_cells=8, quantizer="seed")


def q_substring_dedup(spark, sf_dir):
    """Char-level rolling-window substring dedup (40-char windows, stride
    20) over the near-dup-augmented corpus — the truncated copies share
    long prefixes, so real duplicated windows exist."""
    from aces_spark.datapipe.dedup import substring_dup_spans

    return substring_dup_spans(_docs_with_near_dups(spark, sf_dir), window=40, stride=20)


def q_substring_strip(spark, sf_dir):
    """Substring strip ACTION (datapipe.dedup.substring_strip, r8): flag
    every 40-char/stride-20 window occurring >= 2x corpus-wide, merge
    overlapping flagged windows into maximal spans (gaps-and-islands),
    splice the spans out. Pure window-function + integer char arithmetic
    — the whole strip is SQL-mirrorable, untouched docs byte-identical."""
    from aces_spark.datapipe.dedup import substring_strip

    return substring_strip(_docs_with_near_dups(spark, sf_dir), window=40, stride=20)


def q_substring_strip_exact(spark, sf_dir):
    """ExactSubstr strip (datapipe.dedup.substring_strip_exact, r9):
    Lee et al.'s suffix-array semantics as relational ops — every char
    inside a >= 50-char substring occurring >= 2x corpus-wide is
    spliced out, at ANY offset (the stride-phase blindness measured in
    tools/substr_gap_probe.py is what this closes: windowed recall 6.1%
    at the 40/20 default vs 100% here). Position-exploded min_len-grams
    -> one fingerprint exchange -> shared gaps-and-islands splice."""
    from aces_spark.datapipe.dedup import substring_strip_exact

    return substring_strip_exact(_docs_with_near_dups(spark, sf_dir), min_len=50)


_BLOCKLIST_PHRASES = ["slow join", "batch batch", "the fast key", "vector"]


def q_negative_samples(spark, sf_dir):
    """Frequency-smoothed negative sampling (datapipe.sampling
    .negative_samples, r9): 2 deterministic draws per (user, item)
    positive from the c^(3/4)-smoothed item unigram — weights as
    sqrt·sqrt(sqrt) compositions of correctly-rounded IEEE sqrts so
    both engines agree bit-for-bit where libm pow would not."""
    from aces_spark.datapipe.sampling import negative_samples

    from aces_spark.functions.semistructured import extract_json_fields

    ev = _read_events(spark, sf_dir)
    pos = (
        extract_json_fields(ev, "props", "k BIGINT")
        .filter(F.col("k").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.col("k").alias("item"))
        .filter(F.col("user_id") < 50)  # bounded output for the gate
    )
    return negative_samples(pos, k=2, user_col="user_id", item_col="item")


def q_dirichlet_ql(spark, sf_dir):
    """Dirichlet query-likelihood retrieval (datapipe.retrieval
    .dirichlet_ql_scores, r9): the LM-ranking rival to bm25_search,
    same query terms, mu=2000 — integer-exact num/den ratios, per-term
    micro-nat snap, order-free per-doc sum. Top 15."""
    from aces_spark.datapipe.retrieval import dirichlet_ql_scores

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dirichlet_ql_scores(
        docs, ["spark", "join", "window"], mu=2000, top_k=15
    )


def q_hits_items(spark, sf_dir):
    """HITS hubs & authorities (operators.graph.hits, r9) over the
    DIRECTED user->item engagement graph: users are hubs (breadth of
    engagement), items authorities (quality-weighted popularity) — the
    two-score decomposition PageRank's single score conflates. 2
    iterations, integer sum-renormalized units (truncating DECIMAL
    division against the 1-row iteration total), so the loop unrolls
    bit-exactly into CTEs. Top 20 by authority."""
    from aces_spark.functions.semistructured import extract_json_fields
    from aces_spark.operators.graph import hits

    ev = _read_events(spark, sf_dir)
    edges = (
        extract_json_fields(ev, "props", "k BIGINT")
        .filter(F.col("k").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.concat(F.lit("u:"), F.col("user_id")).alias("src"),
            F.concat(F.lit("i:"), F.col("k")).alias("dst"),
        )
    )
    return (
        hits(edges, iterations=2)
        .orderBy(F.col("auth_u").desc(), F.col("node").asc())
        .limit(20)
    )


def q_blocklist_hits(spark, sf_dir):
    """Phrase-blocklist report (datapipe.blocklist.blocklist_hits, r9):
    exact token-sequence matches of a C4-style banned-phrase list —
    per-doc total hits (overlaps count) + distinct phrases. Engine =
    rarest-token anchor election (PPJoin discipline: one corpus occ
    aggregate, broadcast anchors, narrow position explode, candidate-
    sized verify join-back); oracle = a DELIBERATELY different
    brute-force slice-equality formulation, so agreement validates the
    anchor machinery, not just arithmetic."""
    from aces_spark.datapipe.blocklist import blocklist_hits

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return blocklist_hits(docs, _BLOCKLIST_PHRASES)


def q_minhash_jaccard(spark, sf_dir):
    """Full MinHash pipeline: LSH candidates + signature-agreement Jaccard
    estimate, filtered at 0.3 (portable md5 hasher)."""
    from aces_spark.datapipe.dedup import minhash_jaccard_pairs

    return minhash_jaccard_pairs(
        _docs_with_near_dups(spark, sf_dir), n=3, num_hashes=8, bands=4, threshold=0.3
    )


def _docs_with_urls(spark, sf_dir):
    """Deterministic synthetic URLs over documents (the table carries no
    URL column): four variants exercising every normalization step —
    uppercase scheme/host, default ports, tracking params, fragments.
    Mirrors ``_URLS_SQL``."""
    docs = _read_table(spark, sf_dir, "documents").select("doc_id")
    m4 = F.col("doc_id") % 4
    d = F.col("doc_id").cast("string")
    url = (
        F.when(m4 == 0, F.concat(
            F.lit("HTTP://WWW.Example"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".COM:80/Path/"), d,
            F.lit("?utm_source=feed&id="), (F.col("doc_id") % 50).cast("string"),
            F.lit("&utm_campaign=x#frag"),
        ))
        .when(m4 == 1, F.concat(
            F.lit("https://Blog.Site"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".org/post/"), d,
            F.lit("?id="), (F.col("doc_id") % 50).cast("string"), F.lit("&fbclid=abc"),
        ))
        .when(m4 == 2, F.concat(
            F.lit("http://news.portal"), (F.col("doc_id") % 3).cast("string"),
            F.lit(".net/a/"), d,
        ))
        .otherwise(F.concat(
            F.lit("https://Shop.Example"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".COM:443/item?gclid=g"), d,
        ))
    )
    return docs.select("doc_id", url.alias("url"))


def q_url_normalize(spark, sf_dir):
    """URL normalization: fragment/default-port/tracking-param stripping +
    lowercased authority + domain extraction (row-local, zero shuffle)."""
    from aces_spark.datapipe.urls import normalize_urls

    return normalize_urls(_docs_with_urls(spark, sf_dir))


def q_domain_stats(spark, sf_dir):
    """Per-domain corpus stats: raw URL count + distinct normalized URLs
    (the count URL-dedup would keep)."""
    from aces_spark.datapipe.urls import domain_stats

    return domain_stats(_docs_with_urls(spark, sf_dir))


def q_group_vocab_topk(spark, sf_dir):
    """Per-language top-10 vocabulary (rank window over the per-group
    aggregated vocab, not the corpus)."""
    from aces_spark.datapipe.text import group_vocab_top_k

    docs = _read_table(spark, sf_dir, "documents")
    return group_vocab_top_k(docs, group_col="lang", k=10)


def q_token_histogram(spark, sf_dir):
    """Token-length distribution: 50-token-wide buckets of BPE-ish counts
    (integer math, engine-exact)."""
    from aces_spark.datapipe.text import token_histogram

    return token_histogram(_read_table(spark, sf_dir, "documents"), bucket_width=50)


def q_corpus_mix(spark, sf_dir):
    """Training-mix composition: per (source, lang) docs, exact token
    totals, and token share in basis points."""
    from aces_spark.datapipe.text import corpus_mix

    return corpus_mix(_read_table(spark, sf_dir, "documents"))


def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding mean/stddev — the drift/degeneracy QA pass."""
    from aces_spark.datapipe.similarity import embedding_dim_stats

    emb = _read_table(spark, sf_dir, "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return embedding_dim_stats(emb)


def q_embedding_label_stats(spark, sf_dir):
    """Per-label embedding stats: count + first-component mean."""
    emb = _read_table(spark, sf_dir, "embeddings")
    return emb.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.avg(F.col("embedding")[0].cast("double")), 6).alias("mean_dim0"),
    )


def q_multimodal_frame_plan(spark, sf_dir):
    """Multimodal planning (JVM-only): one row per video frame to sample,
    from metadata alone — documents stand in as media with a deterministic
    synthetic duration; even doc_ids are 'video'."""
    from aces_spark.datapipe.multimodal import frame_sample_plan

    docs = _read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("video")).otherwise(F.lit("image")).alias(
            "media_type"
        ),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("doc_id") % 10) * 1500 + 500).cast("long").alias("duration_ms"),
            F.lit("h264").alias("codec"),
        ).alias("meta"),
    )
    plan = frame_sample_plan(media, every_ms=1000)
    return plan.select("media_id", F.col("sample_at_ms").cast("long").alias("sample_at_ms"))


def q_multimodal_payload_stats(spark, sf_dir):
    """Multimodal plumbing (JVM fast path): binary payload sizes/digests,
    plus the r10 MPEG-audio and MP4-container metadata fields —
    document text encoded as the opaque payload. The audio/video
    fields come from ``audio_metadata``/``video_metadata``'s JVM
    magic-byte gates + Arrow header walks; on this text corpus both
    gates admit zero payloads, so the left joins add all-null columns
    with no Python traffic — which is exactly what the SQL oracle
    mirrors (the parsers themselves are fixture-golden territory:
    tests/test_mp3.py, tests/test_mp4.py)."""
    from aces_spark.datapipe.multimodal import audio_metadata

    docs = _read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text").alias("media_type"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("codec"),
        ).alias("meta"),
    )
    from aces_spark.datapipe.multimodal import video_metadata

    audio = audio_metadata(media).select(
        "media_id",
        F.col("duration_ms").alias("audio_duration_ms"),
        F.col("bitrate_kbps").alias("audio_bitrate_kbps"),
    )
    video = video_metadata(media).select(
        "media_id",
        F.col("container_duration_ms").alias("video_duration_ms"),
        "video_codec",
    )
    return (
        payload_stats(media)
        .select("media_id", "n_bytes", "payload_digest")
        .join(audio, "media_id", "left")
        .join(video, "media_id", "left")
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal slow path: Arrow-batched mapInPandas feature extraction
    over binary payloads (real PPM/PNG image + WAV audio decode cores;
    text payloads here take the byte-profile path — see
    datapipe.multimodal). The oracle hash-checks the SQL-expressible
    columns (sizes + digests), so the Python-worker path itself is
    value-verified."""
    docs = _read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text").alias("media_type"),
    )
    # Python workers are the expensive resource here, not CPU: size the
    # stage by Arrow batch volume, not core count
    media = media.coalesce(8)
    return extract_features(media).select("media_id", "n_bytes", "payload_digest")


def q_cohort_feature_vectors(spark, sf_dir):
    """ML feature engineering: flagship cohort output → flattened per-window
    predicate counts + durations → MLlib VectorAssembler ``features`` column
    (functions/features.py). The Vector-typed column is exercised end-to-end,
    then converted with ``vector_to_array`` and projected to named scalar
    components so the harness can canonicalize rows (Vector cells are not
    sortable) and a DuckDB oracle can hash-check every value."""
    from pyspark.ml.functions import vector_to_array

    from aces_spark.functions.features import cohort_feature_vectors

    cfg = _flagship_cfg()
    pred_df = _pred_df(spark, sf_dir, _plain(["signup", "click", "purchase"]))
    vec = cohort_feature_vectors(aces_query(cfg, pred_df))
    # VectorAssembler input order on the flagship task: the obs.end summary
    # counts in predicate order (signup, click, purchase), then the window
    # duration in seconds — pinned here so the oracle can name components.
    arr = vector_to_array(F.col("features"))
    names = ["f_signup", "f_click", "f_purchase", "f_duration_s"]
    return vec.select(
        "subject_id",
        "trigger",
        "label",
        *[F.round(arr[i], 4).alias(nm) for i, nm in enumerate(names)],
    )


def q_tfidf_features(spark, sf_dir):
    """Text features: exact (collision-free) TF-IDF over documents with
    MLlib's idf formula — pure DataFrame ops, fully oracle-checkable. The
    HashingTF/IDF MLlib pipeline (murmur3 bucketing, not engine-portable)
    is covered by pytest instead (functions/features.py::tfidf_features)."""
    from aces_spark.functions.features import tfidf_exact

    return tfidf_exact(_read_table(spark, sf_dir, "documents"))


def q_props_field_stats(spark, sf_dir):
    """Typed JSON extraction (functions/semistructured.py): parse
    events.props with an explicit schema (from_json, JVM codegen — never
    per-field get_json_object or a Python UDF) and profile field ``k``
    per event type. All-BIGINT output."""
    from aces_spark.functions.semistructured import json_field_stats

    return json_field_stats(_read_events(spark, sf_dir))


def q_event_type_pivot(spark, sf_dir):
    """Wide activity matrix (datapipe.analytics.event_type_pivot): one row
    per user, a count column per event type — explicit value list, so ONE
    hash aggregate with a pinned schema (no distinct-collect pre-job)."""
    from aces_spark.datapipe.analytics import event_type_pivot

    return event_type_pivot(_read_events(spark, sf_dir), EVENT_TYPES)


def q_label_centroids(spark, sf_dir):
    """Class centroids (datapipe.similarity.label_centroids): per-label
    mean embedding with DECIMAL-exact component sums — the one
    formulation whose distributed mean is bit-reproducible (float partial
    sums across partitions are order-dependent; decimals are not).

    Emitted in LONG format ``(label, dim, n_vectors, value)`` — scalar
    columns only, because the driver's pandas canonicalizer cannot hash an
    ``array<double>`` cell (the r4 ``err``); library users keep the
    array-shaped ``label_centroids`` output."""
    from aces_spark.datapipe.similarity import label_centroids

    cents = label_centroids(_read_table(spark, sf_dir, "embeddings"))
    return cents.select(
        "label", "n_vectors", F.posexplode("centroid").alias("dim", "value")
    ).select("label", F.col("dim").cast("int").alias("dim"), "n_vectors", "value")


def q_doc_outlier_filter(spark, sf_dir):
    """Quantile-band trimming (datapipe.text.outlier_filter): keep docs
    whose length lies inside the corpus [p1, p99] band; the 1-row bounds
    frame broadcasts onto the scan."""
    from aces_spark.datapipe.text import outlier_filter

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return outlier_filter(docs, "n_chars", lo=0.01, hi=0.99)


def q_corpus_mix_sample(spark, sf_dir):
    """Target-mix downsampling (datapipe.sampling.mix_sample): solve the
    largest corpus realizing lang weights en/de/fr/zh = 40/20/20/20 given
    availability (scarcest weighted stratum kept at 100%), then the
    deterministic hash filter — row-local, zero shuffle beyond one tiny
    per-stratum count."""
    from aces_spark.datapipe.sampling import mix_sample

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = mix_sample(
        docs, {"en": 0.4, "de": 0.2, "fr": 0.2, "zh": 0.2}, strata_col="lang"
    )
    return out.select("doc_id", "lang", "sample_bucket")


def q_key_skew_report(spark, sf_dir):
    """Shuffle-key health report (datapipe.analytics.key_skew_stats):
    cardinality, heaviest-key share, per-key count quantiles, and the
    max/mean skew ratio for events.user_id — the pre-flight check before
    keying a 100 TB join on a column."""
    from aces_spark.datapipe.analytics import key_skew_stats

    return key_skew_stats(_read_events(spark, sf_dir), "user_id")


def q_heavy_keys(spark, sf_dir):
    """Heavy-hitter keys (datapipe.analytics.heavy_keys): top-10
    events.user_id values by row count with exact basis-point shares —
    the salting / broadcast-special-case candidates. Distributed top-k
    plan (TakeOrderedAndProject), no full sort."""
    from aces_spark.datapipe.analytics import heavy_keys

    return heavy_keys(_read_events(spark, sf_dir), "user_id", top_k=10)


def _pq_setup(spark, sf_dir, n_codes=16):
    """Shared PQ fixture: double-cast embeddings + the deterministic seed
    codebook (m=4 subspaces × n_codes codewords over dim 64)."""
    from aces_spark.datapipe.pq import pq_train

    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return emb, pq_train(emb, m=4, n_codes=n_codes, quantizer="seed")


def q_pq_codes(spark, sf_dir):
    """Product-quantization encoding (datapipe.pq.pq_encode): each 64-dim
    embedding → 4 one-byte codes (64× compression), nearest seed codeword
    per subspace, first-min tie-break. Map-only narrow plan (inline
    codebook literal, zero exchanges) — exploded to (vec_id, subspace,
    code) scalars for the oracle."""
    from aces_spark.datapipe.pq import pq_encode

    emb, cb = _pq_setup(spark, sf_dir)
    codes = pq_encode(emb, cb)
    return codes.select(
        "vec_id", F.posexplode("codes").alias("subspace", "code")
    ).select("vec_id", F.col("subspace").cast("int"), F.col("code").cast("int"))


def q_pq_topk(spark, sf_dir):
    """Compressed-domain ANN (datapipe.pq.pq_topk): asymmetric-distance
    top-5 over PQ codes — the scan touches only (id, 4-byte code) rows;
    per-pair work is 4 codeword lookups, independent of dim. Rank on the
    6-dp-rounded distance, id tie-break (repo determinism rule)."""
    from aces_spark.datapipe.pq import pq_encode, pq_topk

    emb, cb = _pq_setup(spark, sf_dir)
    codes = pq_encode(emb, cb)
    return pq_topk(emb.filter(F.col("vec_id") < 5), codes, cb, k=5)


def q_doc_chunking(spark, sf_dir):
    """Sliding-window document chunking (datapipe.chunking.chunk_documents):
    64-token windows, stride 48 — completely narrow plan (tokenize →
    posexplode → slice, zero exchanges)."""
    from aces_spark.datapipe.chunking import chunk_documents

    return chunk_documents(
        _read_table(spark, sf_dir, "documents"), chunk_tokens=64, stride=48
    )


def q_rare_token_score(spark, sf_dir):
    """Corpus-frequency rarity scoring (datapipe.chunking.rare_token_stats):
    two word-keyed hash aggregates; the Zipf head is filtered out of the
    join by construction (only the rare tail joins). Basis-point exact
    ratio."""
    from aces_spark.datapipe.chunking import rare_token_stats

    return rare_token_stats(_read_table(spark, sf_dir, "documents"), max_count=2)


def q_asof_join_views(spark, sf_dir):
    """As-of join (operators/timeseries.asof_join): attach each purchase's
    most recent at-or-before view (value + timestamp) per user — the kdb
    ``aj`` / DuckDB ASOF JOIN backward-inclusive semantics, tie-broken by
    view event_id. Union-tag-fill plan: ONE user_id exchange, zero joins."""
    from aces_spark.operators.timeseries import asof_join

    ev = _read_events(spark, sf_dir)
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("vts"),
        F.col("event_id").alias("vid"),
        F.col("value").alias("view_value"),
    )
    return asof_join(
        purch, views, on="user_id", left_ts="ts", right_ts="vts",
        right_cols=["view_value"], right_order="vid",
    )


def q_range_join_attrib(spark, sf_dir):
    """Bucketed interval-containment join (operators/timeseries.range_join):
    per purchase, how many same-user events land in its 1-hour attribution
    window [ts, ts+1h) and how many are clicks. Sequence-exploded buckets
    → plain hash join + residual filter, never a nested-loop plan."""
    from aces_spark.operators.timeseries import range_join

    ev = _read_events(spark, sf_dir)
    purch = ev.filter(F.col("event_type") == "purchase")
    iv = purch.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 1 hour")).alias("end_ts"),
    )
    j = range_join(
        ev.select("user_id", "event_id", "ts", "event_type"), iv, on="user_id"
    )
    return j.groupBy("purchase_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("n_clicks"),
    )


def q_time_rollup(spark, sf_dir):
    """Continuous-aggregate rollup (operators/timeseries.time_rollup):
    hourly + daily + grand-total event counts and value sums per
    event_type from ONE grouping-sets shuffle (map-side partials shared
    across grains). Value sums run in DECIMAL(18,6) for engine-exact
    results at any scale."""
    from aces_spark.operators.timeseries import time_rollup

    ev = _read_events(spark, sf_dir)
    return time_rollup(
        ev,
        by="event_type",
        grains=["hour", "day"],
        aggs=[
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        ],
    )


def q_gapfill_locf(spark, sf_dir):
    """Time-grid resample with LOCF (operators/timeseries.gapfill_locf):
    each user's value series regularized to a daily grid between first and
    last observation, gaps carrying the last observation forward —
    TimescaleDB ``time_bucket_gapfill``+``locf`` semantics, per-bucket
    last obs tie-broken by event_id."""
    from aces_spark.operators.timeseries import gapfill_locf

    ev = _read_events(spark, sf_dir).select("user_id", "ts", "value", "event_id")
    return gapfill_locf(ev, on="user_id", bucket="day", order_col="event_id")


def q_interval_overlap(spark, sf_dir):
    """Interval × interval OVERLAPS join (operators/timeseries
    .interval_overlap_join): every (purchase-window, error-window) pair of
    the same user whose half-open spans intersect — purchases carry a 2 h
    window, errors a 1 h window. Bucket-exploded hash join; each
    overlapping pair survives exactly once via the canonical-bucket rule
    (no dropDuplicates)."""
    from aces_spark.operators.timeseries import interval_overlap_join

    ev = _read_events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("interval 2 hours")).alias("p_end"),
    )
    right = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_start"),
        (F.col("ts") + F.expr("interval 1 hour")).alias("e_end"),
    )
    out = interval_overlap_join(
        left, right,
        left_start="p_start", left_end="p_end",
        right_start="e_start", right_end="e_end",
        on="user_id", bucket="hour",
    )
    return out.select(
        "user_id", "purchase_id", "p_start", "error_id", "e_start"
    )


def q_ivfpq_topk_indexed(spark, sf_dir):
    """Persisted IVF-PQ index (datapipe.pq.save_ivfpq_index /
    ivfpq_topk_indexed): the FAISS billion-vector layout — coarse cells
    partition the on-disk CODES, queries statically prune to their 2
    probed cell directories and rank by the asymmetric PQ distance over
    4-byte codes (the scan never touches a raw corpus vector). Seed
    quantizers for both stages → exactly SQL-mirrorable."""
    import tempfile

    from aces_spark.datapipe.pq import ivfpq_topk_indexed, save_ivfpq_index

    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"aces_spark_ivfpq_index_{tag}")
    save_ivfpq_index(emb, path, n_cells=8, m=4, n_codes=16, quantizer="seed")
    queries = emb.filter(F.col("vec_id") < 5)
    return ivfpq_topk_indexed(spark, path, queries, k=5, n_probes=2)


def q_lsh_cosine_topk(spark, sf_dir):
    """Random-hyperplane LSH ANN (datapipe.similarity.lsh_cosine_topk):
    16 tables × 4 sign-bits bucket the corpus (inline md5-derived
    hyperplanes — deterministic across engines and cluster sizes);
    candidates share a bucket in ANY table, reranked by exact cosine.
    Training-free alternative to IVF — the (table, bucket) equi-join is
    linear in collisions, never all-pairs."""
    from aces_spark.datapipe.similarity import lsh_cosine_topk

    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return lsh_cosine_topk(emb, queries, k=5, n_planes=4, n_tables=16, seed=0)


def q_snapshot_diff(spark, sf_dir):
    """Cross-snapshot diff gate (datapipe.snapshots.snapshot_diff_summary):
    synthesize two drops of the documents table (old = doc_id % 10 != 0,
    new = doc_id % 7 != 0 with every doc_id % 5 == 0 text revised), then
    the added/removed/changed/unchanged report. ONE constant-width
    digest-keyed full-outer join regardless of table width."""
    from aces_spark.datapipe.snapshots import snapshot_diff_summary

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff_summary(old, new, "doc_id")


def q_check_rules(spark, sf_dir):
    """Declarative data-quality gate (datapipe.validation.check_rules):
    six rules over documents — five row-local rules share ONE
    conditional-sum aggregate (single scan, map-side partials), the
    uniqueness rule adds one key-count aggregate. The pre-ingest check a
    100 TB pipeline runs before accepting a drop."""
    from aces_spark.datapipe.validation import check_rules

    docs = _read_table(spark, sf_dir, "documents")
    return check_rules(
        docs,
        [
            ("not_null", "text"),
            ("non_negative", "n_chars"),
            ("in_range", "n_chars", 10, 2000),
            ("in_set", "lang", ["en", "de", "fr", "zh"]),
            ("matches", "source", "^[a-z_]+$"),
            ("unique", "doc_id"),
        ],
    )


def q_bm25_search(spark, sf_dir):
    """Lexical retrieval (datapipe.retrieval.bm25_scores): BM25 top-25
    for the query {join, hash, vector} over documents — Lucene's idf
    variant, micro-unit-exact per-term contributions summed as integers
    (order-independent at any parallelism), ranked on the integer score
    with doc_id tie-break."""
    from aces_spark.datapipe.retrieval import bm25_scores

    docs = _read_table(spark, sf_dir, "documents")
    return bm25_scores(docs, ["join", "hash", "vector"], top_k=25)


def q_kmv_distinct(spark, sf_dir):
    """K-minimum-values distinct sketch (datapipe.sketches.kmv_distinct)
    over events.user_id: portable md5 hashes, ascending top-256 via
    TakeOrderedAndProject, closed-form (k-1)/h_(k) estimate — the
    reproducible alternative to approx_count_distinct."""
    from aces_spark.datapipe.sketches import kmv_distinct

    return kmv_distinct(_read_events(spark, sf_dir), "user_id", k=256)


def q_hll_distinct(spark, sf_dir):
    """Portable HyperLogLog (datapipe.sketches.hll_distinct, p=9 → 512
    registers) over events.user_id: md5-derived ranks, INTEGER-scaled
    harmonic sum (the order-dependent float reduction of naive HLL is
    gone by construction), linear-counting small-range correction."""
    from aces_spark.datapipe.sketches import hll_distinct

    return hll_distinct(_read_events(spark, sf_dir), "user_id", p=9)


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix (datapipe.analytics
    .event_transitions): per-user consecutive event-type pairs (ts,
    event_id order), counts + within-from-type probabilities in exact
    basis points. ONE user-keyed exchange, tiny |types|^2 aggregate."""
    from aces_spark.datapipe.analytics import event_transitions

    return event_transitions(_read_events(spark, sf_dir))


def q_lang_drift(spark, sf_dir):
    """Categorical distribution drift (datapipe.analytics
    .distribution_drift): per-lang counts, add-one-smoothed
    probabilities, and KL(new || old) contributions between the same two
    synthetic documents drops as snapshot_diff."""
    from aces_spark.datapipe.analytics import distribution_drift

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 7 != 0)
    return distribution_drift(old, new, "lang")


def q_rolling_stats(spark, sf_dir):
    """Trailing 5-row moving statistics (operators/timeseries
    .rolling_stats) of events.value per user: DECIMAL-exact frame sums,
    floor-rule mean, deterministic (ts, event_id) ordering. One key
    exchange; O(window) state per task regardless of key size."""
    from aces_spark.operators.timeseries import rolling_stats

    ev = _read_events(spark, sf_dir).select("user_id", "ts", "value", "event_id")
    return rolling_stats(ev, "user_id", window_rows=5)


def q_value_trend(spark, sf_dir):
    """Per-user least-squares value trend (operators/timeseries
    .group_linear_trend): integer-exact normal-equation slope over
    day-grain re-based x and micro-unit y — the "is this metric
    drifting" feature, ONE key exchange shared by the window min and
    the five-sum aggregate. Sign-decomposed integer division keeps
    Spark's trunc and DuckDB's floor semantics identical."""
    from aces_spark.operators.timeseries import group_linear_trend

    ev = _read_events(spark, sf_dir).select("user_id", "ts", "value")
    return group_linear_trend(ev, "user_id")


def q_rank_normalize(spark, sf_dir):
    """Per-language percentile-rank normalization of document length
    (functions.features.rank_normalize): competition ranks scaled to
    integer basis points by one non-negative floor division — the
    distribution-free feature transform. One exchange on the group key."""
    from aces_spark.functions.features import rank_normalize

    docs = _read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return rank_normalize(docs, "lang", "n_chars")


def q_distinctive_terms(spark, sf_dir):
    """Per-language distinctive vocabulary (datapipe.text
    .distinctive_terms, Monroe et al. "fightin' words" simplified):
    add-1-smoothed log-odds of each word in a language vs the rest of
    the corpus, integer micro-nats, top-5 per language. One corpus
    tokenize, then pure window functions over the (domain, word) count
    relation — no joins."""
    from aces_spark.datapipe.text import distinctive_terms

    return distinctive_terms(
        _read_table(spark, sf_dir, "documents"), "lang", "text", k=5
    )


def q_phrase_search(spark, sf_dir):
    """Exact-phrase retrieval (datapipe.retrieval.phrase_match, Lucene
    PhraseQuery semantics): positional postings pruned to the phrase's
    terms, one (doc, pos+offset) equi-join per adjacency, occurrence
    counts per document. Oracle: the same positional join over a
    parallel-unnest token/position relation."""
    from aces_spark.datapipe.retrieval import phrase_match

    return phrase_match(_read_table(spark, sf_dir, "documents"), "table hash")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (datapipe.kmeans.semantic_dedup, Abbas et al. 2023):
    k-means clusters linearize the quadratic cosine dedup, then the
    keep-lowest-id rule prunes within-cluster near-duplicates at 0.4 on
    the original double vectors. Oracle = the unrolled k-means CTEs plus
    one pair-pruning CTE."""
    from aces_spark.datapipe.kmeans import semantic_dedup

    emb = _read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return semantic_dedup(emb, k=4, n_iters=2, threshold=0.4)


def q_entity_resolution(spark, sf_dir):
    """Record linkage end-to-end (datapipe.fuzzy.resolve_entities):
    distance-1 links over the top-300 vocab plus injected typos (the
    fuzzy_vocab_pairs perturbation — the raw corpus has no natural
    distance-1 pairs), transitive closure via large-star/small-star
    connected components, min-string canonical entity ids. The oracle
    mirrors the SEMANTICS: a direct levenshtein join over the tiny pool
    plus a recursive-CTE closure — the blocked join + log-round
    clustering is the part that scales."""
    from aces_spark.datapipe.fuzzy import resolve_entities
    from aces_spark.datapipe.text import vocab_top_k

    vocab = vocab_top_k(
        _read_table(spark, sf_dir, "documents"), k=300
    ).select("word")
    typos = vocab.filter(F.length("word") >= 5).select(
        F.concat(F.substring("word", 1, 1), F.expr("substring(word, 3)")).alias("word")
    )
    return resolve_entities(vocab.union(typos), "word", max_dist=1)


def q_kmeans_clusters(spark, sf_dir):
    """Deterministic k-means over the embeddings table
    (datapipe.kmeans.kmeans_clusters): k=4 seeds picked by portable hash
    order, 2 fixed Lloyd rounds in integer micro-unit coordinates, final
    assignment with exact bigint squared distances. The oracle unrolls
    both rounds as CTEs in long (vec, dim) format — a deliberately
    DIFFERENT formulation (positional join vs zip_with arrays) computing
    the same integer math, so agreement is strong evidence."""
    from aces_spark.datapipe.kmeans import kmeans_clusters

    emb = _read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # share ONE read+quantize pass across the seed pick, both Lloyd
    # updates and the final assignment (r11); Spark's LRU / the bench's
    # clearCache owns release — the classifier cache_registry pattern
    return kmeans_clusters(emb, k=4, n_iters=2, cache_registry=[])


def q_dsir_selection(spark, sf_dir):
    """DSIR importance-resampling selection (datapipe.selection.dsir_score,
    Xie et al. 2023): rank non-English documents by the log importance
    ratio of their hashed-unigram distribution under an English-target vs
    raw-pool bag model (add-1 smoothing, 64 md5 buckets). All four log
    terms snap to integer micro-nats per bucket, so scores are pure
    integer sums. The shared 31-word synthetic vocabulary would make the
    two distributions near-identical (the r1 vacuous-oracle lesson), so
    every doc gains a deterministic doc_id-derived marker token — the
    marker distribution then genuinely differs between the en and non-en
    pools and the weights have real structure."""
    from aces_spark.datapipe.selection import dsir_score

    docs = _read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"), F.lit(" mk"), ((F.col("doc_id") * 7) % 17).cast("string")
        ).alias("text"),
    )
    return dsir_score(docs, F.col("lang") == "en", n_buckets=64, alpha=1, k=40)


def q_coverage_select(spark, sf_dir):
    """Greedy max-coverage document selection (datapipe.selection
    .greedy_coverage_select): the 3 documents that together cover the
    most distinct vocabulary — the submodular facility-location greedy
    for diverse-subset curation. Iterative by nature (each pick reshapes
    every remaining gain); oracled by unrolling the 3 fixed rounds as
    CTE anti-join + argmax rounds (the bpe_merges technique). The corpus
    tokenizes once into a cached (doc_id, word) relation; each round is
    one broadcast anti-join + count aggregate + 1-row argmax."""
    from aces_spark.datapipe.selection import greedy_coverage_select

    # the synthetic corpus has ~31 vocabulary words, so the first pick
    # covers everything and rounds 2-3 go vacuous (the r1 dedup lesson);
    # two deterministic doc_id-derived pseudo-word families give the
    # greedy real marginal structure to chew on at every round
    docs = _read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" uniq"),
            (F.col("doc_id") % 101).cast("string"),
            F.lit(" uniq"),
            (F.col("doc_id") % 103).cast("string"),
        ).alias("text"),
    )
    picks = greedy_coverage_select(docs, k=3)
    ids = [int(p[0]) for p in picks]
    gains = [int(p[1]) for p in picks]
    # literal explode (see q_bpe_merges): the result is driver-known
    return (
        spark.range(1)
        .select(
            F.posexplode(
                F.arrays_zip(F.lit(ids).alias("doc_id"), F.lit(gains).alias("gain"))
            ).alias("rank", "m")
        )
        .select(
            F.col("rank").cast("int").alias("rank"),
            F.col("m.doc_id").cast("long").alias("doc_id"),
            F.col("m.gain").cast("long").alias("gain"),
        )
    )


def q_domain_temperature_mix(spark, sf_dir):
    """Temperature-scaled domain mixing weights (datapipe.selection
    .temperature_mix_weights, α=0.5): per-source sampling shares
    ∝ sqrt(n_docs) — the mT5/XLM-R small-domain rebalance. IEEE sqrt is
    correctly rounded in every engine, micro-unit floor + integer
    basis-point rounding make the output hash-exact; one domain
    aggregate + an empty-frame window over |domains| rows."""
    from aces_spark.datapipe.selection import temperature_mix_weights

    docs = _read_table(spark, sf_dir, "documents")
    return temperature_mix_weights(docs, "source", alpha_pct=50)


def q_containment_pairs(spark, sf_dir):
    """Directed one-sided shingle containment |A∩B|/|A| ≥ 0.8 (datapipe
    .dedup.containment_pairs) over the near-dup-augmented corpus — the
    subset-duplicate detector Jaccard misses (a 90%-prefix copy has
    containment ≈ 1 while its jaccard is diluted by the parent). Same
    capped inverted-index join as ngram_jaccard_pairs; the unordered
    pair counts once, then fans to both directions."""
    from aces_spark.datapipe.dedup import containment_pairs

    return containment_pairs(
        _docs_with_near_dups(spark, sf_dir), n=3, threshold=0.8, max_doc_freq=1000
    )


def q_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining (datapipe.similarity
    .hard_negatives): for queries vec_id < 5, the 5 most cosine-similar
    vectors with a DIFFERENT label — the negatives-selection step for
    contrastive / embedding-model training pairs. Broadcast queries;
    the label-mismatch filter prunes before the rank window."""
    from aces_spark.datapipe.similarity import hard_negatives

    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        "label",
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return hard_negatives(emb, queries, k=5)


def q_winsorized_values(spark, sf_dir):
    """Per-user winsorized mean (datapipe.analytics.winsorized_stats,
    p1/p99): integer-exact interpolated percentile bounds in micro-unit
    ten-thousandths arithmetic, values clamped, sign-decomposed mean —
    the outlier-robust aggregate; ONE key exchange shared by rank
    window, bound windows, and the final aggregate."""
    from aces_spark.datapipe.analytics import winsorized_stats

    ev = _read_events(spark, sf_dir).select("user_id", "value")
    return winsorized_stats(ev, "user_id", lo_bp=100, hi_bp=9900)


def q_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss Rademacher projection (datapipe.similarity
    .random_projection): 64-dim embeddings → 4 components via a
    deterministic md5-derived ±1 matrix baked into the plan as a literal
    (the PQ-codebook pattern) — map-only, zero shuffle; long-format
    scalar output so the harness canonicalizes rows."""
    from aces_spark.datapipe.similarity import random_projection

    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return random_projection(emb, out_dim=4, in_dim=64)


def q_time_weighted_avg(spark, sf_dir):
    """Per-user LOCF time-weighted average (operators/timeseries
    .time_weighted_avg — TimescaleDB's time_weight('locf')): each value
    holds until the next observation, avg = sum(v·dt)/span. Integer-
    exact micro-unit values, whole-second durations, sign-decomposed
    final division — ONE key exchange shared by the lead() window and
    the aggregate."""
    from aces_spark.operators.timeseries import time_weighted_avg

    ev = _read_events(spark, sf_dir).select("user_id", "ts", "value", "event_id")
    return time_weighted_avg(ev, "user_id")


def q_lm_score(spark, sf_dir):
    """Bigram-LM quality scoring (datapipe.lm): train add-one-smoothed
    bigram counts on the even-doc_id half of documents, score the odd
    half by mean per-token negative log-likelihood — the CCNet/Gopher
    perplexity-filter signal, fully relational (the model IS a count
    DataFrame), micro-unit-exact sums."""
    from aces_spark.datapipe.lm import score_documents_lm, train_bigram_lm

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return score_documents_lm(docs.filter(F.col("doc_id") % 2 == 1), model)


def q_scd2_merge(spark, sf_dir):
    """SCD type-2 history merge (datapipe.cdc.scd2_merge): per-user view
    history (first view closed by the second, second open-ended) merged
    with the purchase stream as the change batch — chained changes close
    each other; union-tag + ONE lead window, zero joins (the Delta-style
    MERGE without reading the history twice)."""
    from aces_spark.datapipe.cdc import scd2_merge

    ev = _read_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    views = (
        ev.filter(F.col("event_type") == "view")
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )
    rk = Window.partitionBy("user_id").orderBy(F.col("ts").asc())
    v12 = views.withColumn("__rn", F.row_number().over(rk)).filter(F.col("__rn") <= 2)
    history = v12.select(
        "user_id",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(
            Window.partitionBy("user_id").orderBy(F.col("__rn").asc())
        ).alias("valid_to"),
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("user_id", "value", F.col("ts").alias("effective_from"))
    )
    return scd2_merge(history, purch, "user_id")


def q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (datapipe.sampling
    .weighted_sample, Efraimidis-Spirakis A-ExpJ): top-100 documents by
    the deterministic exponential-jitter key -ln(u)/n_chars — inclusion
    probability proportional to length. Per-partition top-k heaps +
    k-row merge (TakeOrderedAndProject), never a global sort."""
    from aces_spark.datapipe.sampling import weighted_sample

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "n_chars", k=100, id_col="doc_id")


def q_rolling_time(spark, sf_dir):
    """Trailing 1-hour TIME-window statistics (operators/timeseries
    .rolling_stats_time) of events.value per user — the irregular-stream
    sibling of rolling_stats (RANGE frame over unix_micros, decimal
    sums, floor-rule mean)."""
    from datetime import timedelta as _td

    from aces_spark.operators.timeseries import rolling_stats_time

    ev = _read_events(spark, sf_dir).select("user_id", "ts", "value", "event_id")
    return rolling_stats_time(ev, "user_id", _td(hours=1))


def q_value_anomalies(spark, sf_dir):
    """Per-key z-score outlier flags (datapipe.analytics.anomaly_zscore):
    each event's deviation from ITS user's mean in population-stddev
    units; decimal-exact moments, |z| > 3 flags. One |keys|-row aggregate
    joined back — never a window over the raw stream."""
    from aces_spark.datapipe.analytics import anomaly_zscore

    ev = _read_events(spark, sf_dir).select("user_id", "event_id", "value")
    return anomaly_zscore(ev, "user_id", threshold=3.0)


def q_collocations(spark, sf_dir):
    """PMI collocations (datapipe.lm.collocations): adjacent word pairs
    of documents scored by pointwise mutual information, min_count=20,
    top-50 — phrase mining before tokenizer training. min_count filter
    runs BEFORE any join."""
    from aces_spark.datapipe.lm import collocations

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return collocations(docs, min_count=20, top_k=50)


def q_item_covisitation(spark, sf_dir):
    """Item co-visitation counts (datapipe.analytics.covisitation):
    events' JSON item field (props.k) → per-user item sets, capped at the
    20 most-frequent items per user (count-desc/item-asc deterministic
    rank) BEFORE the pair join — the recommender candidate-generation
    shape whose cap bounds the per-key quadratic at any scale."""
    from aces_spark.datapipe.analytics import covisitation
    from aces_spark.functions.semistructured import extract_json_fields

    ev = _read_events(spark, sf_dir)
    items = extract_json_fields(ev, "props", "k BIGINT").select(
        "user_id", F.col("k").alias("item")
    ).filter(F.col("item").isNotNull())
    return covisitation(items, "user_id", "item", max_items_per_key=20, min_pairs=2)


def q_item_communities(spark, sf_dir):
    """Community detection (operators.graph.label_propagation) over the
    co-visitation item graph: synchronous LPA with smallest-label
    tie-break — deterministic and exactly SQL-unrollable, unlike the
    randomized textbook variant. Emits BOTH rounds' labels per node:
    the dense co-engagement graph collapses to one community by round
    2, so round 1's 8-way labeling is where the oracle has real
    discriminating power (an argmax or message-pass bug shows there
    first). The shared pair relation is lazily checkpointed — two
    consumers, one computation (plan-hygiene rule)."""
    from aces_spark.datapipe.analytics import covisitation
    from aces_spark.functions.semistructured import extract_json_fields
    from aces_spark.operators.graph import label_propagation

    ev = _read_events(spark, sf_dir)
    items = extract_json_fields(ev, "props", "k BIGINT").select(
        "user_id", F.col("k").alias("item")
    ).filter(F.col("item").isNotNull())
    pairs = covisitation(
        items, "user_id", "item", max_items_per_key=20, min_pairs=2
    ).localCheckpoint(eager=False)
    l1 = label_propagation(pairs, "item_a", "item_b", iterations=1).select(
        "node", F.col("label").alias("label_r1")
    )
    l2 = label_propagation(pairs, "item_a", "item_b", iterations=2).select(
        "node", F.col("label").alias("label_r2")
    )
    return l1.join(l2, "node")


def q_item_association(spark, sf_dir):
    """Pairwise association rules (datapipe.analytics.association_rules)
    over the same capped user->item relation as item_covisitation:
    support / confidence / lift for every ordered co-engaged pair, all
    three ratios round-half-up at basis points in PURE INTEGER
    arithmetic ((2N+D) div 2D) so both engines emit bit-identical
    doubles. Total key count attaches as a 1-row broadcast (heavy_keys
    idiom) — no second input scan, no driver hop."""
    from aces_spark.datapipe.analytics import association_rules
    from aces_spark.functions.semistructured import extract_json_fields

    ev = _read_events(spark, sf_dir)
    items = extract_json_fields(ev, "props", "k BIGINT").select(
        "user_id", F.col("k").alias("item")
    ).filter(F.col("item").isNotNull())
    return association_rules(
        items, "user_id", "item", max_items_per_key=20, min_pairs=2
    )


def q_doc_entropy(spark, sf_dir):
    """Per-document character entropy (datapipe.text.char_entropy):
    the low-entropy / compression-ratio quality signal in exact integer
    micro-nats (per-character c·ln(c) terms snap before the per-doc sum
    — order-independent, engine-exact). Two keyed aggregates, no joins."""
    from aces_spark.datapipe.text import char_entropy

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return char_entropy(docs)


def q_kcore_items(spark, sf_dir):
    """Bounded-round k-core peeling (operators.graph.k_core_peel,
    k=3, rounds=3) over the item co-visitation graph: each pass drops
    degree<3 nodes and recomputes — the dense-community extraction
    primitive, fully relational (degree agg + two semi-joins per pass)
    and exactly unrollable in the oracle."""
    from aces_spark.datapipe.analytics import covisitation
    from aces_spark.functions.semistructured import extract_json_fields
    from aces_spark.operators.graph import k_core_peel

    ev = _read_events(spark, sf_dir)
    items = (
        extract_json_fields(ev, "props", "k BIGINT")
        .select("user_id", F.col("k").alias("item"))
        .filter(F.col("item").isNotNull())
    )
    pairs = covisitation(items, "user_id", "item", max_items_per_key=20, min_pairs=2)
    return k_core_peel(pairs, 3, rounds=3, src="item_a", dst="item_b")


def q_hll_by_type(spark, sf_dir):
    """Per-group HLL distinct (datapipe.sketches.hll_distinct_by, p=9):
    distinct users per event_type as one (key, register) aggregate —
    the scalable GROUP BY COUNT(DISTINCT) replacement whose state is
    |keys|·2^p registers, not the data."""
    from aces_spark.datapipe.sketches import hll_distinct_by

    ev = _read_events(spark, sf_dir).select("event_type", "user_id")
    return hll_distinct_by(ev, "event_type", "user_id", p=9)


def q_triangle_count(spark, sf_dir):
    """Triangle count (operators.graph.triangle_count) over the item
    co-visitation graph (pairs with n_keys >= 2): degree-ordered
    orientation bounds the wedge join at O(m^1.5) regardless of degree
    skew; each triangle counted once at its smallest-order apex."""
    from aces_spark.datapipe.analytics import covisitation
    from aces_spark.functions.semistructured import extract_json_fields
    from aces_spark.operators.graph import triangle_count

    ev = _read_events(spark, sf_dir)
    items = (
        extract_json_fields(ev, "props", "k BIGINT")
        .select("user_id", F.col("k").alias("item"))
        .filter(F.col("item").isNotNull())
    )
    pairs = covisitation(items, "user_id", "item", max_items_per_key=20, min_pairs=2)
    return triangle_count(pairs, "item_a", "item_b")


def q_hist_quantiles(spark, sf_dir):
    """Mergeable histogram quantile sketch (datapipe.sketches
    hist_registers + hist_quantiles): bucket events.value over the
    declared [0,500) domain (500 buckets), read 4 quantiles off the
    cumulative histogram — bounded-memory quantiles whose registers
    union-sum across corpus drops. IEEE-exact bucketing, mirrored in
    the oracle."""
    from aces_spark.datapipe.sketches import hist_quantiles, hist_registers

    ev = _read_events(spark, sf_dir).select("value")
    regs = hist_registers(ev, "value", lo=0.0, hi=500.0, buckets=500)
    return hist_quantiles(
        regs, [0.25, 0.5, 0.9, 0.99], lo=0.0, hi=500.0, buckets=500
    )


def q_cms_user_counts(spark, sf_dir):
    """Count-min sketch round trip (datapipe.sketches.cms_registers +
    cms_lookup): build the mergeable depth=4/width=1024 register table
    over events.user_id, then point-query every distinct user — the
    bounded-memory frequency sketch (never under-counts; the oracle
    replicates hash, registers, and min-probe exactly)."""
    from aces_spark.datapipe.sketches import cms_lookup, cms_registers

    ev = _read_events(spark, sf_dir).select("user_id")
    regs = cms_registers(ev, "user_id", depth=4, width=1024)
    return cms_lookup(regs, ev, "user_id", depth=4, width=1024)


def q_zorder_stats(spark, sf_dir):
    """Z-order layout diagnostic (sources.layout.zorder_bucket_stats):
    Morton-interleave (user_id%256, item%256) of events, bucket the key
    at row-group granularity, report per-bucket min/max of BOTH dims —
    the tight ranges that make multi-dimensional parquet skipping work.
    Pure bit arithmetic, mirrored term-for-term in the oracle."""
    from aces_spark.functions.semistructured import extract_json_fields
    from aces_spark.sources.layout import zorder_bucket_stats

    ev = _read_events(spark, sf_dir)
    d = (
        extract_json_fields(ev, "props", "k BIGINT")
        .filter(F.col("k").isNotNull() & F.col("user_id").isNotNull())
        .select(
            (F.col("user_id") % 256).alias("u"), (F.col("k") % 256).alias("i")
        )
    )
    return zorder_bucket_stats(
        d, [F.col("u"), F.col("i")], ["u", "i"], bits=8, bucket_shift=10
    )


def q_incr_agg_merge(spark, sf_dir):
    """Incremental aggregate maintenance (datapipe.incremental): events
    split into a history half (ts < 2024-01-20) and a delta half; each
    half's micro-unit-exact partial state is merged by key and finalized
    — the oracle aggregates the FULL table directly, so the green row
    pins merge(partial,partial) ≡ partial(whole)."""
    from aces_spark.datapipe.incremental import incremental_stats

    ev = _read_events(spark, sf_dir).select("event_type", "ts", "value")
    cut = F.lit("2024-01-20").cast("timestamp")
    return incremental_stats(
        ev.filter(F.col("ts") < cut),
        ev.filter(F.col("ts") >= cut),
        ["event_type"],
        "value",
    )


def q_bloom_join_supplier(spark, sf_dir):
    """Bloom-prefiltered supplier revenue (operators.bloom.bloom_join):
    lineitem is pruned by a broadcast bloom bitmap of the selected
    suppliers' keys BEFORE the exact join — result-identical to the
    plain join (the oracle IS the plain join), with the big-side shuffle
    cut to matching rows + false positives."""
    from aces_spark.operators.bloom import bloom_join

    sup = (
        _read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 5)
        .select(F.col("s_suppkey").alias("l_suppkey"), "s_name")
    )
    li = _read_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        bloom_join(li, sup, "l_suppkey")
        .groupBy("l_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


def q_pagerank_items(spark, sf_dir):
    """Fixed-iteration PageRank (operators.graph.pagerank_topk) over the
    bipartite user<->item co-engagement graph from events' JSON item
    field — the web-corpus centrality prior, 3 iterations, integer rank
    units so Spark and the oracle agree bit-for-bit. Top 20 nodes."""
    from aces_spark.functions.semistructured import extract_json_fields
    from aces_spark.operators.graph import pagerank_topk

    ev = _read_events(spark, sf_dir)
    ui = (
        extract_json_fields(ev, "props", "k BIGINT")
        .filter(F.col("k").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.concat(F.lit("u:"), F.col("user_id")).alias("src"),
            F.concat(F.lit("i:"), F.col("k")).alias("dst"),
        )
    )
    edges = ui.union(ui.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank_topk(edges, k=20, iterations=3)


def q_ppr_items(spark, sf_dir):
    """Personalized PageRank (operators.graph.personalized_pagerank)
    over the same co-engagement graph as pagerank_items, teleporting to
    a fixed 3-item seed set — the related-items / user-neighborhood
    primitive (rank mass concentrates around the seeds instead of
    spreading uniformly). Same integer rank units as pagerank so Spark
    and DuckDB agree bit-for-bit; top 20 by (rank desc, node asc)."""
    from aces_spark.functions.semistructured import extract_json_fields
    from aces_spark.operators.graph import personalized_pagerank

    ev = _read_events(spark, sf_dir)
    ui = (
        extract_json_fields(ev, "props", "k BIGINT")
        .filter(F.col("k").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.concat(F.lit("u:"), F.col("user_id")).alias("src"),
            F.concat(F.lit("i:"), F.col("k")).alias("dst"),
        )
    )
    edges = ui.union(ui.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = spark.range(1).select(
        F.explode(F.array(F.lit("i:1"), F.lit("i:2"), F.lit("i:3"))).alias("node")
    )
    ranks = personalized_pagerank(edges, seeds, iterations=3)
    return ranks.orderBy(F.col("rank_u").desc(), F.col("node").asc()).limit(20)


def q_bpe_pair_counts(spark, sf_dir):
    """BPE pair statistics (datapipe.bpe): the weighted adjacent-symbol
    pair counts of the FIRST merge iteration over the documents corpus —
    the aggregate every BPE iteration reruns, top-20 in the merge
    selection order (count desc, left asc, right asc)."""
    from aces_spark.datapipe.bpe import _pair_counts, word_freq_table

    docs = _read_table(spark, sf_dir, "documents").select("text")
    return (
        _pair_counts(word_freq_table(docs))
        .orderBy(
            F.col("pair_count").desc(), F.col("left").asc(), F.col("right").asc()
        )
        .limit(20)
    )


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer induction (datapipe.bpe.bpe_train): 3 merge rules
    learned from documents — iterative by nature (each merge reshapes the
    pair statistics), oracled by unrolling the 3 fixed iterations as CTE
    rounds (the pagerank/LPA technique): each round is a pair-count
    aggregate + (count desc, left, right) argmax + a greedy left-to-right
    merge rewrite via replace() over a {sym}{sym} wrapped-symbol string
    (wrap markers make cross-symbol-boundary matches impossible; replace's
    non-overlapping left-to-right scan IS the greedy fold). Also pinned by
    the pure-Python-reference differential in tests/test_bpe.py. The
    corpus is read once; iterations run on the cached Zipf-small vocab
    table."""
    from aces_spark.datapipe.bpe import bpe_train

    docs = _read_table(spark, sf_dir, "documents").select("text")
    merges = bpe_train(docs, n_merges=3)
    lefts = [m[0] for m in merges]
    rights = [m[1] for m in merges]
    counts = [int(m[2]) for m in merges]
    # literal explode, not createDataFrame (see save_ivfpq_index): the
    # result is driver-known; this keeps the query JVM-side
    return (
        spark.range(1)
        .select(
            F.posexplode(
                F.arrays_zip(
                    F.lit(lefts).alias("left"),
                    F.lit(rights).alias("right"),
                    F.lit(counts).alias("pair_count"),
                )
            ).alias("rank", "m")
        )
        .select(
            F.col("rank").cast("int").alias("rank"),
            F.col("m.left").alias("left"),
            F.col("m.right").alias("right"),
            F.col("m.pair_count").cast("long").alias("pair_count"),
        )
    )


def q_bpe_encode_tokens(spark, sf_dir):
    """BPE tokenizer INFERENCE (datapipe.bpe.bpe_encode): train 3 merges
    on the full corpus, encode docs with doc_id < 20 — tokens as a
    space-joined scalar string (order-preserving reassembly by word
    position) plus the count. Oracled with the same wrapped-symbol
    replace() technique as bpe_merges: the 3 unrolled training rounds
    feed 3 nested replaces per word (rule order = fold chain order)."""
    from aces_spark.datapipe.bpe import bpe_encode, bpe_train

    docs_all = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_train(docs_all.select("text"), n_merges=3)
    sub = docs_all.filter(F.col("doc_id") < 20)
    enc = bpe_encode(sub, merges)
    return enc.select(
        "doc_id",
        F.array_join("tokens", " ").alias("tokens_str"),
        F.col("n_tokens"),
    )


def q_hll_registers(spark, sf_dir):
    """Mergeable HLL register table (datapipe.sketches.hll_registers,
    p=9) over events.user_id — the incremental-pipeline form: keep the
    2^p-row table per corpus drop, merge by max, estimate without
    rescanning history (merge ≡ union pinned by test)."""
    from aces_spark.datapipe.sketches import hll_registers

    return hll_registers(_read_events(spark, sf_dir), "user_id", p=9)


def q_token_budget_fill(spark, sf_dir):
    """Training-mixture manifest (datapipe.selection.token_budget_fill):
    temperature-scaled per-domain token quotas (α=0.5, IEEE-exact sqrt
    weights) filled by a deterministic hash-ordered greedy walk — the
    step that turns a mixture policy into the actual doc list. 100k
    token budget over documents by source; stable fill prefix means a
    bigger budget only appends."""
    from aces_spark.datapipe.selection import token_budget_fill

    return token_budget_fill(
        _read_table(spark, sf_dir, "documents"), token_budget=100_000
    )


def q_sq8_codes(spark, sf_dir):
    """Scalar int8 quantization codes (datapipe.sq.sq8_encode — the
    FAISS ScalarQuantizer layout, the PQ family's lighter sibling):
    per-dim min/max bounds from ONE order-free aggregate, baked back
    as literal arrays so encoding is MAP-ONLY zero-shuffle; codes are
    bit-deterministic (exact inputs, identical IEEE expression tree).
    Long-format (vec_id, dim, code) output for canonicalization."""
    from aces_spark.datapipe.sq import collect_sq8_bounds, sq8_bounds, sq8_encode

    emb = _read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lo, hi = collect_sq8_bounds(sq8_bounds(emb))
    return sq8_encode(emb, lo, hi).select(
        "vec_id", F.posexplode("codes").alias("dim", "code")
    ).select("vec_id", F.col("dim").cast("long").alias("dim"), "code")


def q_sq8_topk(spark, sf_dir):
    """Asymmetric-distance top-k over the SQ8-compressed corpus
    (datapipe.sq.sq8_topk): queries full-precision, corpus dequantized
    on the fly (≡ what a stored-codes index returns); broadcast queries
    × map-only dequantized corpus → the shared rank_topk epilogue."""
    from aces_spark.datapipe.sq import sq8_topk

    emb = _read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return sq8_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


def q_corpus_diversity(spark, sf_dir):
    """Mean pairwise cosine of the whole embedding corpus WITHOUT
    forming pairs (datapipe.similarity.corpus_diversity): the identity
    Σ_{i≠j}<u_i,u_j> = |Σu|² − Σ|u|² collapses the O(n²) question to
    one posexplode + a dim-keyed aggregate — O(n·d), one exchange,
    zero joins; micro-unit snapping + DECIMAL squares keep it
    engine-exact."""
    from aces_spark.datapipe.similarity import corpus_diversity

    return corpus_diversity(_read_table(spark, sf_dir, "embeddings"))


def q_embedding_outliers(spark, sf_dir):
    """Norm z-score embedding QA report (datapipe.similarity
    .embedding_norm_outliers): micro-unit norms, EXACT integer
    mean/variance (Σu long, Σu² DECIMAL), one map-only pass + a 1-row
    broadcast join — catches truncated/blown-up vectors before they
    poison an index."""
    from aces_spark.datapipe.similarity import embedding_norm_outliers

    return embedding_norm_outliers(_read_table(spark, sf_dir, "embeddings"))


def q_hist_by_group(spark, sf_dir):
    """Per-source document-length quantiles off the GROUPED histogram
    sketch (datapipe.sketches.hist_registers_by/hist_quantiles_by) —
    the scalable GROUP BY + percentile replacement: one hash aggregate
    bounded at |sources|·400 rows however big the corpus, then
    sketch-sized window + probe work only."""
    from aces_spark.datapipe.sketches import hist_quantiles_by, hist_registers_by

    docs = _read_table(spark, sf_dir, "documents").select("source", "n_chars")
    regs = hist_registers_by(docs, "source", "n_chars", lo=0.0, hi=4000.0, buckets=400)
    return hist_quantiles_by(
        regs, "source", [0.5, 0.9, 0.99], lo=0.0, hi=4000.0, buckets=400
    )


def q_sentence_stats(spark, sf_dir):
    """Flesch-family readability signals (datapipe.text.sentence_stats):
    sentence segmentation on [.!?] runs, whitespace words, vowel-group
    syllable proxy, reading ease from the 4 dp-rounded ratios — all
    row-local Column expressions, map-only, zero shuffle."""
    from aces_spark.datapipe.text import sentence_stats

    return sentence_stats(_read_table(spark, sf_dir, "documents").select("doc_id", "text"))


def q_leakage_safe_split(spark, sf_dir):
    """Cluster-aware train/val/test split (datapipe.packing
    .leakage_safe_splits): the chain-graph near-dup clusters are
    assigned to splits as UNITS by the md5 bucket of the cluster
    representative — no near-duplicate can straddle train and test.
    Oracle: the dedup_clusters recursive closure + the assign_splits
    bucket rule on cluster_id."""
    from aces_spark.datapipe.packing import leakage_safe_splits

    docs = _read_table(spark, sf_dir, "documents").select("doc_id")
    return leakage_safe_splits(docs, _chain_pairs(docs))


def q_mmr_select(spark, sf_dir):
    """Maximal-marginal-relevance diversified top-3 re-rank
    (datapipe.selection.mmr_select, λ=0.7 as the rational 7/10):
    integer-exact greedy over a 10-candidate relevance pool — each round
    compares pure integers (7·rel_u − 3·maxsim_u, micro-unit snapped)
    with the id tie-break; candidate relation lineage-truncated once,
    selected relation per round. Oracle: the same rounds unrolled."""
    from aces_spark.datapipe.selection import mmr_select

    emb = _read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return mmr_select(emb, emb.filter(F.col("vec_id") < 3), k=3, pool=10)


def q_ngram_novelty(spark, sf_dir):
    """Per-doc n-gram novelty over the near-dup-augmented corpus
    (datapipe.dedup.ngram_novelty, 5-grams): fraction of each doc's
    distinct shingles FIRST introduced by that doc (owner = min doc_id)
    — truncated copies own none of their shingles and score 0. Plan:
    min-over-shingle window + doc aggregate, two exchanges, NO join."""
    from aces_spark.datapipe.dedup import ngram_novelty

    return ngram_novelty(_docs_with_near_dups(spark, sf_dir), n=5)


def q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (datapipe.text
    .tokenizer_fertility): BPE-ish tokens per whitespace word + chars
    per token from exact integer sums — the multilingual
    tokenizer-efficiency diagnostic; one group aggregate."""
    from aces_spark.datapipe.text import tokenizer_fertility

    return tokenizer_fertility(
        _read_table(spark, sf_dir, "documents"), group_col="lang"
    )


def q_contamination_fraction(spark, sf_dir):
    """Per-document contamination report (datapipe.decontam
    .contamination_fraction): fraction of each corpus doc's distinct
    word 8-grams present in the benchmark split — the published
    reporting form of decontamination (a distribution, not a flag).
    One pass over the corpus shingles: broadcast LEFT join marks hits,
    a single per-doc aggregate counts total + matched together."""
    from aces_spark.datapipe.decontam import contamination_fraction

    aug = _docs_with_near_dups(spark, sf_dir)
    bench = aug.filter((F.col("doc_id") % 20 == 0) & (F.col("doc_id") < 1_000_000))
    corpus = aug.filter((F.col("doc_id") % 20 != 0) | (F.col("doc_id") >= 1_000_000))
    return contamination_fraction(corpus, bench, n=8)


def q_decayed_engagement(spark, sf_dir):
    """Exponential-decay engagement score per event type (operators
    .timeseries.decayed_sum, half-life 7 days, ref = corpus max ts —
    deterministic, never wall-clock): the trending / recency-weighted
    popularity primitive. Pure per-row weights — no ordering, no
    windows, map + one aggregate — so it re-aggregates incrementally at
    any scale."""
    from datetime import timedelta

    from aces_spark.operators.timeseries import decayed_sum

    return decayed_sum(
        _read_events(spark, sf_dir),
        "event_type",
        half_life=timedelta(days=7),
    )


def q_hybrid_rrf_search(spark, sf_dir):
    """Hybrid retrieval (datapipe.retrieval.rrf_fuse): reciprocal-rank
    fusion (k=60) of a BM25 top-100 lexical list over documents and a
    brute-cosine top-100 semantic list against vec_id 0's embedding —
    the calibration-free combiner behind every hybrid search stack.
    Integer micro-unit rank contributions; top 50 fused."""
    from aces_spark.datapipe.retrieval import bm25_scores, rrf_fuse

    lex = bm25_scores(
        _read_table(spark, sf_dir, "documents"),
        ["join", "hash", "vector"],
        top_k=100,
    ).select("doc_id", "score")
    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    sem = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=100).select(
        F.col("neighbor_id").alias("doc_id"), F.col("cosine_sim").alias("score")
    )
    fused = rrf_fuse([lex, sem], k=60)
    return fused.orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    ).limit(50)


def q_feature_hashing(spark, sf_dir):
    """Signed hashing-trick features (functions.features.feature_hashing,
    1024 buckets) over documents — fit-free, vocabulary-free sparse
    featurization with the repo's portable md5 hash, so the exact
    feature matrix any downstream trainer sees is engine-verifiable
    (HashingTF's murmur3 is JVM-only). Map-only + one aggregate."""
    from aces_spark.functions.features import feature_hashing

    return feature_hashing(
        _read_table(spark, sf_dir, "documents"), n_buckets=1 << 10
    )


def q_user_active_coverage(spark, sf_dir):
    """Merged-interval coverage (operators.timeseries.interval_coverage):
    each event opens a 30-minute half-open activity span; overlapping or
    touching spans merge into islands, then a per-user rollup of island
    count and exact covered microseconds — the total-active-time /
    uptime primitive. One key exchange shared by both windows and the
    aggregates."""
    from aces_spark.operators.timeseries import interval_coverage

    ev = _read_events(spark, sf_dir).select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 30 minutes")).alias("end_ts"),
    )
    isl = interval_coverage(ev, "user_id")
    span = F.unix_micros("island_end") - F.unix_micros("island_start")
    return isl.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("n_intervals").cast("long").alias("n_intervals"),
        F.sum(span).cast("long").alias("covered_us"),
        F.max(span).cast("long").alias("max_island_us"),
    )


def q_tfidf_cosine(spark, sf_dir):
    """TF-IDF-weighted cosine near-dup pairs (datapipe.dedup
    .tfidf_cosine_pairs) over the near-dup-augmented corpus: the
    distribution-level similarity miner — a shuffled or lightly
    paraphrased copy keeps its tf-idf direction where shingle Jaccard
    dilutes. df-pruned inverted index (same boilerplate discipline as
    ngram_jaccard_pairs); integer micro-unit dots/norms so the cosine
    is addition-order-free."""
    from aces_spark.datapipe.dedup import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        _docs_with_near_dups(spark, sf_dir), threshold=0.8, max_doc_freq=1000
    )


def q_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (operators.graph.adamic_adar) over
    the item covisitation graph: two items score high when the items
    co-visited with BOTH of them are rare (1/ln(deg) weights) — the
    related-items candidate-expansion signal one hop beyond direct
    covisitation. Per-neighbor weights snap to integer micro-units
    before the SUM so the score is addition-order-free; top 50 by
    (score desc, pair asc)."""
    from aces_spark.datapipe.analytics import covisitation
    from aces_spark.functions.semistructured import extract_json_fields
    from aces_spark.operators.graph import adamic_adar

    ev = _read_events(spark, sf_dir)
    items = extract_json_fields(ev, "props", "k BIGINT").select(
        "user_id", F.col("k").alias("item")
    ).filter(F.col("item").isNotNull())
    edges = covisitation(items, "user_id", "item", max_items_per_key=20, min_pairs=2)
    return (
        adamic_adar(edges, "item_a", "item_b", max_degree=500, min_common=2)
        .orderBy(F.col("score").desc(), F.col("u").asc(), F.col("v").asc())
        .limit(50)
    )


# Rotation policy (see ARCHITECTURE.md "Query rotation policy"): the
# driver's correctness harness records only the FIRST 50 dict entries per
# round, so ordering is a verification schedule, not cosmetics.
#   Tier 1 — never-green/new queries lead (they must debut with a row).
#   Tier 2 — stalest-green next: queries whose last green row is oldest
#            (round-robin; after this round the current tail rotates up).
#   Tier 3 — pinned core: cohort_flagship + the 6 kernel queries are
#            always inside the top 50 (they guard the §2 heart).
#   Tier 4 — remaining green queries, freshest-green LAST (the tail past
#            position 50 is always the most recently re-verified set).
def q_pii_density_filter(spark, sf_dir):
    """PII density gate (datapipe.pii.pii_density_filter, r8): keep docs
    at ≤ 5 matches per kchar (integer tenths, exact truncating div) with
    their redacted text — the drop-the-address-book ACTION half of the
    scrub whose report half is ``pii_scrub``. Same planted corpus and
    Java∩RE2 patterns; map-only, zero exchanges."""
    from aces_spark.datapipe.pii import pii_density_filter

    return pii_density_filter(_docs_with_pii(spark, sf_dir), max_per_kchar=5.0)


def q_bradley_terry(spark, sf_dir):
    """Bradley-Terry preference fitting (datapipe.preference
    .bradley_terry_scores, r8): pairwise judgments derived from adjacent
    doc pairs (winner = longer text, players = sources), 3 MM iterations
    in integer micro-units — the RLHF reward-data aggregation op; the
    oracle unrolls all three iterations as CTEs."""
    from aces_spark.datapipe.preference import bradley_terry_scores

    docs = _read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    a, b = docs.alias("a"), docs.alias("b")
    comp = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(
            (F.col("a.n_chars") != F.col("b.n_chars"))
            & (F.col("a.source") != F.col("b.source"))
        )
        .select(
            F.when(
                F.col("a.n_chars") > F.col("b.n_chars"), F.col("a.source")
            )
            .otherwise(F.col("b.source"))
            .alias("winner"),
            F.when(
                F.col("a.n_chars") > F.col("b.n_chars"), F.col("b.source")
            )
            .otherwise(F.col("a.source"))
            .alias("loser"),
        )
    )
    return bradley_terry_scores(comp, n_iters=3)


def q_embedding_covariance(spark, sf_dir):
    """Exact integer covariance moments of the embedding matrix
    (datapipe.pca.embedding_covariance, r8): micro-unit fixed point,
    int64 partial Gram blocks per Arrow batch, DECIMAL-exact combine —
    the PCA/whitening front half whose float eigen half is pytest-pinned
    (``pca_whiten``). One (i, j)-keyed exchange of batches × d²/2 tiny
    partial rows at any corpus size."""
    from aces_spark.datapipe.pca import embedding_covariance

    emb = _read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return embedding_covariance(emb)


def q_oov_rate(spark, sf_dir):
    """Vocabulary-coverage check (datapipe.text.oov_rate, r8): OOV
    basis-point rate of odd docs against the even docs' vocabulary —
    the commit-to-a-tokenizer coverage measurement; broadcast vocab,
    one uniform doc-keyed exchange."""
    from aces_spark.datapipe.text import oov_rate

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(norm_tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    return oov_rate(docs.filter(F.col("doc_id") % 2 == 1), vocab)


def q_ab_welch(spark, sf_dir):
    """Welch's unequal-variance t-test (datapipe.analytics
    .ab_welch_ttest, r8): purchase values split by the user-id parity
    experiment assignment — exact DECIMAL moments, closed-form t/ν in
    single IEEE ops both engines round identically."""
    from aces_spark.datapipe.analytics import ab_welch_ttest

    ev = _read_events(spark, sf_dir)
    assigned = ev.filter(
        F.expr("array_contains(split(event_type, '&'), 'purchase')")
        & F.col("value").isNotNull()
    ).select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("variant"),
        "value",
    )
    return ab_welch_ttest(assigned)


def q_dim_ablation_recall(spark, sf_dir):
    """Matryoshka dimension-ablation evaluation (datapipe.similarity
    .dim_ablation_recall, r8): exact cosine top-10 over 8/16/32-dim
    prefixes, recall vs the full-dim ground truth in integer basis
    points — the store-fewer-dims decision measurement."""
    from aces_spark.datapipe.similarity import dim_ablation_recall

    emb = _read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return dim_ablation_recall(
        emb, emb.filter(F.col("vec_id") < 8), dims=[8, 16, 32], k=10
    )


def q_fuzzy_decontamination(spark, sf_dir):
    """Fuzzy (MinHash-LSH) benchmark decontamination (datapipe.decontam
    .fuzzy_decontaminate, r8): corpus docs whose signature shares a band
    bucket with a benchmark doc — the paraphrase-leak sibling of the
    exact n-gram rule. Benchmark = 90%-prefix copies of every 23rd doc
    (a paraphrase-ish leak with high-but-not-1.0 Jaccard); broadcast
    benchmark bands, zero corpus self-join."""
    from aces_spark.datapipe.decontam import fuzzy_decontaminate

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 23 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.expr(
            "substring(text, 1, cast(floor(length(text) * 0.9) as int))"
        ).alias("text"),
    )
    return fuzzy_decontaminate(docs, bench, n=3, num_hashes=8, bands=4)


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit (datapipe.pii.k_anonymity_report, r10): customer
    quasi-identifiers (nation, market segment, coarse account-balance
    bucket) → per-equivalence-class size + at-risk flag at k=5. One hash
    aggregate; the release-safety screen for user-derived tables."""
    from aces_spark.datapipe.pii import k_anonymity_report

    cust = _read_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    )
    return k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment", "bal_bucket"], k=5
    )


def q_vocab_richness(spark, sf_dir):
    """Vocabulary-richness estimators (datapipe.text.vocab_richness,
    r10): hapax/dis-legomena profile, bias-corrected Chao1 richness
    floor, Good-Turing missing mass — the corpus-coverage dashboard for
    tokenizer and data-mix decisions. Linear, two exchanges."""
    from aces_spark.datapipe.text import vocab_richness

    docs = _read_table(spark, sf_dir, "documents").select("text")
    return vocab_richness(docs)


def q_excess_loss_select(spark, sf_dir):
    """Reference-model excess-loss selection (datapipe.lm
    .excess_loss_scores, r10): in-domain bigram LM (doc_id % 4 == 0
    slice) vs general LM (% 4 == 2 slice), scoring the odd half;
    excess = nll_gen - nll_ref in exact micro-units — the
    RHO-loss/DoReMi-family 'learnable and worth learning' signal."""
    from aces_spark.datapipe.lm import excess_loss_scores, train_bigram_lm

    docs = _read_table(spark, sf_dir, "documents").select("doc_id", "text")
    ref = train_bigram_lm(docs.filter(F.col("doc_id") % 4 == 0))
    gen = train_bigram_lm(docs.filter(F.col("doc_id") % 4 == 2))
    return excess_loss_scores(docs.filter(F.col("doc_id") % 2 == 1), ref, gen)


def q_seasonality_profile(spark, sf_dir):
    """Hour-of-day seasonal profile (operators.timeseries
    .seasonality_profile, r10): per-bucket event-value means and
    ratio-to-global seasonal indices, DECIMAL(18,6)-exact sums, one
    24-key hash aggregate + a broadcast 1-row global."""
    from aces_spark.operators.timeseries import seasonality_profile

    ev = _read_events(spark, sf_dir).select("ts", "value")
    return seasonality_profile(ev, "ts", "value", period="hour_of_day")


def q_mutual_knn_pairs(spark, sf_dir):
    """Reciprocal-kNN near-dup pairs (datapipe.similarity
    .mutual_pairs_from_topk, r10): exact cosine top-5 over the vec_id%20
    slice, kept only when BOTH directions agree — the hub-noise
    precision filter for embedding dedup candidate pools. The mutuality
    join is linear in the top-k relation; at scale it composes over the
    IVF/PQ top-k instead of brute force."""
    from aces_spark.datapipe.similarity import mutual_topk_pairs

    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    ).filter(F.col("vec_id") % 20 == 0)
    return mutual_topk_pairs(emb, k=5)


def q_group_auc(spark, sf_dir):
    """Exact per-group ROC-AUC via the Mann-Whitney rank statistic
    (datapipe.evalmetrics.group_auc, r10): event values rounded to 1 dp
    (tie-heavy on purpose), label = event_id % 3 == 0, grouped by event
    type — integer rank sums until one final rounded division."""
    from aces_spark.datapipe.evalmetrics import group_auc

    ev = _read_events(spark, sf_dir).select(
        "event_type",
        F.round(F.col("value"), 1).alias("score"),
        (F.col("event_id") % 3 == 0).cast("int").alias("label"),
    )
    return group_auc(ev, "score", "label", "event_type")


def q_calibration_bins(spark, sf_dir):
    """Reliability-diagram bins (datapipe.evalmetrics.calibration_bins,
    r10): the portable md5-bucket of doc_id as a uniform [0,1) score,
    label = n_chars > 300, 10 bins per language — micro-unit-exact mean
    confidence vs observed rate plus the per-bin ECE term."""
    from aces_spark.datapipe.evalmetrics import calibration_bins
    from aces_spark.datapipe.sampling import sample_bucket_expr

    docs = _read_table(spark, sf_dir, "documents").select(
        "lang",
        (sample_bucket_expr(F.col("doc_id")) / 10000.0).alias("score"),
        (F.col("n_chars") > 300).cast("int").alias("label"),
    )
    return calibration_bins(docs, "score", "label", n_bins=10, group_col="lang")


def q_target_encode_oof(spark, sf_dir):
    """Out-of-fold mean target encoding
    (datapipe.evalmetrics.target_encode_oof, r10): event value encoded
    per event type with the row's own md5-bucket fold excluded and a
    weight-10 global-mean prior — the leakage-safe categorical
    feature."""
    from aces_spark.datapipe.evalmetrics import target_encode_oof

    ev = _read_events(spark, sf_dir).select("event_id", "event_type", "value")
    return target_encode_oof(
        ev, "event_type", "value", "event_id", n_folds=5, prior_weight=10
    )


def q_km_survival(spark, sf_dir):
    """Kaplan-Meier survival table (datapipe.evalmetrics.km_survival,
    r10): synthetic durations event_id % 60 with right-censoring at
    event_id % 7 == 0, grouped by event type — exact integer
    at-risk/event/censor counts per step time."""
    from aces_spark.datapipe.evalmetrics import km_survival

    ev = _read_events(spark, sf_dir).select(
        "event_type",
        (F.col("event_id") % 60).alias("dur"),
        (F.col("event_id") % 7 != 0).cast("int").alias("ev"),
    )
    return km_survival(ev, "dur", "ev", "event_type")


def q_isotonic_calibration(spark, sf_dir):
    """Isotonic (PAV) calibration over reliability bins
    (datapipe.evalmetrics.isotonic_fit, r10): the calibration_bins
    fixture at 20 bins per language, fitted monotone via the exact
    minimax identity — set-based PAV, B² interval rows per group."""
    from aces_spark.datapipe.evalmetrics import calibration_bins, isotonic_fit
    from aces_spark.datapipe.sampling import sample_bucket_expr

    docs = _read_table(spark, sf_dir, "documents").select(
        "lang",
        (sample_bucket_expr(F.col("doc_id")) / 10000.0).alias("score"),
        (F.col("n_chars") > 300).cast("int").alias("label"),
    )
    bins = calibration_bins(docs, "score", "label", n_bins=20, group_col="lang").select(
        "lang", "bin", "n", "n_pos"
    )
    return isotonic_fit(bins, group_col="lang")


def q_score_rank_corr(spark, sf_dir):
    """Spearman rank correlation (datapipe.evalmetrics
    .rank_correlation, r10): monotone agreement between the event value
    and a deterministic pseudo-scorer (event_id % 97) per event type —
    integer 2·avg-rank sums, DECIMAL(38,0) squared products."""
    from aces_spark.datapipe.evalmetrics import rank_correlation

    ev = _read_events(spark, sf_dir).select(
        "event_type",
        F.col("value").alias("x"),
        (F.col("event_id") % 97).cast("double").alias("y"),
    )
    return rank_correlation(ev, "x", "y", "event_type")


def q_gini_concentration(spark, sf_dir):
    """Exact Gini concentration (datapipe.evalmetrics
    .gini_coefficient, r10): event-value mass inequality per event type
    — 6-dp micro-unit values, rank-weighted DECIMAL sum, one final
    division."""
    from aces_spark.datapipe.evalmetrics import gini_coefficient

    ev = _read_events(spark, sf_dir).select("event_type", "value")
    return gini_coefficient(ev, "value", "event_type")


def q_ndcg_eval(spark, sf_dir):
    """NDCG@10 ranking eval (datapipe.evalmetrics.ndcg_at_k, r10):
    user_id%1000 as query buckets, value as the retrieved score,
    event_id%4 as graded relevance — precomputed integer discount
    literals so DCG/IDCG are exact BIGINT dot products."""
    from aces_spark.datapipe.evalmetrics import ndcg_at_k

    ev = _read_events(spark, sf_dir).select(
        (F.col("user_id") % 1000).alias("q"),
        F.col("value").alias("score"),
        (F.col("event_id") % 4).cast("int").alias("rel"),
        "event_id",
    )
    return ndcg_at_k(ev, "q", "score", "rel", "event_id", k=10)


def q_poisson_bootstrap(spark, sf_dir):
    """Poisson bootstrap of per-type mean event value
    (datapipe.evalmetrics.poisson_bootstrap_means, r10): 20 hash-seeded
    resample reps over the event_id%10 slice — the distributed-canonical
    bootstrap (per-row Poisson(1) weights, no global coordination),
    emitting the exact bootstrap-distribution table."""
    from aces_spark.datapipe.evalmetrics import poisson_bootstrap_means

    ev = (
        _read_events(spark, sf_dir)
        .filter(F.col("event_id") % 10 == 0)
        .select("event_type", "value", "event_id")
    )
    return poisson_bootstrap_means(
        ev, "value", "event_id", n_reps=20, group_col="event_type"
    )


def q_tail_index(spark, sf_dir):
    """Hill power-law tail index (datapipe.analytics.hill_tail_index,
    r10): per-event-type tail heaviness over the top-101 values,
    micro-nat-snapped log ratios — the infinite-variance early-warning
    for skew-aware capacity planning."""
    from aces_spark.datapipe.analytics import hill_tail_index

    ev = _read_events(spark, sf_dir).select("event_type", "value")
    return hill_tail_index(ev, "value", "event_type", k=100)


def q_cusum_drift(spark, sf_dir):
    """CUSUM drift report (datapipe.analytics.cusum_drift_report, r10):
    one-sided Page CUSUM of event values vs target 50 per event type
    over the deterministic (ts, event_id) order — the sequential
    recurrence evaluated via the exact relational drawdown identity;
    alarms where the statistic exceeds 2000 (scale-graded: none at
    sf0.001, hundreds at sf0.01+)."""
    from aces_spark.datapipe.analytics import cusum_drift_report

    ev = _read_events(spark, sf_dir).select("event_type", "ts", "event_id", "value")
    return cusum_drift_report(
        ev, "value", ["ts", "event_id"], target=50.0, threshold=2000.0,
        group_col="event_type",
    )


def q_robust_outliers(spark, sf_dir):
    """Median/MAD robust outliers (datapipe.analytics.robust_outliers,
    r10): event values per event type, |x-med| > 3*MAD with exact
    lower-median selection (rank position, no interpolation) — the
    50%-breakdown screen a mean/stddev z-score can't provide under
    contaminated tails. The events value column has the heavy tail
    (1154 flagged rows at sf0.01; lineitem prices are bounded-uniform
    and never exceed 3 MAD — a vacuous fixture, measured and avoided)."""
    from aces_spark.datapipe.analytics import robust_outliers

    ev = _read_events(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        "event_type", "value", "event_id"
    )
    return robust_outliers(
        ev, "value", "event_id", group_col="event_type", n_mads=3
    )


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- r10 debuts ---
    "k_anonymity": q_k_anonymity,
    "vocab_richness": q_vocab_richness,
    "excess_loss_select": q_excess_loss_select,
    "robust_outliers": q_robust_outliers,
    "seasonality_profile": q_seasonality_profile,
    "mutual_knn_pairs": q_mutual_knn_pairs,
    "group_auc": q_group_auc,
    "calibration_bins": q_calibration_bins,
    "target_encode_oof": q_target_encode_oof,
    "km_survival": q_km_survival,
    "isotonic_calibration": q_isotonic_calibration,
    "score_rank_corr": q_score_rank_corr,
    "gini_concentration": q_gini_concentration,
    "ndcg_eval": q_ndcg_eval,
    "poisson_bootstrap": q_poisson_bootstrap,
    "tail_index": q_tail_index,
    "cusum_drift": q_cusum_drift,
    # --- tier 1 (r8 debuts): first driver-green rows ---
    "pii_density_filter": q_pii_density_filter,
    "bradley_terry": q_bradley_terry,
    "fuzzy_decontamination": q_fuzzy_decontamination,
    "embedding_covariance": q_embedding_covariance,
    "dim_ablation_recall": q_dim_ablation_recall,
    "ab_welch_ttest": q_ab_welch,
    "oov_rate": q_oov_rate,
    "classifier_train_score": q_classifier_train_score,
    "substring_strip": q_substring_strip,
    "substring_strip_exact": q_substring_strip_exact,
    "blocklist_hits": q_blocklist_hits,
    "hits_items": q_hits_items,
    "dirichlet_ql": q_dirichlet_ql,
    "negative_samples": q_negative_samples,
    "lm_score_kn3": q_lm_score_kn3,
    "hamming_near_pairs": q_hamming_near_pairs,
    # --- tier 2 (stalest-green: last row r04) — the 22 r7-displaced + the r4 remainder head ---
    "doc_outlier_filter": q_doc_outlier_filter,
    "corpus_mix_sample": q_corpus_mix_sample,
    "key_skew_report": q_key_skew_report,
    "heavy_keys": q_heavy_keys,
    "pq_codes": q_pq_codes,
    "pq_topk": q_pq_topk,
    "doc_chunking": q_doc_chunking,
    "rare_token_score": q_rare_token_score,
    "asof_join_views": q_asof_join_views,
    "range_join_attrib": q_range_join_attrib,
    "time_rollup": q_time_rollup,
    "gapfill_locf": q_gapfill_locf,
    "ann_ivf_indexed": q_ann_ivf_indexed,
    "ann_ivf_recall": q_ann_ivf_recall,
    "ivf_cell_stats": q_ivf_cell_stats,
    "substring_dedup": q_substring_dedup,
    "minhash_jaccard": q_minhash_jaccard,
    "url_normalize": q_url_normalize,
    "domain_stats": q_domain_stats,
    "group_vocab_topk": q_group_vocab_topk,
    "token_histogram": q_token_histogram,
    "corpus_mix": q_corpus_mix,
    "embedding_dim_stats": q_embedding_dim_stats,
    "repetition_stats": q_repetition_stats,
    "winnowing_fingerprints": q_winnowing_fingerprints,
    "embedding_dup_pairs": q_embedding_dup_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash_groups": q_simhash_groups,
    # --- tier 3 (pinned core): flagship + 6 kernels, always in the top 50 ---
    "cohort_flagship": q_cohort_flagship,
    "temporal_window_fwd": q_temporal_window_fwd,
    "temporal_window_bwd": q_temporal_window_bwd,
    "temporal_window_offset": q_temporal_window_offset,
    "event_bound_fwd": q_event_bound_fwd,
    "event_bound_bwd": q_event_bound_bwd,
    "event_bound_record_end": q_event_bound_record_end,
    # --- r4 overflow (displaced by the 7 late-r8 debuts): lead tier 2 in r9 ---
    "simhash_near_pairs": q_simhash_near_pairs,
    "ann_cosine_topk": q_ann_cosine_topk,
    "knn_classify": q_knn_classify,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embedding_label_stats": q_embedding_label_stats,
    "multimodal_frame_plan": q_multimodal_frame_plan,
    "multimodal_payload_stats": q_multimodal_payload_stats,
    "multimodal_features": q_multimodal_features,
    # --- r4 overflow: lead tier 2 in r9 ---
    "cohort_feature_vectors": q_cohort_feature_vectors,
    "predicates_meds_scan": q_predicates_meds_scan,
    "dedup_exact": q_dedup_exact,
    "dedup_exact_groups": q_dedup_exact_groups,
    # --- r5-greens ---
    "pagerank_items": q_pagerank_items,
    "ppr_items": q_ppr_items,
    "fuzzy_vocab_pairs": q_fuzzy_vocab_pairs,
    "value_trend": q_value_trend,
    "item_association": q_item_association,
    "item_communities": q_item_communities,
    "bloom_join_supplier": q_bloom_join_supplier,
    "incr_agg_merge": q_incr_agg_merge,
    "zorder_stats": q_zorder_stats,
    "cms_user_counts": q_cms_user_counts,
    "hist_quantiles": q_hist_quantiles,
    "triangle_count": q_triangle_count,
    "hll_by_type": q_hll_by_type,
    "kcore_items": q_kcore_items,
    "doc_entropy": q_doc_entropy,
    "interval_overlap_join": q_interval_overlap,
    "ivfpq_topk_indexed": q_ivfpq_topk_indexed,
    "lsh_cosine_topk": q_lsh_cosine_topk,
    "snapshot_diff": q_snapshot_diff,
    "check_rules": q_check_rules,
    "bm25_search": q_bm25_search,
    "kmv_distinct": q_kmv_distinct,
    "hll_distinct": q_hll_distinct,
    "event_transitions": q_event_transitions,
    "lang_drift": q_lang_drift,
    "rolling_stats": q_rolling_stats,
    "lm_score": q_lm_score,
    "scd2_merge": q_scd2_merge,
    "weighted_sample": q_weighted_sample,
    "rolling_time": q_rolling_time,
    "value_anomalies": q_value_anomalies,
    "collocations": q_collocations,
    "item_covisitation": q_item_covisitation,
    "bpe_pair_counts": q_bpe_pair_counts,
    "hll_registers": q_hll_registers,
    "label_centroids": q_label_centroids,
    "predicate_value_range": q_predicate_value_range,
    "derived_and_or": q_derived_and_or,
    "text_quality": q_text_quality,
    "stratified_sample": q_stratified_sample,
    # --- r6-greens ---
    "dsir_selection": q_dsir_selection,
    "kmeans_clusters": q_kmeans_clusters,
    "entity_resolution": q_entity_resolution,
    "semantic_dedup": q_semantic_dedup,
    "phrase_search": q_phrase_search,
    "distinctive_terms": q_distinctive_terms,
    "ivf_append_topk": q_ivf_append_topk,
    "rank_normalize": q_rank_normalize,
    "sorted_neighborhood": q_sorted_neighborhood,
    "time_weighted_avg": q_time_weighted_avg,
    "coverage_select": q_coverage_select,
    "domain_temperature_mix": q_domain_temperature_mix,
    "containment_pairs": q_containment_pairs,
    "hard_negatives": q_hard_negatives,
    "winsorized_values": q_winsorized_values,
    "random_projection": q_random_projection,
    "bpe_merges": q_bpe_merges,
    "bpe_encode_tokens": q_bpe_encode_tokens,
    "tfidf_features": q_tfidf_features,
    "sessionization": q_sessionization,
    "decontamination": q_decontamination,
    "sequence_packing": q_sequence_packing,
    "split_assignment": q_split_assignment,
    "vocab_topk": q_vocab_topk,
    "paragraph_dedup": q_paragraph_dedup,
    "dedup_incremental": q_dedup_incremental,
    "corpus_pipeline": q_corpus_pipeline,
    "event_funnel": q_event_funnel,
    "cohort_retention": q_cohort_retention,
    "text_char_stats": q_text_char_stats,
    "lang_id": q_lang_id,
    "predicate_regex_anyof": q_predicate_regex_anyof,
    "special_predicates": q_special_predicates,
    "static_filter": q_static_filter,
    "trigger_anchors": q_trigger_anchors,
    "esgpt_predicates": q_esgpt_predicates,
    "stratified_take": q_stratified_take,
    "corpus_clean": q_corpus_clean,
    "dedup_keep_best": q_dedup_keep_best,
    "dedup_clusters": q_dedup_clusters,
    "pii_scrub": q_pii_scrub,
    # --- r7-refreshed classics + r4 head ---
    "lineitem_pricing_summary": q_lineitem_pricing_summary,
    "revenue_join": q_revenue_join,
    "region_rollup": q_region_rollup,
    "brand_revenue": q_brand_revenue,
    "local_supplier_volume": q_local_supplier_volume,
    "doc_length_quantiles": q_doc_length_quantiles,
    "html_extract": q_html_extract,
    "token_counts": q_token_counts,
    "doc_fingerprint": q_doc_fingerprint,
    "props_field_stats": q_props_field_stats,
    "event_type_pivot": q_event_type_pivot,
    # --- r7 debuts (freshest last) ---
    "sq8_codes": q_sq8_codes,
    "sq8_topk": q_sq8_topk,
    "lm_score_kn": q_lm_score_kn,
    "ngram_overlap": q_ngram_overlap,
    "binary_hamming_topk": q_binary_hamming_topk,
    "encoding_artifacts": q_encoding_artifacts,
    "vocab_divergence": q_vocab_divergence,
    "quality_classifier": q_quality_classifier,
    "zipf_corpus_stats": q_zipf_corpus_stats,
    "epoch_shard_plan": q_epoch_shard_plan,
    "prefix_jaccard": q_prefix_jaccard,
    "boilerplate_lines": q_boilerplate_lines,
    "boilerplate_strip": q_boilerplate_strip,
    "ppl_buckets": q_ppl_buckets,
    "corpus_diversity": q_corpus_diversity,
    "embedding_outliers": q_embedding_outliers,
    "hist_by_group": q_hist_by_group,
    "sentence_stats": q_sentence_stats,
    "leakage_safe_split": q_leakage_safe_split,
    "mmr_select": q_mmr_select,
    "ngram_novelty": q_ngram_novelty,
    "tokenizer_fertility": q_tokenizer_fertility,
    "adamic_adar_links": q_adamic_adar,
    "tfidf_cosine_dups": q_tfidf_cosine,
    "user_active_coverage": q_user_active_coverage,
    "feature_hashing": q_feature_hashing,
    "decayed_engagement": q_decayed_engagement,
    "hybrid_rrf_search": q_hybrid_rrf_search,
    "contamination_fraction": q_contamination_fraction,
    "token_budget_fill": q_token_budget_fill,
}


# Round-10 verification schedule (see ARCHITECTURE.md 'Query rotation
# policy'): tier 1 = the 4 r10 debuts, tier 2 = the 16-query r5
# remainder + the 21 stalest r6-greens, tier 3 = the pinned core;
# everything r9-verified rotates to the tail, freshest (the 5 r9
# debuts) last.
_R10_ORDER = [
    "k_anonymity", "vocab_richness", "excess_loss_select", "robust_outliers",
    "seasonality_profile", "mutual_knn_pairs", "group_auc", "calibration_bins",
    "target_encode_oof", "km_survival", "isotonic_calibration", "score_rank_corr",
    "gini_concentration", "ndcg_eval", "poisson_bootstrap", "tail_index",
    "cusum_drift",
    "lang_drift", "rolling_stats", "lm_score", "scd2_merge",
    "weighted_sample", "rolling_time", "value_anomalies", "collocations",
    "item_covisitation", "bpe_pair_counts", "hll_registers", "label_centroids",
    "predicate_value_range", "derived_and_or", "text_quality", "stratified_sample",
    "dsir_selection", "kmeans_clusters", "entity_resolution", "semantic_dedup",
    "phrase_search", "distinctive_terms", "ivf_append_topk", "rank_normalize",
    "cohort_flagship", "temporal_window_fwd", "temporal_window_bwd",
    "temporal_window_offset", "event_bound_fwd", "event_bound_bwd", "event_bound_record_end",
    "sorted_neighborhood", "time_weighted_avg", "coverage_select",
    "domain_temperature_mix", "containment_pairs", "hard_negatives", "winsorized_values",
    "random_projection", "bpe_merges", "bpe_encode_tokens", "tfidf_features",
    "sessionization", "decontamination", "sequence_packing", "split_assignment",
    "vocab_topk", "paragraph_dedup", "dedup_incremental", "corpus_pipeline",
    "event_funnel", "cohort_retention", "text_char_stats", "lang_id",
    "predicate_regex_anyof", "special_predicates", "static_filter", "trigger_anchors",
    "esgpt_predicates", "stratified_take", "corpus_clean", "dedup_keep_best",
    "dedup_clusters", "pii_scrub", "lineitem_pricing_summary", "revenue_join",
    "region_rollup", "brand_revenue", "local_supplier_volume", "doc_length_quantiles",
    "html_extract", "token_counts", "doc_fingerprint", "props_field_stats",
    "event_type_pivot", "sq8_codes", "sq8_topk", "lm_score_kn",
    "ngram_overlap", "binary_hamming_topk", "encoding_artifacts", "vocab_divergence",
    "quality_classifier", "zipf_corpus_stats", "epoch_shard_plan", "prefix_jaccard",
    "boilerplate_lines", "boilerplate_strip", "ppl_buckets", "corpus_diversity",
    "embedding_outliers", "hist_by_group", "sentence_stats", "leakage_safe_split",
    "mmr_select", "ngram_novelty", "tokenizer_fertility", "adamic_adar_links",
    "tfidf_cosine_dups", "user_active_coverage", "feature_hashing", "decayed_engagement",
    "hybrid_rrf_search", "contamination_fraction", "token_budget_fill", "doc_outlier_filter",
    "corpus_mix_sample", "key_skew_report", "heavy_keys", "pq_codes",
    "pq_topk", "doc_chunking", "rare_token_score", "asof_join_views",
    "range_join_attrib", "time_rollup", "gapfill_locf", "ann_ivf_indexed",
    "ann_ivf_recall", "ivf_cell_stats", "substring_dedup", "minhash_jaccard",
    "url_normalize", "domain_stats", "group_vocab_topk", "token_histogram",
    "corpus_mix", "embedding_dim_stats", "repetition_stats", "winnowing_fingerprints",
    "embedding_dup_pairs", "ngram_jaccard_pairs", "minhash_signatures", "minhash_lsh_pairs",
    "simhash_groups", "pii_density_filter", "bradley_terry", "fuzzy_decontamination",
    "embedding_covariance", "dim_ablation_recall", "ab_welch_ttest", "oov_rate",
    "classifier_train_score", "substring_strip", "lm_score_kn3", "hamming_near_pairs",
    "simhash_near_pairs", "ann_cosine_topk", "knn_classify", "ann_ivf_topk",
    "embedding_label_stats", "multimodal_frame_plan", "multimodal_payload_stats", "multimodal_features",
    "cohort_feature_vectors", "predicates_meds_scan", "dedup_exact", "dedup_exact_groups",
    "pagerank_items", "ppr_items", "fuzzy_vocab_pairs", "value_trend",
    "item_association", "item_communities", "bloom_join_supplier", "incr_agg_merge",
    "zorder_stats", "cms_user_counts", "hist_quantiles", "triangle_count",
    "hll_by_type", "kcore_items", "doc_entropy", "interval_overlap_join",
    "ivfpq_topk_indexed", "lsh_cosine_topk", "snapshot_diff", "check_rules",
    "bm25_search", "kmv_distinct", "hll_distinct", "event_transitions",
    "blocklist_hits", "hits_items", "dirichlet_ql", "negative_samples",
    "substring_strip_exact",
]

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # _R10_ORDER is the round-10 schedule; any key not yet in it (a future
    # debut) leads per the tier-1 rule
    fresh = [k for k in _QUERIES if k not in set(_R10_ORDER)]
    ordered = fresh + [k for k in _R10_ORDER if k in _QUERIES]
    return {k: _QUERIES[k] for k in ordered}


def bench_extras() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Bench-only measurements, NOT part of the correctness registry: the
    ``hasher="xxhash64"`` MinHash production fast path has no DuckDB analog
    (JVM intrinsic), so it cannot be oracled — but its claimed speedup over
    the portable md5 path should be a recorded number, not prose. bench.py
    appends these to its timings dict with a ``bench_only:`` prefix."""
    def _semantic_dedup_ivf(spark, sf_dir):
        # the large-k production path (MLlib trainer + Arrow-batched
        # matmul assignment + per-cell gram pruning): BLAS pairwise sums
        # are not bit-contracted to the sequential-fold oracle, so it is
        # bench-only; parity with the exact arm is pytest-pinned
        from aces_spark.datapipe.kmeans import semantic_dedup

        emb = _read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        return semantic_dedup(emb, k=4, n_iters=2, threshold=0.4, quantizer="ivf")

    def _sq8_topk_batched(spark, sf_dir):
        # the corpus-scale ADC path (Arrow int64 matmul + per-batch
        # top-k prune): BIT-IDENTICAL to the oracled column path (the
        # integer score contract; parity pytest-pinned), recorded here
        # so its claimed speedup is a number
        from aces_spark.datapipe.sq import sq8_topk

        emb = _read_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        return sq8_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, impl="batched")

    return {
        "semantic_dedup_ivf": _semantic_dedup_ivf,
        "sq8_topk_batched": _sq8_topk_batched,
        "minhash_signatures_xxh": lambda spark, sf_dir: minhash_signatures(
            _read_table(spark, sf_dir, "documents"), n=3, num_hashes=8, hasher="xxhash64"
        ),
        "minhash_lsh_pairs_xxh": lambda spark, sf_dir: minhash_lsh_pairs(
            _docs_with_near_dups(spark, sf_dir), n=3, num_hashes=8, bands=4, hasher="xxhash64"
        ),
        # amortized indexed-ANN read path: the oracled ann_ivf_indexed entry
        # times build+query together (the build's k-means + partitioned
        # write dominates); this one builds the index only if absent, so
        # with bench's best-of-2 policy the recorded number is the pruned
        # query-only scan the index exists for
        "ann_ivf_indexed_query_only": _ivf_indexed_query_only,
        "ivfpq_indexed_query_only": _ivfpq_indexed_query_only,
    }


def _qonly_index_path(sf_dir: str, kind: str) -> str:
    """Reusable-index path for the amortized-read bench extras, keyed by
    the SOURCE dataset's identity (mtime + size of embeddings.parquet)
    and an index-layout version — a regenerated dataset or a changed
    on-disk format gets a fresh path instead of silently querying a
    stale index built from different data."""
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        fresh = f"{int(st.st_mtime)}_{st.st_size}"
    except OSError:
        fresh = "unknown"
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(
        tempfile.gettempdir(), f"aces_spark_{kind}_qonly_v2_{tag}_{fresh}"
    )


def _ivf_indexed_query_only(spark, sf_dir):
    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    path = _qonly_index_path(sf_dir, "ivf_index")
    if not os.path.isdir(os.path.join(path, "cells")):
        save_ivf_index(emb, path, n_cells=8, quantizer="seed")
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk_indexed(spark, path, queries, k=5, n_probes=2)


def _ivfpq_indexed_query_only(spark, sf_dir):
    from aces_spark.datapipe.pq import ivfpq_topk_indexed, save_ivfpq_index

    emb = _read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    path = _qonly_index_path(sf_dir, "ivfpq_index")
    if not os.path.isdir(os.path.join(path, "cells")):
        save_ivfpq_index(emb, path, n_cells=8, m=4, n_codes=16, quantizer="seed")
    queries = emb.filter(F.col("vec_id") < 5)
    return ivfpq_topk_indexed(spark, path, queries, k=5, n_probes=2)


# ---------------------------------------------------------------- oracles

def oracle_sql() -> dict[str, str]:
    preds3 = _pred_cte(["purchase", "signup", "error"])
    pred_pec = _pred_cte(["purchase", "error", "click"])
    pred_pe = _pred_cte(["purchase", "error"])
    pred_spe = _pred_cte(["signup", "purchase", "error"])
    pred_p = _pred_cte(["purchase"])
    pred_scp = _pred_cte(["signup", "click", "purchase"])
    pred_4 = _pred_cte(["purchase", "signup", "click", "view"])

    sql: dict[str, str] = {}

    sql["predicates_meds_scan"] = f"WITH pred AS ({preds3}) SELECT * FROM pred"

    sql["esgpt_predicates"] = """
    SELECT user_id AS subject_id, CAST(NULL AS TIMESTAMP) AS timestamp,
           CAST(0 AS BIGINT) AS is_purchase, CAST(0 AS BIGINT) AS high_value
      FROM (SELECT DISTINCT user_id FROM events)
    UNION ALL
    SELECT e.user_id AS subject_id, e.ts AS timestamp,
           CAST(list_contains(string_split(e.event_type, '&'), 'purchase') AS BIGINT)
             AS is_purchase,
           m.high_value
      FROM events e
      LEFT JOIN (
        SELECT event_id,
               CAST(COALESCE(SUM(CASE WHEN value > 75.0 THEN 1 ELSE 0 END), 0) AS BIGINT)
                 AS high_value
          FROM events GROUP BY event_id
      ) m USING (event_id)
    """

    sql["predicate_value_range"] = """
SELECT user_id AS subject_id, ts AS timestamp,
  CAST(SUM(CASE WHEN event_type = 'purchase' AND CAST(value AS FLOAT) >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS big_purchase,
  CAST(SUM(CASE WHEN event_type = 'error' AND CAST(value AS FLOAT) < 50 THEN 1 ELSE 0 END) AS BIGINT) AS small_error,
  CAST(SUM(CASE WHEN event_type = 'view' AND CAST(value AS FLOAT) > 20 AND CAST(value AS FLOAT) <= 80 THEN 1 ELSE 0 END) AS BIGINT) AS mid_view
FROM events GROUP BY user_id, ts
"""

    sql["predicate_regex_anyof"] = """
SELECT user_id AS subject_id, ts AS timestamp,
  CAST(SUM(CASE WHEN regexp_matches(event_type, '^(click|view)$') THEN 1 ELSE 0 END) AS BIGINT) AS engagement,
  CAST(SUM(CASE WHEN event_type IN ('signup', 'error') THEN 1 ELSE 0 END) AS BIGINT) AS system_event
FROM events GROUP BY user_id, ts
"""

    sql["derived_and_or"] = f"""
WITH pred AS ({pred_4})
SELECT subject_id, timestamp,
  CAST(CASE WHEN purchase > 0 OR signup > 0 THEN 1 ELSE 0 END AS BIGINT) AS converted,
  CAST(CASE WHEN click > 0 AND view > 0 THEN 1 ELSE 0 END AS BIGINT) AS engaged
FROM pred
"""

    sql["special_predicates"] = f"""
WITH pred AS ({pred_p})
SELECT subject_id, timestamp, purchase,
  CAST(1 AS BIGINT) AS any_event,
  CAST(CASE WHEN timestamp = MIN(timestamp) OVER (PARTITION BY subject_id) THEN 1 ELSE 0 END AS BIGINT) AS record_start,
  CAST(CASE WHEN timestamp = MAX(timestamp) OVER (PARTITION BY subject_id) THEN 1 ELSE 0 END AS BIGINT) AS record_end
FROM pred
"""

    sql["trigger_anchors"] = f"""
WITH pred AS ({pred_pe})
SELECT subject_id, timestamp AS subtree_anchor_timestamp
FROM pred WHERE purchase >= 1 AND error <= 0
"""

    sql["static_filter"] = """
WITH pred AS (
  SELECT user_id AS subject_id,
         CASE WHEN event_type = 'signup' THEN NULL ELSE ts END AS timestamp,
         CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
  FROM events
  GROUP BY 1, 2)
SELECT subject_id, timestamp, purchase, error
FROM pred
WHERE subject_id IN (SELECT subject_id FROM pred WHERE timestamp IS NULL AND signup > 0)
  AND timestamp IS NOT NULL
"""

    sql["temporal_window_fwd"] = f"""
WITH pred AS ({pred_pec})
SELECT subject_id, timestamp,
  timestamp AS timestamp_at_start,
  timestamp + INTERVAL 24 HOURS AS timestamp_at_end,
  CAST(SUM(purchase) OVER w AS BIGINT) AS purchase,
  CAST(SUM(error) OVER w AS BIGINT) AS error,
  CAST(SUM(click) OVER w AS BIGINT) AS click
FROM pred
WINDOW w AS (PARTITION BY subject_id ORDER BY timestamp
             RANGE BETWEEN CURRENT ROW AND INTERVAL 24 HOURS FOLLOWING)
"""

    sql["temporal_window_bwd"] = f"""
WITH pred AS ({pred_pe})
SELECT subject_id, timestamp,
  timestamp AS timestamp_at_start,
  timestamp - INTERVAL 6 HOURS AS timestamp_at_end,
  CAST(SUM(purchase) OVER w AS BIGINT) AS purchase,
  CAST(SUM(error) OVER w AS BIGINT) AS error
FROM pred
WINDOW w AS (PARTITION BY subject_id ORDER BY timestamp
             RANGE BETWEEN to_microseconds(21599999999) PRECEDING AND CURRENT ROW)
"""

    sql["temporal_window_offset"] = f"""
WITH pred AS ({pred_pe})
SELECT subject_id, timestamp,
  timestamp + INTERVAL 1 HOURS AS timestamp_at_start,
  timestamp + INTERVAL 25 HOURS AS timestamp_at_end,
  CAST(COALESCE(SUM(purchase) OVER w, 0) AS BIGINT) AS purchase,
  CAST(COALESCE(SUM(error) OVER w, 0) AS BIGINT) AS error
FROM pred
WINDOW w AS (PARTITION BY subject_id ORDER BY timestamp
             RANGE BETWEEN to_microseconds(3600000001) FOLLOWING
                       AND to_microseconds(89999999999) FOLLOWING)
"""

    # E1 forward, closed both: bound = nearest boundary at ts >= row ts
    # (self allowed); sum = cum(bound) - cum(row) + own(row).
    sql["event_bound_fwd"] = f"""
WITH pred AS ({pred_pec}),
c AS (
  SELECT subject_id, timestamp, purchase, error, click,
    SUM(purchase) OVER wc AS cum_p, SUM(error) OVER wc AS cum_e, SUM(click) OVER wc AS cum_c
  FROM pred
  WINDOW wc AS (PARTITION BY subject_id ORDER BY timestamp
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
b AS (
  SELECT *,
    MIN(CASE WHEN purchase > 0 THEN timestamp END) OVER wf AS bound_ts,
    MIN(CASE WHEN purchase > 0 THEN cum_p END) OVER wf AS bnd_cum_p,
    MIN(CASE WHEN purchase > 0 THEN cum_e END) OVER wf AS bnd_cum_e,
    MIN(CASE WHEN purchase > 0 THEN cum_c END) OVER wf AS bnd_cum_c
  FROM c
  WINDOW wf AS (PARTITION BY subject_id ORDER BY timestamp
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT subject_id, timestamp,
  CASE WHEN bound_ts IS NOT NULL THEN timestamp END AS timestamp_at_start,
  bound_ts AS timestamp_at_end,
  CAST(COALESCE(bnd_cum_p - cum_p + purchase, 0) AS BIGINT) AS purchase,
  CAST(COALESCE(bnd_cum_e - cum_e + error, 0) AS BIGINT) AS error,
  CAST(COALESCE(bnd_cum_c - cum_c + click, 0) AS BIGINT) AS click
FROM b
"""

    # E1 backward, closed left: bound = latest boundary at ts <= row ts
    # (self allowed); sum = cum(row) - (cum(bnd) - own(bnd)) - own(row).
    sql["event_bound_bwd"] = f"""
WITH pred AS ({pred_spe}),
c AS (
  SELECT subject_id, timestamp, signup, purchase, error,
    SUM(signup) OVER wc AS cum_s, SUM(purchase) OVER wc AS cum_p, SUM(error) OVER wc AS cum_e
  FROM pred
  WINDOW wc AS (PARTITION BY subject_id ORDER BY timestamp
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
b AS (
  SELECT *,
    MAX(CASE WHEN signup > 0 THEN timestamp END) OVER wb AS bound_ts,
    MAX(CASE WHEN signup > 0 THEN cum_s - signup END) OVER wb AS bnd_cum_s,
    MAX(CASE WHEN signup > 0 THEN cum_p - purchase END) OVER wb AS bnd_cum_p,
    MAX(CASE WHEN signup > 0 THEN cum_e - error END) OVER wb AS bnd_cum_e
  FROM c
  WINDOW wb AS (PARTITION BY subject_id ORDER BY timestamp
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT subject_id, timestamp,
  bound_ts AS timestamp_at_start,
  CASE WHEN bound_ts IS NOT NULL THEN timestamp END AS timestamp_at_end,
  CAST(COALESCE(cum_s - bnd_cum_s - signup, 0) AS BIGINT) AS signup,
  CAST(COALESCE(cum_p - bnd_cum_p - purchase, 0) AS BIGINT) AS purchase,
  CAST(COALESCE(cum_e - bnd_cum_e - error, 0) AS BIGINT) AS error
FROM b
"""

    sql["event_bound_record_end"] = f"""
WITH pred AS ({pred_pe}),
c AS (
  SELECT subject_id, timestamp, purchase, error,
    SUM(purchase) OVER wc AS cum_p, SUM(error) OVER wc AS cum_e,
    SUM(purchase) OVER wt AS tot_p, SUM(error) OVER wt AS tot_e,
    MAX(timestamp) OVER wt AS max_ts
  FROM pred
  WINDOW wc AS (PARTITION BY subject_id ORDER BY timestamp
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wt AS (PARTITION BY subject_id))
SELECT subject_id, timestamp,
  timestamp AS timestamp_at_start,
  max_ts AS timestamp_at_end,
  CAST(tot_p - cum_p + purchase AS BIGINT) AS purchase,
  CAST(tot_e - cum_e + error AS BIGINT) AS error
FROM c
"""

    sql["cohort_flagship"] = f"""
WITH pred AS ({pred_scp}),
w AS (
  SELECT subject_id, timestamp, signup,
    CAST(SUM(signup) OVER win AS BIGINT) AS w_signup,
    CAST(SUM(click) OVER win AS BIGINT) AS w_click,
    CAST(SUM(purchase) OVER win AS BIGINT) AS w_purchase
  FROM pred
  WINDOW win AS (PARTITION BY subject_id ORDER BY timestamp
                 RANGE BETWEEN CURRENT ROW AND INTERVAL 72 HOURS FOLLOWING))
SELECT subject_id,
  timestamp + INTERVAL 72 HOURS AS index_timestamp,
  w_purchase AS label,
  timestamp AS trigger,
  timestamp AS w_start,
  timestamp + INTERVAL 72 HOURS AS w_end,
  w_signup, w_click, w_purchase
FROM w WHERE signup >= 1 AND w_click >= 1
"""

    sql["sessionization"] = """
WITH s AS (
  SELECT user_id, ts,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sid AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
  FROM s),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS session_us
  FROM sid GROUP BY user_id, session_id)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_sessions,
  CAST(SUM(n_events) AS BIGINT) AS n_events,
  ROUND(AVG(session_us) / 1000000.0, 3) AS avg_session_secs
FROM per_session GROUP BY user_id
"""

    sql["lineitem_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""

    sql["revenue_join"] = """
SELECT o_orderkey, o_orderdate,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate
"""

    sql["region_rollup"] = """
SELECT r_name AS region,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

    sql["local_supplier_volume"] = """
SELECT n_name AS nation,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lineitems
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""

    sql["brand_revenue"] = """
SELECT p_brand,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lineitems
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
GROUP BY p_brand
"""

    sql["dedup_exact"] = f"""
WITH fp AS (SELECT doc_id, md5({_DOC_NORM_SQL}) AS fingerprint FROM documents)
SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS canonical_doc_id
FROM fp GROUP BY fingerprint
"""

    sql["dedup_exact_groups"] = f"""
WITH docs_aug AS ({_DOCS_EXACT_DUPS_SQL}),
fp AS (SELECT doc_id, md5({_DOC_NORM_SQL}) AS fingerprint FROM docs_aug)
SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS canonical_doc_id
FROM fp GROUP BY fingerprint HAVING COUNT(*) >= 2
"""

    sql["text_char_stats"] = """
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
  ROUND(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / GREATEST(length(text), 1), 4) AS alpha_ratio,
  ROUND(length(regexp_replace(text, '[^0-9]', '', 'g')) / GREATEST(length(text), 1), 4) AS digit_ratio,
  ROUND(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) / GREATEST(length(text), 1), 4) AS punct_ratio,
  ROUND(length(regexp_replace(text, '[^ \\t\\n]', '', 'g')) / GREATEST(length(text), 1), 4) AS space_ratio
FROM documents
"""

    sql["text_quality"] = """
WITH t AS (
  SELECT doc_id,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS DOUBLE) AS n_tokens,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha
  FROM documents),
m AS (
  SELECT *, CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END AS mean_word_len,
    CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio
  FROM t)
SELECT doc_id,
  CAST(n_chars AS BIGINT) AS n_chars,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  ROUND(mean_word_len, 4) AS mean_word_len,
  CAST((CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 4000 ELSE 0 END)
    + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12 THEN 3000 ELSE 0 END)
    + CAST(FLOOR(alpha_ratio * 3000 + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS quality
FROM m
"""

    sql["lang_id"] = """
WITH h AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS BIGINT) AS en_hits,
    CAST(len(regexp_extract_all(lower(text), '\\b(der|die|und|nicht|das)\\b')) AS BIGINT) AS de_hits,
    CAST(len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b')) AS BIGINT) AS fr_hits,
    CAST(len(regexp_extract_all(lower(text), '\\b(el|los|que|de|y)\\b')) AS BIGINT) AS es_hits
  FROM documents)
SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
  CASE
    WHEN es_hits > GREATEST(en_hits, de_hits, fr_hits) THEN 'es'
    WHEN fr_hits > GREATEST(en_hits, de_hits) THEN 'fr'
    WHEN de_hits > en_hits THEN 'de'
    ELSE 'en' END AS lang_pred
FROM h
"""

    sql["doc_fingerprint"] = f"""
SELECT doc_id, md5({_DOC_NORM_SQL}) AS fingerprint FROM documents
"""

    sql["corpus_clean"] = f"""
WITH docs_aug AS ({_DOCS_EXACT_DUPS_SQL}),
t AS (
  SELECT doc_id,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS DOUBLE) AS n_tokens,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
    CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS BIGINT) AS en_hits,
    CAST(len(regexp_extract_all(lower(text), '\\b(der|die|und|nicht|das)\\b')) AS BIGINT) AS de_hits,
    CAST(len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b')) AS BIGINT) AS fr_hits,
    CAST(len(regexp_extract_all(lower(text), '\\b(el|los|que|de|y)\\b')) AS BIGINT) AS es_hits,
    md5({_DOC_NORM_SQL}) AS fingerprint
  FROM docs_aug),
m AS (
  SELECT doc_id, fingerprint, n_chars,
    CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END AS mean_word_len,
    CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio,
    CASE
      WHEN es_hits > GREATEST(en_hits, de_hits, fr_hits) THEN 'es'
      WHEN fr_hits > GREATEST(en_hits, de_hits) THEN 'fr'
      WHEN de_hits > en_hits THEN 'de'
      ELSE 'en' END AS lang_pred
  FROM t),
q AS (
  SELECT doc_id, fingerprint, lang_pred,
    CAST((CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 4000 ELSE 0 END)
      + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12 THEN 3000 ELSE 0 END)
      + CAST(FLOOR(alpha_ratio * 3000 + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS quality
  FROM m),
kept AS (SELECT * FROM q WHERE quality >= 0.5 AND lang_pred = 'en')
SELECT doc_id, quality, lang_pred, fingerprint
FROM (SELECT *, MIN(doc_id) OVER (PARTITION BY fingerprint) AS canon FROM kept)
WHERE doc_id = canon
"""

    sql["token_counts"] = """
SELECT doc_id,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS bpe_tokens
FROM documents
"""

    # transitive near-dup clusters over the deterministic chain graph;
    # the oracle computes min-reachable-node per component by recursive
    # closure (undirected ⇒ min over the reachable set = component min)
    sql["dedup_clusters"] = """
WITH RECURSIVE
p AS (
  SELECT d1.doc_id AS doc_a, d1.doc_id + 1 AS doc_b
  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
  WHERE d1.doc_id % 10 < 4),
e AS (SELECT doc_a AS u, doc_b AS v FROM p
      UNION SELECT doc_b, doc_a FROM p),
reach(node, root) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM e) t
  UNION
  SELECT e.v, r.root FROM reach r JOIN e ON e.u = r.node),
lab AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node),
allc AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN lab l USING (doc_id))
SELECT doc_id, cluster_id,
  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM allc
"""

    # keep-best: same recursive closure, then per-cluster argmax quality
    # (ties → min doc_id) with the removed-count per survivor
    sql["dedup_keep_best"] = """
WITH RECURSIVE
p AS (
  SELECT d1.doc_id AS doc_a, d1.doc_id + 1 AS doc_b
  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
  WHERE d1.doc_id % 10 < 4),
e AS (SELECT doc_a AS u, doc_b AS v FROM p
      UNION SELECT doc_b, doc_a FROM p),
reach(node, root) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM e) t
  UNION
  SELECT e.v, r.root FROM reach r JOIN e ON e.u = r.node),
lab AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node),
allc AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN lab l USING (doc_id)),
t0 AS (
  SELECT doc_id,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS DOUBLE) AS n_tokens,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha
  FROM documents),
q AS (
  SELECT doc_id,
    CAST((CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 4000 ELSE 0 END)
      + (CASE WHEN (CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END) >= 3
               AND (CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END) <= 12
          THEN 3000 ELSE 0 END)
      + CAST(FLOOR((CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END) * 3000
          + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS quality
  FROM t0),
ranked AS (
  SELECT a.doc_id, a.cluster_id, q.quality,
    row_number() OVER (PARTITION BY a.cluster_id
                       ORDER BY q.quality DESC, a.doc_id ASC) AS rn,
    count(*) OVER (PARTITION BY a.cluster_id) AS n
  FROM allc a JOIN q USING (doc_id))
SELECT doc_id, cluster_id, quality, CAST(n - 1 AS BIGINT) AS n_removed
FROM ranked WHERE rn = 1
"""

    # deterministic sampling: identical md5 bucket on both engines
    _BUCKET_SQL = (
        "CAST(concat('0x', substring(md5(concat('0|', CAST(doc_id AS VARCHAR))), 1, 8))"
        " AS BIGINT) % 10000"
    )
    sql["stratified_sample"] = f"""
WITH b AS (SELECT doc_id, lang, {_BUCKET_SQL} AS sample_bucket FROM documents)
SELECT doc_id, lang, sample_bucket FROM b
WHERE sample_bucket < CASE lang
  WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 WHEN 'fr' THEN 1000
  WHEN 'zh' THEN 10000 ELSE 500 END
"""
    sql["stratified_take"] = f"""
WITH b AS (SELECT doc_id, lang, {_BUCKET_SQL} AS sample_bucket FROM documents),
r AS (SELECT doc_id, lang,
  row_number() OVER (PARTITION BY lang ORDER BY sample_bucket ASC, doc_id ASC)
    AS sample_rank
  FROM b)
SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank <= 10
"""

    # benchmark decontamination: corpus docs sharing ≥3 distinct word
    # 8-grams with the benchmark split (every 20th base doc); corpus is
    # the near-dup-augmented set so truncated benchmark copies hit
    sql["decontamination"] = f"""
WITH docs_aug AS ({_DOCS_NEAR_DUPS_SQL}),
toks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM docs_aug),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
       FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i) WHERE len(t) >= 8),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0 AND doc_id < 1000000),
corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0 OR doc_id >= 1000000)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
FROM corp JOIN bench USING (shingle)
GROUP BY doc_id HAVING COUNT(*) >= 3
"""

    # concat-and-chunk packing: running token sum per source stream in
    # doc_id order; pack index/offset are row-local arithmetic on it
    _WS_TOKENS_SQL = (
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)"
    )
    sql["sequence_packing"] = f"""
WITH t AS (SELECT source, doc_id, {_WS_TOKENS_SQL} AS n_tokens FROM documents),
c AS (SELECT source, doc_id, n_tokens,
  CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
  FROM t)
SELECT source, doc_id, n_tokens,
  cum - n_tokens AS token_start,
  CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS pack_id,
  (cum - n_tokens) % 512 AS pack_offset,
  (n_tokens > 0 AND CAST(floor((cum - 1) / 512) AS BIGINT)
     <> CAST(floor((cum - n_tokens) / 512) AS BIGINT)) AS spans_packs
FROM c
"""

    # deterministic split assignment by the portable md5 bucket:
    # train < 9000, val < 9500, test = remainder
    sql["split_assignment"] = f"""
SELECT doc_id, source,
  CASE WHEN {_BUCKET_SQL} < 9000 THEN 'train'
       WHEN {_BUCKET_SQL} < 9500 THEN 'val'
       ELSE 'test' END AS split
FROM documents
"""

    # paragraph-granularity dedup over the lined near-dup-augmented corpus:
    # one digest-keyed occurrence aggregate, then a per-doc rollup
    sql["paragraph_dedup"] = f"""
WITH aug AS ({_DOCS_NEAR_DUPS_SQL}),
docs_l AS (SELECT doc_id, concat_ws(chr(10),
    substring(text, 1, 40), substring(text, 41, 40), substring(text, 1, 40),
    substring(text, 81, 40)) AS text FROM aug),
p AS (SELECT doc_id, u.para FROM docs_l,
      UNNEST(string_split(text, chr(10))) AS u(para)
      WHERE length(trim(para)) >= 20),
k AS (SELECT doc_id,
      md5(trim(regexp_replace(lower(para), '[^a-z0-9]+', ' ', 'g'))) AS pfp
      FROM p),
occ AS (SELECT pfp, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
        FROM k GROUP BY pfp)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_paras,
  CAST(SUM(CASE WHEN n_docs > 1 OR n_occ > n_docs THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_paras,
  FLOOR(SUM(CASE WHEN n_docs > 1 OR n_occ > n_docs THEN 1 ELSE 0 END)
    / COUNT(*) * 10000 + 0.5) / 10000 AS dup_para_frac
FROM k JOIN occ USING (pfp)
GROUP BY doc_id
"""

    # HTML extraction: the same 6-stage regex chain (script, style,
    # comment, tags, entities, whitespace) — DuckDB needs the 'g' flag
    # where Spark's regexp_replace is global by default
    sql["html_extract"] = """
WITH w AS (SELECT doc_id,
  concat('<html><head><style>p{x}</style></head><body><h1>T</h1><p>', text,
         '</p><script>var x=''<p>'';</script><!-- c -->&amp;</body></html>') AS text
  FROM documents),
s1 AS (SELECT doc_id, regexp_replace(text, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM w),
s2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s3),
s5 AS (SELECT doc_id, regexp_replace(t, '&[a-zA-Z]{2,8};|&#[0-9]{1,6};', ' ', 'g') AS t FROM s4),
s6 AS (SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean_text FROM s5)
SELECT doc_id, clean_text, CAST(length(clean_text) AS BIGINT) AS n_chars_clean FROM s6
"""

    # incremental-ingest dedup: batch canonicalization (min doc_id per
    # fingerprint) then anti-join against the corpus fingerprint set
    sql["dedup_incremental"] = f"""
WITH batch AS (
  SELECT doc_id + 1000000 AS doc_id, concat(upper(text), ' !!') AS text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, concat(text, ' novel suffix') AS text
  FROM documents WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, concat(text, ' novel suffix') AS text
  FROM documents WHERE doc_id % 10 = 3
),
fp AS (SELECT doc_id, md5({_DOC_NORM_SQL}) AS fingerprint FROM batch),
canon AS (SELECT doc_id, fingerprint FROM (
  SELECT doc_id, fingerprint, MIN(doc_id) OVER (PARTITION BY fingerprint) AS c
  FROM fp) WHERE doc_id = c),
corpus AS (SELECT DISTINCT md5({_DOC_NORM_SQL}) AS fingerprint FROM documents)
SELECT doc_id, fingerprint FROM canon
WHERE fingerprint NOT IN (SELECT fingerprint FROM corpus)
"""

    # the composed pipeline: clean (corpus_clean's CTEs, source carried
    # through) → md5-bucket split → per-(source/split)-stream packing
    sql["corpus_pipeline"] = f"""
WITH docs_aug AS (SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, concat(upper(text), ' !!') AS text, source
  FROM documents WHERE doc_id % 5 = 0),
t AS (
  SELECT doc_id,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS DOUBLE) AS n_tokens,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
    CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS BIGINT) AS en_hits,
    CAST(len(regexp_extract_all(lower(text), '\\b(der|die|und|nicht|das)\\b')) AS BIGINT) AS de_hits,
    CAST(len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b')) AS BIGINT) AS fr_hits,
    CAST(len(regexp_extract_all(lower(text), '\\b(el|los|que|de|y)\\b')) AS BIGINT) AS es_hits,
    md5({_DOC_NORM_SQL}) AS fingerprint
  FROM docs_aug),
m AS (
  SELECT doc_id, fingerprint, n_chars,
    CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END AS mean_word_len,
    CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio,
    CASE
      WHEN es_hits > GREATEST(en_hits, de_hits, fr_hits) THEN 'es'
      WHEN fr_hits > GREATEST(en_hits, de_hits) THEN 'fr'
      WHEN de_hits > en_hits THEN 'de'
      ELSE 'en' END AS lang_pred
  FROM t),
q AS (
  SELECT doc_id, fingerprint, lang_pred,
    CAST((CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 4000 ELSE 0 END)
      + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12 THEN 3000 ELSE 0 END)
      + CAST(FLOOR(alpha_ratio * 3000 + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS quality
  FROM m),
kept AS (SELECT * FROM q WHERE quality >= 0.5 AND lang_pred = 'en'),
canon AS (SELECT doc_id
  FROM (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fingerprint) AS c FROM kept)
  WHERE doc_id = c),
surv AS (SELECT d.doc_id, d.text, d.source FROM docs_aug d JOIN canon USING (doc_id)),
sp AS (SELECT doc_id, text, source,
  CASE WHEN {_BUCKET_SQL} < 9000 THEN 'train'
       WHEN {_BUCKET_SQL} < 9500 THEN 'val'
       ELSE 'test' END AS split
  FROM surv),
st AS (SELECT concat(source, '/', split) AS stream, doc_id,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
  FROM sp),
c AS (SELECT stream, doc_id, n_tokens,
  CAST(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id) AS BIGINT) AS cum
  FROM st)
SELECT stream, doc_id, n_tokens,
  cum - n_tokens AS token_start,
  CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS pack_id,
  (cum - n_tokens) % 512 AS pack_offset,
  (n_tokens > 0 AND CAST(floor((cum - 1) / 512) AS BIGINT)
     <> CAST(floor((cum - n_tokens) / 512) AS BIGINT)) AS spans_packs
FROM c
"""

    # sequential funnel: greedy-earliest chain — t_{i+1} is the min event
    # of step i+1 strictly after t_i (k fixed joins mirror the fold)
    sql["event_funnel"] = """
WITH e AS (SELECT user_id, event_type, ts FROM events
           WHERE event_type IN ('view', 'click', 'purchase')),
u AS (SELECT DISTINCT user_id FROM e),
s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
SELECT u.user_id, s1.t1 AS step1_view_ts, s2.t2 AS step2_click_ts,
  s3.t3 AS step3_purchase_ts,
  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_steps
FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
       LEFT JOIN s3 USING (user_id)
"""

    # weekly cohort retention: first-seen day per user, then the
    # (cohort_day, periods-since) distinct-active rollup
    sql["cohort_retention"] = """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
first AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id)
SELECT cohort_day,
  CAST(floor(date_diff('day', cohort_day, day) / 7) AS BIGINT) AS period,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
FROM days JOIN first USING (user_id)
GROUP BY cohort_day, CAST(floor(date_diff('day', cohort_day, day) / 7) AS BIGINT)
"""

    # per-source doc-length quantiles: ANSI percentile_cont interpolation
    # in both engines; DOUBLE cast + 4dp rounding align the float repr
    sql["doc_length_quantiles"] = """
SELECT source,
  ROUND(CAST(quantile_cont(n_chars, 0.25) AS DOUBLE), 4) AS q_0_25,
  ROUND(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 4) AS q_0_5,
  ROUND(CAST(quantile_cont(n_chars, 0.9) AS DOUBLE), 4) AS q_0_9,
  ROUND(CAST(quantile_cont(n_chars, 0.99) AS DOUBLE), 4) AS q_0_99
FROM documents GROUP BY source
"""

    # vocabulary top-k: deterministic order (count desc, word asc) makes
    # the LIMIT stable across engines
    sql["vocab_topk"] = f"""
WITH words AS (
  SELECT doc_id, unnest({_DOC_TOKENS_SQL}) AS word FROM documents
  WHERE length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) > 0)
SELECT word, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM words GROUP BY word
ORDER BY n_occurrences DESC, word ASC LIMIT 50
"""

    # fuzzy vocab pairs: the oracle verifies SEMANTICS (all edit-distance-1
    # pairs in the top-300 vocab) with a direct levenshtein cross join —
    # tiny here; the engine's symmetric-delete candidate join is the part
    # that scales, and recall 1.0 makes the two formulations identical
    sql["fuzzy_vocab_pairs"] = f"""
WITH words AS (
  SELECT unnest({_DOC_TOKENS_SQL}) AS word FROM documents
  WHERE length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) > 0),
vocab AS (
  SELECT word FROM (
    SELECT word, COUNT(*) AS n FROM words GROUP BY word
    ORDER BY n DESC, word ASC LIMIT 300)),
pool AS (
  SELECT DISTINCT word FROM (
    SELECT word FROM vocab
    UNION ALL
    SELECT substring(word, 1, 1) || substring(word, 3) AS word
    FROM vocab WHERE length(word) >= 5))
SELECT a.word AS word_a, b.word AS word_b,
       CAST(levenshtein(a.word, b.word) AS BIGINT) AS dist
FROM pool a JOIN pool b ON a.word < b.word
WHERE levenshtein(a.word, b.word) <= 1
"""

    # sorted-neighborhood: prefix blocks + rank window, neighbor join as
    # a rank-difference BETWEEN join (tiny pool), exact levenshtein
    sql["sorted_neighborhood"] = f"""
WITH words AS (
  SELECT unnest({_DOC_TOKENS_SQL}) AS word FROM documents
  WHERE length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) > 0),
vocab AS (
  SELECT word FROM (
    SELECT word, COUNT(*) AS n FROM words GROUP BY word
    ORDER BY n DESC, word ASC LIMIT 300)),
pool AS (
  SELECT DISTINCT word FROM (
    SELECT word FROM vocab
    UNION ALL
    SELECT substring(word, 1, 1) || substring(word, 3) AS word
    FROM vocab WHERE length(word) >= 5)),
p AS (
  SELECT word AS value, substring(word, 1, 2) AS blk,
         row_number() OVER (
           PARTITION BY substring(word, 1, 2) ORDER BY word) AS rk
  FROM pool)
SELECT a.value AS left_str, b.value AS right_str,
       CAST(levenshtein(a.value, b.value) AS BIGINT) AS dist
FROM p a JOIN p b ON a.blk = b.blk AND b.rk - a.rk BETWEEN 1 AND 3
WHERE levenshtein(a.value, b.value) <= 2
"""

    # entity resolution = the fuzzy pool + a recursive-CTE transitive
    # closure (the dedup_clusters technique) + min-string canonicals;
    # values without a near-match are singleton entities of themselves
    sql["entity_resolution"] = f"""
WITH RECURSIVE
words AS (
  SELECT unnest({_DOC_TOKENS_SQL}) AS word FROM documents
  WHERE length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) > 0),
vocab AS (
  SELECT word FROM (
    SELECT word, COUNT(*) AS n FROM words GROUP BY word
    ORDER BY n DESC, word ASC LIMIT 300)),
pool AS (
  SELECT DISTINCT word FROM (
    SELECT word FROM vocab
    UNION ALL
    SELECT substring(word, 1, 1) || substring(word, 3) AS word
    FROM vocab WHERE length(word) >= 5)),
p AS (
  SELECT a.word AS u, b.word AS v
  FROM pool a JOIN pool b ON a.word < b.word
  WHERE levenshtein(a.word, b.word) <= 1),
e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
reach(node, root) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM e) t
  UNION
  SELECT e.v, r.root FROM reach r JOIN e ON e.u = r.node),
lab AS (SELECT node AS word, MIN(root) AS entity_id FROM reach GROUP BY node),
allv AS (
  SELECT p.word AS value, coalesce(l.entity_id, p.word) AS entity_id
  FROM pool p LEFT JOIN lab l ON l.word = p.word)
SELECT value, entity_id,
  CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT) AS entity_size
FROM allv
"""

    # phrase search: positional postings (parallel unnest zips token and
    # position), one (doc, pos+offset) equi-join per adjacency
    sql["phrase_search"] = f"""
WITH toks AS (
  SELECT doc_id,
         unnest({_DOC_TOKENS_SQL}) AS term,
         unnest(generate_series(1, len({_DOC_TOKENS_SQL}))) AS pos
  FROM documents
  WHERE length({_DOC_NORM_SQL}) > 0),
p0 AS (SELECT doc_id, pos FROM toks WHERE term = 'table'),
p1 AS (SELECT doc_id, pos - 1 AS pos FROM toks WHERE term = 'hash')
SELECT p0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM p0 JOIN p1 ON p0.doc_id = p1.doc_id AND p0.pos = p1.pos
GROUP BY p0.doc_id
"""

    # rank normalization: competition rank + group size windows, one
    # non-negative integer floor division (Spark div ≡ DuckDB //)
    sql["rank_normalize"] = """
SELECT doc_id, lang, n_chars,
  CAST(CASE WHEN COUNT(*) OVER (PARTITION BY lang) > 1
       THEN ((RANK() OVER (PARTITION BY lang ORDER BY n_chars) - 1) * 10000)
            // (COUNT(*) OVER (PARTITION BY lang) - 1)
       ELSE 0 END AS BIGINT) AS pct_bp
FROM documents
"""

    # distinctive terms: one (domain, word) count aggregate, then pure
    # window functions; every ln argument is an integer and each term
    # snaps to micro-nats independently (the char_entropy contract)
    sql["distinctive_terms"] = f"""
WITH toks AS (
  SELECT lang AS domain, unnest({_DOC_TOKENS_SQL}) AS word
  FROM documents
  WHERE lang IS NOT NULL AND length({_DOC_NORM_SQL}) > 0),
c AS (
  SELECT domain, word, CAST(COUNT(*) AS BIGINT) AS n_domain
  FROM toks GROUP BY domain, word),
scored AS (
  SELECT domain, word, n_domain,
      CAST(floor(ln(n_domain + 1) * 1000000 + 0.5) AS BIGINT)
    - CAST(floor(ln(SUM(n_domain) OVER (PARTITION BY domain) + 1) * 1000000 + 0.5) AS BIGINT)
    - CAST(floor(ln(SUM(n_domain) OVER (PARTITION BY word) - n_domain + 1) * 1000000 + 0.5) AS BIGINT)
    + CAST(floor(ln(SUM(n_domain) OVER () - SUM(n_domain) OVER (PARTITION BY domain) + 1) * 1000000 + 0.5) AS BIGINT)
      AS delta_u
  FROM c)
SELECT domain, word, n_domain, delta_u FROM (
  SELECT *, row_number() OVER (
    PARTITION BY domain ORDER BY delta_u DESC, word ASC) AS rk
  FROM scored) WHERE rk <= 5
"""

    # PII scrub over the PII-injected corpus: counts + redacted digest.
    # The regexes are shared module constants restricted to Java/RE2-common
    # syntax; placeholders are spliced via replace() (no f-string so the
    # regex braces survive verbatim).
    pii_sql = """
WITH docs_p AS (@DOCS@),
r AS (SELECT doc_id, text,
  regexp_replace(regexp_replace(regexp_replace(text,
    '@EMAIL@', '<EMAIL>', 'g'),
    '@IPV4@', '<IP>', 'g'),
    '@PHONE@', '<PHONE>', 'g') AS red
  FROM docs_p)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '@EMAIL@')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text, '@IPV4@')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '@PHONE@')) AS BIGINT) AS n_phones,
  CAST(length(red) AS BIGINT) AS redacted_len,
  md5(red) AS redacted_digest
FROM r
"""
    sql["pii_scrub"] = (
        pii_sql.replace("@DOCS@", _DOCS_PII_SQL)
        .replace("@EMAIL@", EMAIL_RE)
        .replace("@IPV4@", IPV4_RE)
        .replace("@PHONE@", PHONE_RE)
    )

    # Gopher repetition filters over the re-lined corpus: duplicate-line
    # occurrence/char fractions + top word-2gram character fraction
    sql["repetition_stats"] = f"""
WITH docs_l AS ({_DOCS_LINED_SQL}),
lines AS (
  SELECT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM docs_l)
  WHERE length(trim(line)) > 0),
lc AS (SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY 1, 2),
lstats AS (
  SELECT doc_id,
    CAST(sum(cnt) AS BIGINT) AS n_lines,
    round(1.0 - count(*) / CAST(sum(cnt) AS DOUBLE), 4) AS dup_line_frac,
    round(sum((cnt - 1) * length(line))
          / CAST(greatest(sum(cnt * length(line)), 1) AS DOUBLE), 4)
      AS dup_line_char_frac
  FROM lc GROUP BY doc_id),
toks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM docs_l),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2),
gc AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2),
top AS (
  SELECT doc_id, gram, cnt,
    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
  FROM gc),
base AS (SELECT doc_id, length(array_to_string(t, ' ')) AS norm_len FROM toks),
gstats AS (
  SELECT b.doc_id,
    coalesce(t.gram, '') AS top_gram,
    CAST(coalesce(t.cnt, 0) AS BIGINT) AS top_gram_cnt,
    round(coalesce(t.cnt * length(t.gram)
                   / CAST(greatest(b.norm_len, 1) AS DOUBLE), 0.0), 4)
      AS top_gram_char_frac
  FROM base b LEFT JOIN (SELECT * FROM top WHERE rn = 1) t USING (doc_id))
SELECT g.doc_id,
  CAST(coalesce(l.n_lines, 0) AS BIGINT) AS n_lines,
  coalesce(l.dup_line_frac, 0.0) AS dup_line_frac,
  coalesce(l.dup_line_char_frac, 0.0) AS dup_line_char_frac,
  g.top_gram, g.top_gram_cnt, g.top_gram_char_frac
FROM gstats g LEFT JOIN lstats l USING (doc_id)
"""

    # cross-document boilerplate lines: non-blank lines in >= 10 distinct
    # docs of the planted-banner corpus
    sql["boilerplate_lines"] = f"""
WITH docs_b AS ({_DOCS_BOILER_SQL}),
l AS (
  SELECT DISTINCT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM docs_b)
  WHERE length(trim(line)) > 0)
SELECT line, CAST(count(*) AS BIGINT) AS n_docs
FROM l GROUP BY line HAVING count(*) >= 10
"""

    # boilerplate strip: LEFT-join flag + ONE per-doc aggregate counting
    # kept and total together; survivors reassembled in original order
    # (split positions — the kept subset preserves relative order, which
    # is all the Spark side's per-doc struct sort uses)
    sql["boilerplate_strip"] = f"""
WITH docs_b AS ({_DOCS_BOILER_SQL}),
l AS (
  SELECT doc_id, u.i AS pos, ls[u.i + 1] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs_b) t,
       UNNEST(range(0, len(ls))) AS u(i)
  WHERE length(trim(ls[u.i + 1])) > 0),
bp AS (
  SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd FROM l GROUP BY line)
  WHERE nd >= 10),
m AS (SELECT l.doc_id, l.pos, l.line, (bp.line IS NOT NULL) AS is_bp
      FROM l LEFT JOIN bp ON l.line = bp.line),
a AS (
  SELECT doc_id,
    CAST(count(*) AS BIGINT) AS n_lines,
    CAST(count(*) FILTER (WHERE NOT is_bp) AS BIGINT) AS n_kept,
    coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT is_bp),
             '') AS text_clean
  FROM m GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.text_clean, '') AS text_clean,
  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_lines_kept,
  CAST(coalesce(a.n_lines, 0) - coalesce(a.n_kept, 0) AS BIGINT)
    AS n_lines_dropped
FROM docs_b d LEFT JOIN a USING (doc_id)
"""

    # CCNet head/middle/tail: the lm_score pipeline (train even, score
    # odd) + per-source NTILE(3) over the (nll, doc_id) total order —
    # both engines share the ANSI NTILE fill rule
    sql["ppl_buckets"] = f"""
WITH toks AS (
  SELECT doc_id, {_DOC_TOKENS_SQL} AS t
  FROM documents WHERE length({_DOC_NORM_SQL}) > 0),
train_bg AS (
  SELECT CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS prev, t[i] AS word
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  WHERE doc_id % 2 = 0),
bigrams AS (SELECT prev, word, CAST(COUNT(*) AS BIGINT) AS c_bg
            FROM train_bg GROUP BY prev, word),
unigrams AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS c_prev
             FROM train_bg GROUP BY prev),
vocab AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v_size FROM train_bg),
score_bg AS (
  SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS prev, t[i] AS word
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  WHERE doc_id % 2 = 1),
s AS (
  SELECT sb.doc_id,
    CAST(floor(-ln((CAST(COALESCE(b.c_bg, 0) AS DOUBLE) + 1.0)
                   / (CAST(COALESCE(u2.c_prev, 0) AS DOUBLE)
                      + CAST(v.v_size AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS nll_u
  FROM score_bg sb
  LEFT JOIN bigrams b USING (prev, word)
  LEFT JOIN unigrams u2 USING (prev)
  CROSS JOIN vocab v),
per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(nll_u) AS BIGINT) AS su
        FROM s GROUP BY doc_id),
scored AS (
  SELECT doc_id, n_tokens,
    floor(CAST(su AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
          * 1000000 + 0.5) / 1000000.0 AS nll
  FROM per),
j AS (SELECT s2.doc_id, d.source, s2.n_tokens, s2.nll
      FROM scored s2 JOIN documents d USING (doc_id)),
b2 AS (SELECT *, CAST(NTILE(3) OVER (PARTITION BY source
                                     ORDER BY nll ASC, doc_id ASC) AS BIGINT)
                   AS bucket
       FROM j)
SELECT doc_id, source, n_tokens, nll, bucket,
  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS band
FROM b2
"""

    # winnowing: 4-gram rolling hashes, min of each 4-window, full windows
    # only — mirrors datapipe.dedup.winnowing_fingerprints(k=4, window=4)
    sql["winnowing_fingerprints"] = f"""
WITH toks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM documents),
grams AS (
  SELECT doc_id, i AS pos,
    CAST(concat('0x', substring(md5(concat('0|', array_to_string(t[i:i+3], ' '))), 1, 8)) AS BIGINT)
      AS gram_hash
  FROM toks, UNNEST(range(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 4),
w AS (
  SELECT doc_id, pos,
    MIN(gram_hash) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint,
    MAX(pos) OVER (PARTITION BY doc_id) AS max_pos
  FROM grams)
SELECT DISTINCT doc_id, fingerprint FROM w WHERE pos <= max_pos - 3
"""

    sql["embedding_dup_pairs"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell_id, v AS cv
  FROM e QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 8),
assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
      ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY ROUND(list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) DESC,
                 c.cell_id ASC) AS rk
    FROM e CROSS JOIN cents c)
  WHERE rk = 1),
v AS (SELECT e.vec_id, e.v, a.cell_id FROM e JOIN assign a ON e.vec_id = a.vec_id)
SELECT vec_a, vec_b, cosine_sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    ROUND(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
  FROM v a JOIN v b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id)
WHERE cosine_sim >= 0.2
"""

    sql["ngram_jaccard_pairs"] = f"""
WITH docs_aug AS ({_DOCS_NEAR_DUPS_SQL}),
toks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM docs_aug),
sh_all AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
sh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh_all)
  WHERE df <= 1000),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
  floor(n_common / (sa.n_shingles + sb.n_shingles - n_common) * 10000 + 0.5)
    / 10000.0 AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE floor(n_common / (sa.n_shingles + sb.n_shingles - n_common) * 10000 + 0.5)
    / 10000.0 >= 0.2
"""

    # binary hamming: one 64-bit word (dim=64); bit 63 is the min-long
    # literal (1<<63 overflows a signed shift); bit_or builds the code
    sql["binary_hamming_topk"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
codes AS (
  SELECT vec_id,
         bit_or(CASE WHEN v[i + 1] > 0 THEN
                  CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                       ELSE (1::BIGINT << i) END
                ELSE 0 END) AS c
  FROM e, UNNEST(range(0, 64)) AS u(i) GROUP BY vec_id),
pairs AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(bit_count(xor(n.c, q.c)) AS BIGINT) AS hamming
  FROM codes q JOIN codes n ON n.vec_id <> q.vec_id
  WHERE q.vec_id < 5)
SELECT query_id, neighbor_id, hamming FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY hamming ASC, neighbor_id ASC) AS rk
  FROM pairs)
WHERE rk <= 5
"""

    # encoding_artifacts: same planted suffixes (chr(1) = the control
    # char), RE2 counts via len(regexp_extract_all)
    sql["encoding_artifacts"] = """
WITH damaged AS (
  SELECT doc_id,
    concat(text, CASE
      WHEN doc_id % 4 = 0 THEN ' cafÃ© â€œquoteâ€'
      WHEN doc_id % 4 = 1 THEN concat(' bad�', chr(1))
      WHEN doc_id % 4 = 2 THEN ' a​b﻿'
      ELSE '' END) AS text
  FROM documents),
c AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS n_replacement,
    CAST(len(regexp_extract_all(text,
         '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) AS BIGINT) AS n_control,
    CAST(len(regexp_extract_all(text, '[ÃÂâ][\\x{0080}-\\x{00ff}]'))
         AS BIGINT) AS n_mojibake,
    CAST(len(regexp_extract_all(text, '[\\x{200b}\\x{200c}\\x{200d}\\x{feff}]'))
         AS BIGINT) AS n_zero_width
  FROM damaged)
SELECT doc_id, n_chars, n_replacement, n_control, n_mojibake, n_zero_width,
  CASE WHEN n_chars > 0
       THEN CAST(floor((n_replacement + n_control + n_mojibake + n_zero_width)
                       * 10000 / n_chars) AS BIGINT)
       ELSE 0 END AS artifact_bp,
  CASE WHEN n_chars > 0
       THEN floor((n_replacement + n_control + n_mojibake + n_zero_width)
                  * 10000 / n_chars) > 0
       ELSE FALSE END AS is_damaged
FROM c
"""

    # vocab_divergence: add-one unigram KL/JS over the union vocabulary,
    # micro-nat lnu snaps, HUGEINT numerator sums — even vs odd docs
    sql["vocab_divergence"] = f"""
WITH ca AS (
  SELECT term AS word, CAST(COUNT(*) AS BIGINT) AS c_a
  FROM (SELECT unnest({_DOC_TOKENS_SQL}) AS term FROM documents
        WHERE doc_id % 2 = 0)
  WHERE term <> '' GROUP BY term),
cb AS (
  SELECT term AS word, CAST(COUNT(*) AS BIGINT) AS c_b
  FROM (SELECT unnest({_DOC_TOKENS_SQL}) AS term FROM documents
        WHERE doc_id % 2 = 1)
  WHERE term <> '' GROUP BY term),
joint AS (
  SELECT COALESCE(ca.word, cb.word) AS word,
         COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
  FROM ca FULL OUTER JOIN cb ON ca.word = cb.word),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
               CAST(COALESCE(SUM(c_a), 0) AS BIGINT) AS t_a,
               CAST(COALESCE(SUM(c_b), 0) AS BIGINT) AS t_b FROM joint),
terms AS (
  SELECT
    CAST(c_a + 1 AS HUGEINT) AS na, CAST(c_b + 1 AS HUGEINT) AS nb,
    CAST(floor(ln(CAST(c_a + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      - CAST(floor(ln(CAST(t_a + v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      - CAST(floor(ln(CAST(c_b + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      + CAST(floor(ln(CAST(t_b + v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      AS ln_ab,
    CAST(floor(ln(CAST(c_a + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      - CAST(floor(ln(CAST(t_a + v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      - CAST(floor(ln(CAST(CAST(c_a + 1 AS HUGEINT) * (t_b + v)
                           + CAST(c_b + 1 AS HUGEINT) * (t_a + v) AS DOUBLE))
                   * 1000000 + 0.5) AS BIGINT)
      + CAST(floor(ln(CAST(2 * CAST(t_a + v AS HUGEINT) * (t_b + v) AS DOUBLE))
                   * 1000000 + 0.5) AS BIGINT)
      AS ln_am,
    CAST(floor(ln(CAST(c_b + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      - CAST(floor(ln(CAST(t_b + v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      - CAST(floor(ln(CAST(CAST(c_a + 1 AS HUGEINT) * (t_b + v)
                           + CAST(c_b + 1 AS HUGEINT) * (t_a + v) AS DOUBLE))
                   * 1000000 + 0.5) AS BIGINT)
      + CAST(floor(ln(CAST(2 * CAST(t_a + v AS HUGEINT) * (t_b + v) AS DOUBLE))
                   * 1000000 + 0.5) AS BIGINT)
      AS ln_bm
  FROM joint CROSS JOIN tot),
sums AS (
  SELECT SUM(na * ln_ab) AS kl_ab_num,
         SUM(nb * -ln_ab) AS kl_ba_num,
         SUM(na * ln_am) AS js_a_num,
         SUM(nb * ln_bm) AS js_b_num
  FROM terms)
SELECT tot.v AS vocab_union, tot.t_a AS tokens_a, tot.t_b AS tokens_b,
  ROUND(CAST(kl_ab_num AS DOUBLE) / CAST(tot.t_a + tot.v AS DOUBLE)
        / 1000000.0, 6) AS kl_ab,
  ROUND(CAST(kl_ba_num AS DOUBLE) / CAST(tot.t_b + tot.v AS DOUBLE)
        / 1000000.0, 6) AS kl_ba,
  ROUND((CAST(js_a_num AS DOUBLE) / CAST(tot.t_a + tot.v AS DOUBLE)
         + CAST(js_b_num AS DOUBLE) / CAST(tot.t_b + tot.v AS DOUBLE))
        / 2.0 / 1000000.0, 6) AS js
FROM tot CROSS JOIN sums
"""

    # ngram_overlap: relational mirror of the row-local bigram-set
    # precision/recall/F1 (LEFT join from documents keeps zero-gram docs)
    sql["ngram_overlap"] = """
WITH pair AS (
  SELECT doc_id, text AS a,
         substring(text, 1, CAST(floor(length(text) / 2) AS INT)) AS b
  FROM documents),
ta AS (SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(a), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
       FROM pair),
tb AS (SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(b), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
       FROM pair),
sa AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS g
       FROM ta, UNNEST(range(1, len(t))) AS u(i)
       WHERE len(t) >= 2 AND t[1] <> ''),
sb AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS g
       FROM tb, UNNEST(range(1, len(t))) AS u(i)
       WHERE len(t) >= 2 AND t[1] <> ''),
ca AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_a FROM sa GROUP BY doc_id),
cb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_b FROM sb GROUP BY doc_id),
cc AS (SELECT sa.doc_id, CAST(COUNT(*) AS BIGINT) AS n_c
       FROM sa JOIN sb ON sa.doc_id = sb.doc_id AND sa.g = sb.g
       GROUP BY sa.doc_id)
SELECT d.doc_id,
  COALESCE(ca.n_a, 0) AS n_grams_a,
  COALESCE(cb.n_b, 0) AS n_grams_b,
  COALESCE(cc.n_c, 0) AS n_common,
  CASE WHEN COALESCE(ca.n_a, 0) > 0
       THEN CAST(floor(COALESCE(cc.n_c, 0) * 10000 / ca.n_a) AS BIGINT)
       ELSE 0 END AS precision_bp,
  CASE WHEN COALESCE(cb.n_b, 0) > 0
       THEN CAST(floor(COALESCE(cc.n_c, 0) * 10000 / cb.n_b) AS BIGINT)
       ELSE 0 END AS recall_bp,
  CASE WHEN COALESCE(ca.n_a, 0) + COALESCE(cb.n_b, 0) > 0
       THEN CAST(floor(2 * COALESCE(cc.n_c, 0) * 10000
                       / (COALESCE(ca.n_a, 0) + COALESCE(cb.n_b, 0))) AS BIGINT)
       ELSE 0 END AS f1_bp
FROM documents d
LEFT JOIN ca ON d.doc_id = ca.doc_id
LEFT JOIN cb ON d.doc_id = cb.doc_id
LEFT JOIN cc ON d.doc_id = cc.doc_id
"""

    # interpolated Kneser-Ney: D = 3/4 cleared to integers —
    # num = max(4*c_bg - 3, 0)*(T+V) + 3*n_fol*(n_pre+1), den = 4*c_prev*(T+V)
    # (unseen context: (n_pre+1)/(T+V)); nll = ln(den) - ln(num) in micro-units
    sql["lm_score_kn"] = f"""
WITH toks AS (
  SELECT doc_id, {_DOC_TOKENS_SQL} AS t
  FROM documents WHERE length({_DOC_NORM_SQL}) > 0),
train_bg AS (
  SELECT CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS prev, t[i] AS word
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  WHERE doc_id % 2 = 0),
bigrams AS (SELECT prev, word, CAST(COUNT(*) AS BIGINT) AS c_bg
            FROM train_bg GROUP BY prev, word),
contexts AS (SELECT prev, CAST(SUM(c_bg) AS BIGINT) AS c_prev,
                    CAST(COUNT(*) AS BIGINT) AS n_fol
             FROM bigrams GROUP BY prev),
conts AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pre
          FROM bigrams GROUP BY word),
totals AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_types,
                  CAST(COUNT(DISTINCT word) AS BIGINT) AS v_size FROM bigrams),
score_bg AS (
  SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS prev, t[i] AS word
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  WHERE doc_id % 2 = 1),
s AS (
  SELECT sb.doc_id,
    CAST(floor((ln(CAST(CASE WHEN ctx.c_prev IS NOT NULL
                             THEN 4 * ctx.c_prev * (tt.t_types + tt.v_size)
                             ELSE tt.t_types + tt.v_size END AS DOUBLE))
                - ln(CAST(CASE WHEN ctx.c_prev IS NOT NULL
                               THEN greatest(4 * COALESCE(b.c_bg, 0) - 3, 0)
                                      * (tt.t_types + tt.v_size)
                                    + 3 * ctx.n_fol * (COALESCE(cn.n_pre, 0) + 1)
                               ELSE COALESCE(cn.n_pre, 0) + 1 END AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS nll_u
  FROM score_bg sb
  LEFT JOIN bigrams b USING (prev, word)
  LEFT JOIN contexts ctx USING (prev)
  LEFT JOIN conts cn USING (word)
  CROSS JOIN totals tt),
per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(nll_u) AS BIGINT) AS su
        FROM s GROUP BY doc_id)
SELECT doc_id, n_tokens,
  floor(CAST(su AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
        * 1000000 + 0.5) / 1000000.0 AS nll
FROM per
"""

    # Hamming near-pair miner: same planted signatures (family base XOR
    # md5-positioned flips), then BRUTE-FORCE all pairs at bit_count(xor)
    # <= 10 — verifying the Spark side's pigeonhole block join finds
    # exactly the full distance-ball (recall 1.0, no false positives)
    _HNP_HASH = """
  SELECT doc_id,
    xor(xor(xor(
      CAST(concat('0x', substring(md5(CAST(doc_id // 5 AS VARCHAR)), 1, 15))
           AS BIGINT),
      CASE WHEN doc_id % 4 >= 1
           THEN CAST(1 AS BIGINT) << CAST(
             CAST(concat('0x', substring(md5(concat('b0|', CAST(doc_id AS VARCHAR))), 1, 15))
                  AS BIGINT) % 60 AS INT)
           ELSE 0 END),
      CASE WHEN doc_id % 4 >= 2
           THEN CAST(1 AS BIGINT) << CAST(
             CAST(concat('0x', substring(md5(concat('b1|', CAST(doc_id AS VARCHAR))), 1, 15))
                  AS BIGINT) % 60 AS INT)
           ELSE 0 END),
      CASE WHEN doc_id % 4 >= 3
           THEN CAST(1 AS BIGINT) << CAST(
             CAST(concat('0x', substring(md5(concat('b2|', CAST(doc_id AS VARCHAR))), 1, 15))
                  AS BIGINT) % 60 AS INT)
           ELSE 0 END) AS h
  FROM documents"""
    sql["hamming_near_pairs"] = f"""
WITH hs AS ({_HNP_HASH})
SELECT a.doc_id AS media_a, b.doc_id AS media_b,
       CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
FROM hs a JOIN hs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h, b.h)) <= 10
"""

    # KN order-3: same split and integer-clearing discipline as
    # lm_score_kn, one backoff level deeper (raw trigram counts on top,
    # continuation TYPE counts at orders 2/1); HUGEINT keeps the
    # three-factor products exact at any corpus scale
    sql["lm_score_kn3"] = f"""
WITH toks AS (
  SELECT doc_id, {_DOC_TOKENS_SQL} AS t
  FROM documents WHERE length({_DOC_NORM_SQL}) > 0),
train_tg AS (
  SELECT CASE WHEN i <= 2 THEN '<s>' ELSE t[i-2] END AS u,
         CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS v,
         t[i] AS w
  FROM toks, UNNEST(range(1, len(t) + 1)) AS x(i)
  WHERE doc_id % 2 = 0),
trigrams AS (SELECT u, v, w, CAST(COUNT(*) AS BIGINT) AS c_tg
             FROM train_tg GROUP BY u, v, w),
tctx AS (SELECT u, v, CAST(SUM(c_tg) AS BIGINT) AS c_ctx,
                CAST(COUNT(*) AS BIGINT) AS n_fol
         FROM trigrams GROUP BY u, v),
mid AS (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS m_vw
        FROM trigrams GROUP BY v, w),
mctx AS (SELECT v, CAST(SUM(m_vw) AS BIGINT) AS m_v,
                CAST(COUNT(*) AS BIGINT) AS nf2
         FROM mid GROUP BY v),
conts AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_pre FROM mid GROUP BY w),
totals AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_types,
                  CAST(COUNT(DISTINCT w) AS BIGINT) AS v_size FROM mid),
score_tg AS (
  SELECT doc_id,
         CASE WHEN i <= 2 THEN '<s>' ELSE t[i-2] END AS u,
         CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS v,
         t[i] AS w
  FROM toks, UNNEST(range(1, len(t) + 1)) AS x(i)
  WHERE doc_id % 2 = 1),
j AS (
  SELECT st.doc_id, tg.c_tg, tc.c_ctx, tc.n_fol, md.m_vw, mc.m_v, mc.nf2,
         COALESCE(cn.n_pre, 0) + 1 AS np1,
         tt.t_types + tt.v_size AS tv
  FROM score_tg st
  LEFT JOIN trigrams tg USING (u, v, w)
  LEFT JOIN tctx tc USING (u, v)
  LEFT JOIN mid md USING (v, w)
  LEFT JOIN mctx mc USING (v)
  LEFT JOIN conts cn USING (w)
  CROSS JOIN totals tt),
p2 AS (
  SELECT doc_id, c_tg, c_ctx, n_fol,
    CASE WHEN m_v IS NOT NULL
         THEN CAST(greatest(4 * COALESCE(m_vw, 0) - 3, 0) AS HUGEINT) * tv
              + CAST(3 * nf2 AS HUGEINT) * np1
         ELSE CAST(np1 AS HUGEINT) END AS pc2n,
    CASE WHEN m_v IS NOT NULL THEN CAST(4 * m_v AS HUGEINT) * tv
         ELSE CAST(tv AS HUGEINT) END AS pc2d
  FROM j),
s AS (
  SELECT doc_id,
    CAST(floor((ln(CAST(CASE WHEN c_ctx IS NOT NULL
                             THEN CAST(4 * c_ctx AS HUGEINT) * pc2d
                             ELSE pc2d END AS DOUBLE))
                - ln(CAST(CASE WHEN c_ctx IS NOT NULL
                               THEN CAST(greatest(4 * COALESCE(c_tg, 0) - 3, 0)
                                         AS HUGEINT) * pc2d
                                    + CAST(3 * n_fol AS HUGEINT) * pc2n
                               ELSE pc2n END AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS nll_u
  FROM p2),
per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(nll_u) AS BIGINT) AS su
        FROM s GROUP BY doc_id)
SELECT doc_id, n_tokens,
  floor(CAST(su AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
        * 1000000 + 0.5) / 1000000.0 AS nll
FROM per
"""

    # prefix_jaccard: the oracle needs no prefix filter — it verifies the
    # SEMANTICS (exact set Jaccard >= t over distinct 3-gram shingles);
    # the Spark side's candidate pruning is output-invariant by the
    # All-Pairs pigeonhole, pinned by the pytest differential vs the
    # inverted-index operator
    sql["prefix_jaccard"] = f"""
WITH docs_aug AS ({_DOCS_NEAR_DUPS_SQL}),
toks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM docs_aug),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
  floor(n_common / (sa.n_shingles + sb.n_shingles - n_common) * 10000 + 0.5)
    / 10000.0 AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE floor(n_common / (sa.n_shingles + sb.n_shingles - n_common) * 10000 + 0.5)
    / 10000.0 >= 0.5
"""

    # linear classifier inference: feature_hashing's exact bucket/sign
    # recipe dotted with the md5-derived 1024-bucket weight table; LEFT
    # join from documents keeps token-free docs at score = bias (0)
    sql["quality_classifier"] = f"""
WITH w AS (
  SELECT b AS bucket,
         (CAST(concat('0x', substring(md5(CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)
            % 2001) - 1000 AS weight_micro
  FROM generate_series(0, 1023) AS t(b)),
toks AS (SELECT doc_id, unnest({_DOC_TOKENS_SQL}) AS term FROM documents),
h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(term), 1, 15)) AS BIGINT) AS h
  FROM toks WHERE term <> ''),
c AS (
  SELECT s.doc_id,
         (CASE WHEN (s.h & 576460752303423488) <> 0 THEN -1 ELSE 1 END)
           * w.weight_micro AS contrib
  FROM h s LEFT JOIN w ON (s.h % 1024) = w.bucket)
SELECT d.doc_id,
       CAST(COALESCE(SUM(contrib), 0) AS BIGINT) AS score_micro,
       COALESCE(SUM(contrib), 0) >= 0 AS label
FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
GROUP BY d.doc_id
"""

    # zipf_stats: micro-unit ln sums in HUGEINT (exact), one IEEE division
    sql["zipf_corpus_stats"] = f"""
WITH toks AS (SELECT unnest({_DOC_TOKENS_SQL}) AS term FROM documents),
c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks WHERE term <> '' GROUP BY term),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_tokens FROM c),
top AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rk FROM c
        QUALIFY rk <= 200),
r AS (SELECT CAST(FLOOR(LN(CAST(rk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(LN(CAST(cnt AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
      FROM top),
ols AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(COALESCE(SUM(x), 0) AS HUGEINT) AS sx,
               CAST(COALESCE(SUM(y), 0) AS HUGEINT) AS sy,
               COALESCE(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)), 0) AS sxy,
               COALESCE(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)), 0) AS sxx
        FROM r),
fit AS (
  SELECT CASE WHEN (n * sxx - sx * sx) > 0
              THEN CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) END AS s_raw,
         n, sx, sy
  FROM ols)
SELECT tot.n_terms, tot.n_tokens,
  CASE WHEN tot.n_tokens > 0
       THEN CAST((tot.n_terms * 10000) // tot.n_tokens AS BIGINT)
       ELSE 0 END AS ttr_bp,
  ROUND(s_raw, 6) AS zipf_slope,
  ROUND((CAST(sy AS DOUBLE) - s_raw * CAST(sx AS DOUBLE))
        / CAST(n AS DOUBLE) / 1e6, 6) AS zipf_intercept
FROM tot CROSS JOIN fit
"""

    # epoch_shards: md5('1|' || id) permutation, 8 shards, 0-based pos
    sql["epoch_shard_plan"] = """
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(concat('1|', CAST(doc_id AS VARCHAR))), 1, 15))
              AS BIGINT) AS h
  FROM documents)
SELECT doc_id, h % 8 AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1
            AS BIGINT) AS pos
FROM h
"""

    # mirrors minhash_signatures: hash `seed` = 32-bit slice j of
    # md5(g || shingle) with (g, j) = divmod(seed, 4)
    minhash_cols = ",\n  ".join(
        "MIN(CAST(concat('0x', substring(md5(concat('"
        + str(seed // 4)
        + "|', shingle)), "
        + str(8 * (seed % 4) + 1)
        + ", 8)) AS BIGINT)) "
        f"AS h{seed}"
        for seed in range(8)
    )
    sql["minhash_signatures"] = f"""
WITH toks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3)
SELECT doc_id,
  {minhash_cols}
FROM sh GROUP BY doc_id
"""

    band_select = []
    for b in range(2 * 0 + 4):
        cols = " || '_' || ".join(f"CAST(h{b * 2 + i} AS VARCHAR)" for i in range(2))
        band_select.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sig")
    bands_union = "\nUNION ALL\n".join(band_select)
    sql["minhash_lsh_pairs"] = f"""
WITH docs_aug AS ({_DOCS_NEAR_DUPS_SQL}),
toks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM docs_aug),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
sig AS (
  SELECT doc_id,
  {minhash_cols}
  FROM sh GROUP BY doc_id),
banded AS ({bands_union})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""

    sql["ann_cosine_topk"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
s AS (
  SELECT query_id, e.vec_id AS neighbor_id,
    ROUND(list_dot_product(qv, e.v)
          / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine_sim
  FROM q, e WHERE query_id <> e.vec_id),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
  FROM s)
SELECT query_id, neighbor_id, cosine_sim FROM r WHERE rk <= 5
"""

    # k-NN classification: top-10 cosine neighbors → label majority vote
    sql["knn_classify"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 25),
s AS (
  SELECT query_id, e.vec_id AS neighbor_id, e.label,
    ROUND(list_dot_product(qv, e.v)
          / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine_sim
  FROM q, e WHERE query_id <> e.vec_id),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
  FROM s),
v AS (
  SELECT query_id, label, count(*) AS n_votes,
    ROUND(avg(cosine_sim), 4) AS mean_sim
  FROM r WHERE rk <= 10 GROUP BY query_id, label),
p AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY n_votes DESC, label ASC) AS rn
  FROM v)
SELECT query_id, CAST(label AS BIGINT) AS pred_label,
  CAST(n_votes AS BIGINT) AS n_votes, mean_sim
FROM p WHERE rn = 1
"""

    # IVF: deterministic seed centroids (first 8 vec_ids), argmax-cosine
    # cell assignment (ties → lowest cell), search restricted to the
    # query's cell — mirrors datapipe.similarity.ivf_topk exactly.
    sql["ann_ivf_topk"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell_id, v AS cv
  FROM e QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 8),
assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
      ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY ROUND(list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) DESC,
                 c.cell_id ASC) AS rk
    FROM e CROSS JOIN cents c)
  WHERE rk = 1),
q AS (
  SELECT e.vec_id AS query_id, e.v AS qv, a.cell_id
  FROM e JOIN assign a ON e.vec_id = a.vec_id WHERE e.vec_id < 5),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    ROUND(list_dot_product(q.qv, e.v)
          / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine_sim
  FROM q
  JOIN assign a ON a.cell_id = q.cell_id
  JOIN e ON e.vec_id = a.vec_id
  WHERE q.query_id <> e.vec_id),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
  FROM s)
SELECT query_id, neighbor_id, cosine_sim FROM r WHERE rk <= 5
"""

    # Persisted IVF index (ivf_topk_indexed): same seed quantizer and
    # corpus-side single-cell assignment as ann_ivf_topk, but the query
    # side multi-probes its 2 nearest cells (rk <= 2). Each corpus vector
    # lives in exactly one cell, so multi-probe needs no candidate dedup.
    sql["ann_ivf_indexed"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell_id, v AS cv
  FROM e QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 8),
scored AS (
  SELECT e.vec_id, c.cell_id,
    ROW_NUMBER() OVER (
      PARTITION BY e.vec_id
      ORDER BY ROUND(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) DESC,
               c.cell_id ASC) AS rk
  FROM e CROSS JOIN cents c),
assign AS (SELECT vec_id, cell_id FROM scored WHERE rk = 1),
q AS (
  SELECT e.vec_id AS query_id, e.v AS qv, s.cell_id
  FROM e JOIN scored s ON e.vec_id = s.vec_id
  WHERE e.vec_id < 5 AND s.rk <= 2),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    ROUND(list_dot_product(q.qv, e.v)
          / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine_sim
  FROM q
  JOIN assign a ON a.cell_id = q.cell_id
  JOIN e ON e.vec_id = a.vec_id
  WHERE q.query_id <> e.vec_id),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
  FROM s)
SELECT query_id, neighbor_id, cosine_sim FROM r WHERE rk <= 5
"""

    # incremental IVF append: identical to ann_ivf_indexed EXCEPT the
    # seed centroids come from the base (vec_id % 5 <> 0) corpus only —
    # frozen-centroid append ≡ build over the union, which is the claim
    sql["ivf_append_topk"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell_id, v AS cv
  FROM e WHERE vec_id % 5 <> 0
  QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 8),
scored AS (
  SELECT e.vec_id, c.cell_id,
    ROW_NUMBER() OVER (
      PARTITION BY e.vec_id
      ORDER BY ROUND(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) DESC,
               c.cell_id ASC) AS rk
  FROM e CROSS JOIN cents c),
assign AS (SELECT vec_id, cell_id FROM scored WHERE rk = 1),
q AS (
  SELECT e.vec_id AS query_id, e.v AS qv, s.cell_id
  FROM e JOIN scored s ON e.vec_id = s.vec_id
  WHERE e.vec_id < 5 AND s.rk <= 2),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    ROUND(list_dot_product(q.qv, e.v)
          / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine_sim
  FROM q
  JOIN assign a ON a.cell_id = q.cell_id
  JOIN e ON e.vec_id = a.vec_id
  WHERE q.query_id <> e.vec_id),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
  FROM s)
SELECT query_id, neighbor_id, cosine_sim FROM r WHERE rk <= 5
"""

    # IVF recall@5 vs exact brute force: queries vec_id < 10, 2 probes.
    # Mirrors datapipe.similarity.ivf_recall_at_k (seed quantizer).
    sql["ann_ivf_recall"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell_id, v AS cv
  FROM e QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 8),
scored AS (
  SELECT e.vec_id, c.cell_id,
    ROW_NUMBER() OVER (
      PARTITION BY e.vec_id
      ORDER BY ROUND(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) DESC,
               c.cell_id ASC) AS rk
  FROM e CROSS JOIN cents c),
assign AS (SELECT vec_id, cell_id FROM scored WHERE rk = 1),
q AS (
  SELECT e.vec_id AS query_id, e.v AS qv, s.cell_id
  FROM e JOIN scored s ON e.vec_id = s.vec_id
  WHERE e.vec_id < 10 AND s.rk <= 2),
ivf_s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    ROUND(list_dot_product(q.qv, e.v)
          / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine_sim
  FROM q JOIN assign a ON a.cell_id = q.cell_id JOIN e ON e.vec_id = a.vec_id
  WHERE q.query_id <> e.vec_id),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
    FROM ivf_s) WHERE rk <= 5),
ex_s AS (
  SELECT qq.query_id, e.vec_id AS neighbor_id,
    ROUND(list_dot_product(qq.qv, e.v)
          / (sqrt(list_dot_product(qq.qv, qq.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine_sim
  FROM (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10) qq, e
  WHERE qq.query_id <> e.vec_id),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
    FROM ex_s) WHERE rk <= 5),
hits AS (SELECT query_id, COUNT(*) AS n_hits
         FROM exact JOIN ivf USING (query_id, neighbor_id) GROUP BY query_id),
base AS (SELECT query_id, COUNT(*) AS n FROM exact GROUP BY query_id)
SELECT base.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
  FLOOR(COALESCE(n_hits, 0) / n * 10000 + 0.5) / 10000 AS recall
FROM base LEFT JOIN hits USING (query_id)
"""

    # IVF cell balance: seed-quantizer assignment → per-cell count + frac
    sql["ivf_cell_stats"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell_id, v AS cv
  FROM e QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 8),
assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
      ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY ROUND(list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) DESC,
                 c.cell_id ASC) AS rk
    FROM e CROSS JOIN cents c)
  WHERE rk = 1),
c AS (SELECT cell_id, COUNT(*) AS n_vectors FROM assign GROUP BY cell_id)
SELECT cell_id, CAST(n_vectors AS BIGINT) AS n_vectors,
  FLOOR(n_vectors / (SUM(n_vectors) OVER ()) * 10000 + 0.5) / 10000 AS frac
FROM c
"""

    # Rolling-window substring dedup: 40-char windows, stride 20, same
    # dup rule and basis-point fraction as paragraph_dedup
    sql["substring_dedup"] = f"""
WITH aug AS ({_DOCS_NEAR_DUPS_SQL}),
d AS (SELECT doc_id, text FROM aug WHERE length(text) >= 40),
w AS (SELECT doc_id, md5(substring(text, CAST(i * 20 + 1 AS INT), 40)) AS wfp
      FROM d, UNNEST(range(0, ((length(text) - 40) // 20) + 1)) AS u(i)),
occ AS (SELECT wfp, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
        FROM w GROUP BY wfp)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_windows,
  CAST(SUM(CASE WHEN n_docs > 1 OR n_occ > n_docs THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_windows,
  FLOOR(SUM(CASE WHEN n_docs > 1 OR n_occ > n_docs THEN 1 ELSE 0 END)
    / COUNT(*) * 10000 + 0.5) / 10000 AS dup_win_frac
FROM w JOIN occ USING (wfp)
GROUP BY doc_id
"""

    # substring strip action: same window/occurrence flag as
    # substring_dedup, gaps-and-islands span merge (two window functions),
    # segment splice via string_agg ORDER BY — all integer char arithmetic
    sql["substring_strip"] = f"""
WITH aug AS ({_DOCS_NEAR_DUPS_SQL}),
w AS (SELECT doc_id, CAST(i * 20 AS BIGINT) AS s, CAST(i * 20 + 40 AS BIGINT) AS e,
             md5(substring(text, CAST(i * 20 + 1 AS INT), 40)) AS wfp
      FROM aug, UNNEST(range(0, ((length(text) - 40) // 20) + 1)) AS u(i)
      WHERE length(text) >= 40),
occ AS (SELECT wfp FROM w GROUP BY wfp HAVING COUNT(*) >= 2),
fl AS (SELECT doc_id, s, e FROM w JOIN occ USING (wfp)),
isl AS (
  SELECT doc_id, s, e,
    SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (SELECT doc_id, s, e,
          MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM fl)),
spans AS (SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
          FROM isl GROUP BY doc_id, island),
segs AS (SELECT doc_id,
           COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS a,
           s AS b
         FROM spans),
hd AS (SELECT g.doc_id,
         STRING_AGG(substring(d.text, CAST(g.a + 1 AS INT), CAST(g.b - g.a AS INT)),
                    '' ORDER BY g.a) AS head
       FROM segs g JOIN aug d USING (doc_id) GROUP BY g.doc_id),
per AS (SELECT doc_id, MAX(e) AS tail_start, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e - s) AS BIGINT) AS n_chars_removed
        FROM spans GROUP BY doc_id)
SELECT d.doc_id,
  CASE WHEN per.n_spans IS NULL THEN d.text
       ELSE COALESCE(hd.head, '')
            || substring(d.text, CAST(per.tail_start + 1 AS INT))
  END AS text_clean,
  COALESCE(per.n_spans, 0) AS n_spans,
  COALESCE(per.n_chars_removed, 0) AS n_chars_removed
FROM aug d LEFT JOIN per USING (doc_id) LEFT JOIN hd USING (doc_id)
"""

    # negative sampling: identical cumulative-interval probe; the 3/4
    # power as two correctly-rounded sqrts (libm pow is not portable)
    sql["negative_samples"] = """
WITH pos AS (
  SELECT user_id AS u, TRY_CAST(props->>'k' AS BIGINT) AS item
  FROM events
  WHERE TRY_CAST(props->>'k' AS BIGINT) IS NOT NULL
    AND user_id IS NOT NULL AND user_id < 50),
items AS (
  SELECT item,
    CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE))
               * sqrt(sqrt(CAST(COUNT(*) AS DOUBLE))) * 1000000 + 0.5)
         AS BIGINT) AS w
  FROM pos GROUP BY item),
iv AS (
  SELECT item AS neg_item,
    COALESCE(SUM(w) OVER (ORDER BY item ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
    SUM(w) OVER (ORDER BY item ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
  FROM items),
tot AS (SELECT MAX(hi) AS t FROM iv),
draws AS (
  SELECT u, item, j AS neg_rank,
    CAST(concat('0x', substring(md5(concat(CAST(u AS VARCHAR), ':',
         CAST(item AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT)
      % (SELECT t FROM tot) AS target
  FROM pos, UNNEST([1, 2]) AS s(j))
SELECT d.u AS user_id, d.item, CAST(d.neg_rank AS INT) AS neg_rank, iv.neg_item
FROM draws d JOIN iv ON d.target >= iv.lo AND d.target < iv.hi
"""

    # Dirichlet QL: integer num/den per (candidate, term) incl. tf=0
    # smoothing rows, micro-nat snap, per-doc sum, top 15
    sql["dirichlet_ql"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DOC_TOKENS_SQL}) AS term FROM documents),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
coll AS (SELECT CAST(COUNT(*) AS HUGEINT) AS c_total FROM toks),
q AS (SELECT UNNEST(['join', 'spark', 'window']) AS term),
cf AS (SELECT term, CAST(COUNT(*) AS HUGEINT) AS cf FROM toks
       WHERE term IN (SELECT term FROM q) GROUP BY term),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
       WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term),
cand AS (SELECT DISTINCT doc_id FROM tf),
pairs AS (
  SELECT c.doc_id, COALESCE(t.tf, 0) AS tf,
    CAST(COALESCE(t.tf, 0) AS HUGEINT) * coll.c_total + 2000 * cf.cf AS num,
    (CAST(dl.dl AS HUGEINT) + 2000) * coll.c_total AS den
  FROM cand c CROSS JOIN cf
  LEFT JOIN tf t ON t.doc_id = c.doc_id AND t.term = cf.term
  JOIN dl ON dl.doc_id = c.doc_id
  CROSS JOIN coll),
scored AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_terms,
    CAST(SUM(CAST(FLOOR((ln(CAST(num AS DOUBLE)) - ln(CAST(den AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS u6
  FROM pairs GROUP BY doc_id)
SELECT doc_id, n_matched_terms, CAST(u6 AS DOUBLE) / 1000000.0 AS score
FROM scored
ORDER BY score DESC, doc_id ASC LIMIT 15
"""

    # HITS: the 2-iteration loop unrolled, sum-renormalization as
    # truncating HUGEINT division against each half-step's 1-row total
    # every step CTE is MATERIALIZED: {raw} is referenced twice (join +
    # scalar total) and each step references its predecessor — without
    # materialization DuckDB re-inlines the whole upstream per reference
    # (the r8 k-core 80 GB spill lesson; reproduced here at sf10s)
    _hits_step = """
{raw} AS MATERIALIZED (
  SELECT e.{to_col} AS node, SUM(s.{score} ) AS s
  FROM edges e JOIN {prev} s ON s.node = e.{from_col}
  GROUP BY e.{to_col}),
{out} AS MATERIALIZED (
  SELECT n.node,
    CAST(COALESCE(
      (CAST(r.s AS HUGEINT)
       * (SELECT COUNT(*) FROM nodes) * 1000000000000)
      // (SELECT SUM(s) FROM {raw}), 0) AS BIGINT) AS {new_score}
  FROM nodes n LEFT JOIN {raw} r ON r.node = n.node)"""
    hits_iters = []
    prev_h = "h0"
    for it in (1, 2):
        hits_iters.append(_hits_step.format(
            raw=f"ar{it}", out=f"a{it}", prev=prev_h, score="hub_u",
            new_score="auth_u", from_col="src", to_col="dst"))
        hits_iters.append(_hits_step.format(
            raw=f"hr{it}", out=f"h{it}", prev=f"a{it}", score="auth_u",
            new_score="hub_u", from_col="dst", to_col="src"))
        prev_h = f"h{it}"
    sql["hits_items"] = (
        """
WITH ui AS (
  SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
                  'i:' || CAST(TRY_CAST(props->>'k' AS BIGINT) AS VARCHAR) AS dst
  FROM events
  WHERE user_id IS NOT NULL
    AND TRY_CAST(props->>'k' AS BIGINT) IS NOT NULL),
edges AS MATERIALIZED (SELECT src, dst FROM ui),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
h0 AS MATERIALIZED (SELECT node, CAST(1000000000000 AS BIGINT) AS hub_u FROM nodes),
"""
        + ",\n".join(hits_iters)
        + """
SELECT n.node, h2.hub_u, a2.auth_u
FROM nodes n JOIN h2 ON h2.node = n.node JOIN a2 ON a2.node = n.node
ORDER BY a2.auth_u DESC, n.node ASC LIMIT 20
"""
    )

    # blocklist: brute-force slice equality at every position — a
    # deliberately DIFFERENT algorithm from the engine's rarest-token
    # anchor election, same result
    phrase_vals = ", ".join(
        "(" + str(i) + ", [" + ", ".join(f"'{t}'" for t in p.split()) + "])"
        for i, p in enumerate(_BLOCKLIST_PHRASES)
    )
    sql["blocklist_hits"] = f"""
WITH toks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM documents),
ph AS (SELECT * FROM (VALUES {phrase_vals}) v(pid, ptoks)),
pos AS (SELECT doc_id, t, i FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
ver AS (
  SELECT doc_id, pid FROM pos, ph
  WHERE t[i : i + len(ptoks) - 1] = ptoks)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_phrases
FROM ver GROUP BY doc_id
"""

    # ExactSubstr strip: position-exploded 50-grams, same islands/splice
    # tail as substring_strip (the flag rule is the only difference)
    sql["substring_strip_exact"] = f"""
WITH aug AS ({_DOCS_NEAR_DUPS_SQL}),
w AS (SELECT doc_id, CAST(i AS BIGINT) AS s, CAST(i + 50 AS BIGINT) AS e,
             md5(substring(text, CAST(i + 1 AS INT), 50)) AS wfp
      FROM aug, UNNEST(range(0, length(text) - 50 + 1)) AS u(i)
      WHERE length(text) >= 50),
occ AS (SELECT wfp FROM w GROUP BY wfp HAVING COUNT(*) >= 2),
fl AS (SELECT doc_id, s, e FROM w JOIN occ USING (wfp)),
isl AS (
  SELECT doc_id, s, e,
    SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (SELECT doc_id, s, e,
          MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM fl)),
spans AS (SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
          FROM isl GROUP BY doc_id, island),
segs AS (SELECT doc_id,
           COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS a,
           s AS b
         FROM spans),
hd AS (SELECT g.doc_id,
         STRING_AGG(substring(d.text, CAST(g.a + 1 AS INT), CAST(g.b - g.a AS INT)),
                    '' ORDER BY g.a) AS head
       FROM segs g JOIN aug d USING (doc_id) GROUP BY g.doc_id),
per AS (SELECT doc_id, MAX(e) AS tail_start, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e - s) AS BIGINT) AS n_chars_removed
        FROM spans GROUP BY doc_id)
SELECT d.doc_id,
  CASE WHEN per.n_spans IS NULL THEN d.text
       ELSE COALESCE(hd.head, '')
            || substring(d.text, CAST(per.tail_start + 1 AS INT))
  END AS text_clean,
  COALESCE(per.n_spans, 0) AS n_spans,
  COALESCE(per.n_chars_removed, 0) AS n_chars_removed
FROM aug d LEFT JOIN per USING (doc_id) LEFT JOIN hd USING (doc_id)
"""

    # MinHash candidates + signature-agreement Jaccard estimate ≥ 0.3
    agree_terms = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(8)
    )
    sql["minhash_jaccard"] = f"""
WITH docs_aug AS ({_DOCS_NEAR_DUPS_SQL}),
toks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM docs_aug),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
sig AS (
  SELECT doc_id,
  {minhash_cols}
  FROM sh GROUP BY doc_id),
banded AS ({bands_union}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
j AS (
  SELECT doc_a, doc_b,
    FLOOR(({agree_terms}) / 8 * 10000 + 0.5) / 10000 AS jaccard_est
  FROM pairs
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, jaccard_est FROM j WHERE jaccard_est >= 0.3
"""

    sql["url_normalize"] = f"""
WITH raw AS ({_URLS_SQL}),
{_URL_NORM_SQL}
SELECT doc_id, url, norm_url, domain FROM with_domain
"""

    sql["domain_stats"] = f"""
WITH raw AS ({_URLS_SQL}),
{_URL_NORM_SQL}
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
  CAST(COUNT(DISTINCT norm_url) AS BIGINT) AS n_unique_urls
FROM with_domain GROUP BY domain
"""

    sql["token_histogram"] = """
WITH t AS (SELECT CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS tok
           FROM documents)
SELECT (tok // 50) * 50 AS bucket_start,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(tok) AS BIGINT) AS total_tokens
FROM t GROUP BY bucket_start
"""

    sql["corpus_mix"] = """
WITH t AS (SELECT source, lang,
             CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS tok
           FROM documents),
a AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(tok) AS BIGINT) AS total_tokens
      FROM t GROUP BY source, lang)
SELECT source, lang, n_docs, total_tokens,
  FLOOR(total_tokens / (SUM(total_tokens) OVER ()) * 10000 + 0.5) / 10000 AS token_share
FROM a
"""

    # per-dimension stats: population stddev via the explicit
    # sqrt(E[x^2] - E[x]^2) formula so both engines share the expression
    sql["embedding_dim_stats"] = """
WITH d AS (
  SELECT u.i AS dim, CAST(embedding[u.i + 1] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)),
a AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         AVG(x) AS m, AVG(x * x) AS msq
  FROM d GROUP BY dim)
SELECT dim, n, ROUND(m, 6) AS mean,
  ROUND(sqrt(GREATEST(msq - m * m, 0.0)), 6) AS stddev
FROM a
"""

    sql["group_vocab_topk"] = f"""
WITH words AS (
  SELECT lang AS "group", unnest({_DOC_TOKENS_SQL}) AS word FROM documents
  WHERE length({_DOC_NORM_SQL}) > 0),
c AS (SELECT "group", word, COUNT(*) AS n_occurrences
      FROM words GROUP BY "group", word),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY "group"
        ORDER BY n_occurrences DESC, word ASC) AS rank FROM c)
SELECT "group", word, CAST(n_occurrences AS BIGINT) AS n_occurrences,
  CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 10
"""

    # SimHash: per-token md5-derived 32-bit hash, ±1 votes per bit,
    # signature bit i set iff the vote sum is positive (16-bit here).
    simhash_bits = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {2 ** i} ELSE 0 END)"
        for i in range(16)
    )
    sql["simhash_groups"] = f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_DOC_TOKENS_SQL}) AS tok
  FROM documents WHERE length({_DOC_NORM_SQL}) > 0),
h AS (
  SELECT doc_id, CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT) AS h
  FROM toks),
sig AS (
  SELECT doc_id, CAST({simhash_bits} AS BIGINT) AS simhash
  FROM h GROUP BY doc_id)
SELECT simhash, CAST(COUNT(*) AS BIGINT) AS n_dups, MIN(doc_id) AS canonical_doc_id
FROM sig GROUP BY simhash HAVING COUNT(*) >= 2
"""

    # SimHash Hamming-≤3 pairs: 32-bit signature, k+1 = 4 pigeonhole blocks
    # of 8 bits; candidates from (block, value) buckets, verified with
    # bit_count(xor) — mirrors datapipe.dedup.simhash_near_pairs exactly.
    simhash_bits32 = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {2 ** i} ELSE 0 END)"
        for i in range(32)
    )
    block_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS block, (simhash >> {8 * b}) & 255 AS val FROM sig"
        for b in range(4)
    )
    sql["simhash_near_pairs"] = f"""
WITH docs_aug AS ({_DOCS_NEAR_DUPS_SQL}),
toks AS (
  SELECT doc_id, UNNEST({_DOC_TOKENS_SQL}) AS tok
  FROM docs_aug WHERE length({_DOC_NORM_SQL}) > 0),
h AS (
  SELECT doc_id, CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT) AS h
  FROM toks),
sig AS (
  SELECT doc_id, CAST({simhash_bits32} AS BIGINT) AS simhash
  FROM h GROUP BY doc_id),
blocks AS ({block_union})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM blocks a
JOIN blocks b ON a.block = b.block AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

    sql["embedding_label_stats"] = """
SELECT CAST(label AS BIGINT) AS label,
  CAST(COUNT(*) AS BIGINT) AS n_vectors,
  ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS mean_dim0
FROM embeddings GROUP BY label
"""

    # generate_series(0, dur-1, 1000) ≡ Spark sequence(0, dur-1, 1000):
    # both are stop-inclusive over the same integral grid
    sql["multimodal_frame_plan"] = """
SELECT doc_id AS media_id,
  CAST(UNNEST(generate_series(0, (doc_id % 10) * 1500 + 499, 1000)) AS BIGINT) AS sample_at_ms
FROM documents WHERE doc_id % 2 = 0
"""

    # the audio fields are NULL for every row on this text corpus by
    # construction: audio_metadata's magic-byte gate (ID3 prefix or
    # 0xFFEx sync) admits no UTF-8 text payload, so the left join adds
    # typed nulls — the oracle mirrors the types; the MPEG header
    # parser itself is fixture-verified (tests/test_mp3.py)
    sql["multimodal_payload_stats"] = """
SELECT doc_id AS media_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS payload_digest,
  CAST(NULL AS BIGINT) AS audio_duration_ms,
  CAST(NULL AS INTEGER) AS audio_bitrate_kbps,
  CAST(NULL AS BIGINT) AS video_duration_ms,
  CAST(NULL AS VARCHAR) AS video_codec
FROM documents
"""

    # multimodal_features runs the Arrow-batched mapInPandas slow path, but
    # the columns it RETURNS (sizes + digests; the feature array is
    # projected away — its decode cores are pixel/sample-exact pytest
    # territory) are plain SQL — so the Python-worker path itself gets
    # hash-checked against the oracle.
    sql["multimodal_features"] = """
SELECT doc_id AS media_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS payload_digest
FROM documents
"""

    # flagship cohort → feature vectors: the assembled vector's components
    # in VectorAssembler input order (predicate counts, then duration)
    sql["cohort_feature_vectors"] = f"""
WITH pred AS ({pred_scp}),
w AS (
  SELECT subject_id, timestamp, signup,
    CAST(SUM(signup) OVER win AS BIGINT) AS w_signup,
    CAST(SUM(click) OVER win AS BIGINT) AS w_click,
    CAST(SUM(purchase) OVER win AS BIGINT) AS w_purchase
  FROM pred
  WINDOW win AS (PARTITION BY subject_id ORDER BY timestamp
                 RANGE BETWEEN CURRENT ROW AND INTERVAL 72 HOURS FOLLOWING))
SELECT subject_id,
  timestamp AS trigger,
  w_purchase AS label,
  ROUND(CAST(w_signup AS DOUBLE), 4) AS f_signup,
  ROUND(CAST(w_click AS DOUBLE), 4) AS f_click,
  ROUND(CAST(w_purchase AS DOUBLE), 4) AS f_purchase,
  CAST(259200.0 AS DOUBLE) AS f_duration_s
FROM w WHERE signup >= 1 AND w_click >= 1
"""

    # exact TF-IDF: tf rows are unique per (doc, term), so a window count
    # over term IS the document frequency; idf = ln((N+1)/(df+1))
    sql["tfidf_features"] = f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_DOC_TOKENS_SQL}) AS term
  FROM documents WHERE length({_DOC_NORM_SQL}) > 0),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
SELECT doc_id, term, tf,
  ROUND(tf * ln((n.n + 1.0) / (COUNT(*) OVER (PARTITION BY term) + 1.0)), 6) AS tfidf
FROM tf, n
"""

    # typed JSON field profiling: DuckDB's ->> extraction cast to BIGINT
    # mirrors from_json("k BIGINT"); malformed/absent -> NULL in both
    sql["props_field_stats"] = """
WITH e AS (SELECT event_type, TRY_CAST(props->>'k' AS BIGINT) AS k FROM events)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  MIN(k) AS min_v, MAX(k) AS max_v, CAST(SUM(k) AS BIGINT) AS sum_v
FROM e GROUP BY event_type
"""

    sql["event_type_pivot"] = """
SELECT user_id,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY user_id
"""

    # class centroids: DECIMAL(28,12) component sums are exact in both
    # engines regardless of partial-sum order; per-dim double division +
    # floor(x*1e6+0.5). LONG format (scalar columns) so the driver's
    # pandas canonicalizer can hash every cell.
    sql["label_centroids"] = """
WITH d AS (
  SELECT label, UNNEST(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings)
SELECT label, CAST(dim AS INT) AS dim, CAST(COUNT(*) AS BIGINT) AS n_vectors,
  floor(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS value
FROM d GROUP BY label, dim
"""

    # quantile-band trim: bounds via exact interpolated percentiles under
    # the floor rule, then an inclusive band filter
    sql["doc_outlier_filter"] = """
WITH b AS (
  SELECT floor(quantile_cont(n_chars, 0.01) * 10000 + 0.5) / 10000.0 AS lo_bound,
         floor(quantile_cont(n_chars, 0.99) * 10000 + 0.5) / 10000.0 AS hi_bound
  FROM documents)
SELECT d.doc_id, d.n_chars, b.lo_bound, b.hi_bound
FROM documents d, b
WHERE CAST(d.n_chars AS DOUBLE) >= b.lo_bound
  AND CAST(d.n_chars AS DOUBLE) <= b.hi_bound
"""

    # target-mix sampling: recompute the binding size T = min(n_s/w_s)
    # and per-stratum thresholds floor(w*T/n*1e4 + 0.5) from the same
    # counts, same expression order as mix_sample, then the shared
    # portable bucket filter
    sql["corpus_mix_sample"] = f"""
WITH w AS (SELECT * FROM (VALUES ('en', 0.4), ('de', 0.2), ('fr', 0.2), ('zh', 0.2))
           t(lang, wt)),
n AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS ns FROM documents GROUP BY lang),
tt AS (SELECT MIN(ns / wt) AS t FROM n JOIN w USING (lang)),
thr AS (SELECT lang, CAST(floor(wt * tt.t / ns * 10000 + 0.5) AS BIGINT) AS threshold
        FROM n JOIN w USING (lang), tt),
b AS (SELECT doc_id, lang, {_BUCKET_SQL} AS sample_bucket FROM documents)
SELECT b.doc_id, b.lang, b.sample_bucket
FROM b JOIN thr USING (lang) WHERE b.sample_bucket < thr.threshold
"""

    # shuffle-key skew report: single rollup over per-key counts; mean,
    # skew ratio, and interpolated quantiles under the floor(x*1e4+0.5)
    # exact-rounding rule
    sql["key_skew_report"] = """
WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(SUM(n) AS BIGINT) AS n_rows,
  CAST(MAX(n) AS BIGINT) AS max_rows,
  floor(CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 10000 + 0.5) / 10000.0
    AS mean_rows,
  floor(quantile_cont(n, 0.5) * 10000 + 0.5) / 10000.0 AS p50_rows,
  floor(quantile_cont(n, 0.99) * 10000 + 0.5) / 10000.0 AS p99_rows,
  floor(CAST(MAX(n) AS DOUBLE)
        / (CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 10000 + 0.5)
    / 10000.0 AS skew_ratio
FROM c
"""

    sql["heavy_keys"] = """
WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows FROM events
           GROUP BY user_id),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM events)
SELECT user_id, n_rows,
  floor(CAST(n_rows AS DOUBLE) / tot.t * 10000 + 0.5) / 10000.0 AS row_frac
FROM c, tot ORDER BY n_rows DESC, user_id ASC LIMIT 10
"""

    # PQ encode: seed codebook = first-16 vectors sliced per subspace;
    # per-subspace squared distances as ordered 16-element sums (same
    # left-to-right IEEE order as Spark's sequential aggregate), argmin
    # with first-min/smallest-code tie-break
    _PQ_ENC = """
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, v AS w
       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
subs AS (SELECT * FROM (VALUES (0),(1),(2),(3)) s(j)),
d AS (
  SELECT e.vec_id, s.j, cb.code,
    list_sum(list_transform(generate_series(1,16),
      i -> (v[s.j*16+i] - w[s.j*16+i]) * (v[s.j*16+i] - w[s.j*16+i]))) AS dist
  FROM e, subs s, cb),
r AS (SELECT vec_id, j, code,
        ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist ASC, code ASC) AS rk
      FROM d),
enc AS (SELECT vec_id, j, code FROM r WHERE rk = 1)
"""

    sql["pq_codes"] = f"""
WITH {_PQ_ENC}
SELECT vec_id, CAST(j AS INT) AS subspace, CAST(code AS INT) AS code FROM enc
"""

    # PQ ADC top-k: per-(query, neighbor) distance is the j-ordered
    # sequential sum of per-subspace reconstruction distances (list(dj
    # ORDER BY j) -> list_sum mirrors Spark's j-ascending fold); rank on
    # the 6-dp-rounded value with id tie-break
    sql["pq_topk"] = f"""
WITH {_PQ_ENC},
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
sd AS (
  SELECT q.query_id, enc.vec_id AS neighbor_id, enc.j,
    list_sum(list_transform(generate_series(1,16),
      i -> (qv[enc.j*16+i] - cb.w[enc.j*16+i]) * (qv[enc.j*16+i] - cb.w[enc.j*16+i])))
      AS dj
  FROM q, enc JOIN cb ON cb.code = enc.code
  WHERE q.query_id <> enc.vec_id),
adc AS (
  SELECT query_id, neighbor_id,
    ROUND(list_sum(list(dj ORDER BY j)), 6) AS pq_dist
  FROM sd GROUP BY query_id, neighbor_id),
rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY pq_dist ASC, neighbor_id ASC) AS rn
  FROM adc)
SELECT query_id, neighbor_id, pq_dist FROM rk WHERE rn <= 5
"""

    # sliding-window chunking: DuckDB 1-based inclusive list_slice ends at
    # start+chunk-1, mirroring Spark's slice(arr, start, length)
    sql["doc_chunking"] = f"""
WITH toks AS (
  SELECT doc_id, {_DOC_TOKENS_SQL} AS toks
  FROM documents WHERE length({_DOC_NORM_SQL}) > 0),
sized AS (
  SELECT doc_id, toks,
    1 + CAST(floor((greatest(len(toks) - 64, 0) + 47) / 48) AS BIGINT)
      AS n_chunks
  FROM toks),
expanded AS (
  SELECT doc_id, toks, n_chunks,
    UNNEST(generate_series(0, n_chunks - 1)) AS chunk_idx
  FROM sized)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, n_chunks,
  array_to_string(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')
    AS chunk_text,
  CAST(len(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64)) AS BIGINT)
    AS n_chunk_tokens
FROM expanded
"""

    # corpus rarity: rare tail = words with total count <= 2; ratio in
    # basis points with the floor(x*10000+0.5) exact-rounding rule,
    # expression order mirrored exactly ((n_rare/n_tokens)*10000 + 0.5)
    sql["rare_token_score"] = f"""
WITH words AS (
  SELECT doc_id, UNNEST({_DOC_TOKENS_SQL}) AS word
  FROM documents WHERE length({_DOC_NORM_SQL}) > 0),
rare AS (SELECT word FROM words GROUP BY word HAVING COUNT(*) <= 2),
flagged AS (
  SELECT w.doc_id, CASE WHEN r.word IS NULL THEN 0 ELSE 1 END AS is_rare
  FROM words w LEFT JOIN rare r USING (word))
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(is_rare) AS BIGINT) AS n_rare,
  floor((CAST(SUM(is_rare) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 10000 + 0.5)
    / 10000.0 AS rare_frac
FROM flagged GROUP BY doc_id
"""

    # as-of join, mirrored with the same union-tag-fill formulation the
    # Spark plan uses (portable window SQL rather than DuckDB's ASOF JOIN
    # syntax, whose tie-break at equal timestamps is unspecified)
    sql["asof_join_views"] = """
WITH tagged AS (
  SELECT user_id, ts, 0 AS side, event_id AS ord, ts AS rts, value AS rval,
         CAST(NULL AS BIGINT) AS event_id
    FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, 1, 0, NULL, NULL, event_id
    FROM events WHERE event_type = 'purchase'
),
filled AS (
  SELECT user_id, ts, side, event_id,
         last_value(rts IGNORE NULLS) OVER w AS asof_ts,
         last_value(rval IGNORE NULLS) OVER w AS view_value
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, ts, asof_ts, view_value FROM filled WHERE side = 1
"""

    # interval-containment attribution: DuckDB plans the raw inequality
    # join directly (IEJoin); counts are exact integers
    sql["range_join_attrib"] = """
WITH iv AS (
  SELECT user_id, event_id AS purchase_id, ts AS start_ts,
         ts + INTERVAL 1 HOUR AS end_ts
  FROM events WHERE event_type = 'purchase')
SELECT iv.purchase_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clicks
FROM events e JOIN iv ON e.user_id = iv.user_id
  AND e.ts >= iv.start_ts AND e.ts < iv.end_ts
GROUP BY iv.purchase_id
"""

    # grouping-sets rollup mirrored as an explicit per-grain union; value
    # sums in DECIMAL(18,6) so both engines sum exactly
    sql["time_rollup"] = """
SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket_ts, event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day', date_trunc('day', ts), event_type,
  CAST(COUNT(*) AS BIGINT),
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'all', CAST(NULL AS TIMESTAMP), event_type,
  CAST(COUNT(*) AS BIGINT),
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
FROM events GROUP BY 3
"""

    # daily LOCF gap-fill: per-user grid via generate_series, per-bucket
    # last observation (ties by event_id), growing last-non-null fill
    sql["gapfill_locf"] = """
WITH span AS (
  SELECT user_id, date_trunc('day', MIN(ts)) AS lo, date_trunc('day', MAX(ts)) AS hi
  FROM events GROUP BY user_id),
grid AS (
  SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS grid_ts
  FROM span),
obs AS (
  SELECT user_id, date_trunc('day', ts) AS grid_ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
o1 AS (SELECT user_id, grid_ts, value AS obs FROM obs WHERE rn = 1)
SELECT g.user_id, g.grid_ts,
  last_value(o1.obs IGNORE NULLS) OVER (
    PARTITION BY g.user_id ORDER BY g.grid_ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
  o1.obs IS NOT NULL AS is_observed
FROM grid g LEFT JOIN o1 ON g.user_id = o1.user_id AND g.grid_ts = o1.grid_ts
"""

    # interval OVERLAPS join: DuckDB plans the raw half-open inequality
    # pair directly; the Spark side's canonical-bucket rule must emit each
    # overlapping pair exactly once, so a plain join IS the oracle
    sql["interval_overlap_join"] = """
WITH l AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_start,
         ts + INTERVAL 2 HOUR AS p_end
  FROM events WHERE event_type = 'purchase'),
r AS (
  SELECT user_id, event_id AS error_id, ts AS e_start,
         ts + INTERVAL 1 HOUR AS e_end
  FROM events WHERE event_type = 'error')
SELECT l.user_id, l.purchase_id, l.p_start, r.error_id, r.e_start
FROM l JOIN r ON l.user_id = r.user_id
  AND l.p_start < r.e_end AND r.e_start < l.p_end
"""

    # IVF-PQ index: seed coarse cells (first 8 vectors) route queries to
    # their 2 nearest cells; candidates are the probed cells' members,
    # ranked by the PQ asymmetric distance over their codes (same seed
    # codebook + j-ordered ADC fold as pq_topk)
    sql["ivfpq_topk_indexed"] = f"""
WITH {_PQ_ENC},
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell_id, v AS cv
  FROM e QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 8),
scored AS (
  SELECT e.vec_id, c.cell_id,
    ROW_NUMBER() OVER (
      PARTITION BY e.vec_id
      ORDER BY ROUND(list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9) DESC,
               c.cell_id ASC) AS rk
  FROM e CROSS JOIN cents c),
assign AS (SELECT vec_id, cell_id FROM scored WHERE rk = 1),
q AS (
  SELECT e.vec_id AS query_id, e.v AS qv, s.cell_id
  FROM e JOIN scored s ON e.vec_id = s.vec_id
  WHERE e.vec_id < 5 AND s.rk <= 2),
sd AS (
  SELECT q.query_id, enc.vec_id AS neighbor_id, enc.j,
    list_sum(list_transform(generate_series(1,16),
      i -> (q.qv[enc.j*16+i] - cb.w[enc.j*16+i]) * (q.qv[enc.j*16+i] - cb.w[enc.j*16+i])))
      AS dj
  FROM q
  JOIN assign a ON a.cell_id = q.cell_id
  JOIN enc ON enc.vec_id = a.vec_id
  JOIN cb ON cb.code = enc.code
  WHERE q.query_id <> a.vec_id),
adc AS (
  SELECT query_id, neighbor_id,
    ROUND(list_sum(list(dj ORDER BY j)), 6) AS pq_dist
  FROM sd GROUP BY query_id, neighbor_id),
rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY pq_dist ASC, neighbor_id ASC) AS rn
  FROM adc)
SELECT query_id, neighbor_id, pq_dist FROM rk WHERE rn <= 5
"""

    # hyperplane LSH: coefficients are md5-derived ((int(md5('0|p|d')[:8],
    # 16) / 0xFFFFFFFF) * 2 - 1, exactly similarity._hyperplanes); bucket =
    # 4 sign bits per table, first plane most significant; candidates share
    # (table, bucket), reranked by exact cosine
    sql["lsh_cosine_topk"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
coef AS (
  SELECT p, d,
    CAST(concat('0x', substring(md5(concat('0|', CAST(p AS VARCHAR), '|',
                                            CAST(d AS VARCHAR))), 1, 8)) AS BIGINT)
      / 4294967295.0 * 2.0 - 1.0 AS c
  FROM (SELECT UNNEST(range(0, 64)) AS p) tp,
       (SELECT UNNEST(range(0, 64)) AS d) td),
pl AS (SELECT p, list(c ORDER BY d) AS plane FROM coef GROUP BY p),
bits AS (
  SELECT e.vec_id, CAST(pl.p // 4 AS INT) AS tbl,
    SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0 THEN 1 ELSE 0 END
        * CASE pl.p % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)
      AS bucket
  FROM e, pl GROUP BY e.vec_id, pl.p // 4),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM bits q JOIN bits c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
s AS (
  SELECT cand.query_id, cand.neighbor_id,
    ROUND(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
      AS cosine_sim
  FROM cand
  JOIN e a ON a.vec_id = cand.query_id
  JOIN e b ON b.vec_id = cand.neighbor_id),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
  FROM s)
SELECT query_id, neighbor_id, cosine_sim FROM r WHERE rk <= 5
"""

    # snapshot diff gate: direct value comparison mirrors the digest
    # equality (no nulls in the compared testdata columns); stable 4-row
    # schema via the VALUES list, fraction under the floor rule
    sql["snapshot_diff"] = """
WITH o AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 0),
n AS (SELECT doc_id, lang,
        CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
      FROM documents WHERE doc_id % 7 <> 0),
j AS (
  SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.lang = n.lang AND o.text = n.text THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id),
c AS (SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys FROM j GROUP BY status),
s4 AS (SELECT * FROM (VALUES ('added'), ('removed'), ('changed'), ('unchanged'))
       t(status)),
f AS (SELECT s4.status, CAST(COALESCE(c.n_keys, 0) AS BIGINT) AS n_keys
      FROM s4 LEFT JOIN c USING (status))
SELECT status, n_keys,
  floor(CAST(n_keys AS DOUBLE) / (SELECT CAST(SUM(n_keys) AS DOUBLE) FROM f)
        * 10000 + 0.5) / 10000.0 AS key_frac
FROM f
"""

    # data-quality rules: one SELECT per rule unioned (the Spark side runs
    # them as ONE conditional-sum aggregate; counts are engine-exact either
    # way), fraction under the floor rule
    sql["check_rules"] = """
WITH t AS (SELECT * FROM documents),
rows_total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
raw AS (
  SELECT 'not_null(text)' AS rule,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM t WHERE text IS NULL) AS n_violations
  UNION ALL
  SELECT 'non_negative(n_chars)',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM t
     WHERE n_chars IS NULL OR n_chars < 0)
  UNION ALL
  SELECT 'in_range(n_chars)',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM t
     WHERE n_chars IS NULL OR n_chars < 10 OR n_chars > 2000)
  UNION ALL
  SELECT 'in_set(lang)',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM t
     WHERE lang IS NULL OR lang NOT IN ('en', 'de', 'fr', 'zh'))
  UNION ALL
  SELECT 'matches(source)',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM t
     WHERE source IS NULL OR NOT regexp_matches(source, '^[a-z_]+$'))
  UNION ALL
  SELECT 'unique(doc_id)',
    (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM
      (SELECT COUNT(*) AS c FROM t GROUP BY doc_id HAVING COUNT(*) > 1)))
SELECT raw.rule, rows_total.n AS n_rows, raw.n_violations,
  floor(CAST(raw.n_violations AS DOUBLE) / CAST(rows_total.n AS DOUBLE)
        * 10000 + 0.5) / 10000.0 AS violation_frac
FROM raw, rows_total
"""

    # BM25 (Lucene idf variant): per-(doc, term) contribution snapped to
    # integer micro-units before the per-doc sum (order-independent in
    # both engines); doc stats over docs WITH tokens; rank on the integer
    sql["bm25_search"] = f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_DOC_TOKENS_SQL}) AS term
  FROM documents WHERE length({_DOC_NORM_SQL}) > 0),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
          FROM dl),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
       WHERE term IN ('hash', 'join', 'vector') GROUP BY doc_id, term),
df_ AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id,
    CAST(floor(
      ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - CAST(df_.df AS DOUBLE) + 0.5)
               / (CAST(df_.df AS DOUBLE) + 0.5))
      * CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
      / (CAST(tf.tf AS DOUBLE)
         + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
            + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) / stats.avgdl))
      * 1000000 + 0.5) AS BIGINT) AS cu
  FROM tf JOIN df_ USING (term) JOIN dl USING (doc_id), stats),
per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched_terms,
               CAST(SUM(cu) AS BIGINT) AS su
        FROM sc GROUP BY doc_id)
SELECT doc_id, n_matched_terms, CAST(su AS DOUBLE) / 1000000.0 AS score
FROM per ORDER BY su DESC, doc_id ASC LIMIT 25
"""

    # KMV distinct sketch: ascending top-256 of the distinct 60-bit md5
    # hashes; estimate (k-1)/(h_(k)/2^60), exact count below k
    sql["kmv_distinct"] = """
WITH h AS (SELECT DISTINCT
    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
      AS h
  FROM events WHERE user_id IS NOT NULL),
topk AS (SELECT h FROM h ORDER BY h ASC LIMIT 256),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hashes, MAX(h) AS kth_hash FROM topk)
SELECT CAST(256 AS INT) AS k, kth_hash, n_hashes,
  floor(CASE WHEN n_hashes < 256 THEN CAST(n_hashes AS DOUBLE)
        ELSE 255.0 / (CAST(kth_hash AS DOUBLE) / 1152921504606846976.0) END
        * 10000 + 0.5) / 10000.0 AS estimate
FROM agg
"""

    # portable HLL, p=9: register = h & 511, rank = trailing zeros of
    # h >> 9 (isolate-lowest-bit identity) + 1 capped at 40; harmonic sum
    # in scaled integers (2^(40-rank), absent registers contribute 2^40);
    # linear counting below 2.5m with empty registers
    sql["hll_distinct"] = """
WITH h AS (SELECT
    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
      AS h
  FROM events WHERE user_id IS NOT NULL),
r AS (SELECT h & 511 AS reg,
        LEAST(bit_count(((h >> 9) & -(h >> 9)) - 1) + 1, 40) AS rnk
      FROM h),
regs AS (SELECT reg, MAX(rnk) AS mj FROM r GROUP BY reg),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_present,
               CAST(SUM(CAST(pow(2.0, 40 - mj) AS BIGINT)) AS BIGINT) AS s_present
        FROM regs),
est AS (SELECT n_present,
    0.7213 / (1.0 + 1.079 / 512) * 512 * 512
      / (CAST(s_present + (512 - n_present) * 1099511627776 AS DOUBLE)
         / 1099511627776.0) AS raw
  FROM agg)
SELECT CAST(512 AS INT) AS m,
  CAST(512 - n_present AS BIGINT) AS n_empty_registers,
  floor(CASE WHEN raw <= 1280.0 AND (512 - n_present) > 0
        THEN 512.0 * ln(512.0 / CAST(512 - n_present AS DOUBLE))
        ELSE raw END * 10000 + 0.5) / 10000.0 AS estimate
FROM est
"""

    # Markov transition matrix: lead() per user in (ts, event_id) order,
    # probability as basis points of the from-type row total
    sql["event_transitions"] = """
WITH p AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS to_type
  FROM events),
c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
SELECT from_type, to_type, n_transitions,
  floor(CAST(n_transitions AS DOUBLE)
        / CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
        * 10000 + 0.5) / 10000.0 AS prob
FROM c
"""

    # distribution drift: add-one-smoothed probabilities over the union
    # of observed values, KL(new || old) contribution from the UNROUNDED
    # probabilities, everything under the floor rule at 6 dp
    sql["lang_drift"] = """
WITH o AS (SELECT lang AS value, CAST(COUNT(*) AS BIGINT) AS n_old
           FROM documents WHERE doc_id % 10 <> 0 GROUP BY lang),
n AS (SELECT lang AS value, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM documents WHERE doc_id % 7 <> 0 GROUP BY lang),
j AS (SELECT COALESCE(o.value, n.value) AS value,
             CAST(COALESCE(o.n_old, 0) AS BIGINT) AS n_old,
             CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new
      FROM o FULL OUTER JOIN n ON o.value IS NOT DISTINCT FROM n.value),
t AS (SELECT value, n_old, n_new,
        (CAST(n_old AS DOUBLE) + 1.0)
          / (CAST(SUM(n_old) OVER () AS DOUBLE)
             + 1.0 * CAST(COUNT(*) OVER () AS DOUBLE)) AS p_old_raw,
        (CAST(n_new AS DOUBLE) + 1.0)
          / (CAST(SUM(n_new) OVER () AS DOUBLE)
             + 1.0 * CAST(COUNT(*) OVER () AS DOUBLE)) AS p_new_raw
      FROM j)
SELECT value, n_old, n_new,
  floor(p_old_raw * 1000000 + 0.5) / 1000000.0 AS p_old,
  floor(p_new_raw * 1000000 + 0.5) / 1000000.0 AS p_new,
  floor(p_new_raw * ln(p_new_raw / p_old_raw) * 1000000 + 0.5) / 1000000.0
    AS kl_term
FROM t
"""

    # trailing 5-row moving stats: DECIMAL(18,6) frame sums (exact in
    # both engines), floor-rule mean, (ts, event_id) deterministic order
    sql["rolling_stats"] = """
SELECT user_id, event_id, ts,
  CAST(COUNT(value) OVER w AS BIGINT) AS roll_n,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS roll_sum,
  floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        / CAST(COUNT(value) OVER w AS DOUBLE) * 1000000 + 0.5) / 1000000.0
    AS roll_mean,
  MIN(value) OVER w AS roll_min,
  MAX(value) OVER w AS roll_max
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""

    # bigram LM: train on even doc_ids, score odd; add-one smoothing over
    # the training vocab; per-token -ln p in integer micro-units so the
    # per-doc mean is order-independent in both engines
    sql["lm_score"] = f"""
WITH toks AS (
  SELECT doc_id, {_DOC_TOKENS_SQL} AS t
  FROM documents WHERE length({_DOC_NORM_SQL}) > 0),
train_bg AS (
  SELECT CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS prev, t[i] AS word
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  WHERE doc_id % 2 = 0),
bigrams AS (SELECT prev, word, CAST(COUNT(*) AS BIGINT) AS c_bg
            FROM train_bg GROUP BY prev, word),
unigrams AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS c_prev
             FROM train_bg GROUP BY prev),
vocab AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v_size FROM train_bg),
score_bg AS (
  SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS prev, t[i] AS word
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  WHERE doc_id % 2 = 1),
s AS (
  SELECT sb.doc_id,
    CAST(floor(-ln((CAST(COALESCE(b.c_bg, 0) AS DOUBLE) + 1.0)
                   / (CAST(COALESCE(u2.c_prev, 0) AS DOUBLE)
                      + CAST(v.v_size AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS nll_u
  FROM score_bg sb
  LEFT JOIN bigrams b USING (prev, word)
  LEFT JOIN unigrams u2 USING (prev)
  CROSS JOIN vocab v),
per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(nll_u) AS BIGINT) AS su
        FROM s GROUP BY doc_id)
SELECT doc_id, n_tokens,
  floor(CAST(su AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
        * 1000000 + 0.5) / 1000000.0 AS nll
FROM per
"""

    # r10: k-anonymity audit — one hash aggregate on the quasi key
    sql["k_anonymity"] = """
SELECT c_nationkey, c_mktsegment,
  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
  CAST(COUNT(*) AS BIGINT) AS class_n,
  COUNT(*) < 5 AS at_risk
FROM customer
GROUP BY c_nationkey, c_mktsegment, bal_bucket
"""

    # r10: vocabulary richness — frequency-of-frequencies profile +
    # Chao1 + Good-Turing missing mass, 6-dp floor rule
    sql["vocab_richness"] = f"""
WITH toks AS (
  SELECT {_DOC_TOKENS_SQL} AS t FROM documents
  WHERE length({_DOC_NORM_SQL}) > 0),
words AS (SELECT unnest(t) AS word FROM toks),
freqs AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY word),
agg AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS v_observed,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM freqs)
SELECT n_tokens, v_observed, f1, f2,
  floor((CAST(v_observed AS DOUBLE)
         + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
           / (2.0 * CAST(f2 + 1 AS DOUBLE))) * 1000000 + 0.5) / 1000000.0
    AS chao1,
  floor(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 1000000 + 0.5)
    / 1000000.0 AS gt_unseen
FROM agg
"""

    # r10: excess-loss selection — the lm_score oracle structure twice
    # (ref model on doc_id%4=0, general on %4=2, scoring the odd half),
    # excess as an exact integer micro-unit difference
    def _lm_half_sql(tag: str, train_pred: str) -> str:
        return f"""
{tag}_train AS (
  SELECT CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS prev, t[i] AS word
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  WHERE {train_pred}),
{tag}_bigrams AS (SELECT prev, word, CAST(COUNT(*) AS BIGINT) AS c_bg
                  FROM {tag}_train GROUP BY prev, word),
{tag}_unigrams AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS c_prev
                   FROM {tag}_train GROUP BY prev),
{tag}_vocab AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v_size
                FROM {tag}_train),
{tag}_s AS (
  SELECT sb.doc_id,
    CAST(floor(-ln((CAST(COALESCE(b.c_bg, 0) AS DOUBLE) + 1.0)
                   / (CAST(COALESCE(u2.c_prev, 0) AS DOUBLE)
                      + CAST(v.v_size AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS nll_u
  FROM score_bg sb
  LEFT JOIN {tag}_bigrams b USING (prev, word)
  LEFT JOIN {tag}_unigrams u2 USING (prev)
  CROSS JOIN {tag}_vocab v),
{tag}_per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                     CAST(SUM(nll_u) AS BIGINT) AS su
              FROM {tag}_s GROUP BY doc_id),
{tag}_nll AS (
  SELECT doc_id, n_tokens,
    floor(CAST(su AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
          * 1000000 + 0.5) / 1000000.0 AS nll
  FROM {tag}_per)"""

    sql["excess_loss_select"] = f"""
WITH toks AS (
  SELECT doc_id, {_DOC_TOKENS_SQL} AS t
  FROM documents WHERE length({_DOC_NORM_SQL}) > 0),
score_bg AS (
  SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS prev, t[i] AS word
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  WHERE doc_id % 2 = 1),{_lm_half_sql("ref", "doc_id % 4 = 0")},{_lm_half_sql("gen", "doc_id % 4 = 2")}
SELECT r.doc_id, r.n_tokens,
  r.nll AS nll_ref, g.nll AS nll_gen,
  CAST(CAST(floor(g.nll * 1000000 + 0.5) AS BIGINT)
       - CAST(floor(r.nll * 1000000 + 0.5) AS BIGINT) AS DOUBLE)
    / 1000000.0 AS excess
FROM ref_nll r JOIN gen_nll g USING (doc_id)
"""

    # r10: reciprocal-kNN pairs — both directions of the 6-dp cosine
    # top-5 must agree; similarity reported from the a->b direction
    sql["mutual_knn_pairs"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id % 20 = 0),
s AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    ROUND(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
      AS cosine_sim
  FROM e a, e b WHERE a.vec_id <> b.vec_id),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
  FROM s),
topk AS (SELECT query_id, neighbor_id, cosine_sim FROM r WHERE rk <= 5)
SELECT f.query_id AS vec_a, f.neighbor_id AS vec_b, f.cosine_sim
FROM topk f JOIN topk g
  ON g.query_id = f.neighbor_id AND g.neighbor_id = f.query_id
WHERE f.query_id < f.neighbor_id
"""

    # r10: Mann-Whitney rank AUC — integer rank sums via tie-block
    # contributions, one rounded division at the end
    sql["group_auc"] = """
WITH s AS (SELECT event_type, ROUND(value, 1) AS score,
                  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS y
           FROM events),
bs AS (SELECT event_type, score, COUNT(*) AS cnt, SUM(y) AS cnt_pos
       FROM s GROUP BY 1, 2),
c AS (SELECT *, COALESCE(SUM(cnt) OVER (PARTITION BY event_type
           ORDER BY score ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM bs),
a AS (SELECT event_type,
             CAST(SUM(cnt_pos) AS BIGINT) AS n_pos,
             CAST(SUM(cnt) - SUM(cnt_pos) AS BIGINT) AS n_neg,
             CAST(SUM(cnt_pos * (2 * cum_before + cnt + 1)) AS BIGINT) AS rank2_sum
      FROM c GROUP BY 1)
SELECT event_type, n_pos, n_neg,
       rank2_sum - n_pos * (n_pos + 1) AS u2,
       ROUND(CAST(rank2_sum - n_pos * (n_pos + 1) AS DOUBLE)
             / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc
FROM a WHERE n_pos > 0 AND n_neg > 0
"""

    # r10: reliability bins — md5-bucket pseudo-score, 6-dp micro-unit
    # mean confidence, observed rate, per-bin ECE term
    sql["calibration_bins"] = f"""
WITH s AS (SELECT lang,
    CAST({_BUCKET_SQL} AS DOUBLE) / 10000.0 AS score,
    CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS y
  FROM documents),
b AS (SELECT lang,
    CAST(least(floor(score * 10), 9) AS INT) AS bin,
    y, CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS s_micro
  FROM s),
a AS (SELECT lang, bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(s_micro) AS BIGINT) AS s_sum
      FROM b GROUP BY 1, 2)
SELECT lang, bin, n, n_pos,
  ROUND(CAST(s_sum AS DOUBLE) / CAST(n * 1000000 AS DOUBLE), 6) AS mean_score,
  ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate,
  ROUND(abs(ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
            - ROUND(CAST(s_sum AS DOUBLE) / CAST(n * 1000000 AS DOUBLE), 6))
        * n, 6) AS gap
FROM a
"""

    # r10: out-of-fold target encoding — md5-bucket folds, per-key
    # totals minus own-fold sums, weight-10 global-mean prior
    sql["target_encode_oof"] = """
WITH r AS (SELECT event_id, event_type,
    CAST(CAST(concat('0x', substring(md5(concat('0|', CAST(event_id AS VARCHAR))), 1, 8))
         AS BIGINT) % 10000 % 5 AS INT) AS fold,
    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS t
  FROM events),
kf AS (SELECT event_type, fold, COUNT(*) AS f_cnt,
              CAST(SUM(t) AS BIGINT) AS f_sum
       FROM r GROUP BY 1, 2),
k AS (SELECT event_type, CAST(SUM(f_cnt) AS BIGINT) AS t_cnt,
             CAST(SUM(f_sum) AS BIGINT) AS t_sum
      FROM kf GROUP BY 1),
g AS (SELECT CAST(SUM(t_cnt) AS BIGINT) AS g_cnt,
             CAST(SUM(t_sum) AS BIGINT) AS g_sum
      FROM k),
enc AS (SELECT kf.event_type, kf.fold,
    ROUND(CAST((k.t_sum - kf.f_sum)
               + 10 * CAST(floor(CAST(g.g_sum AS DOUBLE) / CAST(g.g_cnt AS DOUBLE)
                                 + 0.5) AS BIGINT) AS DOUBLE)
          / CAST(((k.t_cnt - kf.f_cnt) + 10) * 1000000 AS DOUBLE), 6) AS encoded
  FROM kf JOIN k USING (event_type) CROSS JOIN g)
SELECT r.event_id, r.event_type, r.fold, enc.encoded
FROM r JOIN enc ON enc.event_type = r.event_type AND enc.fold = r.fold
"""

    # r10: isotonic (PAV) calibration via the exact minimax identity —
    # suffix-min over interval means per start, prefix-max per bin
    sql["isotonic_calibration"] = f"""
WITH s AS (SELECT lang,
    CAST({_BUCKET_SQL} AS DOUBLE) / 10000.0 AS score,
    CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS y
  FROM documents),
b AS (SELECT lang, CAST(least(floor(score * 20), 19) AS INT) AS bin,
             COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS p
      FROM s GROUP BY 1, 2),
base AS (SELECT lang, bin, n, p,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY bin ASC) AS idx,
    SUM(n) OVER (PARTITION BY lang ORDER BY bin ASC) AS cn,
    SUM(p) OVER (PARTITION BY lang ORDER BY bin ASC) AS cp
  FROM b),
pairs AS (SELECT a.lang, a.idx AS i, e.idx AS j,
    CAST(e.cp - (a.cp - a.p) AS DOUBLE) / CAST(e.cn - (a.cn - a.n) AS DOUBLE)
      AS avg_ij
  FROM base a JOIN base e ON a.lang = e.lang AND a.idx <= e.idx),
im AS (SELECT lang, i, j AS k,
    MIN(avg_ij) OVER (PARTITION BY lang, i ORDER BY j DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_ik
  FROM pairs),
fit AS (SELECT lang, k, y_raw FROM (
    SELECT lang, i, k,
      MAX(m_ik) OVER (PARTITION BY lang, k ORDER BY i ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y_raw
    FROM im WHERE i <= k) WHERE i = k)
SELECT base.lang, base.bin, base.n AS n, base.p AS n_pos,
       ROUND(fit.y_raw, 6) AS y_iso
FROM base JOIN fit ON base.lang = fit.lang AND base.idx = fit.k
"""

    # r10: Spearman rank correlation — 2·avg-rank integers, HUGEINT
    # products mirroring Spark's DECIMAL(38,0), two sqrts at the end
    sql["score_rank_corr"] = """
WITH s AS (SELECT event_type, value AS x,
                  CAST(event_id % 97 AS DOUBLE) AS y FROM events),
r AS (SELECT event_type,
    CAST(2 * RANK() OVER (PARTITION BY event_type ORDER BY x ASC)
         + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS HUGEINT) AS rx,
    CAST(2 * RANK() OVER (PARTITION BY event_type ORDER BY y ASC)
         + COUNT(*) OVER (PARTITION BY event_type, y) - 1 AS HUGEINT) AS ry
  FROM s),
a AS (SELECT event_type, COUNT(*) AS n,
             SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
             SUM(rx * ry) AS sxy
      FROM r GROUP BY 1)
SELECT event_type, n,
  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
           * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS rho
FROM a WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""

    # r10: exact Gini concentration — micro-unit values, rank-weighted
    # HUGEINT sum, closed-form index
    sql["gini_concentration"] = """
WITH v AS (SELECT event_type,
    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm FROM events),
r AS (SELECT event_type, vm,
    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY vm ASC)
         AS HUGEINT) AS i
  FROM v),
a AS (SELECT event_type, COUNT(*) AS n,
             CAST(SUM(vm) AS BIGINT) AS total_micro,
             SUM(i * vm) AS ivsum
      FROM r GROUP BY 1)
SELECT event_type, n, total_micro,
  ROUND(CAST(2 * ivsum - (CAST(n AS HUGEINT) + 1) * total_micro AS DOUBLE)
        / CAST(CAST(n AS HUGEINT) * total_micro AS DOUBLE), 6) AS gini
FROM a WHERE total_micro > 0
"""

    # r10: NDCG@10 — retrieved order by score desc (id asc tiebreak),
    # ideal order by relevance desc, precomputed integer discounts
    _NDCG_DISC = (
        "[1000000, 630930, 500000, 430677, 386853, 356207, 333333, "
        "315465, 301030, 289065]"
    )
    sql["ndcg_eval"] = f"""
WITH s AS (SELECT user_id % 1000 AS q, value AS score,
                  CAST(event_id % 4 AS INT) AS rel, event_id
           FROM events),
g AS (SELECT q, rel,
    ROW_NUMBER() OVER (PARTITION BY q ORDER BY score DESC, event_id ASC) AS rp,
    ROW_NUMBER() OVER (PARTITION BY q ORDER BY rel DESC, event_id ASC) AS ip
  FROM s),
a AS (SELECT q,
    CAST(SUM(CASE WHEN rp <= 10
         THEN CAST(rel AS BIGINT) * ({_NDCG_DISC})[rp] ELSE 0 END) AS BIGINT)
      AS dcg_micro,
    CAST(SUM(CASE WHEN ip <= 10
         THEN CAST(rel AS BIGINT) * ({_NDCG_DISC})[ip] ELSE 0 END) AS BIGINT)
      AS idcg_micro
  FROM g GROUP BY 1)
SELECT q, dcg_micro, idcg_micro,
  ROUND(CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE), 6) AS ndcg
FROM a WHERE idcg_micro > 0
"""

    # r10: Poisson bootstrap — per-(rep, row) md5 bucket thresholded by
    # the Poisson(1) cdf grid; exact micro-unit weighted sums
    sql["poisson_bootstrap"] = """
WITH base AS (SELECT event_type,
    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v,
    CAST(event_id AS VARCHAR) AS id
  FROM events WHERE event_id % 10 = 0),
reps AS (SELECT event_type, v, id, CAST(r.rep AS INT) AS rep
         FROM base, (SELECT UNNEST(range(20)) AS rep) r),
b AS (SELECT event_type, rep, v,
    CAST(concat('0x', substring(md5(concat('0|', CAST(rep AS VARCHAR), '#', id)), 1, 8))
         AS BIGINT) % 10000 AS bkt
  FROM reps),
w AS (SELECT event_type, rep, v,
    CAST(CASE WHEN bkt < 3679 THEN 0 WHEN bkt < 7358 THEN 1
              WHEN bkt < 9197 THEN 2 WHEN bkt < 9810 THEN 3
              WHEN bkt < 9963 THEN 4 ELSE 5 END AS BIGINT) AS wgt
  FROM b),
a AS (SELECT event_type, rep, CAST(SUM(wgt) AS BIGINT) AS n_eff,
             CAST(SUM(wgt * v) AS BIGINT) AS wsum
      FROM w GROUP BY 1, 2)
SELECT event_type, rep, n_eff,
  ROUND(CAST(wsum AS DOUBLE) / CAST(n_eff * 1000000 AS DOUBLE), 6) AS mean
FROM a WHERE n_eff > 0
"""

    # r10: Hill tail index — top-(k+1) order stats per group, log
    # ratios snapped to micro-nats before the integer sum
    sql["tail_index"] = """
WITH v AS (SELECT event_type, value AS x FROM events WHERE value > 0),
r AS (SELECT event_type, x,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x DESC) AS rn
  FROM v),
t AS (SELECT * FROM r WHERE rn <= 101),
xr AS (SELECT event_type, MIN(CASE WHEN rn = 101 THEN x END) AS xref
       FROM t GROUP BY 1),
l AS (SELECT t.event_type,
    CAST(floor(ln(t.x / xr.xref) * 1000000 + 0.5) AS BIGINT) AS lr,
    CAST(floor(xr.xref * 1000000 + 0.5) AS BIGINT) AS xref_micro
  FROM t JOIN xr ON t.event_type = xr.event_type
  WHERE xr.xref IS NOT NULL AND t.rn <= 100),
a AS (SELECT event_type, COUNT(*) AS k,
             CAST(MAX(xref_micro) AS BIGINT) AS x_ref_micro,
             CAST(SUM(lr) AS BIGINT) AS lnsum_micronats
      FROM l GROUP BY 1)
SELECT event_type, k, x_ref_micro, lnsum_micronats,
  ROUND(CAST(k AS DOUBLE) * 1000000 / CAST(lnsum_micronats AS DOUBLE), 6) AS alpha
FROM a WHERE lnsum_micronats > 0
"""

    # r10: CUSUM drift report — the sequential recurrence via the
    # relational drawdown identity s_i = P_i - min(0, min_{j<=i} P_j)
    sql["cusum_drift"] = """
WITH s AS (SELECT event_type, ts, event_id,
    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v FROM events),
d AS (SELECT event_type, ts, event_id,
    CAST(SUM(v - 50000000) OVER w AS BIGINT) AS p
  FROM s
  WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
c AS (SELECT event_type, ts,
    p - least(CAST(0 AS BIGINT), CAST(MIN(p) OVER w2 AS BIGINT)) AS cusum
  FROM d
  WINDOW w2 AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
a AS (SELECT event_type, COUNT(*) AS n,
    CAST(SUM(CASE WHEN cusum > 2000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
    CAST(MAX(cusum) AS BIGINT) AS max_cusum_micro
  FROM c GROUP BY 1),
pk AS (SELECT c.event_type, MIN(c.ts) AS peak_at
       FROM c JOIN a ON c.event_type = a.event_type
       WHERE c.cusum = a.max_cusum_micro GROUP BY 1)
SELECT a.event_type, a.n, a.n_alarms, a.max_cusum_micro, pk.peak_at
FROM a JOIN pk ON a.event_type = pk.event_type
"""

    # r10: Kaplan-Meier survival table — integer at-risk/event/censor
    # counts per event-time step; censor-only times emit no row but
    # shrink downstream at-risk
    sql["km_survival"] = """
WITH s AS (SELECT event_type, event_id % 60 AS t,
                  CASE WHEN event_id % 7 <> 0 THEN 1 ELSE 0 END AS e
           FROM events),
bt AS (SELECT event_type, t, COUNT(*) AS n,
              CAST(SUM(e) AS BIGINT) AS n_events
       FROM s GROUP BY 1, 2),
ar AS (SELECT *, SUM(n) OVER (PARTITION BY event_type)
           - COALESCE(SUM(n) OVER (PARTITION BY event_type ORDER BY t ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
       FROM bt)
SELECT event_type, t, CAST(n_at_risk AS BIGINT) AS n_at_risk, n_events,
       CAST(n - n_events AS BIGINT) AS n_censored,
       ROUND(CAST(n_at_risk - n_events AS DOUBLE)
             / CAST(n_at_risk AS DOUBLE), 6) AS factor
FROM ar WHERE n_events > 0
"""

    # r10: hour-of-day seasonal profile — DECIMAL-exact bucket means,
    # index = ratio of the two already-rounded doubles
    sql["seasonality_profile"] = """
WITH rows_ AS (
  SELECT CAST(hour(ts) AS INTEGER) AS bucket,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE value IS NOT NULL),
per AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS s
  FROM rows_ GROUP BY bucket),
gtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS gn, SUM(v) AS gs FROM rows_)
SELECT bucket, n,
  floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
    AS bucket_mean,
  floor((floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0)
        / (floor(CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE) * 1000000 + 0.5) / 1000000.0)
        * 1000000 + 0.5) / 1000000.0 AS seasonal_index
FROM per CROSS JOIN gtot
"""

    # r10: median/MAD robust outliers — exact lower medians by rank
    # position, exact decimal deviation arithmetic
    sql["robust_outliers"] = """
WITH ev AS (
  SELECT event_type, CAST(value AS DOUBLE) AS value, event_id
  FROM events WHERE value IS NOT NULL),
r1 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY value ASC) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ev),
med AS (SELECT event_type, value AS med FROM r1
        WHERE rn = floor((n + 1) / 2)),
devs AS (
  SELECT ev.event_type, ev.event_id, ev.value, med.med,
         abs(ev.value - med.med) AS abs_dev
  FROM ev JOIN med USING (event_type)),
r2 AS (
  SELECT event_type, abs_dev,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY abs_dev ASC) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM devs),
mad AS (SELECT event_type, abs_dev AS mad FROM r2
        WHERE rn = floor((n + 1) / 2))
SELECT d.event_type, d.event_id, d.value, d.med, mad.mad, d.abs_dev
FROM devs d JOIN mad USING (event_type)
WHERE d.abs_dev > 3 * mad.mad
"""

    # SCD2 merge: history = each user's first two (ts-deduped) views,
    # changes = the (ts-deduped) purchase stream; the merge rule is the
    # same union-tag + lead successor formulation the Spark plan uses
    # (portable window SQL), with empty same-instant spans dropped
    sql["scd2_merge"] = """
WITH v0 AS (
  SELECT user_id, ts, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS r
  FROM events WHERE event_type = 'view'),
views AS (SELECT user_id, ts, value FROM v0 WHERE r = 1),
v12 AS (
  SELECT user_id, ts, value,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC) AS rn
  FROM views),
hist AS (
  SELECT user_id, value, ts AS vfrom,
    LEAD(ts) OVER (PARTITION BY user_id ORDER BY rn ASC) AS vto
  FROM v12 WHERE rn <= 2),
p0 AS (
  SELECT user_id, ts, value,
    ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS r
  FROM events WHERE event_type = 'purchase'),
chg AS (SELECT user_id, ts AS vfrom, value FROM p0 WHERE r = 1),
tagged AS (
  SELECT user_id, value, vfrom, vto, 0 AS is_change FROM hist
  UNION ALL
  SELECT user_id, value, vfrom, CAST(NULL AS TIMESTAMP), 1 FROM chg),
merged AS (
  SELECT user_id, value, vfrom, vto, is_change,
    LEAD(vfrom) OVER wo AS nxt,
    (LAST_VALUE(CASE WHEN is_change = 0 THEN struct_pack(t := vto) END
                IGNORE NULLS) OVER wr).t AS bound
  FROM tagged
  WINDOW wo AS (PARTITION BY user_id ORDER BY vfrom ASC, is_change ASC),
         wr AS (PARTITION BY user_id ORDER BY vfrom ASC, is_change ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
resolved AS (
  SELECT user_id, value, vfrom,
    CASE WHEN bound IS NOT NULL AND bound > vfrom
              AND (nxt IS NULL OR bound < nxt) THEN bound
         ELSE nxt END AS new_to
  FROM merged)
SELECT user_id, value, vfrom AS valid_from, new_to AS valid_to
FROM resolved WHERE new_to IS NULL OR new_to > vfrom
"""

    # Efraimidis-Spirakis weighted sample: u = (h60+1)/2^60 from md5 of
    # the id, key = -ln(u)/w, k smallest win; rank on the 9-dp-rounded
    # key with id tie-break (the repo's rank-on-rounded-score rule)
    sql["weighted_sample"] = """
WITH s AS (
  SELECT doc_id, n_chars,
    ROUND(-ln((CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) + 1) / 1152921504606846976.0)
          / CAST(n_chars AS DOUBLE), 9) AS sample_key
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0)
SELECT doc_id, n_chars, sample_key
FROM s ORDER BY sample_key ASC, doc_id ASC LIMIT 100
"""

    # trailing 1-hour RANGE frame (inclusive both ends in both engines);
    # same decimal-sum / floor-mean rules as rolling_stats
    sql["rolling_time"] = """
SELECT user_id, event_id, ts,
  CAST(COUNT(value) OVER w AS BIGINT) AS roll_n,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS roll_sum,
  floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        / CAST(COUNT(value) OVER w AS DOUBLE) * 1000000 + 0.5) / 1000000.0
    AS roll_mean,
  MIN(value) OVER w AS roll_min,
  MAX(value) OVER w AS roll_max
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""

    # per-user linear trend: the documented integer contract verbatim —
    # day-grain re-based x, micro-unit y, normal-equation integers,
    # sign-decomposed // so DuckDB's floor matches Spark's trunc
    sql["value_trend"] = """
WITH pts AS (
  SELECT user_id,
         (epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY user_id))
           // 86400000000 AS x,
         CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
agg AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx,
         MAX(x) AS span
  FROM pts GROUP BY user_id),
s AS (
  SELECT user_id, n, span, sx, sy,
    CASE WHEN n*sxx - sx*sx = 0 THEN NULL
         WHEN n*sxy - sx*sy >= 0 THEN (n*sxy - sx*sy) // (n*sxx - sx*sx)
         ELSE -((sx*sy - n*sxy) // (n*sxx - sx*sx)) END AS slope_u
  FROM agg)
SELECT user_id, n AS n_points, CAST(span AS BIGINT) AS x_span,
  CAST(slope_u AS DOUBLE) / 1000000.0 AS slope_per_unit,
  CAST(CASE WHEN sy - COALESCE(slope_u, 0)*sx >= 0
            THEN (sy - COALESCE(slope_u, 0)*sx) // n
            ELSE -((COALESCE(slope_u, 0)*sx - sy) // n) END AS DOUBLE)
    / 1000000.0 AS intercept
FROM s
"""

    # time-weighted average: same micro-unit / whole-second / sign-
    # decomposed integer recipe as value_trend; last point holds for 0s,
    # span-0 keys fall back to their first value by (ts, event_id)
    sql["time_weighted_avg"] = """
WITH rows_ AS (
  SELECT user_id AS k, epoch_us(ts) AS us,
         CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS y,
         event_id AS o
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
paired AS (
  SELECT k, y,
    (COALESCE(lead(us) OVER w, us) - us) // 1000000 AS dt_s,
    row_number() OVER w AS rk
  FROM rows_ WINDOW w AS (PARTITION BY k ORDER BY us ASC, o ASC)),
agg AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_points,
         SUM(y * dt_s) AS wsum, CAST(SUM(dt_s) AS BIGINT) AS span_secs
  FROM paired GROUP BY k),
firsts AS (SELECT k, y AS first_y FROM paired WHERE rk = 1)
SELECT a.k AS user_id, a.n_points, a.span_secs,
  CAST(CASE WHEN a.span_secs > 0 THEN
         CASE WHEN a.wsum >= 0 THEN a.wsum // a.span_secs
              ELSE -((-a.wsum) // a.span_secs) END
       ELSE f.first_y END AS DOUBLE) / 1000000.0 AS twa
FROM agg a JOIN firsts f ON a.k = f.k
"""

    # per-user z-scores: DECIMAL(18,6) moments (the square stays inside
    # the 38-digit decimal ceiling in both engines), explicit E[x²]-E[x]²
    # population variance, floor-rounded outputs, z=0 for constant keys
    sql["value_anomalies"] = """
WITH s AS (
  SELECT user_id, CAST(COUNT(value) AS BIGINT) AS n,
    SUM(CAST(value AS DECIMAL(18,6))) AS sx,
    SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS sxx
  FROM events GROUP BY user_id),
m AS (
  SELECT user_id,
    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_raw,
    sqrt(GREATEST(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS std_raw
  FROM s),
z AS (
  SELECT e.user_id, e.event_id, e.value, m.mean_raw, m.std_raw,
    CASE WHEN m.std_raw = 0.0 THEN 0.0
         ELSE floor((CAST(e.value AS DOUBLE) - m.mean_raw) / m.std_raw
                    * 10000 + 0.5) / 10000.0 END AS zscore
  FROM events e JOIN m USING (user_id))
SELECT user_id, event_id, value,
  floor(mean_raw * 10000 + 0.5) / 10000.0 AS mean,
  floor(std_raw * 10000 + 0.5) / 10000.0 AS stddev,
  zscore,
  abs(zscore) > 3.0 AS is_anomaly
FROM z
"""

    # PMI collocations: adjacent pairs (sentinel/doc-start excluded),
    # min_count filter BEFORE the joins, expression order mirrored
    sql["collocations"] = f"""
WITH toks AS (
  SELECT doc_id, {_DOC_TOKENS_SQL} AS t
  FROM documents WHERE length({_DOC_NORM_SQL}) > 0),
bg AS (
  SELECT t[i] AS prev, t[i+1] AS word
  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
pairs AS (SELECT prev, word, CAST(COUNT(*) AS BIGINT) AS n_pair
          FROM bg GROUP BY prev, word HAVING COUNT(*) >= 20),
l AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS n_prev FROM bg GROUP BY prev),
r AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_word FROM bg GROUP BY word),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM bg),
sc AS (
  SELECT pairs.prev, pairs.word, pairs.n_pair,
    floor(ln((CAST(n_pair AS DOUBLE) / CAST(n_total AS DOUBLE))
             / ((CAST(n_prev AS DOUBLE) / CAST(n_total AS DOUBLE))
                * (CAST(n_word AS DOUBLE) / CAST(n_total AS DOUBLE))))
          * 1000000 + 0.5) / 1000000.0 AS pmi
  FROM pairs JOIN l USING (prev) JOIN r USING (word), tot)
SELECT prev, word, n_pair, pmi
FROM sc ORDER BY pmi DESC, prev ASC, word ASC LIMIT 50
"""

    # co-visitation: per-(user, item) dedup, per-user cap at the 20
    # most-frequent items (count desc, item asc), key-equi pair join
    sql["item_covisitation"] = """
WITH ki AS (
  SELECT user_id, TRY_CAST(props->>'k' AS BIGINT) AS item, COUNT(*) AS c
  FROM events WHERE TRY_CAST(props->>'k' AS BIGINT) IS NOT NULL
  GROUP BY user_id, TRY_CAST(props->>'k' AS BIGINT)),
capped AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
      ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY c DESC, item ASC) AS rk
    FROM ki)
  WHERE rk <= 20),
p AS (
  SELECT a.item AS item_a, b.item AS item_b, CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM capped a JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY a.item, b.item)
SELECT item_a, item_b, n_keys FROM p WHERE n_keys >= 2
"""

    # token-budget fill: sqrt-temperature quotas over per-domain token
    # availability (division-first keeps budget*ratio in double's exact
    # range), hash-ordered greedy fill with doc_id tie-break
    sql["token_budget_fill"] = """
WITH toks AS (
  SELECT source AS domain, doc_id,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
      AS n_tokens
  FROM documents WHERE source IS NOT NULL),
avail AS (
  SELECT domain, CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens
  FROM toks GROUP BY domain),
w AS (
  SELECT domain, avail_tokens,
    CAST(FLOOR(SQRT(CAST(avail_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      AS w_u
  FROM avail),
q AS (
  SELECT domain,
    LEAST(avail_tokens,
      CAST(FLOOR(100000.0 * (CAST(w_u AS DOUBLE)
                             / CAST(SUM(w_u) OVER () AS DOUBLE)) + 0.5)
           AS BIGINT)) AS quota_tokens
  FROM w),
ordered AS (
  SELECT t.domain, t.doc_id, t.n_tokens, q.quota_tokens,
    CAST(SUM(t.n_tokens) OVER (
      PARTITION BY t.domain
      ORDER BY CAST(concat('0x', substring(md5(concat('0|',
                 CAST(t.doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10000 ASC,
               t.doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_tokens
  FROM toks t JOIN q USING (domain))
SELECT domain, doc_id, n_tokens, cum_tokens, quota_tokens
FROM ordered WHERE cum_tokens <= quota_tokens
"""

    # per-doc contamination fraction: same shingle CTEs as the flag
    # form, LEFT join + one aggregate, basis-point floor on the ratio
    sql["contamination_fraction"] = f"""
WITH docs_aug AS ({_DOCS_NEAR_DUPS_SQL}),
toks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM docs_aug),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
       FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i) WHERE len(t) >= 8),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0 AND doc_id < 1000000),
corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0 OR doc_id >= 1000000),
per AS (
  SELECT c.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_overlap
  FROM corp c LEFT JOIN bench b USING (shingle)
  GROUP BY c.doc_id)
SELECT doc_id, n_shingles, n_overlap,
  FLOOR(CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE) * 10000 + 0.5)
    / 10000.0 AS frac
FROM per
"""

    # exponential-decay aggregate: per-row weight 2^(-Δus/half_life_us)
    # on exact integer microsecond deltas, micro-unit snap before SUM
    sql["decayed_engagement"] = """
WITH ref AS (SELECT MAX(ts) AS r FROM events),
c AS (
  SELECT event_type,
    CAST(FLOOR(CAST(value AS DOUBLE)
         * POWER(2.0, -(CAST(epoch_us(ref.r) - epoch_us(ts) AS DOUBLE)
                        / 604800000000.0))
         * 1000000 + 0.5) AS BIGINT) AS cu
  FROM events, ref)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cu) AS DOUBLE) / 1000000.0 AS decayed_sum
FROM c GROUP BY event_type
"""

    # hybrid RRF: the bm25_search pipeline (top-100) + the ann cosine
    # pipeline (top-100 vs vec 0), each rank contributing the integer
    # micro-unit floor(1e6/(60+rk)+0.5)
    sql["hybrid_rrf_search"] = f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_DOC_TOKENS_SQL}) AS term
  FROM documents WHERE length({_DOC_NORM_SQL}) > 0),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
          FROM dl),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
       WHERE term IN ('hash', 'join', 'vector') GROUP BY doc_id, term),
df_ AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id,
    CAST(floor(
      ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - CAST(df_.df AS DOUBLE) + 0.5)
               / (CAST(df_.df AS DOUBLE) + 0.5))
      * CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
      / (CAST(tf.tf AS DOUBLE)
         + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
            + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) / stats.avgdl))
      * 1000000 + 0.5) AS BIGINT) AS cu
  FROM tf JOIN df_ USING (term) JOIN dl USING (doc_id), stats),
per AS (SELECT doc_id, CAST(SUM(cu) AS BIGINT) AS su FROM sc GROUP BY doc_id),
lex AS (SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY su DESC, doc_id ASC) AS rk
        FROM per),
lexc AS (SELECT doc_id, CAST(FLOOR(1000000.0 / (60 + rk) + 0.5) AS BIGINT) AS cu
         FROM lex WHERE rk <= 100),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
s AS (
  SELECT e.vec_id AS doc_id,
    ROUND(list_dot_product(qv, e.v)
          / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))),
          6) AS score
  FROM e, q WHERE e.vec_id <> 0),
sem AS (SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rk
        FROM s),
semc AS (SELECT doc_id, CAST(FLOOR(1000000.0 / (60 + rk) + 0.5) AS BIGINT) AS cu
         FROM sem WHERE rk <= 100),
u AS (SELECT * FROM lexc UNION ALL SELECT * FROM semc),
g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
             CAST(SUM(cu) AS BIGINT) AS su
      FROM u GROUP BY doc_id)
SELECT doc_id, n_lists, CAST(su AS DOUBLE) / 1000000.0 AS rrf_score
FROM g ORDER BY su DESC, doc_id ASC LIMIT 50
"""

    # signed hashing trick: 60-bit md5 hash -> bucket = h % 1024, sign =
    # bit 59 (bitwise AND — integer-exact in both engines)
    sql["feature_hashing"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DOC_TOKENS_SQL}) AS term FROM documents),
h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(term), 1, 15)) AS BIGINT) AS h
  FROM toks WHERE term <> '')
SELECT doc_id,
       h % 1024 AS bucket,
       CAST(SUM(CASE WHEN (h & 576460752303423488) <> 0 THEN -1 ELSE 1 END)
            AS BIGINT) AS value
FROM h GROUP BY doc_id, h % 1024
"""

    # gaps-and-islands: running max-end breaks islands, cumulative break
    # count numbers them; identical-duplicate rows are interchangeable
    # under both windows so the mirror is exact
    sql["user_active_coverage"] = """
WITH iv AS (
  SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events),
m AS (
  SELECT user_id, s, e,
    MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM iv),
isl AS (
  SELECT user_id, s, e,
    SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m),
g AS (
  SELECT user_id, island, MIN(s) AS st, MAX(e) AS en,
         CAST(COUNT(*) AS BIGINT) AS n_iv
  FROM isl GROUP BY user_id, island)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_islands,
  CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
  CAST(SUM(epoch_us(en) - epoch_us(st)) AS BIGINT) AS covered_us,
  CAST(MAX(epoch_us(en) - epoch_us(st)) AS BIGINT) AS max_island_us
FROM g GROUP BY user_id
"""

    # TF-IDF cosine pairs: df-pruned vocabulary weights, micro-unit
    # integer dots and norms (order-free sums), 6-dp floor on the cosine
    sql["tfidf_cosine_dups"] = f"""
WITH docs_aug AS ({_DOCS_NEAR_DUPS_SQL}),
toks AS (
  SELECT doc_id, unnest({_DOC_TOKENS_SQL}) AS term FROM docs_aug),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE term <> '' GROUP BY doc_id, term),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM docs_aug),
dfq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf
  GROUP BY term HAVING COUNT(*) <= 1000),
w AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS DOUBLE) * LN((nd.n + 1.0) / (CAST(dfq.df AS DOUBLE) + 1.0)) AS w
  FROM tf JOIN dfq USING (term) CROSS JOIN nd),
norms AS (
  SELECT doc_id,
         CAST(SUM(CAST(FLOOR(w * w * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS n2
  FROM w GROUP BY doc_id
  HAVING SUM(CAST(FLOOR(w * w * 1000000 + 0.5) AS BIGINT)) > 0),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
         CAST(SUM(CAST(FLOOR(a.w * b.w * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, n_shared_terms,
  FLOOR((CAST(dot AS DOUBLE) / 1000000.0)
        / SQRT((CAST(na.n2 AS DOUBLE) / 1000000.0)
             * (CAST(nb.n2 AS DOUBLE) / 1000000.0)) * 1000000 + 0.5)
    / 1000000.0 AS cosine
FROM dots
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
WHERE FLOOR((CAST(dot AS DOUBLE) / 1000000.0)
        / SQRT((CAST(na.n2 AS DOUBLE) / 1000000.0)
             * (CAST(nb.n2 AS DOUBLE) / 1000000.0)) * 1000000 + 0.5)
    / 1000000.0 >= 0.8
"""

    # Adamic-Adar over the covisitation graph: same capped pair CTE as
    # the edges, then degree-weighted common-neighbor enumeration with
    # per-neighbor micro-unit weights (integer SUM = order-free)
    sql["adamic_adar_links"] = """
WITH ki AS (
  SELECT user_id, TRY_CAST(props->>'k' AS BIGINT) AS item, COUNT(*) AS c
  FROM events WHERE TRY_CAST(props->>'k' AS BIGINT) IS NOT NULL
  GROUP BY user_id, TRY_CAST(props->>'k' AS BIGINT)),
capped AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
      ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY c DESC, item ASC) AS rk
    FROM ki)
  WHERE rk <= 20),
e AS (
  SELECT item_a AS eu, item_b AS ev FROM (
    SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_keys
    FROM capped a JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
    GROUP BY a.item, b.item)
  WHERE n_keys >= 2),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT eu AS node FROM e UNION ALL SELECT ev FROM e)
  GROUP BY node),
wd AS (
  SELECT a.w, a.nbr,
         CAST(FLOOR(1000000.0 / LN(CAST(deg.deg AS DOUBLE)) + 0.5) AS BIGINT)
           AS w_u6
  FROM (SELECT eu AS w, ev AS nbr FROM e
        UNION ALL SELECT ev AS w, eu AS nbr FROM e) a
  JOIN deg ON deg.node = a.w
  WHERE deg.deg >= 2 AND deg.deg <= 500),
pr AS (
  SELECT l.nbr AS u, r.nbr AS v,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(l.w_u6) AS BIGINT) AS s_u6
  FROM wd l JOIN wd r ON l.w = r.w AND l.nbr < r.nbr
  GROUP BY l.nbr, r.nbr)
SELECT u, v, n_common, CAST(s_u6 AS DOUBLE) / 1000000.0 AS score
FROM pr WHERE n_common >= 2
ORDER BY score DESC, u ASC, v ASC LIMIT 50
"""

    # LPA communities over the covisitation graph: 2 synchronous rounds
    # unrolled; every node has >= 1 neighbor after the undirected union,
    # so the per-round argmax (count desc, label asc) is total
    _lpa_iter = """
  SELECT node, label FROM (
    SELECT m.node, m.label,
      ROW_NUMBER() OVER (PARTITION BY m.node
                         ORDER BY m.c DESC, m.label ASC) AS rk
    FROM (
      SELECT e.b AS node, l.label, COUNT(*) AS c
      FROM e JOIN {prev} l ON l.node = e.a
      GROUP BY e.b, l.label) m)
  WHERE rk = 1"""
    sql["item_communities"] = (
        """
WITH ki AS (
  SELECT user_id, TRY_CAST(props->>'k' AS BIGINT) AS item, COUNT(*) AS c
  FROM events WHERE TRY_CAST(props->>'k' AS BIGINT) IS NOT NULL
  GROUP BY user_id, TRY_CAST(props->>'k' AS BIGINT)),
capped AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
      ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY c DESC, item ASC) AS rk
    FROM ki)
  WHERE rk <= 20),
p AS (
  SELECT a.item AS item_a, b.item AS item_b, CAST(COUNT(*) AS BIGINT) AS n
  FROM capped a JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY a.item, b.item),
e0 AS (SELECT item_a AS a, item_b AS b FROM p WHERE n >= 2),
e AS (SELECT DISTINCT a, b FROM (
    SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0)
  WHERE a <> b),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM e),
l1 AS ("""
        + _lpa_iter.format(prev="l0")
        + """),
l2 AS ("""
        + _lpa_iter.format(prev="l1")
        + """)
SELECT l1.node, l1.label AS label_r1, l2.label AS label_r2
FROM l1 JOIN l2 ON l1.node = l2.node
"""
    )

    # association rules over the same capped relation; support /
    # confidence / lift are integer round-half-up at basis points:
    # (2N + D) // (2D) on positive operands, identical to Spark's div
    sql["item_association"] = """
WITH ki AS (
  SELECT user_id, TRY_CAST(props->>'k' AS BIGINT) AS item, COUNT(*) AS c
  FROM events WHERE TRY_CAST(props->>'k' AS BIGINT) IS NOT NULL
  GROUP BY user_id, TRY_CAST(props->>'k' AS BIGINT)),
capped AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
      ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY c DESC, item ASC) AS rk
    FROM ki)
  WHERE rk <= 20),
tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys FROM capped),
ic AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM capped GROUP BY item),
p AS (
  SELECT a.item AS antecedent, b.item AS consequent,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM capped a JOIN capped b
    ON a.user_id = b.user_id AND a.item <> b.item
  GROUP BY a.item, b.item)
SELECT p.antecedent, p.consequent, p.n_both,
  ia.n_item AS n_antecedent, ic2.n_item AS n_consequent, tot.n_keys,
  CAST((2 * p.n_both * 10000 + tot.n_keys) // (2 * tot.n_keys) AS DOUBLE)
    / 10000.0 AS support,
  CAST((2 * p.n_both * 10000 + ia.n_item) // (2 * ia.n_item) AS DOUBLE)
    / 10000.0 AS confidence,
  CAST((2 * p.n_both * tot.n_keys * 10000 + ia.n_item * ic2.n_item)
       // (2 * ia.n_item * ic2.n_item) AS DOUBLE) / 10000.0 AS lift
FROM p
JOIN ic ia ON ia.item = p.antecedent
JOIN ic ic2 ON ic2.item = p.consequent
CROSS JOIN tot
WHERE p.n_both >= 2
"""

    # character entropy: H = ln(n) - (1/n)·Σ c·ln(c); the c·ln(c) terms
    # snap to integer micro-nats before the sum in both engines
    sql["doc_entropy"] = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c
  FROM documents),
cnt AS (
  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
  FROM ch WHERE c <> '' GROUP BY doc_id, c),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(n) AS BIGINT) AS n_chars,
         CAST(SUM(CAST(FLOOR(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s_u
  FROM cnt GROUP BY doc_id)
SELECT doc_id, n_chars,
  FLOOR((CASE WHEN n_chars > 0
         THEN ln(CAST(n_chars AS DOUBLE)) - (CAST(s_u AS DOUBLE) / n_chars / 1000000.0)
         ELSE 0.0 END) * 1000000 + 0.5) / 1000000.0 AS entropy_nats
FROM per_doc
"""

    # k-core peeling: the three passes unrolled — per pass a degree agg
    # (dK), the keep set (nK: deg >= 3), and the edge filter (eK+1)
    # e{j} AS MATERIALIZED: each pass references its predecessor three
    # times and DuckDB inlines CTEs by default — without materialization
    # the corpus-sized upstream re-evaluates 3^rounds times (found as an
    # 80 GB spill at the 10M-event sf10s sweep)
    _kc_pass = """
d{i} AS (SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM e{i} UNION ALL SELECT v FROM e{i}) GROUP BY node),
n{i} AS (SELECT node FROM d{i} WHERE deg >= 3),
e{j} AS MATERIALIZED (SELECT u, v FROM e{i}
         WHERE u IN (SELECT node FROM n{i})
           AND v IN (SELECT node FROM n{i}))"""
    sql["kcore_items"] = (
        """
WITH ki AS (
  SELECT user_id, TRY_CAST(props->>'k' AS BIGINT) AS item, COUNT(*) AS c
  FROM events WHERE TRY_CAST(props->>'k' AS BIGINT) IS NOT NULL
  GROUP BY user_id, TRY_CAST(props->>'k' AS BIGINT)),
capped AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
      ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY c DESC, item ASC) AS rk
    FROM ki)
  WHERE rk <= 20),
e0 AS MATERIALIZED (
  SELECT a.item AS u, b.item AS v
  FROM capped a JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING COUNT(*) >= 2),"""
        + ",".join(_kc_pass.format(i=i, j=i + 1) for i in range(3))
        + """
SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
  SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)
GROUP BY node
"""
    )

    # per-key HLL: identical hash/register/rank/correction recipe as
    # hll_distinct, grouped by event_type
    sql["hll_by_type"] = """
WITH h AS (SELECT event_type,
    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
      AS h
  FROM events WHERE user_id IS NOT NULL),
r AS (SELECT event_type, h & 511 AS reg,
        LEAST(bit_count(((h >> 9) & -(h >> 9)) - 1) + 1, 40) AS rnk
      FROM h),
regs AS (SELECT event_type, reg, MAX(rnk) AS mj FROM r GROUP BY 1, 2),
agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_present,
               CAST(SUM(CAST(pow(2.0, 40 - mj) AS BIGINT)) AS BIGINT) AS s_present
        FROM regs GROUP BY event_type),
est AS (SELECT event_type, n_present,
    0.7213 / (1.0 + 1.079 / 512) * 512 * 512
      / (CAST(s_present + (512 - n_present) * 1099511627776 AS DOUBLE)
         / 1099511627776.0) AS raw
  FROM agg)
SELECT event_type,
  CAST(512 - n_present AS BIGINT) AS n_empty_registers,
  floor(CASE WHEN raw <= 1280.0 AND (512 - n_present) > 0
        THEN 512.0 * ln(512.0 / CAST(512 - n_present AS DOUBLE))
        ELSE raw END * 10000 + 0.5) / 10000.0 AS estimate
FROM est
"""

    # triangle count over the covisitation graph: same capped-pairs CTE
    # as item_covisitation, then degree-ordered orientation — wedge
    # (a->p, a->q with p before q) closed by oriented edge (p->q)
    sql["triangle_count"] = """
WITH ki AS (
  SELECT user_id, TRY_CAST(props->>'k' AS BIGINT) AS item, COUNT(*) AS c
  FROM events WHERE TRY_CAST(props->>'k' AS BIGINT) IS NOT NULL
  GROUP BY user_id, TRY_CAST(props->>'k' AS BIGINT)),
capped AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
      ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY c DESC, item ASC) AS rk
    FROM ki)
  WHERE rk <= 20),
e AS (
  SELECT a.item AS u, b.item AS v
  FROM capped a JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING COUNT(*) >= 2),
d AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
  GROUP BY node),
o AS (
  SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS a,
         CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS b,
         CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v)
              THEN dv.deg ELSE du.deg END AS degb
  FROM e JOIN d du ON du.node = e.u JOIN d dv ON dv.node = e.v),
w AS (
  SELECT x.b AS p, y.b AS q
  FROM o x JOIN o y ON x.a = y.a
  WHERE (x.degb < y.degb) OR (x.degb = y.degb AND x.b < y.b))
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM w JOIN o ON o.a = w.p AND o.b = w.q
"""

    # histogram quantile sketch: affine-floor bucketing and the
    # ceil(q*total) cumulative rule mirrored exactly; qs cast to DOUBLE
    # so q*total is IEEE arithmetic in both engines
    sql["hist_quantiles"] = """
WITH regs AS (
  SELECT CAST(LEAST(GREATEST(CAST(FLOOR((CAST(value AS DOUBLE) - 0.0) / 500.0 * 500) AS BIGINT), 0), 499) AS INT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1),
cum AS (
  SELECT bucket,
         CAST(SUM(cnt) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM regs),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM regs),
qs AS (SELECT CAST(q AS DOUBLE) AS q
       FROM (VALUES (0.25),(0.5),(0.9),(0.99)) t(q))
SELECT q, 0.0 + CAST(b + 1 AS DOUBLE) * 1.0 AS est_value
FROM (
  SELECT q, MIN(bucket) AS b
  FROM qs, tot, cum
  WHERE cum >= CAST(CEIL(q * total) AS BIGINT)
  GROUP BY q)
"""

    # count-min sketch: same 60-bit md5 hash recipe as the HLL oracle,
    # seeded per sketch row by the 'r:' prefix; estimate = min over the
    # depth probed slots, missing slot -> 0
    sql["cms_user_counts"] = """
WITH d AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
r AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(sketch_row)),
hashed AS (
  SELECT sketch_row,
         CAST(concat('0x', substring(md5(CAST(sketch_row AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1024 AS slot
  FROM d CROSS JOIN r),
regs AS (
  SELECT sketch_row, slot, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM hashed GROUP BY 1, 2),
keys AS (SELECT DISTINCT user_id FROM d),
probes AS (
  SELECT user_id, sketch_row,
         CAST(concat('0x', substring(md5(CAST(sketch_row AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1024 AS slot
  FROM keys CROSS JOIN r)
SELECT p.user_id, CAST(MIN(COALESCE(g.cnt, 0)) AS BIGINT) AS est_count
FROM probes p LEFT JOIN regs g USING (sketch_row, slot)
GROUP BY p.user_id
"""

    # Morton interleave mirrored term-for-term: bit b of dim i lands at
    # position b*n + i in both engines (>> & << | on BIGINT)
    _z_terms = " | ".join(
        f"(((({dim}) >> {b}) & 1) << {2 * b + i})"
        for b in range(8)
        for i, dim in enumerate(("u", "i"))
    )
    sql["zorder_stats"] = f"""
WITH d AS (
  SELECT user_id % 256 AS u,
         TRY_CAST(props->>'k' AS BIGINT) % 256 AS i
  FROM events
  WHERE user_id IS NOT NULL
    AND TRY_CAST(props->>'k' AS BIGINT) IS NOT NULL),
z AS (SELECT ({_z_terms}) AS zk, u, i FROM d)
SELECT zk >> 10 AS z_bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(u) AS min_u, MAX(u) AS max_u,
       MIN(i) AS min_i, MAX(i) AS max_i
FROM z GROUP BY 1
"""

    # incremental merge ≡ full recompute: the oracle aggregates the whole
    # table in one pass with the same micro-unit snap; mean divides the
    # exact integer sum by the exact count then snaps back
    sql["incr_agg_merge"] = """
WITH u AS (
  SELECT event_type, value,
         CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vu
  FROM events),
s AS (
  SELECT event_type,
         CAST(COUNT(value) AS BIGINT) AS n,
         CAST(COALESCE(SUM(vu), 0) AS BIGINT) AS sum_u,
         MIN(value) AS min_v, MAX(value) AS max_v
  FROM u GROUP BY event_type)
SELECT event_type, n,
       CAST(FLOOR(CAST(sum_u AS DOUBLE) / n + 0.5) AS DOUBLE) / 1000000 AS mean_v,
       min_v, max_v
FROM s
"""

    # bloom_join is result-identical to the plain join by construction
    # (no false negatives; the exact join removes false positives), so
    # the oracle is the plain join itself.
    sql["bloom_join_supplier"] = """
SELECT l_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
WHERE s_nationkey < 5
GROUP BY l_suppkey, s_name
"""

    # fixed-iteration PageRank, integer rank units: the three message
    # passes unrolled as chained CTEs; '//'(DuckDB) ≡ 'div'(Spark) on the
    # all-positive operands. UNION (not UNION ALL) dedups edges/nodes.
    _pr_iter = """
  SELECT n.node,
         (SELECT (15 * 1000000000000) // (100 * n) FROM p)
           + COALESCE(c.in_u, 0) AS rank_u
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           SUM((r.rank_u * 85) // (100 * d.out_deg)) AS in_u
    FROM edges e
    JOIN deg d ON e.src = d.src
    JOIN {prev} r ON r.node = e.src
    GROUP BY e.dst) c ON n.node = c.node"""
    sql["pagerank_items"] = (
        """
WITH ui AS (
  SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
                  'i:' || CAST(TRY_CAST(props->>'k' AS BIGINT) AS VARCHAR) AS dst
  FROM events
  WHERE user_id IS NOT NULL
    AND TRY_CAST(props->>'k' AS BIGINT) IS NOT NULL),
edges AS (SELECT src, dst FROM ui UNION SELECT dst, src FROM ui),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
p AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, (SELECT 1000000000000 // n FROM p) AS rank_u FROM nodes),
i1 AS ("""
        + _pr_iter.format(prev="r0")
        + """),
i2 AS ("""
        + _pr_iter.format(prev="i1")
        + """),
i3 AS ("""
        + _pr_iter.format(prev="i2")
        + """)
SELECT node, CAST(rank_u AS BIGINT) AS rank_u FROM i3
ORDER BY rank_u DESC, node ASC LIMIT 20
"""
    )

    # personalized PageRank: same integer arithmetic as pagerank_items
    # but the teleport base lands ONLY on the fixed 3-item seed set
    # (init 10^12 // 3 each, per-iteration base 15*10^12 // 300 each);
    # non-seeds start at 0 and receive link mass only
    _ppr_iter = """
  SELECT n.node,
         CASE WHEN n.is_seed THEN 50000000000 ELSE 0 END
           + COALESCE(c.in_u, 0) AS rank_u
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           SUM((r.rank_u * 85) // (100 * d.out_deg)) AS in_u
    FROM edges e
    JOIN deg d ON e.src = d.src
    JOIN {prev} r ON r.node = e.src
    GROUP BY e.dst) c ON n.node = c.node"""
    sql["ppr_items"] = (
        """
WITH ui AS (
  SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
                  'i:' || CAST(TRY_CAST(props->>'k' AS BIGINT) AS VARCHAR) AS dst
  FROM events
  WHERE user_id IS NOT NULL
    AND TRY_CAST(props->>'k' AS BIGINT) IS NOT NULL),
edges AS (SELECT src, dst FROM ui UNION SELECT dst, src FROM ui),
seeds AS (SELECT UNNEST(['i:1', 'i:2', 'i:3']) AS node),
nodes AS (
  SELECT node, node IN (SELECT node FROM seeds) AS is_seed FROM (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges
    UNION SELECT node FROM seeds)),
deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
r0 AS (SELECT node,
         CASE WHEN is_seed THEN 1000000000000 // 3 ELSE 0 END AS rank_u
       FROM nodes),
i1 AS ("""
        + _ppr_iter.format(prev="r0")
        + """),
i2 AS ("""
        + _ppr_iter.format(prev="i1")
        + """),
i3 AS ("""
        + _ppr_iter.format(prev="i2")
        + """)
SELECT node, CAST(rank_u AS BIGINT) AS rank_u FROM i3
ORDER BY rank_u DESC, node ASC LIMIT 20
"""
    )

    # BPE first-iteration pair counts: word-frequency table (one corpus
    # pass), symbols = characters + '</w>', adjacent pairs weighted by
    # word count, merge-selection order.
    sql["bpe_pair_counts"] = f"""
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT UNNEST({_DOC_TOKENS_SQL}) AS word
    FROM documents WHERE length({_DOC_NORM_SQL}) > 0)
  GROUP BY word),
pairs AS (
  SELECT substring(word, i, 1) AS "left",
         substring(word, i + 1, 1) AS "right", n
  FROM words, UNNEST(range(1, CAST(length(word) AS BIGINT))) AS u(i)
  UNION ALL
  SELECT substring(word, length(word), 1), '</w>', n FROM words),
agg AS (
  SELECT "left", "right", CAST(SUM(n) AS BIGINT) AS pair_count
  FROM pairs GROUP BY "left", "right")
SELECT "left", "right", pair_count
FROM agg ORDER BY pair_count DESC, "left" ASC, "right" ASC LIMIT 20
"""

    # bpe_merges: the 3 fixed bpe_train iterations UNROLLED as CTE rounds
    # (the pagerank/LPA technique). Vocab state is a wrapped-symbol string
    # '{c}{h}{...}{</w>}' per word; each round = adjacent-pair aggregate
    # over regexp-extracted symbols + (count desc, left, right) argmax +
    # replace('{l}{r}' -> '{lr}'). The wrap markers ({ } never appear in
    # the [a-z0-9]+ / '</w>' symbol alphabet) make cross-boundary matches
    # impossible, and replace()'s single-pass non-overlapping left-to-
    # right scan is exactly bpe's greedy merge fold — validated
    # bit-identical vs bpe_train at sf0.001 and sf0.01.
    _bpe_parts = [
        f"""WITH v0 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         regexp_replace(word, '(.)', '{{\\1}}', 'g') || '{{</w>}}' AS s
  FROM (SELECT UNNEST({_DOC_TOKENS_SQL}) AS word
        FROM documents WHERE length({_DOC_NORM_SQL}) > 0)
  GROUP BY word)"""
    ]
    for _i in range(1, 4):
        _bpe_parts.append(
            f"""pc{_i} AS (
  SELECT p[1] AS lft, p[2] AS rgt, CAST(SUM(n) AS BIGINT) AS c
  FROM (
    SELECT n, UNNEST(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS p
    FROM (SELECT n, regexp_extract_all(s, '[^{{}}]+') AS syms FROM v{_i-1})
    WHERE len(syms) >= 2)
  GROUP BY 1, 2),
m{_i} AS (SELECT lft, rgt, c FROM pc{_i} WHERE c >= 2
         ORDER BY c DESC, lft ASC, rgt ASC LIMIT 1),
v{_i} AS (
  SELECT n, replace(s,
    '{{' || (SELECT lft FROM m{_i}) || '}}{{' || (SELECT rgt FROM m{_i}) || '}}',
    '{{' || (SELECT lft FROM m{_i}) || (SELECT rgt FROM m{_i}) || '}}') AS s
  FROM v{_i-1})"""
        )
    _bpe_unions = "\nUNION ALL ".join(
        f'SELECT {_i - 1} AS rank, lft AS "left", rgt AS "right", c AS pair_count'
        f" FROM m{_i}"
        for _i in range(1, 4)
    )
    sql["bpe_merges"] = (
        ",\n".join(_bpe_parts)
        + f"""
SELECT CAST(rank AS INT) AS rank, "left", "right", pair_count
FROM ({_bpe_unions}) ORDER BY rank"""
    )

    # bpe_encode_tokens: the same 3 unrolled training rounds feed 3
    # NESTED replaces per word (rule order = the fold chain order);
    # per-doc reassembly is ordered string_agg by word position.
    # COALESCE('{}') turns a missing merge (early stop) into a no-op
    # pattern — '{}' cannot occur, every brace pair has content.
    def _bpe_pat(i: int) -> str:
        return (
            f"COALESCE('{{{{' || (SELECT lft FROM m{i}) || '}}}}{{{{' || "
            f"(SELECT rgt FROM m{i}) || '}}}}', '{{{{}}}}')"
        ).replace("{{", "{").replace("}}", "}")

    def _bpe_rep(i: int) -> str:
        return (
            f"COALESCE('{{{{' || (SELECT lft FROM m{i}) || "
            f"(SELECT rgt FROM m{i}) || '}}}}', '{{{{}}}}')"
        ).replace("{{", "{").replace("}}", "}")

    sql["bpe_encode_tokens"] = (
        ",\n".join(_bpe_parts)
        + f""",
docs20 AS (
  SELECT doc_id, {_DOC_TOKENS_SQL} AS toks
  FROM documents WHERE doc_id < 20 AND length({_DOC_NORM_SQL}) > 0),
wt AS (
  SELECT doc_id, toks[i] AS word, i AS pos
  FROM docs20, UNNEST(range(1, len(toks) + 1)) AS u(i)),
enc AS (
  SELECT doc_id, pos,
    replace(replace(replace(
      regexp_replace(word, '(.)', '{{\\1}}', 'g') || '{{</w>}}',
      {_bpe_pat(1)}, {_bpe_rep(1)}),
      {_bpe_pat(2)}, {_bpe_rep(2)}),
      {_bpe_pat(3)}, {_bpe_rep(3)}) AS s
  FROM wt),
per_doc AS (
  SELECT doc_id,
    string_agg(array_to_string(regexp_extract_all(s, '[^{{}}]+'), ' '),
               ' ' ORDER BY pos) AS tokens_str,
    SUM(len(regexp_extract_all(s, '[^{{}}]+'))) AS n_tokens
  FROM enc GROUP BY doc_id)
SELECT d.doc_id, COALESCE(p.tokens_str, '') AS tokens_str,
       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 20) d
LEFT JOIN per_doc p USING (doc_id)
"""
    )

    # coverage_select: the 3 fixed greedy max-coverage rounds UNROLLED
    # (the bpe_merges technique): each round = anti-join of the distinct
    # (doc_id, word) relation against covered words + count aggregate +
    # (gain desc, doc_id asc) argmax. A doc with zero remaining words
    # vanishes from the aggregate in both engines, so min_gain=1 needs no
    # explicit clause.
    _cov_round = """
d{i} AS (SELECT * FROM dw WHERE word NOT IN (SELECT word FROM c{p})),
g{i} AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
         FROM d{i} GROUP BY doc_id),
m{i} AS (SELECT doc_id, gain FROM g{i}
         ORDER BY gain DESC, doc_id ASC LIMIT 1),
c{i} AS (SELECT word FROM c{p} UNION
         SELECT DISTINCT word FROM dw
         WHERE doc_id IN (SELECT doc_id FROM m{i}))"""
    sql["coverage_select"] = (
        f"""WITH docs2 AS (
  SELECT doc_id,
         text || ' uniq' || CAST(doc_id % 101 AS VARCHAR)
              || ' uniq' || CAST(doc_id % 103 AS VARCHAR) AS text
  FROM documents),
dw AS (
  SELECT DISTINCT doc_id, word FROM (
    SELECT doc_id, UNNEST({_DOC_TOKENS_SQL}) AS word
    FROM docs2 WHERE length({_DOC_NORM_SQL}) > 0)),
g1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM dw GROUP BY doc_id),
m1 AS (SELECT doc_id, gain FROM g1 ORDER BY gain DESC, doc_id ASC LIMIT 1),
c1 AS (SELECT DISTINCT word FROM dw WHERE doc_id IN (SELECT doc_id FROM m1)),"""
        + _cov_round.format(i=2, p=1)
        + ","
        + _cov_round.format(i=3, p=2)
        + """
SELECT CAST(rank AS INT) AS rank, doc_id, gain FROM (
  SELECT 0 AS rank, doc_id, gain FROM m1
  UNION ALL SELECT 1, doc_id, gain FROM m2
  UNION ALL SELECT 2, doc_id, gain FROM m3) ORDER BY rank
"""
    )

    # temperature mix: sqrt is IEEE-correctly-rounded in both engines;
    # micro-unit floor + the integer (2N+D) div 2D basis-point recipe
    sql["domain_temperature_mix"] = """
WITH counts AS (
  SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents WHERE source IS NOT NULL GROUP BY source),
w AS (SELECT domain, n_docs,
  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
    AS weight_u
  FROM counts)
SELECT domain, n_docs, weight_u,
  CAST((2 * weight_u * 10000 + SUM(weight_u) OVER ())
       // (2 * SUM(weight_u) OVER ()) AS BIGINT) AS share_bp
FROM w
"""

    # DSIR: every ln argument is an integer and each log term snaps to
    # micro-nats independently (floor(ln(n)*1e6+0.5)) before any addition,
    # so per-bucket weights and per-doc scores are pure integer arithmetic
    # in both engines; 60-bit md5 bucket hash is the shared portable recipe
    sql["dsir_selection"] = f"""
WITH docs2 AS (
  SELECT doc_id, lang,
         text || ' mk' || CAST((doc_id * 7) % 17 AS VARCHAR) AS text
  FROM documents),
toks AS (
  SELECT doc_id, (lang = 'en') AS is_t, UNNEST({_DOC_TOKENS_SQL}) AS word
  FROM docs2 WHERE length({_DOC_NORM_SQL}) > 0),
dc AS (
  SELECT doc_id, is_t,
    CAST(concat('0x', substring(md5(word), 1, 15)) AS BIGINT) % 64 AS b,
    CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2, 3),
bw AS (
  SELECT b,
    SUM(CASE WHEN is_t THEN c ELSE 0 END) AS ct,
    SUM(c) AS cr
  FROM dc GROUP BY b),
w AS (
  SELECT b,
      CAST(floor(ln(ct + 1) * 1000000 + 0.5) AS BIGINT)
    - CAST(floor(ln((SUM(ct) OVER ()) + 64) * 1000000 + 0.5) AS BIGINT)
    - CAST(floor(ln(cr + 1) * 1000000 + 0.5) AS BIGINT)
    + CAST(floor(ln((SUM(cr) OVER ()) + 64) * 1000000 + 0.5) AS BIGINT)
      AS w_u
  FROM bw)
SELECT dc.doc_id,
  CAST(SUM(dc.c) AS BIGINT) AS n_feat_tokens,
  CAST(SUM(dc.c * w.w_u) AS BIGINT) AS dsir_score_u
FROM dc JOIN w ON dc.b = w.b
WHERE NOT dc.is_t
GROUP BY dc.doc_id
ORDER BY dsir_score_u DESC, doc_id ASC LIMIT 40
"""

    # k-means: both Lloyd rounds unrolled as CTEs in long (vec, dim)
    # format — positional-join formulation vs the engine's zip_with
    # arrays, identical integer math (micro-unit coords, exact bigint
    # distances, floor(sum/n + 0.5) centroid update, (dist, cid) ties)
    _km_round = """
dist{i} AS (
  SELECT qd.vec_id, c.cid, SUM((qd.x - c.c) * (qd.x - c.c)) AS dist
  FROM qd JOIN c{p} c USING (d) GROUP BY qd.vec_id, c.cid),
a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM dist{i}) WHERE rn = 1),
c{i} AS (
  SELECT a.cid, qd.d,
         CAST(floor(CAST(SUM(qd.x) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS c
  FROM qd JOIN a{i} a USING (vec_id) GROUP BY a.cid, qd.d)"""
    _km_prefix = (
        """WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings),
qd AS (
  SELECT vec_id, unnest(qv) AS x,
         unnest(generate_series(1, len(qv))) AS d
  FROM q),
seeds AS (
  SELECT row_number() OVER (
           ORDER BY CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
                    vec_id) AS cid,
         vec_id
  FROM q QUALIFY cid <= 4),
c0 AS (SELECT s.cid, qd.d, qd.x AS c FROM seeds s JOIN qd USING (vec_id)),"""
        + _km_round.format(i=1, p=0)
        + ","
        + _km_round.format(i=2, p=1)
        + """,
dist3 AS (
  SELECT qd.vec_id, c.cid, SUM((qd.x - c.c) * (qd.x - c.c)) AS dist
  FROM qd JOIN c2 c USING (d) GROUP BY qd.vec_id, c.cid),
a3 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM dist3) WHERE rn = 1)"""
    )
    sql["kmeans_clusters"] = (
        _km_prefix
        + """
SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, CAST(dist AS BIGINT) AS dist_q
FROM a3
"""
    )

    # SemDeDup = the k-means trajectory above + one within-cluster
    # cosine-pruning CTE on the ORIGINAL double vectors (6-dp round, the
    # cosine_dup_pairs contract); keep-lowest-id rule
    sql["semantic_dedup"] = (
        _km_prefix
        + """,
ev AS (
  SELECT a3.vec_id, a3.cid, CAST(e.embedding AS DOUBLE[]) AS v
  FROM a3 JOIN embeddings e USING (vec_id)),
dom AS (
  SELECT DISTINCT b.vec_id
  FROM ev a JOIN ev b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
        >= 0.4)
SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id
FROM ev WHERE vec_id NOT IN (SELECT vec_id FROM dom)
"""
    )

    # directed shingle containment: same shingle/cap front half as
    # ngram_jaccard_pairs, divisor = the CONTAINED doc's size only
    sql["containment_pairs"] = f"""
WITH docs_aug AS ({_DOCS_NEAR_DUPS_SQL}),
toks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM docs_aug),
sh_all AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
sh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh_all)
  WHERE df <= 1000),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS lo, b.doc_id AS hi, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
directed AS (
  SELECT lo AS doc_a, hi AS doc_b, n_common FROM common
  UNION ALL
  SELECT hi AS doc_a, lo AS doc_b, n_common FROM common)
SELECT doc_a, doc_b,
  floor(n_common / sa.n_shingles * 10000 + 0.5) / 10000.0 AS containment
FROM directed JOIN sizes sa ON sa.doc_id = doc_a
WHERE floor(n_common / sa.n_shingles * 10000 + 0.5) / 10000.0 >= 0.8
"""

    # hard negatives: the ann_cosine_topk mirror + label-mismatch filter
    # (IS DISTINCT FROM = Spark's ~eqNullSafe) before the rank window
    sql["hard_negatives"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, label AS ql FROM e WHERE vec_id < 5),
s AS (
  SELECT query_id, e.vec_id AS neighbor_id, e.label AS neg_label,
    ROUND(list_dot_product(qv, e.v)
          / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine_sim
  FROM q, e WHERE query_id <> e.vec_id AND ql IS DISTINCT FROM e.label),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
  FROM s)
SELECT query_id, neighbor_id, neg_label, cosine_sim FROM r WHERE rk <= 5
"""

    # winsorized mean: integer-exact percentile interpolation — position
    # in ten-thousandths, (next-lower) non-negative so // == Spark div;
    # only the final mean is sign-decomposed
    sql["winsorized_values"] = """
WITH rows_ AS (
  SELECT user_id AS k,
         CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL),
rk AS (
  SELECT k, y,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY y) - 1 AS rk,
         COUNT(*) OVER (PARTITION BY k) AS n
  FROM rows_),
b AS (
  SELECT k, y, n,
    MAX(CASE WHEN rk = ((n-1)*100) // 10000 THEN y END)
      OVER (PARTITION BY k) AS lo_lower,
    MAX(CASE WHEN rk = LEAST(((n-1)*100) // 10000 + 1, n-1) THEN y END)
      OVER (PARTITION BY k) AS lo_upper,
    ((n-1)*100) % 10000 AS lo_frac,
    MAX(CASE WHEN rk = ((n-1)*9900) // 10000 THEN y END)
      OVER (PARTITION BY k) AS hi_lower,
    MAX(CASE WHEN rk = LEAST(((n-1)*9900) // 10000 + 1, n-1) THEN y END)
      OVER (PARTITION BY k) AS hi_upper,
    ((n-1)*9900) % 10000 AS hi_frac
  FROM rk),
c AS (
  SELECT k, y,
    lo_lower + ((lo_upper - lo_lower) * lo_frac) // 10000 AS lo_u,
    hi_lower + ((hi_upper - hi_lower) * hi_frac) // 10000 AS hi_u
  FROM b),
agg AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_points,
         MAX(lo_u) AS lo, MAX(hi_u) AS hi,
         SUM(LEAST(GREATEST(y, lo_u), hi_u)) AS s
  FROM c GROUP BY k)
SELECT k AS user_id, n_points,
  CAST(lo AS DOUBLE) / 1000000.0 AS lo_bound,
  CAST(hi AS DOUBLE) / 1000000.0 AS hi_bound,
  CAST(CASE WHEN s >= 0 THEN s // n_points
            ELSE -((-s) // n_points) END AS DOUBLE) / 1000000.0 AS win_mean
FROM agg
"""

    # JL Rademacher projection: the SAME deterministic ±1 matrix the
    # Spark plan bakes in as a literal, emitted here as a VALUES list
    # (the shared-constant pattern of the PQ codebook / IVF centroids);
    # list_dot_product mirrors the JVM left-fold at 6 dp
    from aces_spark.datapipe.similarity import _rademacher_matrix

    _rp_rows = ",\n  ".join(
        f"({j}, {row!r})".replace("'", "")
        for j, row in enumerate(_rademacher_matrix(64, 4))
    )
    sql["random_projection"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s(dim_idx, signs) AS (VALUES
  {_rp_rows})
SELECT vec_id, CAST(dim_idx AS INT) AS dim_idx,
       ROUND(list_dot_product(v, signs), 6) AS proj
FROM e, s
"""

    # mergeable HLL register table: same hash/register/rank derivation
    # as hll_distinct, present registers only
    sql["hll_registers"] = """
WITH h AS (SELECT
    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
      AS h
  FROM events WHERE user_id IS NOT NULL),
r AS (SELECT h & 511 AS register,
        LEAST(bit_count(((h >> 9) & -(h >> 9)) - 1) + 1, 40) AS rnk
      FROM h)
SELECT register, CAST(MAX(rnk) AS INT) AS max_rank
FROM r GROUP BY register
"""

    # SQ8 scalar quantization: per-dim min/max is ORDER-FREE (engine-
    # exact), and the affine floor is the identical IEEE expression tree
    # on both sides — codes are bit-deterministic, no rounding needed
    sql["sq8_codes"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (SELECT vec_id, u.i AS dim, v[u.i + 1] AS x
      FROM e, UNNEST(range(0, len(v))) AS u(i)),
b AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM d GROUP BY dim)
SELECT vec_id, d.dim,
  CAST(CASE WHEN hi = lo THEN 0
       ELSE LEAST(GREATEST(CAST(FLOOR((x - lo) / (hi - lo) * 255.0 + 0.5) AS BIGINT),
                           0), 255)
       END AS INT) AS code
FROM d JOIN b USING (dim)
"""

    # SQ8 asymmetric-distance top-k in the factored INTEGER ADC form the
    # Spark side computes: per-query qs_u = floor(q·s·1e6 + 0.5) and
    # kq_u = floor(<q, lo>·1e6 + 0.5) (the <q,lo> dot is the sequential
    # fold, mirrored by list_dot_product), then the pair score
    # kq_u + Σ qs_u·code is an exact int64 sum — order-free, so the
    # engines agree however each evaluates it; adc_dot = that over 1e6.
    # Every product |qs_u·code| stays far under 2^53, so the double-list
    # dot here is exact and the BIGINT cast lossless.
    sql["sq8_topk"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (SELECT vec_id, u.i AS dim, v[u.i + 1] AS x
      FROM e, UNNEST(range(0, len(v))) AS u(i)),
b AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM d GROUP BY dim),
c AS (SELECT vec_id, d.dim,
        CASE WHEN hi = lo THEN 0
        ELSE LEAST(GREATEST(CAST(FLOOR((x - lo) / (hi - lo) * 255.0 + 0.5) AS BIGINT),
                            0), 255) END AS code
      FROM d JOIN b USING (dim)),
cd AS (SELECT vec_id, list(CAST(code AS DOUBLE) ORDER BY dim) AS c_list
       FROM c GROUP BY vec_id),
lol AS (SELECT list(lo ORDER BY dim) AS lo_list FROM b),
q0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
qd AS (SELECT query_id, b.dim,
         FLOOR(qv[b.dim + 1] * ((hi - lo) / 255.0) * 1000000.0 + 0.5) AS qs_u
       FROM q0, b),
qq AS (SELECT query_id, list(qs_u ORDER BY dim) AS qs_list FROM qd GROUP BY query_id),
qk AS (SELECT query_id,
         CAST(FLOOR(list_dot_product(qv, lol.lo_list) * 1000000.0 + 0.5) AS BIGINT) AS kq_u
       FROM q0, lol),
s AS (SELECT qq.query_id, cd.vec_id AS neighbor_id,
        (qk.kq_u + CAST(list_dot_product(qq.qs_list, cd.c_list) AS BIGINT))
          / 1000000.0 AS adc_dot
      FROM qq JOIN qk USING (query_id), cd
      WHERE qq.query_id <> cd.vec_id),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_dot DESC, neighbor_id ASC) AS rk
      FROM s)
SELECT query_id, neighbor_id, adc_dot FROM r WHERE rk <= 5
"""

    # corpus diversity via |Σu|² − Σ|u|²: micro-unit snapped normalized
    # coords, hugeint-exact sums; a single snap flip moves the mean by
    # ~1e-12 — far inside the 6 dp rounding
    sql["corpus_diversity"] = """
WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
f AS (SELECT v, nrm FROM n WHERE nrm > 0),
d AS (SELECT u.i AS dim,
        CAST(FLOOR(v[u.i + 1] / nrm * 1000000 + 0.5) AS BIGINT) AS uu
      FROM f, UNNEST(range(0, len(v))) AS u(i)),
p AS (SELECT dim, COUNT(*) AS cnt, SUM(uu) AS s, SUM(uu * uu) AS q
      FROM d GROUP BY dim),
a AS (SELECT MAX(cnt) AS n_vectors, SUM(s * s) AS cr, SUM(q) AS sf FROM p)
SELECT CAST(n_vectors AS BIGINT) AS n_vectors,
  ROUND(CAST(cr - sf AS DOUBLE)
        / (CAST(n_vectors AS DOUBLE) * (CAST(n_vectors AS DOUBLE) - 1.0))
        / 1000000.0 / 1000000.0, 6) AS mean_pairwise_cosine
FROM a
"""

    # norm z-score outliers: micro-unit norms, exact integer mean/var
    # (n·Σu² − (Σu)² in hugeint), the final z is the only float division
    sql["embedding_outliers"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
u AS (SELECT vec_id,
        CAST(FLOOR(sqrt(list_dot_product(v, v)) * 1000000 + 0.5) AS BIGINT) AS uu
      FROM e),
st AS (SELECT COUNT(*) AS n, SUM(uu) AS s, SUM(uu * uu) AS q FROM u),
z AS (SELECT vec_id, CAST(uu AS DOUBLE) / 1000000 AS norm,
        CASE WHEN n * q - s * s > 0 THEN
          ROUND((CAST(uu AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                / sqrt(CAST(n * q - s * s AS DOUBLE)) * CAST(n AS DOUBLE), 4)
        END AS z
      FROM u, st)
SELECT vec_id, norm, z, COALESCE(ABS(z) > 2.0, FALSE) AS is_outlier FROM z
"""

    # grouped histogram sketch: per-source bucketing + the ceil(q·total)
    # upper-edge readout rule of hist_quantiles, partitioned by source
    sql["hist_by_group"] = """
WITH regs AS (
  SELECT source,
    CAST(LEAST(GREATEST(CAST(FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 4000.0 * 400) AS BIGINT), 0), 399) AS INT) AS bucket,
    CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT source, bucket,
    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM regs),
tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS total FROM regs GROUP BY source),
qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5),(0.9),(0.99)) t(q))
SELECT source, q, 0.0 + CAST(b + 1 AS DOUBLE) * 10.0 AS est_value
FROM (
  SELECT t.source, q, MIN(bucket) AS b
  FROM qs, tot t JOIN cum c ON c.source = t.source
  WHERE cum >= CAST(CEIL(q * total) AS BIGINT)
  GROUP BY 1, 2)
"""

    # readability signals: sentence segments on [.!?] runs, whitespace
    # words (the token_counts rule), vowel-group syllables; reading ease
    # from the 4 dp-rounded ratios exactly as the Spark column chain
    sql["sentence_stats"] = """
WITH b AS (
  SELECT doc_id,
    CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                         s -> length(trim(s)) > 0)) AS BIGINT) AS n_sentences,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_words,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
  FROM documents),
r AS (
  SELECT doc_id, n_sentences, n_words, n_syllables,
    ROUND(CASE WHEN n_sentences > 0
          THEN CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) END, 4)
      AS words_per_sentence,
    ROUND(CASE WHEN n_words > 0
          THEN CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) END, 4)
      AS syllables_per_word
  FROM b)
SELECT doc_id, n_sentences, n_words, n_syllables,
  words_per_sentence, syllables_per_word,
  ROUND(206.835 - 1.015 * words_per_sentence - 84.6 * syllables_per_word, 3)
    AS reading_ease
FROM r
"""

    # cluster-aware split: the dedup_clusters recursive closure, then
    # the assign_splits 90/5/5 bucket rule keyed on cluster_id
    sql["leakage_safe_split"] = """
WITH RECURSIVE
p AS (
  SELECT d1.doc_id AS doc_a, d1.doc_id + 1 AS doc_b
  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
  WHERE d1.doc_id % 10 < 4),
e AS (SELECT doc_a AS u, doc_b AS v FROM p
      UNION SELECT doc_b, doc_a FROM p),
reach(node, root) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM e) t
  UNION
  SELECT e.v, r.root FROM reach r JOIN e ON e.u = r.node),
lab AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node),
allc AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN lab l USING (doc_id)),
sized AS (
  SELECT doc_id, cluster_id,
    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
  FROM allc),
bkt AS (
  SELECT *, CAST(concat('0x', substring(md5(concat('0|', CAST(cluster_id AS VARCHAR))), 1, 8))
                 AS BIGINT) % 10000 AS b
  FROM sized)
SELECT doc_id, cluster_id, cluster_size,
  CASE WHEN b < 9000 THEN 'train'
       WHEN b < 9500 THEN 'val'
       ELSE 'test' END AS split
FROM bkt
"""

    # MMR: the identical integer greedy unrolled — micro-snapped cosine
    # (the cosine() NULL-on-zero-norm contract mirrored by CASE), pure
    # integer 7·rel_u − 3·maxsim_u scores, (score desc, id asc) argmax
    _mmr_cos = (
        "CASE WHEN sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})) > 0 "
        "THEN list_dot_product({a}, {b}) "
        "/ (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))) END"
    )
    _mmr_round = f"""
rem{{i}} AS (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM sel{{p}} s
                    WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id)),
ms{{i}} AS (
  SELECT r.query_id, r.cand_id,
    MAX(CAST(FLOOR(({_mmr_cos.format(a="r.v", b="s.v")}) * 1000000 + 0.5) AS BIGINT))
      AS maxsim_u
  FROM rem{{i}} r JOIN sel{{p}} s ON s.query_id = r.query_id
  GROUP BY 1, 2),
sc{{i}} AS (
  SELECT c.query_id, c.cand_id, c.rel_u, c.v,
         7 * c.rel_u - 3 * m.maxsim_u AS score_u
  FROM ms{{i}} m JOIN cand c
    ON c.query_id = m.query_id AND c.cand_id = m.cand_id),
m{{i}} AS (
  SELECT query_id, cand_id, rel_u, score_u, v FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score_u DESC, cand_id ASC) AS rk2
    FROM sc{{i}}) WHERE rk2 = 1),
sel{{i}} AS (SELECT query_id, cand_id, v FROM sel{{p}}
             UNION ALL SELECT query_id, cand_id, v FROM m{{i}})"""
    sql["mmr_select"] = (
        f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
s0 AS (
  SELECT query_id, e.vec_id AS cand_id,
    CAST(FLOOR(({_mmr_cos.format(a="qv", b="e.v")}) * 1000000 + 0.5) AS BIGINT)
      AS rel_u,
    e.v AS v
  FROM q, e WHERE query_id <> e.vec_id),
cand AS (
  SELECT query_id, cand_id, rel_u, v FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel_u DESC, cand_id ASC) AS rk
    FROM s0) WHERE rk <= 10),
m1 AS (
  SELECT query_id, cand_id, rel_u, CAST(NULL AS BIGINT) AS score_u, v FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel_u DESC, cand_id ASC) AS rk
    FROM cand) WHERE rk = 1),
sel1 AS (SELECT query_id, cand_id, v FROM m1),"""
        + _mmr_round.format(i=2, p=1)
        + ","
        + _mmr_round.format(i=3, p=2)
        + """
SELECT query_id, CAST(rank AS INT) AS rank, cand_id AS neighbor_id,
  CAST(rel_u AS DOUBLE) / 1000000 AS rel,
  CAST(score_u AS DOUBLE) / 10 / 1000000 AS mmr_score
FROM (
  SELECT 1 AS rank, query_id, cand_id, rel_u, score_u FROM m1
  UNION ALL SELECT 2, query_id, cand_id, rel_u, score_u FROM m2
  UNION ALL SELECT 3, query_id, cand_id, rel_u, score_u FROM m3)
"""
    )

    # n-gram novelty: min-over-shingle ownership (order-free), then the
    # (2N+D) div 2D round-half-up basis points — no join on either side
    sql["ngram_novelty"] = f"""
WITH aug AS ({_DOCS_NEAR_DUPS_SQL}),
toks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM aug),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
  WHERE len(t) >= 5),
m AS (SELECT doc_id,
        MIN(doc_id) OVER (PARTITION BY shingle) AS first_doc
      FROM sh)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_shingles,
  CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
  CAST((2 * SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) * 10000 + COUNT(*))
       // (2 * COUNT(*)) AS BIGINT) AS novelty_bp
FROM m GROUP BY doc_id
"""

    # tokenizer fertility: the token_counts word rules, exact integer
    # sums per language, two 4 dp divisions
    sql["tokenizer_fertility"] = """
WITH per AS (
  SELECT lang AS "group",
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS ws,
    CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS bpe,
    CAST(length(text) AS BIGINT) AS chars
  FROM documents),
a AS (SELECT "group", CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(ws) AS BIGINT) AS ws_tokens,
        CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
        CAST(SUM(chars) AS BIGINT) AS chars
      FROM per GROUP BY 1)
SELECT "group", n_docs, ws_tokens, bpe_tokens,
  ROUND(CASE WHEN ws_tokens > 0
        THEN CAST(bpe_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE) END, 4)
    AS fertility,
  ROUND(CASE WHEN bpe_tokens > 0
        THEN CAST(chars AS DOUBLE) / CAST(bpe_tokens AS DOUBLE) END, 4)
    AS chars_per_token
FROM a
"""

    # classifier TRAINING unrolled: 3 full-batch integer-GD iterations
    # (w0 = 0 → iteration-1 margins are literally 0), sigmoid as the same
    # 256-entry integer table the Spark plan embeds (computed once in
    # Python, interpolated into both engines — no in-plan exp), weight
    # updates via DuckDB's truncating // (== the Python driver's tdiv),
    # then the quality_classifier scoring recipe against the trained w3
    from aces_spark.functions.features import sigmoid_table_micro

    _sig = "[" + ", ".join(str(v) for v in sigmoid_table_micro()) + "]"
    _cls_idx = (
        "((LEAST(GREATEST(COALESCE({m}, 0), -8000000), 8000000)"
        " + 8000000) * 255) // 16000000 + 1"
    )
    sql["classifier_train_score"] = f"""
WITH labels AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS ym
  FROM documents),
nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM labels),
toks AS (SELECT doc_id, unnest({_DOC_TOKENS_SQL}) AS term FROM documents),
th AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(term), 1, 15)) AS BIGINT) AS h
  FROM toks WHERE term <> ''),
feats AS (
  SELECT doc_id, h % 1024 AS bucket,
         CAST(SUM(CASE WHEN (h & 576460752303423488) <> 0
                       THEN -1 ELSE 1 END) AS BIGINT) AS value
  FROM th GROUP BY doc_id, h % 1024),
r1 AS (
  SELECT doc_id, ym - ({_sig})[{_cls_idx.format(m="0")}] AS r FROM labels),
g1 AS (
  SELECT bucket, SUM(CAST(value AS HUGEINT) * r) AS g
  FROM feats JOIN r1 USING (doc_id) GROUP BY bucket
  HAVING SUM(CAST(value AS HUGEINT) * r) <> 0),
w1 AS (
  SELECT bucket, CAST((10000 * g) // (10000 * nn.n) AS BIGINT) AS w
  FROM g1 CROSS JOIN nn),
m2 AS (
  SELECT f.doc_id, CAST(SUM(f.value * COALESCE(w1.w, 0)) AS BIGINT) AS m
  FROM feats f LEFT JOIN w1 USING (bucket) GROUP BY f.doc_id),
r2 AS (
  SELECT l.doc_id, l.ym - ({_sig})[{_cls_idx.format(m="m2.m")}] AS r
  FROM labels l LEFT JOIN m2 USING (doc_id)),
g2 AS (
  SELECT bucket, SUM(CAST(value AS HUGEINT) * r) AS g
  FROM feats JOIN r2 USING (doc_id) GROUP BY bucket
  HAVING SUM(CAST(value AS HUGEINT) * r) <> 0),
w2 AS (
  SELECT COALESCE(w1.bucket, g2.bucket) AS bucket,
         CAST(COALESCE(w1.w, 0)
              + COALESCE((10000 * g2.g) // (10000 * nn.n), 0) AS BIGINT) AS w
  FROM w1 FULL OUTER JOIN g2 ON w1.bucket = g2.bucket CROSS JOIN nn),
m3 AS (
  SELECT f.doc_id, CAST(SUM(f.value * COALESCE(w2.w, 0)) AS BIGINT) AS m
  FROM feats f LEFT JOIN w2 USING (bucket) GROUP BY f.doc_id),
r3 AS (
  SELECT l.doc_id, l.ym - ({_sig})[{_cls_idx.format(m="m3.m")}] AS r
  FROM labels l LEFT JOIN m3 USING (doc_id)),
g3 AS (
  SELECT bucket, SUM(CAST(value AS HUGEINT) * r) AS g
  FROM feats JOIN r3 USING (doc_id) GROUP BY bucket
  HAVING SUM(CAST(value AS HUGEINT) * r) <> 0),
w3 AS (
  SELECT COALESCE(w2.bucket, g3.bucket) AS bucket,
         CAST(COALESCE(w2.w, 0)
              + COALESCE((10000 * g3.g) // (10000 * nn.n), 0) AS BIGINT) AS w
  FROM w2 FULL OUTER JOIN g3 ON w2.bucket = g3.bucket CROSS JOIN nn),
sc AS (
  SELECT th.doc_id,
         (CASE WHEN (th.h & 576460752303423488) <> 0 THEN -1 ELSE 1 END)
           * w3.w AS contrib
  FROM th LEFT JOIN w3 ON (th.h % 1024) = w3.bucket)
SELECT d.doc_id,
       CAST(COALESCE(SUM(contrib), 0) AS BIGINT) AS score_micro,
       COALESCE(SUM(contrib), 0) >= 0 AS label
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
GROUP BY d.doc_id
"""

    # PII density gate: same planted corpus + patterns as pii_scrub
    # (single-sourced from datapipe.pii), one more CTE for the integer
    # density and the keep filter
    sql["pii_density_filter"] = (
        """
WITH pii_docs AS (@DOCS@),
red AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(text,
      '@EMAIL@', '<EMAIL>', 'g'),
      '@IPV4@', '<IP>', 'g'),
      '@PHONE@', '<PHONE>', 'g') AS clean_text,
    CAST(len(regexp_extract_all(text, '@EMAIL@'))
       + len(regexp_extract_all(text, '@IPV4@'))
       + len(regexp_extract_all(text, '@PHONE@')) AS BIGINT) AS n_pii,
    CAST(length(text) AS BIGINT) AS lc
  FROM pii_docs)
SELECT doc_id, clean_text, n_pii,
       CAST((n_pii * 10000) // GREATEST(lc, 1) AS BIGINT)
         AS pii_per_kchar_tenths
FROM red
WHERE (n_pii * 10000) // GREATEST(lc, 1) <= 50
""".replace("@DOCS@", _DOCS_PII_SQL)
        .replace("@EMAIL@", EMAIL_RE)
        .replace("@IPV4@", IPV4_RE)
        .replace("@PHONE@", PHONE_RE)
    )

    # Bradley-Terry: 3 MM iterations unrolled, HUGEINT sums, floor
    # division on non-negative operands (== Spark's truncating div)
    _bt_iter = """
t{k} AS (
  SELECT g.i,
         (CAST(g.n_ij AS HUGEINT) * 1000000 * 1000000)
           // (CAST(wi.u AS HUGEINT) + CAST(wj.u AS HUGEINT)) AS t
  FROM games g
  JOIN w{p} wi ON wi.player = g.i
  JOIN w{p} wj ON wj.player = g.j),
d{k} AS (SELECT i, SUM(t) AS denom FROM t{k} GROUP BY i),
u{k} AS (
  SELECT w.player, w.wins,
         (CAST(w.wins AS HUGEINT) * 1000000 * 1000000)
           // GREATEST(d.denom, 1) AS u_raw
  FROM wins w LEFT JOIN d{k} d ON d.i = w.player),
s{k} AS (SELECT SUM(u_raw) AS s_all FROM u{k}),
w{k} AS (
  SELECT player,
         GREATEST(CAST((u_raw * np.target) // GREATEST(s_all, 1) AS BIGINT),
                  1) AS u
  FROM u{k} CROSS JOIN s{k} CROSS JOIN np)"""
    sql["bradley_terry"] = (
        """
WITH comp AS (
  SELECT CASE WHEN a.n_chars > b.n_chars THEN a.source ELSE b.source END
           AS winner,
         CASE WHEN a.n_chars > b.n_chars THEN b.source ELSE a.source END
           AS loser
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.n_chars <> b.n_chars AND a.source <> b.source),
directed AS (
  SELECT winner, loser, CAST(COUNT(*) AS BIGINT) AS n
  FROM comp WHERE winner <> loser GROUP BY winner, loser),
sym AS (
  SELECT winner AS i, loser AS j, n FROM directed
  UNION ALL
  SELECT loser AS i, winner AS j, n FROM directed),
games AS (SELECT i, j, CAST(SUM(n) AS BIGINT) AS n_ij FROM sym GROUP BY i, j),
players AS (SELECT DISTINCT i AS player FROM games),
np AS (SELECT CAST(COUNT(*) AS HUGEINT) * 1000000 AS target FROM players),
wins AS (
  SELECT p.player, CAST(COALESCE(dw.w, 0) AS BIGINT) AS wins
  FROM players p LEFT JOIN (
    SELECT winner, SUM(n) AS w FROM directed GROUP BY winner) dw
    ON dw.winner = p.player),
totals AS (
  SELECT p.player, CAST(COALESCE(gt.g, 0) AS BIGINT) AS games
  FROM players p LEFT JOIN (
    SELECT i, SUM(n_ij) AS g FROM games GROUP BY i) gt ON gt.i = p.player),
w0 AS (SELECT player, CAST(1000000 AS BIGINT) AS u FROM players),"""
        + _bt_iter.format(k=1, p=0)
        + ","
        + _bt_iter.format(k=2, p=1)
        + ","
        + _bt_iter.format(k=3, p=2)
        + """
SELECT w3.player, w3.u AS strength_micro, wins.wins, totals.games
FROM w3 JOIN wins ON wins.player = w3.player
JOIN totals ON totals.player = w3.player
"""
    )

    # fuzzy decontamination: corpus bands vs benchmark bands (benchmark =
    # 90%-prefix copies of every 23rd doc); same 8-hash/4-band md5
    # signature recipe as minhash_lsh_pairs
    _fd_bands_c = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || '_' || ".join(f"CAST(h{b * 2 + i} AS VARCHAR)" for i in range(2))
        + ") AS bucket FROM csig"
        for b in range(4)
    )
    _fd_bands_b = "\nUNION ALL\n".join(
        f"SELECT bench_id, {b} AS band, md5("
        + " || '_' || ".join(f"CAST(h{b * 2 + i} AS VARCHAR)" for i in range(2))
        + ") AS bucket FROM bsig"
        for b in range(4)
    )
    sql["fuzzy_decontamination"] = f"""
WITH bench AS (
  SELECT doc_id AS bench_id,
         substring(text, 1, CAST(floor(length(text) * 0.9) AS INT)) AS text
  FROM documents WHERE doc_id % 23 = 0),
ctoks AS (SELECT doc_id, {_DOC_TOKENS_SQL} AS t FROM documents),
csh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM ctoks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
csig AS (SELECT doc_id, {minhash_cols} FROM csh GROUP BY doc_id),
btoks AS (SELECT bench_id, {_DOC_TOKENS_SQL} AS t FROM bench),
bsh AS (
  SELECT DISTINCT bench_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM btoks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
bsig AS (SELECT bench_id, {minhash_cols} FROM bsh GROUP BY bench_id),
cb AS ({_fd_bands_c}),
bb AS ({_fd_bands_b})
SELECT DISTINCT c.doc_id, b.bench_id
FROM cb c JOIN bb b ON c.band = b.band AND c.bucket = b.bucket
"""

    # exact integer covariance: micro fixed point (floor half-up — the
    # numpy/Spark/DuckDB-identical rounding), HUGEINT moments, and
    # truncating division (DuckDB // truncates toward zero exactly like
    # Spark's div, negative numerators included)
    sql["embedding_covariance"] = """
WITH u AS (
  SELECT vec_id, CAST(i AS BIGINT) AS i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
           AS u
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i))
SELECT a.i, b.i AS j,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(a.u) AS BIGINT) AS sum_ui,
  CAST(SUM(b.u) AS BIGINT) AS sum_uj,
  CAST(SUM(CAST(a.u AS HUGEINT) * b.u) AS BIGINT) AS sum_uiuj,
  CAST((CAST(COUNT(*) AS HUGEINT) * SUM(CAST(a.u AS HUGEINT) * b.u)
        - SUM(CAST(a.u AS HUGEINT)) * SUM(CAST(b.u AS HUGEINT)))
       // (CAST(COUNT(*) AS HUGEINT) * COUNT(*)) AS BIGINT) AS cov_q
FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
"""

    # matryoshka ablation: per-dim truncated top-10 vs full-dim ground
    # truth, recall in basis points (integer div both engines)
    _abl = []
    for _d in (8, 16, 32):
        _abl.append(
            f"""s{_d} AS (
  SELECT query_id, e.vec_id AS neighbor_id,
    ROUND(list_dot_product(qv[1:{_d}], e.v[1:{_d}])
          / (sqrt(list_dot_product(qv[1:{_d}], qv[1:{_d}]))
             * sqrt(list_dot_product(e.v[1:{_d}], e.v[1:{_d}]))), 6) AS cs
  FROM q, e WHERE query_id <> e.vec_id),
r{_d} AS (
  SELECT query_id, neighbor_id,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cs DESC, neighbor_id ASC) AS rk
  FROM s{_d}),
h{_d} AS (
  SELECT CAST({_d} AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM (SELECT query_id, neighbor_id FROM r{_d} WHERE rk <= 10) t
  JOIN gt USING (query_id, neighbor_id))"""
        )
    sql["dim_ablation_recall"] = (
        """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
sf AS (
  SELECT query_id, e.vec_id AS neighbor_id,
    ROUND(list_dot_product(qv, e.v)
          / (sqrt(list_dot_product(qv, qv))
             * sqrt(list_dot_product(e.v, e.v))), 6) AS cs
  FROM q, e WHERE query_id <> e.vec_id),
rf AS (
  SELECT query_id, neighbor_id,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cs DESC, neighbor_id ASC) AS rk
  FROM sf),
gt AS (SELECT query_id, neighbor_id FROM rf WHERE rk <= 10),
nq AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries FROM gt),
"""
        + ",\n".join(_abl)
        + """
SELECT dim, nq.n_queries, n_hits,
       CAST((n_hits * 10000) // GREATEST(nq.n_queries * 10, 1) AS BIGINT)
         AS recall_bp
FROM (SELECT * FROM h8 UNION ALL SELECT * FROM h16
      UNION ALL SELECT * FROM h32) u CROSS JOIN nq
"""
    )

    # Welch t-test: exact HUGEINT moments, then the closed form in the
    # SAME left-associated IEEE division order as the Spark expression
    sql["ab_welch_ttest"] = """
WITH vals AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS v,
         CAST(floor(value * 1000000 + 0.5) AS HUGEINT) AS u
  FROM events
  WHERE list_contains(string_split(event_type, '&'), 'purchase')
    AND value IS NOT NULL),
m AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n, SUM(u) AS s1, SUM(u * u) AS s2
  FROM vals GROUP BY v),
p AS (
  SELECT a.v AS variant_a, b.v AS variant_b, a.n AS n_a, b.n AS n_b,
         CAST(a.s1 AS DOUBLE) AS s1a, CAST(b.s1 AS DOUBLE) AS s1b,
         CAST(a.n * a.s2 - a.s1 * a.s1 AS DOUBLE) AS va_num,
         CAST(b.n * b.s2 - b.s1 * b.s1 AS DOUBLE) AS vb_num
  FROM m a JOIN m b ON a.v < b.v AND a.n >= 2 AND b.n >= 2),
c AS (
  SELECT *,
    s1a / n_a / 1e6 AS ma, s1b / n_b / 1e6 AS mb,
    va_num / n_a / (n_a - 1) / 1e12 / n_a AS se2a,
    vb_num / n_b / (n_b - 1) / 1e12 / n_b AS se2b
  FROM p)
SELECT variant_a, variant_b, n_a, n_b,
  ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
  ROUND((ma - mb) / sqrt(se2a + se2b), 4) AS t_stat,
  ROUND((se2a + se2b) * (se2a + se2b)
        / (se2a * se2a / (n_a - 1) + se2b * se2b / (n_b - 1)), 2) AS welch_df
FROM c
"""

    # OOV rate: odd docs vs the even docs' vocabulary; truncating div
    sql["oov_rate"] = f"""
WITH vocab AS (
  SELECT DISTINCT word FROM (
    SELECT unnest({_DOC_TOKENS_SQL}) AS word
    FROM documents WHERE doc_id % 2 = 0)
  WHERE word <> ''),
toks AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest({_DOC_TOKENS_SQL}) AS word
    FROM documents WHERE doc_id % 2 = 1)
  WHERE word <> ''),
per AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov
  FROM toks t LEFT JOIN vocab v ON t.word = v.word
  GROUP BY t.doc_id)
SELECT doc_id, n_tokens, n_oov,
       CAST((n_oov * 10000) // n_tokens AS BIGINT) AS oov_bp
FROM per
"""
    return sql
