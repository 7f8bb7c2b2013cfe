"""Physical-plan regression guards: the scale properties ARCHITECTURE.md
promises must stay true — one data exchange per kernel, column pruning at
the MEDS scan, broadcast joins for the recursion's anchor sets."""

from __future__ import annotations

import contextlib
import io
import re
from datetime import datetime, timedelta

import pytest

from aces_spark import (
    PlainPredicateConfig,
    TemporalWindowBounds,
    ToEventWindowBounds,
    aggregate_event_bound_window,
    aggregate_temporal_window,
)
from aces_spark.sources.predicates import plain_predicates_from_meds_df


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _node_counts(df) -> dict[str, int]:
    out: dict[str, int] = {}
    for line in _plan(df).splitlines():
        m = re.match(r"^\s*\(\d+\)\s+(\w+)", line)
        if m:
            out[m.group(1)] = out.get(m.group(1), 0) + 1
    return out


@pytest.fixture(scope="module")
def pred_df(spark):
    rows = [
        (i % 5, datetime(2020, 1, 1) + timedelta(minutes=i), "a" if i % 3 else "b", float(i))
        for i in range(200)
    ]
    meds = spark.createDataFrame(
        rows, "subject_id long, timestamp timestamp, code string, numeric_value float"
    )
    return plain_predicates_from_meds_df(
        meds, {"is_a": PlainPredicateConfig("a"), "is_b": PlainPredicateConfig("b")}
    )


def test_temporal_kernel_single_exchange(pred_df):
    out = aggregate_temporal_window(
        pred_df, TemporalWindowBounds(True, timedelta(hours=1), True, None)
    )
    counts = _node_counts(out)
    assert counts.get("Exchange", 0) == 1, counts


def test_event_bound_kernel_single_exchange_and_no_joins(pred_df):
    out = aggregate_event_bound_window(
        pred_df, ToEventWindowBounds(True, "is_a", True, timedelta(hours=1))
    )
    counts = _node_counts(out)
    assert counts.get("Exchange", 0) == 1, counts
    assert not any("Join" in k for k in counts), counts


def _hf_query(spark, tmp_path):
    from test_fused import _hf_readmission_cfg

    from aces_spark import query

    df = spark.createDataFrame(
        [(1, datetime(2020, 1, 1), 1, 1, 1, 1)],
        "subject_id long, timestamp timestamp, admission long, discharge long, "
        "HF_dx long, _ANY_EVENT long",
    )
    return query(_hf_readmission_cfg(tmp_path), df, validate_uniqueness=False)


_KERNELS = {
    "temporal": lambda df: aggregate_temporal_window(
        df, TemporalWindowBounds(False, timedelta(hours=-6), True, timedelta(minutes=5))
    ),
    "event_fwd": lambda df: aggregate_event_bound_window(
        df, ToEventWindowBounds(True, "is_a", True, None)
    ),
    "event_bwd": lambda df: aggregate_event_bound_window(
        df, ToEventWindowBounds(True, "-is_a", True, None)
    ),
    "event_fwd_offset": lambda df: aggregate_event_bound_window(
        df, ToEventWindowBounds(True, "is_a", False, timedelta(hours=1))
    ),
    "event_bwd_offset": lambda df: aggregate_event_bound_window(
        df, ToEventWindowBounds(False, "-is_a", True, timedelta(hours=-1))
    ),
}


@pytest.mark.parametrize("case", [*_KERNELS, "hf_query"])
def test_kernel_range_frames_are_growing(spark, pred_df, tmp_path, case):
    """Every window frame, in both kernels and in the HF plan, must start at
    UNBOUNDED PRECEDING. Spark evaluates such a growing frame in one pass;
    it re-aggregates a sliding frame (``lo, hi``) row by row and re-scans a
    shrinking one (``x, UNBOUNDED FOLLOWING``) per row, O(n²) per subject
    either way. A range sum is a difference of two growing frames, and the
    backward fill a growing frame over the key in descending order."""
    out = _hf_query(spark, tmp_path) if case == "hf_query" else _KERNELS[case](pred_df)
    plan = _plan(out).lower().replace(" ", "")
    frames = re.findall(r"specifiedwindowframe\((rangeframe|rowframe),([^,]+),", plan)
    assert any(kind == "rangeframe" for kind, _ in frames), plan
    assert all(start == "unboundedpreceding$()" for _, start in frames), frames


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle set must reach the corpus probe as a
    broadcast — a shuffled join here would re-exchange the whole corpus
    at 100 TB."""
    from aces_spark.datapipe.decontam import decontaminate

    corpus = spark.createDataFrame(
        [(i, f"word{i} " * 20) for i in range(50)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(100, "word1 " * 20)], "doc_id long, text string")
    counts = _node_counts(decontaminate(corpus, bench, n=5))
    assert counts.get("BroadcastHashJoin", 0) == 1, counts
    assert counts.get("SortMergeJoin", 0) == 0, counts


def test_vocab_topk_take_ordered(spark):
    """Global top-k must plan as TakeOrderedAndProject (per-partition
    heaps + driver merge), never a full vocabulary sort."""
    from aces_spark.datapipe.text import vocab_top_k

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i}") for i in range(50)], "doc_id long, text string"
    )
    counts = _node_counts(vocab_top_k(docs, k=10))
    assert counts.get("TakeOrderedAndProject", 0) == 1, counts
    assert counts.get("Sort", 0) == 0, counts


def test_pack_sequences_single_exchange(spark):
    """Packing pays exactly one data exchange (hash by the stream key for
    the running-sum window); everything else is row-local."""
    from aces_spark.datapipe.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, "tok " * (i % 7), f"src{i % 3}") for i in range(50)],
        "doc_id long, text string, source string",
    )
    counts = _node_counts(pack_sequences(docs, max_tokens=16))
    assert counts.get("Exchange", 0) == 1, counts


def test_assign_splits_no_exchange(spark):
    """Split assignment is a pure row-local projection — zero shuffles."""
    from aces_spark.datapipe.packing import assign_splits

    docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    counts = _node_counts(assign_splits(docs))
    assert counts.get("Exchange", 0) == 0, counts


def test_funnel_single_exchange_no_joins(spark):
    """The funnel is one user-keyed exchange + a JVM array fold — a join
    per step would rescan the events table k times at 100 TB."""
    from datetime import datetime

    from aces_spark.datapipe.analytics import funnel

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), "view")], "user_id long, ts timestamp, event_type string"
    )
    counts = _node_counts(funnel(ev, ["view", "click", "purchase"]))
    assert counts.get("Exchange", 0) == 1, counts
    assert not any("Join" in k for k in counts), counts


def test_meds_scan_column_pruning(spark, tmp_path):
    """Only predicate-referenced source columns reach the parquet scan."""
    rows = [(1, datetime(2020, 1, 1), "a", 1.0, "extra", 42)]
    spark.createDataFrame(
        rows,
        "subject_id long, time timestamp, code string, numeric_value float, "
        "text_value string, other long",
    ).write.mode("overwrite").parquet(str(tmp_path / "meds.parquet"))
    from aces_spark.sources.predicates import generate_plain_predicates_from_meds

    df = generate_plain_predicates_from_meds(
        spark, tmp_path / "meds.parquet", {"is_a": PlainPredicateConfig("a")}
    )
    plan = _plan(df)
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m, plan
    assert "text_value" not in m.group(1) and "other" not in m.group(1), m.group(1)
    assert "numeric_value" not in m.group(1), m.group(1)  # no value constraint → pruned


def test_url_normalize_zero_exchange(spark):
    """URL normalization is row-local: the plan must contain NO exchange."""
    from aces_spark.datapipe.urls import normalize_urls

    df = spark.createDataFrame(
        [(1, "http://A.com/x?utm_source=1")], "doc_id long, url string"
    )
    counts = _node_counts(normalize_urls(df))
    assert counts.get("Exchange", 0) == 0, counts


def test_corpus_mix_single_data_exchange(spark):
    """corpus_mix: one hash aggregate over the corpus; the share window
    runs over the tiny aggregated relation, not the token stream."""
    from aces_spark.datapipe.text import corpus_mix

    df = spark.createDataFrame(
        [(1, "web", "en", "a b c")], "doc_id long, source string, lang string, text string"
    )
    counts = _node_counts(corpus_mix(df))
    # aggregate exchange + the single-partition window exchange (n_groups
    # rows); anything more means the corpus itself is being re-shuffled
    assert counts.get("Exchange", 0) <= 2, counts
    assert counts.get("CartesianProduct", 0) == 0, counts


def test_substring_dedup_no_self_join_blowup(spark):
    """substring dedup is occurrence-aggregate shaped: hash joins only
    (wins x occ on the digest), never a cartesian/nested-loop product."""
    from aces_spark.datapipe.dedup import substring_dup_spans

    df = spark.createDataFrame([(1, "x" * 80)], "doc_id long, text string")
    plan = _plan(substring_dup_spans(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_jaccard_reuses_signatures(spark):
    """minhash_jaccard_pairs must reuse the persisted signature relation
    (InMemoryTableScan) instead of recomputing the shingle+digest pass for
    banding and both estimate sides."""
    from aces_spark.datapipe.dedup import minhash_jaccard_pairs

    df = spark.createDataFrame(
        [(i, f"some words repeated here {i % 2}") for i in range(6)],
        "doc_id long, text string",
    )
    out = minhash_jaccard_pairs(df, n=3, num_hashes=8, bands=4, threshold=0.0)
    plan = _plan(out)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan[:2000]
    out.sparkSession.catalog.clearCache()


def test_scd2_merge_plan_is_join_free(spark):
    """The SCD2 merge must stay union-tag + ONE window — a Join operator
    appearing here means the history is being read twice (the MERGE
    anti-pattern the operator exists to avoid)."""
    from conftest import ts

    from aces_spark.datapipe.cdc import scd2_merge

    history = spark.createDataFrame(
        [(1, "a", ts("2024-01-01"), None)],
        "id long, name string, valid_from timestamp, valid_to timestamp",
    )
    changes = spark.createDataFrame(
        [(1, "b", ts("2024-02-01"))],
        "id long, name string, effective_from timestamp",
    )
    merged = scd2_merge(history, changes, "id")
    plan = _plan(merged)
    assert "Join" not in plan
    counts = _node_counts(merged)
    assert counts.get("Exchange", 0) == 1  # the one window exchange
    assert "Union" in plan


def test_rolling_stats_single_exchange(spark):
    """Both rolling variants ride ONE key exchange (the window sort)."""
    from conftest import ts

    from aces_spark.operators.timeseries import rolling_stats, rolling_stats_time

    df = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00"), 1.0, 1)],
        "user_id long, ts timestamp, value double, event_id long",
    )
    assert _node_counts(rolling_stats(df, "user_id")).get("Exchange", 0) == 1
    assert (
        _node_counts(rolling_stats_time(df, "user_id", timedelta(hours=1))).get(
            "Exchange", 0
        )
        == 1
    )


def test_bm25_term_filter_reaches_scan_side(spark):
    """The query-term filter must apply before the tf aggregate (the
    pruned side), and the plan must contain no Python UDF stage."""
    from aces_spark.datapipe.retrieval import bm25_scores

    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    plan = _plan(bm25_scores(docs, ["alpha"]))
    assert "BatchEvalPython" not in plan
    assert "alpha" in plan  # the term literal is pushed into a Filter
