"""A7 parity: default-on (subject_id, timestamp) uniqueness validation and
the reference's post-query sanity report (cohort size + label-uniformity
warning, ``/root/reference/src/aces/query.py:110-115`` and ``:148-179``).
"""

from __future__ import annotations

import logging
from datetime import datetime, timedelta

import pytest

from aces_spark import (
    EventConfig,
    PlainPredicateConfig,
    TaskExtractorConfig,
    WindowConfig,
    query,
)
from aces_spark.query import report_cohort_stats

DT = datetime


def _cfg() -> TaskExtractorConfig:
    return TaskExtractorConfig(
        predicates={p: PlainPredicateConfig(p) for p in ("signup", "purchase")},
        trigger=EventConfig("signup"),
        windows={
            "obs": WindowConfig(
                start="trigger",
                end="start + 24h",
                start_inclusive=True,
                end_inclusive=True,
                has={},
                label="purchase",
            )
        },
    )


def _pred_df(spark, rows):
    return spark.createDataFrame(
        rows, "subject_id long, timestamp timestamp, signup long, purchase long"
    )


def test_duplicate_keys_raise_by_default(spark):
    """The reference always enforces key uniqueness; small inputs get the
    eager check by default (validate_uniqueness='auto')."""
    rows = [
        (1, DT(2020, 1, 1, 0), 1, 0),
        (1, DT(2020, 1, 1, 0), 0, 1),  # duplicate key
    ]
    with pytest.raises(ValueError, match="must be unique"):
        query(_cfg(), _pred_df(spark, rows)).collect()


def test_duplicate_keys_allowed_when_disabled(spark):
    rows = [
        (1, DT(2020, 1, 1, 0), 1, 0),
        (1, DT(2020, 1, 1, 0), 0, 1),
    ]
    out = query(_cfg(), _pred_df(spark, rows), validate_uniqueness=False)
    out.collect()  # no raise


def test_unique_keys_pass(spark):
    rows = [
        (1, DT(2020, 1, 1, 0), 1, 0),
        (1, DT(2020, 1, 1, 6), 0, 1),
        (2, DT(2020, 1, 2, 0), 1, 0),
    ]
    result = query(_cfg(), _pred_df(spark, rows))
    assert result.count() == 2


def test_report_warns_on_uniform_labels(spark, caplog):
    """Reference src/aces/query.py:174-179: warn when every label in the
    cohort is identical."""
    rows = [
        (1, DT(2020, 1, 1, 0), 1, 0),
        (2, DT(2020, 1, 2, 0), 1, 0),
    ]
    result = query(_cfg(), _pred_df(spark, rows))
    with caplog.at_level(logging.INFO, logger="aces_spark.query"):
        stats = report_cohort_stats(result)
    assert stats["n_rows"] == 2 and stats["label_min"] == stats["label_max"]
    assert any("All labels in the extracted cohort are the same" in r.message for r in caplog.records)
    assert any("valid rows returned" in r.message for r in caplog.records)


def test_report_no_warning_on_mixed_labels(spark, caplog):
    rows = [
        (1, DT(2020, 1, 1, 0), 1, 0),
        (1, DT(2020, 1, 1, 6), 0, 1),
        (2, DT(2020, 1, 2, 0), 1, 0),
    ]
    result = query(_cfg(), _pred_df(spark, rows))
    with caplog.at_level(logging.INFO, logger="aces_spark.query"):
        stats = report_cohort_stats(result)
    assert stats["label_min"] != stats["label_max"]
    assert not any("All labels" in r.message for r in caplog.records)


def test_strptime_translation_and_errors():
    """Known strptime directives translate; unknown ones raise instead of
    leaking into the Java pattern; literal letters are quoted."""
    from aces_spark.sources.predicates import _strptime_to_spark

    assert _strptime_to_spark("%m/%d/%Y %H:%M") == "M/d/yyyy H:m"
    assert _strptime_to_spark("%Y-%m-%dT%H:%M:%S") == "yyyy-M-d'T'H:m:s"
    assert _strptime_to_spark("%d %b %Y") == "d MMM yyyy"
    assert _strptime_to_spark("100%%") == "100'%'"
    assert _strptime_to_spark("%d-%b-%Y %I:%M %p") == "d-MMM-yyyy h:m a"
    assert _strptime_to_spark("%Y %z") == "yyyy xx"
    with pytest.raises(ValueError, match="Unsupported strptime directive '%Q'"):
        _strptime_to_spark("%Q:%M")
    # %a/%A never reach the translator: strptime_sql strips them
    # (Spark's parser is format-only for EEE/EEEE), so the raw translator
    # still treats them as unknown
    with pytest.raises(ValueError, match="Unsupported strptime directive '%a'"):
        _strptime_to_spark("%a %d-%b-%Y")
    # %I without %p would silently shift noon to midnight — refuse
    with pytest.raises(ValueError, match="requires %p"):
        _strptime_to_spark("%I:%M")


def test_strip_day_directives_directive_aware():
    from aces_spark.sources.predicates import _strip_day_directives

    assert _strip_day_directives("%a %d-%b-%Y") == (" %d-%b-%Y", True)
    assert _strip_day_directives("%A, %d %B %Y") == (", %d %B %Y", True)
    # %%a is the literal text '%a', not a day directive — must survive
    assert _strip_day_directives("%%a %Y") == ("%%a %Y", False)
    assert _strip_day_directives("%d-%b-%Y") == ("%d-%b-%Y", False)


def test_direct_load_day_name_formats(spark, tmp_path):
    """%a/%A parse end-to-end via the strip-the-day-name fallback — the
    last reference-grammar divergence (reference accepts them via Polars,
    src/aces/predicates.py:211)."""
    from datetime import datetime

    from aces_spark.sources.predicates import direct_load_plain_predicates

    csv = tmp_path / "pday.csv"
    csv.write_text(
        "subject_id,timestamp,a\n"
        "1,Tue 02-Jan-2024 02:24 PM,1\n"
        "1,Friday 05-Jan-2024 09:05 AM,2\n"
    )
    out = direct_load_plain_predicates(
        spark, csv, ["a"], ts_format="%a %d-%b-%Y %I:%M %p"
    )
    rows = {r["timestamp"]: r["a"] for r in out.collect()}
    assert rows == {
        datetime(2024, 1, 2, 14, 24): 1,
        datetime(2024, 1, 5, 9, 5): 2,
    }

    csv2 = tmp_path / "pday2.csv"
    csv2.write_text(
        "subject_id,timestamp,a\n"
        '2,"Monday, 01 January 2024 13:30:00",3\n'
    )
    out2 = direct_load_plain_predicates(
        spark, csv2, ["a"], ts_format="%A, %d %B %Y %H:%M:%S"
    )
    rows2 = {r["timestamp"]: r["a"] for r in out2.collect()}
    assert rows2 == {datetime(2024, 1, 1, 13, 30): 3}


def test_direct_load_12h_monthname_format(spark, tmp_path):
    """The full reference-accepted grammar: 12-hour clock + month name +
    am/pm parse end-to-end through the direct CSV source (reference accepts
    arbitrary strptime via Polars, src/aces/predicates.py:211)."""
    from datetime import datetime

    from aces_spark.sources.predicates import direct_load_plain_predicates

    csv = tmp_path / "p12.csv"
    csv.write_text(
        "subject_id,timestamp,a\n"
        "1,02-Jan-2024 02:24 PM,1\n"
        "1,02-Jan-2024 09:05 AM,2\n"
    )
    out = direct_load_plain_predicates(
        spark, csv, ["a"], ts_format="%d-%b-%Y %I:%M %p"
    )
    rows = {r["timestamp"]: r["a"] for r in out.collect()}
    assert rows == {
        datetime(2024, 1, 2, 14, 24): 1,
        datetime(2024, 1, 2, 9, 5): 2,
    }


def test_direct_load_literal_text_format(spark, tmp_path):
    """ISO-ish format with a literal 'T' parses correctly end-to-end
    (previously the unquoted T broke the Java pattern)."""
    csv = tmp_path / "p.csv"
    csv.write_text(
        "subject_id,timestamp,a\n"
        "1,2020-01-02T03:04:05,1\n"
        "1,2020-01-02T04:00:00,0\n"
    )
    from aces_spark.sources.predicates import direct_load_plain_predicates

    df = direct_load_plain_predicates(spark, str(csv), ["a"], "%Y-%m-%dT%H:%M:%S")
    rows = sorted((r["subject_id"], r["timestamp"], r["a"]) for r in df.collect())
    assert rows[0][1] == DT(2020, 1, 2, 3, 4, 5)
    assert [r[2] for r in rows] == [1, 0]


def test_direct_load_empty_count_is_zero(spark, tmp_path):
    """An empty count cell collapses to 0, as in the MEDS loader. A null
    would make the boundary row's running sum null, so the event-bound fill
    would skip that boundary and count up to the next one."""
    from aces_spark import ToEventWindowBounds, aggregate_event_bound_window
    from aces_spark.sources.predicates import direct_load_plain_predicates

    def a_counts(day2: str) -> list[int]:
        csv = tmp_path / f"counts_{day2 or 'empty'}.csv"
        csv.write_text(
            "subject_id,timestamp,a,b\n"
            "1,01/01/2020 00:00,1,0\n"
            f"1,01/02/2020 00:00,{day2},1\n"
            "1,01/03/2020 00:00,1,0\n"
            "1,01/04/2020 00:00,1,1\n"
        )
        df = direct_load_plain_predicates(spark, csv, ["a", "b"], ts_format="%m/%d/%Y %H:%M")
        assert df.filter("a IS NULL").count() == 0
        out = aggregate_event_bound_window(df, ToEventWindowBounds(False, "b", False, timedelta(0)))
        return [r["a"] for r in out.orderBy("timestamp").collect()]

    assert a_counts("") == a_counts("0") == [0, 1, 0, 0]
