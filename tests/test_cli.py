"""CLI surface test: end-to-end cohort extraction through
``aces_spark.cli.main`` on a 2-shard MEDS fixture (the verify recipe's
manual drive, automated). Reuses the session SparkSession via
``getOrCreate`` — the CLI only adds configs when building a new one.
"""

from __future__ import annotations

import logging
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aces_spark.cli import main

TASK_YAML = """\
predicates:
  signup:
    code: signup
  click:
    code: click
  purchase:
    code: purchase
trigger: signup
windows:
  obs:
    start: trigger
    end: start + 24h
    start_inclusive: true
    end_inclusive: true
    has:
      click: (1, None)
    label: purchase
"""


def _write_meds(root):
    rows = [
        (1, None, "GENDER//M", None),
        (1, datetime(2020, 1, 1, 0), "signup", None),
        (1, datetime(2020, 1, 1, 6), "click", 1.0),
        (1, datetime(2020, 1, 1, 12), "purchase", 99.0),
        (2, None, "GENDER//F", None),
        (2, datetime(2020, 2, 1, 0), "signup", None),
        (2, datetime(2020, 2, 1, 1), "click", 2.0),
    ]
    t = pa.table(
        {
            "subject_id": pa.array([r[0] for r in rows], pa.int64()),
            "time": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "code": pa.array([r[2] for r in rows], pa.string()),
            "numeric_value": pa.array([r[3] for r in rows], pa.float32()),
        }
    )
    shard_dir = root / "train"
    shard_dir.mkdir(parents=True)
    pq.write_table(t.slice(0, 4), str(shard_dir / "0.parquet"))
    pq.write_table(t.slice(4), str(shard_dir / "1.parquet"))


def test_cli_end_to_end_meds_labels(spark, tmp_path, caplog):
    meds = tmp_path / "meds"
    _write_meds(meds)
    cfg = tmp_path / "task.yaml"
    cfg.write_text(TASK_YAML)
    out = tmp_path / "labels.parquet"

    with caplog.at_level(logging.INFO, logger="aces_spark.query"):
        rc = main(
            [
                "--config", str(cfg),
                "--data", str(meds),
                "--standard", "meds",
                "--output", str(out),
                "--meds-labels",
            ]
        )
    assert rc == 0

    labels = spark.read.parquet(str(out))
    rows = {r["subject_id"]: r["boolean_value"] for r in labels.collect()}
    assert rows == {1: True, 2: False}
    assert any("valid rows returned" in r.message for r in caplog.records)


def test_cli_one_job_no_cache(spark, tmp_path, monkeypatch, caplog):
    """The sanity report is observed on the write's own job, and with
    --window-stats the labels are read back from the stats file: the
    extraction caches nothing and runs no Spark job after the label write."""
    from aces_spark.sources import sinks

    meds = tmp_path / "meds"
    _write_meds(meds)
    cfg = tmp_path / "task.yaml"
    cfg.write_text(TASK_YAML)
    out = tmp_path / "labels.parquet"

    tracker = spark.sparkContext.statusTracker()
    last_job_after_write = []
    write_result = sinks.write_result

    def recording(*args, **kwargs):
        write_result(*args, **kwargs)
        last_job_after_write.append(max(tracker.getJobIdsForGroup(), default=-1))

    monkeypatch.setattr(sinks, "write_result", recording)
    spark.catalog.clearCache()
    with caplog.at_level(logging.INFO, logger="aces_spark.query"):
        main(
            [
                "--config", str(cfg),
                "--data", str(meds),
                "--standard", "meds",
                "--output", str(out),
                "--meds-labels",
                "--window-stats", str(tmp_path / "stats.parquet"),
            ]
        )
    assert last_job_after_write == [max(tracker.getJobIdsForGroup())]
    assert spark._jsparkSession.sharedState().cacheManager().cachedData().size() == 0
    labels = spark.read.parquet(str(out))
    assert {r["subject_id"]: r["boolean_value"] for r in labels.collect()} == {1: True, 2: False}
    assert any("2 valid rows returned corresponding to ~2 subjects" in r.message for r in caplog.records)
    assert not any("All labels" in r.message for r in caplog.records)


def test_build_session_keeps_callers_aqe(spark):
    """On an existing session the CLI's builder writes its options into the
    caller's conf, so it sets none the caller may have chosen (AQE is on by
    Spark's default)."""
    from aces_spark.cli import _build_session

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert _build_session(None, None).conf.get(key) == "false"
    finally:
        spark.conf.set(key, before)


def test_cli_rejects_bad_standard(tmp_path):
    cfg = tmp_path / "task.yaml"
    cfg.write_text(TASK_YAML)
    with pytest.raises(SystemExit):
        main(["--config", str(cfg), "--data", "x", "--standard", "bogus", "--output", "y"])


def test_cli_hydra_style_single_file(spark, tmp_path):
    """Reference launcher muscle-memory: cohort_dir/cohort_name drive
    config_path and output_filepath via ${...} interpolation (the
    _aces.yaml defaults), data.* selects the input."""
    cohort_dir = tmp_path / "cohorts"
    cohort_dir.mkdir()
    (cohort_dir / "mytask.yaml").write_text(TASK_YAML)
    meds = tmp_path / "meds"
    _write_meds(meds)

    rc = main(
        [
            f"cohort_dir={cohort_dir}",
            "cohort_name=mytask",
            f"data.path={meds}",
            "data.standard=meds",
        ]
    )
    assert rc == 0
    labels = spark.read.parquet(str(cohort_dir / "mytask.parquet"))
    # MEDS standard label-coerces by default, like the reference
    rows = {r["subject_id"]: r["boolean_value"] for r in labels.collect()}
    assert rows == {1: True, 2: False}


def test_cli_hydra_style_sharded_multirun(spark, tmp_path):
    """data=sharded + -m sweeps data.shard (expand_shards output) and
    writes one ${data._prefix}-suffixed output per shard, preserving the
    reference's multirun file layout."""
    from aces_spark.sources.expand_shards import expand_shards

    cohort_dir = tmp_path / "cohorts"
    cohort_dir.mkdir()
    (cohort_dir / "mytask.yaml").write_text(TASK_YAML)
    meds = tmp_path / "meds"
    _write_meds(meds)  # writes train/0.parquet and train/1.parquet

    shards = expand_shards(str(meds))
    assert sorted(shards.split(",")) == ["train/0", "train/1"]
    rc = main(
        [
            "-m",
            f"cohort_dir={cohort_dir}",
            "cohort_name=mytask",
            "data=sharded",
            f"data.root={meds}",
            f"data.shard={shards}",
            "data.standard=meds",
        ]
    )
    assert rc == 0
    out0 = spark.read.parquet(str(cohort_dir / "mytask" / "train" / "0.parquet"))
    out1 = spark.read.parquet(str(cohort_dir / "mytask" / "train" / "1.parquet"))
    got0 = {r["subject_id"]: r["boolean_value"] for r in out0.collect()}
    got1 = {r["subject_id"]: r["boolean_value"] for r in out1.collect()}
    assert got0 == {1: True}
    assert got1 == {2: False}


def test_cli_hydra_style_unknown_key():
    with pytest.raises(SystemExit, match="unknown override key"):
        main(["cohort_dir=/tmp", "bogus_key=1"])


def test_cli_hydra_style_config_path_alone_rejected():
    # config_path without output_filepath would resolve output to
    # '${cohort_dir}/${cohort_name}...' = '/.parquet' — must be rejected
    with pytest.raises(SystemExit, match="missing: output_filepath"):
        main(
            [
                "config_path=/tmp/task.yaml",
                "data.path=/tmp/x.parquet",
                "data.standard=meds",
            ]
        )


def test_cli_hydra_style_requires_cohort_fields():
    """Forgetting cohort_name must be a clean error, not a FileNotFoundError
    on '/.yaml' (or worse, output written to '/.parquet')."""
    with pytest.raises(SystemExit, match="cohort_dir and cohort_name are required"):
        main(["data.path=/tmp/x.parquet", "data.standard=meds"])


def test_cli_hydra_style_circular_interpolation():
    with pytest.raises(SystemExit, match="circular"):
        main(
            [
                "cohort_dir=${cohort_name}",
                "cohort_name=${cohort_dir}",
                "data.path=/tmp/x.parquet",
                "data.standard=meds",
            ]
        )


def test_cli_hydra_style_unknown_reference():
    with pytest.raises(SystemExit, match="unknown key"):
        main(
            [
                "cohort_dir=${bogus_ref}",
                "cohort_name=t",
                "data.path=/tmp/x.parquet",
                "data.standard=meds",
            ]
        )
