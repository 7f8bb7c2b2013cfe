"""Realistic-task golden tests ported from the reference's
``tests/test_other_meds.py``: two MEDS shards, the in-hospital-mortality
task, and the HF-derived readmission task — the latter exercises backward
event-bound windows (``end <- admission``), windows anchored on other
windows' starts, ``end: null`` (record end), and censor-protection."""

from __future__ import annotations

import textwrap
from datetime import datetime

import pytest

from aces_spark import TaskExtractorConfig, get_predicates_df, query
from aces_spark.sources.sinks import to_meds_labels

SHARDS = {
    "shard_0": """\
subject_id,time,code,numeric_value,text_value
1,,GENDER//MALE,,
1,,SNP//rs234567,,
1,12/18/1960 11:03,MEDS_BIRTH,,
1,08/02/1972 10:00,CLINIC_VISIT,,
1,08/02/1972 10:00,ICD9CM//493.90,,
1,08/02/1972 10:00,LOINC//8310-5,0.65,
1,08/02/1972 10:00,VITALS//BP//SYSTOLIC,108,
1,01/14/2020 15:14,ADMISSION//MEDICAL,,
1,01/14/2020 15:18,VITALS//BP//SYSTOLIC,132,
1,01/14/2020 15:18,VITALS//BP//DIASTOLIC,90,
1,01/14/2020 15:18,VITALS//HR//BPM,121,
1,01/14/2020 15:18,VITALS//WEIGHT//LBS,233.2,
1,01/15/2020 10:04,VITALS//BP//SYSTOLIC,126,
1,01/15/2020 10:04,VITALS//BP//DIASTOLIC,91,
1,01/15/2020 10:04,VITALS//HR//BPM,85,
1,01/16/2020 10:11,VITALS//BP//SYSTOLIC,135,
1,01/16/2020 10:11,VITALS//BP//DIASTOLIC,88,
1,01/16/2020 10:11,VITALS//HR//BPM,79,
1,01/16/2020 13:02,LVEF//ECHO,0.24,
1,01/17/2020 10:00,ICD9CM//428.9,,
1,01/17/2020 10:00,DISCHARGE//HOME,,
1,01/18/2022 04:46,ADMISSION//MEDICAL,,
1,01/20/2022 08:00,DISCHARGE//HOME_AMA,,
1,01/20/2022 08:00,ICD9CM//428.41,,
1,01/20/2022 08:00,ICD9CM//451.1,,
1,01/24/2022 08:11,ADMISSION//ED,,
1,01/25/2022 10:04,VITALS//BP//SYSTOLIC,168,
1,01/25/2022 10:04,VITALS//BP//DIASTOLIC,100,
1,01/25/2022 10:04,VITALS//HR//BPM,56,
1,02/27/2022 01:13,ICD9CM//428.41,,
1,02/27/2022 01:13,ICD9CM//410.1,,
1,02/27/2022 01:13,DEATH,,
""",
    "shard_1": """\
subject_id,time,code,numeric_value,text_value
3,,GENDER//FEMALE,,
3,,SNP//rs2345291,,
3,,SNP//rs228192,,
3,02/28/1982 00:00,MEDS_BIRTH,,
3,01/14/2020 15:14,ADMISSION//MEDICAL,,
3,01/14/2020 15:18,VITALS//BP//SYSTOLIC,132,
3,01/14/2020 15:18,VITALS//BP//DIASTOLIC,90,
3,01/14/2020 15:18,VITALS//HR//BPM,121,
3,01/17/2020 10:00,ICD9CM//V30.00,,
3,01/17/2020 10:00,DISCHARGE//HOME,,
3,01/18/2020 18:18,ADMISSION//MEDICAL,,
3,01/20/2020 15:18,DISCHARGE//HOME,,
3,03/18/2024 16:54,ICD9CM//428.9,,
3,03/18/2024 17:11,ADMISSION//SURGICAL,,
3,03/28/2024 10:00,DISCHARGE//HOME,,
3,03/29/2024 11:00,ADMISSION//SURGICAL,,
3,04/19/2024 13:32,DISCHARGE//HOME,,
3,05/22/2024 00:00,ICD9CM//428.9,,
""",
}

MORTALITY_CFG = """\
predicates:
  admission:
    code: {regex: ADMISSION//.*}
  discharge:
    code: {regex: DISCHARGE//.*}
  death:
    code: DEATH
  discharge_or_death:
    expr: or(discharge, death)

trigger: admission

windows:
  input:
    start: NULL
    end: trigger + 24h
    start_inclusive: True
    end_inclusive: True
    has:
      _ANY_EVENT: (5, None)
    index_timestamp: end
  gap:
    start: trigger
    end: start + 48h
    start_inclusive: False
    end_inclusive: True
    has:
      admission: (None, 0)
      discharge_or_death: (None, 0)
  target:
    start: gap.end
    end: start -> discharge_or_death
    start_inclusive: False
    end_inclusive: True
    label: death
"""

HF_READMISSION_CFG = """\
predicates:
  admission:
    code: {regex: ADMISSION//.*}
  discharge:
    code: {regex: DISCHARGE//.*}
  HF_dx:
    code: {regex: ICD9CM//428.*}

trigger: discharge

windows:
  data_within_5yr_of_admit:
    start: end - 1825d
    end: admission_is_HF.start
    start_inclusive: True
    end_inclusive: False
    has:
      _ANY_EVENT: (1, None)
  admission_is_HF:
    start: end <- admission
    end: trigger
    start_inclusive: True
    end_inclusive: True
    has:
      HF_dx: (1, None)
  input:
    start: NULL
    end: trigger
    start_inclusive: True
    end_inclusive: True
    index_timestamp: end
  target:
    start: input.end
    end: start + 30d
    start_inclusive: False
    end_inclusive: True
    label: admission
  censor_protection:
    start: target.end
    end: null
    start_inclusive: False
    end_inclusive: True
    has:
      _ANY_EVENT: (1, None)
"""


def _ts(t: str):
    return datetime.strptime(t, "%m/%d/%Y %H:%M") if t else None


@pytest.fixture(scope="module")
def meds_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("other_meds")
    schema = (
        "subject_id long, time timestamp, code string, numeric_value float, text_value string"
    )
    for name, csv_text in SHARDS.items():
        rows = []
        for line in csv_text.strip().split("\n")[1:]:
            sid, t, code, nv, tv = line.split(",")
            rows.append((int(sid), _ts(t), code, float(nv) if nv else None, tv or None))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(root / f"{name}.parquet")
        )
    return root


def _run(spark, meds_dir, cfg_text, tmp_path):
    p = tmp_path / "task.yaml"
    p.write_text(textwrap.dedent(cfg_text))
    cfg = TaskExtractorConfig.load(p)
    predicates_df = get_predicates_df(cfg, spark, meds_dir, standard="meds")
    labels = to_meds_labels(query(cfg, predicates_df))
    return sorted(
        (r["subject_id"], r["prediction_time"], r["boolean_value"]) for r in labels.collect()
    )


def test_other_meds_inhospital_mortality(spark, meds_dir, tmp_path):
    got = _run(spark, meds_dir, MORTALITY_CFG, tmp_path)
    want = [
        (1, datetime(2020, 1, 15, 15, 14), False),
        (1, datetime(2022, 1, 19, 4, 46), False),
        (1, datetime(2022, 1, 25, 8, 11), True),
        (3, datetime(2024, 3, 19, 17, 11), False),
        (3, datetime(2024, 3, 30, 11, 0), False),
    ]
    assert got == want, f"got {got}"


def test_other_meds_hf_readmission(spark, meds_dir, tmp_path):
    got = _run(spark, meds_dir, HF_READMISSION_CFG, tmp_path)
    want = [
        (1, datetime(2022, 1, 20, 8, 0), True),
    ]
    assert got == want, f"got {got}"


def _nested_cfg() -> str:
    """The reference's nested_preds_readmission task shape: 59 plain
    admission predicates + 14 discharge predicates OR-ed into derived
    `admission`/`discharge`, then `discharge_or_death` on top (3-deep
    derived nesting) over a 75-column predicate frame. Only the codes
    present in the fixture matter for results; the rest are inert
    placeholders at the same indices as the reference config."""
    adm_codes = {0: "ADMISSION//ED", 2: "ADMISSION//SURGICAL", 47: "ADMISSION//MEDICAL"}
    dis_codes = {0: "DISCHARGE//HOME", 8: "DISCHARGE//HOME_AMA"}
    lines = ["predicates:"]
    for i in range(59):
        lines += [f"  hospital_admission_{i}:", f"    code: {adm_codes.get(i, f'ADMISSION//SYN//{i}')}"]
    adm_expr = ",".join(f"hospital_admission_{i}" for i in range(59))
    lines += ["  admission:", f"    expr: or({adm_expr})"]
    for i in range(14):
        lines += [f"  hospital_discharge_{i}:", f"    code: {dis_codes.get(i, f'DISCHARGE//SYN//{i}')}"]
    dis_expr = ",".join(f"hospital_discharge_{i}" for i in range(14))
    lines += ["  discharge:", f"    expr: or({dis_expr})"]
    lines += ["  death:", "    code: DEATH"]
    lines += ["  discharge_or_death:", "    expr: or(discharge, death)"]
    lines += [
        "",
        "trigger: discharge",
        "",
        "windows:",
        "  data_within_5yr_of_admit:",
        "    start: end - 1825d",
        "    end: prior_admission.start",
        "    start_inclusive: True",
        "    end_inclusive: False",
        "    has:",
        "      _ANY_EVENT: (1, None)",
        "  prior_admission:",
        "    start: end <- admission",
        "    end: trigger",
        "    start_inclusive: True",
        "    end_inclusive: False",
        "    has:",
        "      discharge_or_death: (None, 0)",
        "  input:",
        "    start: NULL",
        "    end: trigger",
        "    start_inclusive: True",
        "    end_inclusive: True",
        "    index_timestamp: end",
        "  target:",
        "    start: input.end",
        "    end: start + 30d",
        "    start_inclusive: False",
        "    end_inclusive: True",
        "    label: admission",
        "  censor_protection:",
        "    start: target.end",
        "    end: null",
        "    start_inclusive: False",
        "    end_inclusive: True",
        "    has:",
        "      _ANY_EVENT: (1, None)",
    ]
    return "\n".join(lines) + "\n"


def test_other_meds_nested_preds_readmission(spark, meds_dir, tmp_path):
    got = _run(spark, meds_dir, _nested_cfg(), tmp_path)
    want = [
        (1, datetime(2022, 1, 20, 8, 0), True),
        (3, datetime(2020, 1, 20, 15, 18), False),
        (3, datetime(2024, 3, 28, 10, 0), True),
        (3, datetime(2024, 4, 19, 13, 32), False),
    ]
    assert got == want, f"got {got}"
