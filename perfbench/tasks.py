"""Task configs and workload definitions for the cohort benchmark.

The task YAMLs are pinned copies, so the workloads do not drift when the
test suite changes:

* ``flagship`` — the two-window shape of ``tools/scale_probe.py`` over MEDS
  codes: triggers on every heart-rate vital (about a third of events),
  ``obs`` = 24 h after the trigger with at least one O2 lab, then ``fu`` =
  from ``obs.end`` to the next O2 lab. Fused planner, no joins.
* ``hf_readmission`` — ``HF_READMISSION_CFG`` of ``tests/test_other_meds.py``:
  5 windows, sparse discharge triggers, a backward event-bound hop
  mid-tree (general planner with joins).
* ``sample_sweep`` — the four ``CONFIGS`` of
  ``tests/test_sample_configs.py``, run as one CLI multirun.
"""

from __future__ import annotations

from dataclasses import dataclass

FLAGSHIP = """\
predicates:
  hr:
    code: VITALS//HR//BPM
  o2_lab:
    code: lab_name//O2 saturation pulseoxymetry (%)
trigger: hr
windows:
  obs:
    start: trigger
    end: start + 24h
    start_inclusive: True
    end_inclusive: True
    has:
      o2_lab: (1, None)
    index_timestamp: end
  fu:
    start: obs.end
    end: start -> o2_lab
    start_inclusive: False
    end_inclusive: True
    label: hr
"""

HF_READMISSION = """\
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

IMMINENT_MORTALITY = """\
predicates:
  death:
    code: DEATH
trigger: _ANY_EVENT
windows:
  gap:
    start: trigger
    end: start + 2 hours
    start_inclusive: True
    end_inclusive: True
    index_timestamp: end
  target:
    start: gap.end
    end: start + 24 hours
    start_inclusive: False
    end_inclusive: True
    label: death
"""

ABNORMAL_LAB = """\
predicates:
  spo2:
    code: lab_name//O2 saturation pulseoxymetry (%)
  normal_spo2:
    code: lab_name//O2 saturation pulseoxymetry (%)
    value_min: 90
    value_max: 120
    value_min_inclusive: True
    value_max_inclusive: True
  abnormally_low_spo2:
    code: lab_name//O2 saturation pulseoxymetry (%)
    value_max: 90
    value_max_inclusive: False
  abnormally_high_spo2:
    code: lab_name//O2 saturation pulseoxymetry (%)
    value_min: 120
    value_min_inclusive: False
  abnormal_spo2:
    expr: or(abnormally_low_spo2, abnormally_high_spo2)
trigger: normal_spo2
windows:
  input:
    start: NULL
    end: trigger
    start_inclusive: True
    end_inclusive: True
    index_timestamp: end
  gap:
    start: trigger
    end: start + 24h
    start_inclusive: False
    end_inclusive: True
  target:
    start: gap.end
    end: start + 7 days
    start_inclusive: False
    end_inclusive: True
    has:
      spo2: (1, None)
    label: abnormal_spo2
"""

INTERVENTION_WEANING = """\
predicates:
  procedure_start:
    code: PROCEDURE_START
  procedure_end:
    code: PROCEDURE_END
  ventilation:
    code: procedure//Invasive Ventilation
  ventilation_start:
    expr: and(procedure_start, ventilation)
  ventilation_end:
    expr: and(procedure_end, ventilation)
trigger: ventilation_start
windows:
  input:
    start: NULL
    end: trigger
    start_inclusive: True
    end_inclusive: True
    index_timestamp: end
  target:
    start: trigger
    end: start -> ventilation_end
    start_inclusive: False
    end_inclusive: True
"""

LONG_TERM_RECURRENCE = """\
predicates:
  admission:
    code: { regex: "ADMISSION//.*" }
  discharge:
    code: { regex: "DISCHARGE//.*" }
  diagnosis_ICD9CM_41071:
    code: diagnosis//ICD9CM_41071
  diagnosis_ICD10CM_I214:
    code: diagnosis//ICD10CM_I214
  myocardial_infarction:
    expr: or(diagnosis_ICD9CM_41071, diagnosis_ICD10CM_I214)
trigger: discharge
windows:
  input:
    start: end <- admission
    end: trigger
    start_inclusive: False
    end_inclusive: True
    index_timestamp: end
  gap:
    start: trigger
    end: start + 365 days
    start_inclusive: False
    end_inclusive: True
    has:
      myocardial_infarction: (None, 0)
  target:
    start: gap.end
    end: start + 1095 days
    start_inclusive: False
    end_inclusive: True
    label: myocardial_infarction
"""

TASKS = {
    "flagship": FLAGSHIP,
    "hf_readmission": HF_READMISSION,
    "imminent_mortality": IMMINENT_MORTALITY,
    "abnormal_lab": ABNORMAL_LAB,
    "intervention_weaning": INTERVENTION_WEANING,
    "long_term_recurrence": LONG_TERM_RECURRENCE,
}


@dataclass(frozen=True)
class Workload:
    """``tasks`` run as one timed extraction: a single CLI run, or one CLI
    multirun over all of them when ``multirun`` is set. ``warmups`` untimed
    extractions precede the timed loop."""

    tasks: tuple[str, ...]
    subjects: int
    multirun: bool = False
    warmups: int = 2


WORKLOADS = {
    "flagship": Workload(("flagship",), subjects=15000),
    # the JIT needs one more extraction here: over ten seeds on a 4-core,
    # 16 GB host the third extraction's median was 7.7 s, against 6.3 s for
    # the ones after it
    "hf_readmission": Workload(("hf_readmission",), subjects=1000, warmups=3),
    "sample_sweep": Workload(
        ("imminent_mortality", "abnormal_lab", "intervention_weaning", "long_term_recurrence"),
        subjects=300,
        multirun=True,
    ),
}

#: Subjects per workload for the smoke test.
TINY_SUBJECTS = 60
