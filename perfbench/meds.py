"""Seeded synthetic MEDS event data for the cohort benchmark.

One generator serves every workload. Each subject has 1-5 hospital stays
spread over years, and each stay carries:

* an ``ADMISSION//*`` event and a ``DISCHARGE//*`` event;
* vitals as ``VITALS//HR//BPM`` + ``VITALS//BP//SYSTOLIC`` pairs that share
  a timestamp, so the (subject, timestamp) collapse has work to do;
* O2-saturation labs with values inside and outside the 90-120 range;
* ventilation ``PROCEDURE_START``/``PROCEDURE_END`` bundles, each sharing its
  timestamp with a ``procedure//Invasive Ventilation`` event;
* heart-failure (``ICD9CM//428.*``) and myocardial-infarction diagnoses at
  discharge.

About 30% of stays after the first are readmissions within 30 days, so the
readmission label takes both values. Some subjects die after their last
stay, and most have a null-time ``GENDER//*`` static row. All timestamps are
whole minutes. The same seed and subject count give the same rows.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

US_PER_MIN = 60_000_000
EPOCH_MIN = 21_038_400  # 2010-01-01T00:00 in minutes since 1970

VOCAB = [
    "ADMISSION//MEDICAL",  # 0
    "ADMISSION//SURGICAL",  # 1
    "ADMISSION//ED",  # 2
    "DISCHARGE//HOME",  # 3
    "DISCHARGE//SNF",  # 4
    "VITALS//HR//BPM",  # 5
    "VITALS//BP//SYSTOLIC",  # 6
    "lab_name//O2 saturation pulseoxymetry (%)",  # 7
    "PROCEDURE_START",  # 8
    "PROCEDURE_END",  # 9
    "procedure//Invasive Ventilation",  # 10
    "ICD9CM//428.0",  # 11
    "ICD9CM//428.9",  # 12
    "ICD9CM//428.41",  # 13
    "diagnosis//ICD9CM_41071",  # 14
    "diagnosis//ICD10CM_I214",  # 15
    "diagnosis//ICD9CM_999",  # 16
    "DEATH",  # 17
    "GENDER//M",  # 18
    "GENDER//F",  # 19
]


@dataclass(frozen=True)
class Meds:
    """Column arrays of one MEDS shard, sorted by (subject_id, time) with
    null times first. ``time`` is in μs; ``has_time``/``has_value`` mark
    the non-null entries."""

    subject_id: np.ndarray
    time: np.ndarray
    has_time: np.ndarray
    code: np.ndarray  # index into VOCAB
    value: np.ndarray
    has_value: np.ndarray

    @property
    def n_events(self) -> int:
        return len(self.subject_id)

    def write_parquet(self, path: str) -> int:
        """Write the MEDS schema (``subject_id`` long, ``time`` timestamp[us],
        ``code`` string, ``numeric_value`` float32) and return its bytes."""
        table = pa.table(
            {
                "subject_id": pa.array(self.subject_id, pa.int64()),
                "time": pa.array(self.time, pa.int64(), mask=~self.has_time).cast(
                    pa.timestamp("us")
                ),
                "code": pc.take(pa.array(VOCAB, pa.string()), pa.array(self.code)),
                "numeric_value": pa.array(self.value, pa.float32(), mask=~self.has_value),
            }
        )
        pq.write_table(table, path)
        return os.path.getsize(path)

    def rows_for(self, subjects) -> list[tuple]:
        """``(subject_id, time_us | None, code, value | None)`` tuples for the
        given subjects — the row shape the brute-force oracle reads."""
        keep = np.isin(self.subject_id, np.asarray(list(subjects), dtype=np.int64))
        out = []
        for i in np.flatnonzero(keep):
            out.append(
                (
                    int(self.subject_id[i]),
                    int(self.time[i]) if self.has_time[i] else None,
                    VOCAB[self.code[i]],
                    float(self.value[i]) if self.has_value[i] else None,
                )
            )
        return out


def generate(seed: int, n_subjects: int) -> Meds:
    rng = np.random.default_rng(seed)
    sids = np.arange(1, n_subjects + 1, dtype=np.int64)

    # --- stays: admission/discharge minute per stay -----------------------
    n_stays = rng.integers(1, 6, n_subjects)
    S = int(n_stays.sum())
    stay_sid = np.repeat(sids, n_stays)
    first = np.zeros(S, dtype=bool)
    first[np.concatenate([[0], np.cumsum(n_stays)[:-1]])] = True
    length = rng.integers(12 * 60, 10 * 24 * 60, S)  # minutes
    readmit = rng.random(S) < 0.3
    gap = np.where(
        readmit, rng.integers(24 * 60, 29 * 24 * 60, S), rng.integers(40 * 24 * 60, 700 * 24 * 60, S)
    )
    base = rng.integers(0, 2 * 365 * 24 * 60, n_subjects)
    prev_len = np.concatenate([[0], length[:-1]])
    inc = np.where(first, np.repeat(base, n_stays), gap + prev_len)
    csum = np.cumsum(inc)
    seg_start = np.flatnonzero(first)
    seg_offset = np.concatenate([[0], csum[seg_start[1:] - 1]])
    adm = EPOCH_MIN + csum - np.repeat(seg_offset, n_stays)
    dis = adm + length

    sid_parts, min_parts, code_parts, val_parts = [], [], [], []

    def emit(sid, minute, code, value=None):
        sid_parts.append(sid)
        min_parts.append(minute)
        code_parts.append(np.broadcast_to(np.asarray(code), sid.shape).astype(np.int64))
        if value is None:
            value = np.full(sid.shape, np.nan, dtype=np.float32)
        val_parts.append(value.astype(np.float32))

    def within(idx, lo, span):
        return lo[idx] + (rng.random(len(idx)) * span[idx]).astype(np.int64)

    emit(stay_sid, adm, rng.integers(0, 3, S))
    emit(stay_sid, dis, rng.integers(3, 5, S))

    # vitals: HR + systolic BP pairs sharing one timestamp
    vi = np.repeat(np.arange(S), rng.integers(2, 13, S))
    vt = within(vi, adm, length)
    emit(stay_sid[vi], vt, 5, rng.integers(50, 150, len(vi)))
    emit(stay_sid[vi], vt, 6, rng.integers(90, 180, len(vi)))

    # O2 saturation labs, values on both sides of the 90-120 normal range
    li = np.repeat(np.arange(S), rng.integers(1, 7, S))
    emit(stay_sid[li], within(li, adm, length), 7, rng.integers(70, 136, len(li)))

    # ventilation bundles: start pair in the first half, 80% get an end pair
    vent = np.flatnonzero(rng.random(S) < 0.5)
    vs = within(vent, adm, length // 2)
    emit(stay_sid[vent], vs, 8)
    emit(stay_sid[vent], vs, 10)
    ended = rng.random(len(vent)) < 0.8
    ve = vs[ended] + 1 + (rng.random(int(ended.sum())) * (dis[vent][ended] - vs[ended])).astype(
        np.int64
    )
    emit(stay_sid[vent][ended], ve, 9)
    emit(stay_sid[vent][ended], ve, 10)

    # discharge diagnoses: heart failure, myocardial infarction, other
    for p, lo, hi in ((0.35, 11, 14), (0.15, 14, 16), (0.2, 16, 17)):
        di = np.flatnonzero(rng.random(S) < p)
        emit(stay_sid[di], dis[di], rng.integers(lo, hi, len(di)))

    # deaths after the last stay; null-time static rows
    last = np.concatenate([seg_start[1:] - 1, [S - 1]])
    dead = np.flatnonzero(rng.random(n_subjects) < 0.2)
    emit(sids[dead], dis[last][dead] + rng.integers(60, 72 * 60, len(dead)), 17)
    static = np.flatnonzero(rng.random(n_subjects) < 0.8)
    emit(sids[static], np.full(len(static), -1, dtype=np.int64), rng.integers(18, 20, len(static)))

    sid = np.concatenate(sid_parts)
    minute = np.concatenate(min_parts)
    code = np.concatenate(code_parts)
    value = np.concatenate(val_parts)
    has_time = minute >= 0
    order = np.lexsort((code, minute, sid))
    return Meds(
        subject_id=sid[order],
        time=np.where(has_time, minute * US_PER_MIN, 0)[order],
        has_time=has_time[order],
        code=code[order],
        value=np.nan_to_num(value[order]),
        has_value=~np.isnan(value[order]),
    )


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized (uint64 arithmetic wraps)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def label_digest(path: str) -> tuple[int, str]:
    """Row count and an order-independent digest of a MEDS-label parquet
    output: the wrapping sum of one 64-bit hash per row over
    ``(subject_id, prediction_time, boolean_value)``, so it is sensitive to
    every row and its multiplicity but not to row or file order."""
    t = pq.read_table(path, columns=["subject_id", "prediction_time", "boolean_value"])
    sid = t["subject_id"].to_numpy().astype(np.uint64)
    pt = pc.fill_null(t["prediction_time"].cast(pa.int64()), -1).to_numpy().astype(np.uint64)
    bv = pc.fill_null(t["boolean_value"].cast(pa.int8()), 2).to_numpy().astype(np.uint64)
    with np.errstate(over="ignore"):
        h = _mix(_mix(_mix(sid) ^ pt) ^ bv)
        total = int(h.sum(dtype=np.uint64))
    return t.num_rows, hashlib.sha1(total.to_bytes(8, "little")).hexdigest()[:16]


def label_values(path: str) -> set:
    """Distinct non-null ``boolean_value`` values of a MEDS-label output."""
    t = pq.read_table(path, columns=["boolean_value"])
    return set(pc.unique(pc.drop_null(t["boolean_value"])).to_pylist())


def label_rows(path: str, subjects) -> set[tuple]:
    """Distinct ``(subject_id, prediction_time_us, boolean_value)`` rows of
    a MEDS-label output for the given subjects."""
    t = pq.read_table(path, columns=["subject_id", "prediction_time", "boolean_value"])
    t = t.filter(pc.is_in(t["subject_id"], pa.array(sorted(subjects), pa.int64())))
    pt = t["prediction_time"].cast(pa.int64()).to_pylist()
    return set(zip(t["subject_id"].to_pylist(), pt, t["boolean_value"].to_pylist()))
