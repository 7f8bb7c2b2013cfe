"""Full-pipeline differential tests for the reference's sample task configs.

A pure-Python brute-force oracle reimplements the entire query semantics
per anchor (per-anchor interval scans — O(n²), independent of the engine's
distributed window algebra) and is checked against the Spark engine on
randomized MEDS data for four tasks equivalent to the reference's
``sample_configs/``:

* ``imminent_mortality.yaml`` — `_ANY_EVENT` trigger, pure temporal chain,
  label + index_timestamp;
* ``abnormal_lab.yaml`` — value-range predicates, derived or(), record-start
  window (`start: NULL`), zero-offset node splice;
* ``intervention_weaning.yaml`` — derived and() bundles, forward event-bound
  window with censoring (no ventilation_end ⇒ realization dropped);
* ``long_term_recurrence.yaml`` — regex predicates, backward event-bound
  window, (None, 0) anti-constraint.

The recursion oracle mirrors ``src/aces/extract_subtree.py:279-386``
including null-join semantics (a missing boundary yields a null child
anchor, which can never match a later equi-join).
"""

from __future__ import annotations

import dataclasses
import random
import re
from collections import defaultdict
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aces_spark.config import TaskExtractorConfig
from aces_spark.query import query
from aces_spark.sources.predicates import get_predicates_df
from aces_spark.types import (
    ANY_EVENT_COLUMN,
    END_OF_RECORD_KEY,
    START_OF_RECORD_KEY,
    TemporalWindowBounds,
    ToEventWindowBounds,
    td_to_us,
)
from aces_spark.utils import preorder_iter

from test_event_bound_hypothesis import simulate

US_H = 3_600 * 1_000_000

IMMINENT_MORTALITY = """
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

ABNORMAL_LAB = """
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

INTERVENTION_WEANING = """
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

LONG_TERM_RECURRENCE = """
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


def make_meds_rows(seed: int = 7, n_subj: int = 25):
    """Randomized MEDS events: admissions, labs, ventilation bundles,
    diagnoses, discharges, deaths — shaped so every sample config has both
    qualifying and non-qualifying realizations."""
    rng = random.Random(seed)
    rows = []
    for sid in range(1, n_subj + 1):
        t = rng.randint(0, 365 * 24) * US_H
        for _ in range(rng.randint(1, 3)):
            t += rng.randint(24, 24 * 200) * US_H
            adm = t
            rows.append((sid, adm, f"ADMISSION//{rng.choice(['MED', 'SURG'])}", None))
            stay_h = rng.randint(12, 24 * 14)
            for _ in range(rng.randint(2, 12)):
                lt = adm + rng.randint(0, stay_h) * US_H
                if rng.random() < 0.6:
                    rows.append(
                        (sid, lt, "lab_name//O2 saturation pulseoxymetry (%)", float(rng.randint(70, 135)))
                    )
                else:
                    rows.append((sid, lt, rng.choice(["LAB//hr", "LAB//bp"]), float(rng.randint(40, 180))))
            if rng.random() < 0.5:
                vs = adm + rng.randint(0, max(stay_h // 2, 1)) * US_H
                rows.append((sid, vs, "PROCEDURE_START", None))
                rows.append((sid, vs, "procedure//Invasive Ventilation", None))
                if rng.random() < 0.8:
                    ve = vs + rng.randint(1, stay_h) * US_H
                    rows.append((sid, ve, "PROCEDURE_END", None))
                    rows.append((sid, ve, "procedure//Invasive Ventilation", None))
            dis = adm + stay_h * US_H
            if rng.random() < 0.4:
                rows.append(
                    (
                        sid,
                        dis,
                        rng.choice(
                            ["diagnosis//ICD9CM_41071", "diagnosis//ICD10CM_I214", "diagnosis//ICD9CM_999"]
                        ),
                        None,
                    )
                )
            rows.append((sid, dis, f"DISCHARGE//{rng.choice(['HOME', 'SNF'])}", None))
            t = dis
            if rng.random() < 0.5:
                mi = dis + rng.randint(24, 24 * 1200) * US_H
                rows.append(
                    (sid, mi, rng.choice(["diagnosis//ICD9CM_41071", "diagnosis//ICD10CM_I214"]), None)
                )
                t = max(t, mi)
        if rng.random() < 0.25:
            rows.append((sid, t + rng.randint(1, 72) * US_H, "DEATH", None))
        if rng.random() < 0.2:
            rows.append((sid, None, "GENDER//male", None))  # static-style noise row
    return rows


def write_meds_parquet(rows, path):
    pq.write_table(
        pa.table(
            {
                "subject_id": pa.array([r[0] for r in rows], pa.int64()),
                "time": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "code": pa.array([r[2] for r in rows], pa.string()),
                "numeric_value": pa.array([r[3] for r in rows], pa.float32()),
            }
        ),
        str(path),
    )


# ----------------------------------------------------------------------------
# Brute-force oracle
# ----------------------------------------------------------------------------


def _eval_plain(pred, code, value):
    if isinstance(pred.code, dict):
        if "regex" in pred.code:
            ok = re.search(pred.code["regex"], code) is not None
        else:
            ok = code in pred.code["any"]
    else:
        ok = code == pred.code
    if pred.value_min is not None:
        if value is None:
            return False
        ok = ok and (value >= pred.value_min if pred.value_min_inclusive else value > pred.value_min)
    if pred.value_max is not None:
        if value is None:
            return False
        ok = ok and (value <= pred.value_max if pred.value_max_inclusive else value < pred.value_max)
    return ok


def brute_predicate_frame(cfg, meds_rows):
    """MEDS rows → {(sid, ts_us): [counts...]} plus the predicate column
    order — mirrors get_predicates_df semantics for non-static tasks
    (null-timestamp rows dropped, as query() does with no demographics)."""
    plain = cfg.plain_predicates
    counts: dict = defaultdict(lambda: [0] * len(plain))
    plain_names = list(plain)
    for sid, ts, code, val in meds_rows:
        if ts is None:
            continue
        counts[(sid, ts)]  # materialize: every event row exists, even all-zero
        for i, name in enumerate(plain_names):
            if _eval_plain(plain[name], code, val):
                counts[(sid, ts)][i] += 1

    cols = list(plain_names)
    rows = {k: list(v) for k, v in counts.items()}
    for name, d in cfg.derived_predicates.items():
        idxs = [cols.index(p) for p in d.input_predicates]
        for k, v in rows.items():
            hits = [v[i] > 0 for i in idxs]
            v.append(int(all(hits) if d.is_and else any(hits)))
        cols.append(name)

    # special columns, synthesized only if referenced (mirrors engine)
    special = []
    for w in cfg.windows.values():
        if ANY_EVENT_COLUMN in w.referenced_predicates and ANY_EVENT_COLUMN not in special:
            special.append(ANY_EVENT_COLUMN)
        for key in (START_OF_RECORD_KEY, END_OF_RECORD_KEY):
            if key in w.constraint_predicates and key not in special:
                special.append(key)
    if cfg.trigger.predicate in (ANY_EVENT_COLUMN, START_OF_RECORD_KEY, END_OF_RECORD_KEY):
        if cfg.trigger.predicate not in special:
            special.append(cfg.trigger.predicate)

    by_sid = defaultdict(list)
    for (sid, ts) in rows:
        by_sid[sid].append(ts)
    for name in special:
        for k, v in rows.items():
            sid, ts = k
            if name == ANY_EVENT_COLUMN:
                v.append(1)
            elif name == START_OF_RECORD_KEY:
                v.append(int(ts == min(by_sid[sid])))
            else:
                v.append(int(ts == max(by_sid[sid])))
        cols.append(name)
    return cols, rows


def brute_query(cfg, meds_rows):
    """Per-anchor brute-force evaluation of the whole task; returns a set of
    result tuples (sid, trigger_us, label, index_us, *(start, end, counts)
    per pre-order window node)."""
    cols, frame = brute_predicate_frame(cfg, meds_rows)
    by_sid: dict = defaultdict(list)
    for (sid, ts), v in frame.items():
        by_sid[sid].append((ts, tuple(v)))
    for sid in by_sid:
        by_sid[sid].sort()

    n = len(cols)

    def temporal_summaries(bounds: TemporalWindowBounds):
        off, ws = td_to_us(bounds.offset), td_to_us(bounds.window_size)
        lo_off, hi_off = off + min(ws, 0), off + max(ws, 0)
        out = {}
        for sid, rows_ in by_sid.items():
            for ts, _ in rows_:
                lo, hi = ts + lo_off, ts + hi_off
                sums = [0] * n
                for ts2, vals2 in rows_:
                    ok_lo = ts2 >= lo if bounds.left_inclusive else ts2 > lo
                    ok_hi = ts2 <= hi if bounds.right_inclusive else ts2 < hi
                    if ok_lo and ok_hi:
                        sums = [a + b for a, b in zip(sums, vals2)]
                out[(sid, ts)] = (ts + off, ts + off + ws, tuple(sums), ts)
        return out

    def event_summaries(bounds: ToEventWindowBounds):
        kw = bounds.bound_sum_kwargs
        sim_rows, boundary_idx = [], set()
        i = 0
        for sid in sorted(by_sid):
            rows_ = by_sid[sid]
            first_ts, last_ts = rows_[0][0], rows_[-1][0]
            for ts, vals in rows_:
                sim_rows.append((sid, ts, *vals))
                match kw["boundary"]:
                    case ("col", name):
                        if vals[cols.index(name)] > 0:
                            boundary_idx.add(i)
                    case ("record_start",):
                        if ts == first_ts:
                            boundary_idx.add(i)
                    case ("record_end",):
                        if ts == last_ts:
                            boundary_idx.add(i)
                i += 1
        res = simulate(sim_rows, boundary_idx, kw["mode"], kw["closed"], td_to_us(kw["offset"]))
        out = {}
        for sid, ts, st, end, *sums in res:
            ca = st if kw["mode"] == "bound_to_row" else end
            out[(sid, ts)] = (st, end, tuple(sums), ca)
        return out

    def constraints_ok(constraints, sums):
        for name, (mn, mx) in constraints.items():
            col = ANY_EVENT_COLUMN if name == "*" else name
            c = sums[cols.index(col)]
            if (mn is not None and c < mn) or (mx is not None and c > mx):
                return False
        return True

    def extract(node, anchors, offset_us):
        if not node.children:
            return [(a, {}) for a in anchors]
        per_child = []
        for child in node.children:
            eff = dataclasses.replace(
                child.endpoint_expr,
                offset=child.endpoint_expr.offset + timedelta(microseconds=offset_us),
            )
            if isinstance(eff, TemporalWindowBounds):
                summ = temporal_summaries(eff)
                child_off = offset_us + td_to_us(eff.window_size)
            else:
                summ = event_summaries(eff)
                child_off = 0
            filtered = {}
            for sid, ats in anchors:
                if ats is None:
                    continue  # null keys never match the anchor join
                s = summ.get((sid, ats))
                if s is not None and constraints_ok(child.constraints, s[2]):
                    filtered[(sid, ats)] = s
            child_anchor_set = {(sid, s[3]) for (sid, _), s in filtered.items()}
            rec = extract(child, sorted(child_anchor_set, key=str), child_off)
            rev = defaultdict(list)
            for (sid, ats), s in filtered.items():
                rev[(sid, s[3])].append((sid, ats))
            rows_out = []
            for (sid, ca), summaries in rec:
                if ca is None:
                    rows_out.append(((sid, None), dict(summaries)))
                    continue
                for anchor in rev[(sid, ca)]:
                    s = filtered[anchor]
                    merged = dict(summaries)
                    merged[child.name] = (s[0], s[1], s[2])
                    rows_out.append((anchor, merged))
            per_child.append(rows_out)
        out = per_child[0]
        for nxt in per_child[1:]:
            idx = defaultdict(list)
            for a, m in nxt:
                if a[1] is not None:
                    idx[a].append(m)
            out = [(a, {**m, **m2}) for a, m in out if a[1] is not None for m2 in idx[a]]
        return out

    trig_i = cols.index(cfg.trigger.predicate)
    anchors = sorted(
        {(sid, ts) for (sid, ts), v in frame.items() if v[trig_i] >= 1}
    )
    res = extract(cfg.window_tree, anchors, 0)

    node_names = [nd.node_name for nd in preorder_iter(cfg.window_tree)][1:]
    results = set()
    for (sid, ats), m in res:
        if ats is None:
            # junk row from an unresolved event-bound chain (null-key join
            # semantics): null trigger, label, index, and summaries
            results.add(tuple([sid, None, None, None] + [None] * len(node_names)))
            continue
        row = [sid, ats]
        if cfg.label_window:
            w = cfg.windows[cfg.label_window]
            lbl_node = f"{cfg.label_window}.{'end' if w.root_node == 'start' else 'start'}"
            row.append(m[lbl_node][2][cols.index(w.label)])
        else:
            row.append(None)
        if cfg.index_timestamp_window:
            w = cfg.windows[cfg.index_timestamp_window]
            idx_node = f"{cfg.index_timestamp_window}.{'end' if w.root_node == 'start' else 'start'}"
            row.append(m[idx_node][0 if w.index_timestamp == "start" else 1])
        else:
            row.append(None)
        for name in node_names:
            st, end, sums = m[name]
            row.append((st, end, sums))
        results.add(tuple(row))
    return cols, node_names, results


def engine_rows(cfg, result_rows, cols, node_names):
    """Engine output rows → the oracle's tuple shape (timestamps in μs)."""
    def us(ts):
        return None if ts is None else int(ts.timestamp() * 1_000_000)

    out = set()
    for r in result_rows:
        d = r.asDict()
        row = [d["subject_id"], us(d["trigger"]), d.get("label"), us(d.get("index_timestamp"))]
        for name in node_names:
            struct = d[f"{name}_summary"]
            if struct is None:
                row.append(None)
                continue
            s = struct.asDict()
            assert s["window_name"] == name
            row.append(
                (
                    us(s["timestamp_at_start"]),
                    us(s["timestamp_at_end"]),
                    tuple(s[c] for c in cols),
                )
            )
        out.add(tuple(row))
    return out


CONFIGS = {
    "imminent_mortality": IMMINENT_MORTALITY,
    "abnormal_lab": ABNORMAL_LAB,
    "intervention_weaning": INTERVENTION_WEANING,
    "long_term_recurrence": LONG_TERM_RECURRENCE,
}


@pytest.fixture(scope="module")
def meds_path(tmp_path_factory):
    path = tmp_path_factory.mktemp("sample_meds") / "data.parquet"
    write_meds_parquet(make_meds_rows(), path)
    return path


@pytest.mark.parametrize("task", list(CONFIGS))
def test_sample_config_vs_brute_force(spark, tmp_path, meds_path, task):
    cfg_path = tmp_path / f"{task}.yaml"
    cfg_path.write_text(CONFIGS[task])
    cfg = TaskExtractorConfig.load(cfg_path)

    cols, node_names, want = brute_query(cfg, make_meds_rows())
    pred_df = get_predicates_df(cfg, spark, meds_path, standard="meds")
    assert [c for c in pred_df.columns if c not in ("subject_id", "timestamp")] == cols
    got = engine_rows(cfg, query(cfg, pred_df).collect(), cols, node_names)

    assert len(got) > 0, f"{task}: engine produced no realizations — fixture too sparse"
    assert got == want


def test_query_idempotency(spark, tmp_path, meds_path):
    """Repeated query() calls over the same config object must agree — guards
    in-place offset mutation in the planner (reference regression
    ``tests/test_extract_subtree_idempotency.py``)."""
    cfg_path = tmp_path / "imminent.yaml"
    cfg_path.write_text(IMMINENT_MORTALITY)
    cfg = TaskExtractorConfig.load(cfg_path)
    pred_df = get_predicates_df(cfg, spark, meds_path, standard="meds")

    first = sorted(map(str, query(cfg, pred_df).collect()))
    second = sorted(map(str, query(cfg, pred_df).collect()))
    assert first == second


#: Names that only work quoted: an SQL keyword, a leading digit and a
#: non-ASCII ``\w`` name as predicates, a keyword as a window name (its
#: nodes are ``order.start`` / ``order.end``), and a ``has:`` on each.
QUOTED_NAMES = """\
predicates:
  select:
    code: {regex: ADMISSION//.*}
  1st_dx:
    code: lab_name//O2 saturation pulseoxymetry (%)
  sättigung:
    code: LAB//hr
trigger: select
windows:
  order:
    start: trigger
    end: start + 72h
    start_inclusive: True
    end_inclusive: True
    has:
      select: (None, 1)
      1st_dx: (1, None)
      sättigung: (None, 4)
    label: 1st_dx
    index_timestamp: end
  group:
    start: order.end
    end: start -> sättigung
    start_inclusive: False
    end_inclusive: True
    has:
      1st_dx: (None, 3)
"""


def test_names_needing_quotes_vs_brute_force(spark, tmp_path, meds_path):
    cfg_path = tmp_path / "quoted.yaml"
    cfg_path.write_text(QUOTED_NAMES, encoding="utf-8")
    cfg = TaskExtractorConfig.load(cfg_path)

    cols, node_names, want = brute_query(cfg, make_meds_rows())
    pred_df = get_predicates_df(cfg, spark, meds_path, standard="meds")
    got = engine_rows(cfg, query(cfg, pred_df).collect(), cols, node_names)

    assert any(r[1] is not None for r in want), "fixture too sparse for the quoted-names task"
    assert got == want
