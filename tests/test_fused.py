"""The window-tree planner (``plans/fused.py``) against the brute-force oracle
on seeded random window trees, plus its plan-shape guarantees (one exchange,
no join, no union, nothing cached).

The generator draws whole task configs through the public ``WindowConfig``
grammar, so every tree is one a user could write. Across the seeds it
covers: mid-tree event-bound hops in both directions (``REF -> p`` /
``REF <- p`` root sides with children, and windows hanging off another
window's event-bound end), offsets accumulated into event-bound edges
(``start + Nh`` then ``start -> p``, ``REF ± Nh`` root sides), ``start: NULL``
and ``end: null`` record bounds, ``(None, 0)`` anti-constraints and pure
chains whose event-bound leaf never resolves (the ``(subject, null)`` junk
row). ``test_generator_coverage`` pins that coverage. A subset of the trees
also runs through the MEDS loader, whose row filter drops the generator's
``OTHER`` events whenever the tree reads no row existence.
"""

from __future__ import annotations

import datetime
import random
import re
import textwrap
from concurrent.futures import ThreadPoolExecutor
from datetime import timedelta

import pytest

from aces_spark.config import (
    EventConfig,
    PlainPredicateConfig,
    TaskExtractorConfig,
    WindowConfig,
)
from aces_spark.query import query
from aces_spark.sources.predicates import get_predicates_df
from aces_spark.types import (
    ANY_EVENT_COLUMN,
    END_OF_RECORD_KEY,
    START_OF_RECORD_KEY,
    ToEventWindowBounds,
)
from aces_spark.utils import preorder_iter

from test_sample_configs import brute_query, engine_rows, write_meds_parquet

US_H = 3_600 * 1_000_000
N_TREES = 204
BATCHES = 17
DATA_SEEDS = 4

CODES = {"trig": "T", "bnd": "B", "alt": "C", "x": "X"}
PREDS = {name: PlainPredicateConfig(code) for name, code in CODES.items()}
FRAME_COLS = [*CODES, ANY_EVENT_COLUMN, START_OF_RECORD_KEY, END_OF_RECORD_KEY]

#: (constraint, weight) — anti-constraints appear as often as lower bounds
CONSTRAINTS = [
    ({"x": "(1, None)"}, 3),
    ({"x": "(None, 0)"}, 2),
    ({"bnd": "(None, 0)"}, 2),
    ({"alt": "(None, 1)"}, 1),
    ({"x": "(1, 3)"}, 1),
    ({ANY_EVENT_COLUMN: "(2, None)"}, 1),
]
HOURS = [1, 6, 12, 24, 48, 72]


def meds_rows(seed: int, n_subj: int = 10):
    """MEDS-shaped ``(subject, μs, code, value)`` rows over 20 days: sparse
    boundary codes (some subjects have none, so forward hops go unresolved),
    several codes per timestamp, repeated ``X`` codes for count
    constraints."""
    rng = random.Random(1000 + seed)
    rows = []
    for sid in range(1, n_subj + 1):
        p_bnd = 0.0 if sid % 4 == 0 else 0.2
        for h in sorted(rng.sample(range(24 * 20), rng.randint(1, 18))):
            ts = h * US_H
            codes = []
            if rng.random() < 0.4:
                codes.append("T")
            if rng.random() < p_bnd:
                codes.append("B")
            if rng.random() < 0.15:
                codes.append("C")
            codes += ["X"] * rng.choice([0, 0, 1, 1, 2])
            for code in codes or ["OTHER"]:
                rows.append((sid, ts, code, None))
    return rows


def predicate_frame(spark, rows):
    """Every predicate column the generator can reference, as query() reads
    them: one row per (subject, timestamp), counts per code, the
    always-one ``_ANY_EVENT`` and the record start/end flags."""
    counts: dict = {}
    for sid, ts, code, _ in rows:
        c = counts.setdefault((sid, ts), dict.fromkeys(CODES, 0))
        for name, want in CODES.items():
            c[name] += code == want
    first, last = {}, {}
    for sid, ts in counts:
        first[sid] = min(first.get(sid, ts), ts)
        last[sid] = max(last.get(sid, ts), ts)
    out = [
        (
            sid,
            datetime.datetime.fromtimestamp(ts // 1_000_000),
            *c.values(),
            1,
            int(ts == first[sid]),
            int(ts == last[sid]),
        )
        for (sid, ts), c in sorted(counts.items())
    ]
    schema = "subject_id long, timestamp timestamp, " + ", ".join(f"{c} long" for c in FRAME_COLS)
    return spark.createDataFrame(out, schema)


def _root_side(rng, ref: str) -> str:
    """The side of a window that attaches to its parent: a bare reference
    (spliced out), an offset from it, or an event-bound hop off it."""
    r = rng.random()
    if r < 0.45:
        return ref
    if r < 0.65:
        return f"{ref} {rng.choice('+-')} {rng.choice(HOURS)}h"
    if r < 0.85:
        return f"{ref} -> {rng.choice(['bnd', 'alt'])}"
    return f"{ref} <- {rng.choice(['bnd', 'alt'])}"


def random_task(seed: int) -> TaskExtractorConfig:
    """A random task of 1-4 windows; each window attaches to the trigger or
    to an earlier window's start or end."""
    rng = random.Random(seed)
    windows: dict[str, WindowConfig] = {}
    refs = ["trigger"]
    for i in range(rng.choice([1, 2, 2, 3, 3, 4])):
        # lean towards extending the last window: chains are the shapes
        # that can end in a junk row
        ref = rng.choice(refs[-2:] if rng.random() < 0.7 else refs)
        root = _root_side(rng, ref)
        bound = rng.choice(["temporal", "temporal", "event", "event", "record"])
        if rng.random() < 0.5:  # root start, the end reaches forward
            start = root
            end = {
                "temporal": f"start + {rng.choice(HOURS)}h",
                "event": f"start -> {rng.choice(['bnd', 'alt'])}",
                "record": None,
            }[bound]
        else:  # root end, the start reaches backward
            end = root
            start = {
                "temporal": f"end - {rng.choice(HOURS)}h",
                "event": f"end <- {rng.choice(['bnd', 'alt'])}",
                "record": None,
            }[bound]
        has = {}
        if rng.random() < 0.55:
            cons = rng.choices([c for c, _ in CONSTRAINTS], [w for _, w in CONSTRAINTS])[0]
            has = dict(cons)
        windows[f"w{i}"] = WindowConfig(
            start=start,
            end=end,
            start_inclusive=rng.random() < 0.5,
            end_inclusive=rng.random() < 0.5,
            has=has,
        )
        refs += [f"w{i}.start", f"w{i}.end"]
    names = list(windows)
    if rng.random() < 0.6:
        windows[rng.choice(names)].label = rng.choice(list(CODES))
    if rng.random() < 0.6:
        windows[rng.choice(names)].index_timestamp = rng.choice(["start", "end"])
    trigger = ANY_EVENT_COLUMN if rng.random() < 0.1 else "trig"
    return TaskExtractorConfig(predicates=dict(PREDS), trigger=EventConfig(trigger), windows=windows)


def tree_features(cfg: TaskExtractorConfig) -> set[str]:
    """What a tree exercises, for the coverage test."""
    feats = set()

    def walk(node, offset):
        for child in node.children:
            b = child.endpoint_expr
            if isinstance(b, ToEventWindowBounds):
                backward = b.end_event.startswith("-")
                if child.children:
                    feats.add("hop_bwd" if backward else "hop_fwd")
                if offset:
                    feats.add("offset_into_event_bound")
                if b.end_event == f"-{START_OF_RECORD_KEY}":
                    feats.add("record_start")
                if b.end_event == END_OF_RECORD_KEY:
                    feats.add("record_end")
                walk(child, timedelta(0))
            else:
                walk(child, offset + b.window_size)
            if (None, 0) in child.constraints.values():
                feats.add("anti_constraint")

    walk(cfg.window_tree, timedelta(0))
    return feats


@pytest.fixture(scope="module")
def frames(spark):
    return {s: predicate_frame(spark, meds_rows(s)) for s in range(DATA_SEEDS)}


def _tree_mismatch(frames, seed: int) -> str | None:
    cfg = random_task(seed)
    data_seed = seed % DATA_SEEDS
    cols, node_names, want = brute_query(cfg, meds_rows(data_seed))
    df = frames[data_seed].select("subject_id", "timestamp", *cols)
    result = query(cfg, df, validate_uniqueness=False)
    _assert_single_scan(result, f"tree seed {seed}")
    got = engine_rows(cfg, result.collect(), cols, node_names)
    if got == want:
        return None
    return f"tree seed {seed}: {len(got - want)} extra, {len(want - got)} missing; {cfg.windows}"


@pytest.mark.parametrize("batch", range(BATCHES))
def test_random_trees_match_oracle(frames, batch):
    # each tree is a few small Spark jobs whose time is mostly driver and
    # scheduling latency; four threads overlap it (2.4x on 4 cores)
    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(lambda s: _tree_mismatch(frames, s), range(batch, N_TREES, BATCHES)))
    mismatches = [r for r in results if r is not None]
    assert not mismatches, "\n".join(mismatches)


#: trees that also run through the MEDS loader, in batches of six
LOADER_SEEDS = range(0, 24 * 8, 8)
LOADER_BATCHES = 4


@pytest.fixture(scope="module")
def meds_paths(tmp_path_factory):
    root = tmp_path_factory.mktemp("random_tree_meds")
    paths = {s: root / f"{s}.parquet" for s in range(DATA_SEEDS)}
    for s, path in paths.items():
        write_meds_parquet(meds_rows(s), path)
    return paths


def _loader_tree_mismatch(spark, meds_paths, seed: int) -> str | None:
    """The whole query() output over the loaded MEDS file, every summary
    struct included, against the oracle over the raw rows."""
    cfg = random_task(seed)
    data_seed = seed % DATA_SEEDS
    cols, node_names, want = brute_query(cfg, meds_rows(data_seed))
    pred = get_predicates_df(cfg, spark, meds_paths[data_seed], standard="meds")
    got = engine_rows(cfg, query(cfg, pred).collect(), cols, node_names)
    if got == want:
        return None
    return (
        f"tree seed {seed} (reads_every_event={cfg.reads_every_event}): "
        f"{len(got - want)} extra, {len(want - got)} missing; {cfg.windows}"
    )


@pytest.mark.parametrize("batch", range(LOADER_BATCHES))
def test_loader_trees_match_oracle(spark, meds_paths, batch):
    seeds = LOADER_SEEDS[batch::LOADER_BATCHES]
    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(lambda s: _loader_tree_mismatch(spark, meds_paths, s), seeds))
    mismatches = [r for r in results if r is not None]
    assert not mismatches, "\n".join(mismatches)


def test_loader_trees_take_both_paths(spark, meds_paths):
    """The loader-path trees include some that read row existence (every
    event kept) and some that do not (OTHER events dropped before the
    exchange), and the drop really removes rows."""
    pruned = [s for s in LOADER_SEEDS if not random_task(s).reads_every_event]
    assert pruned and len(pruned) < len(LOADER_SEEDS), pruned
    seed = pruned[0]
    data_seed = seed % DATA_SEEDS
    keys = {(sid, ts) for sid, ts, _, _ in meds_rows(data_seed)}
    pred = get_predicates_df(random_task(seed), spark, meds_paths[data_seed], standard="meds")
    assert 0 < pred.count() < len(keys)


def test_generator_coverage():
    """The seeded trees cover every shape the planner special-cases, and
    enough of them produce rows, hop rows and junk rows to mean something."""
    seen: dict[str, int] = {}
    for seed in range(N_TREES):
        cfg = random_task(seed)
        feats = tree_features(cfg)
        _, _, want = brute_query(cfg, meds_rows(seed % DATA_SEEDS))
        if want:
            feats.add("non_empty")
        if any(r[1] is None for r in want):
            feats.add("junk_row")
        if any(r[1] is None for r in want) and feats & {"hop_fwd", "hop_bwd"}:
            feats.add("junk_below_hop")
        if want and feats & {"hop_fwd", "hop_bwd"}:
            feats.add("hop_rows")
        for f in feats:
            seen[f] = seen.get(f, 0) + 1
    for feat in (
        "hop_fwd",
        "hop_bwd",
        "offset_into_event_bound",
        "record_start",
        "record_end",
        "anti_constraint",
        "junk_row",
        "junk_below_hop",
        "hop_rows",
    ):
        assert seen.get(feat, 0) >= 5, (feat, seen)
    assert seen["non_empty"] >= N_TREES // 2, seen


def test_junk_row_semantics(spark):
    """A pure chain ending in an unresolved event-bound leaf emits one
    (subject, null) row per subject, with null label and summaries."""
    cfg = TaskExtractorConfig(
        predicates={"trig": PlainPredicateConfig("t"), "bnd": PlainPredicateConfig("b")},
        trigger=EventConfig("trig"),
        windows={
            "w": WindowConfig(
                start="trigger", end="start -> bnd",
                start_inclusive=False, end_inclusive=True, label="bnd",
            )
        },
    )
    DT = datetime.datetime
    df = spark.createDataFrame(
        [
            (1, DT(2020, 1, 1), 1, 0),
            (1, DT(2020, 1, 2), 0, 1),
            (2, DT(2020, 1, 1), 1, 0),
            (2, DT(2020, 1, 2), 1, 0),
            (2, DT(2020, 1, 3), 0, 0),
        ],
        "subject_id long, timestamp timestamp, trig long, bnd long",
    )
    got = sorted(
        (r["subject_id"], r["trigger"], r["label"], r["w.end_summary"] is None)
        for r in query(cfg, df).collect()
    )
    assert got == [(1, DT(2020, 1, 1), 1, False), (2, None, None, True)]


# ----------------------------------------------------------------------------
# Plan shape
# ----------------------------------------------------------------------------


def _node_counts(df) -> tuple[str, dict[str, int]]:
    """The formatted physical plan and its operator counts."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    counts: dict[str, int] = {}
    for line in plan.splitlines():
        m = re.match(r"^\s*\(\d+\)\s+(\w+)", line)
        if m:
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    return plan, counts


def _hf_readmission_cfg(tmp_path) -> TaskExtractorConfig:
    from test_other_meds import HF_READMISSION_CFG

    p = tmp_path / "hf.yaml"
    p.write_text(textwrap.dedent(HF_READMISSION_CFG))
    return TaskExtractorConfig.load(p)


def _assert_single_scan(df, what: str) -> dict[str, int]:
    """One subject_id exchange, then windowed scans: no join, no union,
    no cached relation. Returns the operator counts."""
    plan, counts = _node_counts(df)
    assert counts.get("Exchange", 0) == 1, (what, counts)
    for op in ("Join", "Union", "InMemoryRelation", "InMemoryTableScan"):
        assert op not in plan, (what, op, counts)
    return counts


def test_junk_chain_and_hf_plan_single_scan(spark, frames, tmp_path):
    chain = TaskExtractorConfig(
        predicates=dict(PREDS),
        trigger=EventConfig("trig"),
        windows={
            "obs": WindowConfig(
                start="trigger", end="start + 24h",
                start_inclusive=True, end_inclusive=True,
            ),
            "fu": WindowConfig(
                start="obs.end", end="start -> bnd",
                start_inclusive=False, end_inclusive=True,
            ),
        },
    )
    df = frames[0].select("subject_id", "timestamp", *CODES)
    _assert_single_scan(query(chain, df, validate_uniqueness=False), "junk chain")

    hf = _hf_readmission_cfg(tmp_path)
    hf_df = spark.createDataFrame(
        [(1, datetime.datetime(2020, 1, 1), 1, 1, 1, 1)],
        "subject_id long, timestamp timestamp, admission long, discharge long, "
        f"HF_dx long, {ANY_EVENT_COLUMN} long",
    )
    assert any(
        isinstance(c.endpoint_expr, ToEventWindowBounds) and c.children
        for c in preorder_iter(hf.window_tree)
    ), "the HF tree has a mid-tree event-bound hop"
    counts = _assert_single_scan(query(hf, hf_df, validate_uniqueness=False), "HF readmission")
    # every kernel orders by the one shared sort column: one ascending and
    # one descending sort, not one per window
    assert counts.get("Sort", 0) <= 2, counts
    # the window operators Catalyst makes of the five HF windows (the count
    # the Column-built plan had): building the plan as SQL text changed
    # nothing that runs
    assert counts.get("Window", 0) == 6, counts


def _py4j_calls(monkeypatch, fn):
    """``fn()`` and the py4j round trips this thread made while it ran.
    py4j deletes garbage-collected JVM objects from a thread of its own,
    asynchronously: only this thread's round trips are ``fn``'s."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    calls, me = 0, threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == me
        return send(self, *args, **kwargs)

    gc.collect()
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        return fn(), calls
    finally:
        monkeypatch.undo()


def _hf_meds(path):
    DT = datetime.datetime
    write_meds_parquet(
        [
            (1, DT(2019, 6, 1), "VITALS//HR", None),
            (1, DT(2020, 1, 1), "ADMISSION//MEDICAL", None),
            (1, DT(2020, 1, 3), "ICD9CM//428.0", None),
            (1, DT(2020, 1, 3), "DISCHARGE//HOME", None),
            (1, DT(2020, 1, 20), "ADMISSION//ED", None),
            (1, DT(2020, 1, 25), "DISCHARGE//HOME", None),
            (1, DT(2020, 9, 1), "VITALS//HR", None),
        ],
        path,
    )
    return str(path)


def test_hf_query_py4j_budget(spark, tmp_path, monkeypatch):
    """query() builds the HF plan in a few hundred py4j round trips: every
    stage is one selectExpr of SQL text. Built from Column expressions, one
    call per expression node, it took ~6k."""
    hf = _hf_readmission_cfg(tmp_path)
    pred = get_predicates_df(hf, spark, _hf_meds(tmp_path / "meds.parquet"), standard="meds")
    result, calls = _py4j_calls(monkeypatch, lambda: query(hf, pred))
    assert calls <= 300, calls
    assert result.count() == 1


def test_hf_loader_py4j_budget(spark, tmp_path, monkeypatch):
    """The MEDS loader is SQL text too: the HF predicates frame takes a few
    dozen py4j round trips (~580 when every predicate, derived and special
    column was a Column expression)."""
    hf = _hf_readmission_cfg(tmp_path)
    path = _hf_meds(tmp_path / "meds.parquet")
    pred, calls = _py4j_calls(
        monkeypatch, lambda: get_predicates_df(hf, spark, path, standard="meds")
    )
    assert calls <= 60, calls
    assert pred.count() == 6


def _plan_ops(df) -> list[str]:
    """The operators of ``df``'s executed plan, top down (the loader's plan
    is a chain, so list order is tree depth)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"^[\s:+-]*(?:\*\(\d+\) )?(\w+)", plan, re.MULTILINE)


def test_loader_filter_below_the_exchange(spark, tmp_path):
    """A task that reads no row existence drops predicate-free events in the
    scan stage, below the one exchange; the HF task reads _ANY_EVENT and
    NULL-bounded windows, so its loader keeps every event and filters
    nothing."""
    flagship_shaped = TaskExtractorConfig(
        predicates={"hr": PlainPredicateConfig("HR"), "o2_lab": PlainPredicateConfig("O2")},
        trigger=EventConfig("hr"),
        windows={
            "obs": WindowConfig(
                start="trigger", end="start + 24h",
                start_inclusive=True, end_inclusive=True, has={"o2_lab": "(1, None)"},
            ),
            "fu": WindowConfig(
                start="obs.end", end="start -> o2_lab",
                start_inclusive=False, end_inclusive=True, label="hr",
            ),
        },
    )
    assert not flagship_shaped.reads_every_event
    DT = datetime.datetime
    path = tmp_path / "meds.parquet"
    write_meds_parquet(
        [
            (1, None, "GENDER//F", None),
            (1, DT(2020, 1, 1), "HR", 80.0),
            (1, DT(2020, 1, 1, 6), "O2", 97.0),
            (1, DT(2020, 1, 2), "OTHER", None),
        ],
        path,
    )
    pred = get_predicates_df(flagship_shaped, spark, str(path), standard="meds")
    ops = _plan_ops(pred)
    assert ops.count("Exchange") == 1, ops
    assert "Filter" in ops and ops.index("Filter") > ops.index("Exchange"), ops
    # the static row stays, the OTHER event goes
    assert sorted((r["timestamp"] is None, r["hr"], r["o2_lab"]) for r in pred.collect()) == [
        (False, 0, 1), (False, 1, 0), (True, 0, 0)
    ]

    hf = _hf_readmission_cfg(tmp_path)
    assert hf.reads_every_event
    ops = _plan_ops(get_predicates_df(hf, spark, _hf_meds(tmp_path / "hf.parquet"), standard="meds"))
    assert ops.count("Exchange") == 1, ops
    assert "Filter" not in ops, ops


def test_query_leaves_no_trace(spark, tmp_path):
    """query() plus a MEDS-label write caches nothing and changes no
    session conf."""
    from aces_spark.sources.sinks import write_result

    hf = _hf_readmission_cfg(tmp_path)
    df = spark.createDataFrame(
        [
            (1, datetime.datetime(2020, 1, 1), 1, 0, 1, 1),
            (1, datetime.datetime(2020, 1, 3), 0, 1, 0, 1),
            (1, datetime.datetime(2020, 1, 20), 1, 0, 0, 1),
            (1, datetime.datetime(2020, 3, 20), 0, 0, 0, 1),
        ],
        "subject_id long, timestamp timestamp, admission long, discharge long, "
        f"HF_dx long, {ANY_EVENT_COLUMN} long",
    )
    spark.catalog.clearCache()
    before = dict(spark.conf.getAll)
    write_result(query(hf, df), str(tmp_path / "out.parquet"), meds_labels=True)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert cache_manager.cachedData().size() == 0
    assert dict(spark.conf.getAll) == before

