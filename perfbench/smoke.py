"""Smoke test of the benchmark: every workload at a tiny size, traced.

    python3 perfbench/smoke.py

Each workload runs in its own process (``run.py --tiny --trace 1``), which
checks its outputs against the brute-force oracle and then makes one traced
pass. The test fails unless every run is correct, its event log parsed into
every per-layer metric ``BENCHMARK.json`` names, its spans share one run id,
and the plan-shape tripwires hold: joins and a leftover cached relation on
``hf_readmission``, no joins on the fused workloads. ``sample_sweep`` runs
here too, though ``BENCHMARK.json`` leaves it out of the timed set.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import tasks  # noqa: E402


def run_tiny(workload: str) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "0",
         "--seconds", "1", "--trace", "1", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{workload}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(workload: str, result: dict, names: list[str]) -> list[str]:
    bad = []
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    if not result["correct"] or result["failed"]:
        bad.append(f"not correct: {result['failed']} of {result['attempted']} runs failed")
    missing = [n for n in names if n not in metrics]
    if missing:
        bad.append(f"missing per-layer metrics {missing}")
    spans = [json.loads(line) for line in
             (ROOT / ".perfbench_work" / workload / "spans.jsonl").read_text().splitlines()]
    layers = {s["name"].split(":")[0] for s in spans}
    if len({s["run_id"] for s in spans}) != 1 or not {"cli", "predicates", "plan", "sinks"} <= layers:
        bad.append(f"spans incomplete: {sorted(layers)}")
    if workload == "hf_readmission":
        if not metrics.get("plan.joins", 0) > 0:
            bad.append("plan.joins should be > 0")
        if not metrics.get("query.cached_relations_after", 0) >= 1:
            bad.append("query.cached_relations_after should be >= 1")
    elif metrics.get("plan.joins") != 0:
        bad.append("plan.joins should be 0")
    for key in ("predicates.jobs", "plan.jobs", "spark.jobs", "spark.tasks", "cli.meds_scans"):
        if not metrics.get(key, 0) > 0:
            bad.append(f"{key} should be > 0 (event log not attributed)")
    return bad


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["per_layer"]]
    failures = 0
    for wl in tasks.WORKLOADS:
        result = run_tiny(wl)
        bad = check(wl, result, names)
        failures += bool(bad)
        shown = {k: result["metrics"].get(k, {}).get("value") for k in
                 ("plan.joins", "plan.exchanges", "cli.meds_scans", "query.cached_relations_after")}
        print(f"{wl}: {'FAIL ' + '; '.join(bad) if bad else 'ok'} {shown}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
