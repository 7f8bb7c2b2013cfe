"""Cohort-path benchmark: synthetic MEDS workloads through the aces_spark CLI.

Usage (from the repository root)::

    python3 perfbench/run.py --workload flagship --seed 0 --seconds 20 --trace 0
    python3 perfbench/smoke.py     # every workload at a tiny size, traced

One invocation runs one workload in its own process on ``local[nproc/2]``
(see ``task_slots``):

1. Generate a seeded synthetic MEDS shard (``perfbench/meds.py``); not timed.
2. Set up once: start the JVM and a SparkSession and run the workload's
   untimed warm-up extractions (``setup_s``; 2, or 3 for
   ``hf_readmission``). Set-up is not repeated: a
   repeat costs a JVM launch and another cold extraction (~20 s), which the
   run budget spends on timed samples instead.
3. Closed loop, one client: run ``aces_spark.cli.main`` back to back for
   ``--seconds`` seconds (at least once). That covers config load →
   predicates → query → MEDS label write → cohort report. ``cohort_s`` is
   the median time of one extraction; for ``sample_sweep`` one extraction
   is the whole 4-task multirun.
4. Check every output: row count and order-independent digest equal the
   first warm-up's (and, for the default seed, values pinned below). The
   first warm-up is also checked against the brute-force oracle of
   ``tests/test_sample_configs.py`` on a fixed sample of subjects, and for a
   non-empty cohort with both label values. A run that raises or fails a
   check counts as failed.
5. After each extraction, count the relations still cached, then clear the
   cache, so no timed run reads a frame an earlier run left cached.

End-to-end metrics: ``cohort_s``, ``events_per_s`` (input MEDS rows ÷
``cohort_s``), ``driver_peak_rss_mib`` (Python peak RSS + driver-JVM
VmHWM), ``setup_s`` and ``fail_ratio``, reported as 1 + failed ÷ attempted
because a metric may never read 0 (1.0 means no run failed). The host and
input record (nproc, RAM, heap, versions, seed, events, subjects, MEDS bytes,
every sample) goes to stderr and to ``record.json`` in the work directory,
``.perfbench_work/<workload>/``.

With ``--trace 1`` a traced pass follows on a fresh SparkContext with the
event log on (``perfbench/layers.py``): one CLI extraction, then each layer's
public function called in turn on materialized inputs. The last line of
stdout is one JSON object: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import meds  # noqa: E402
import tasks  # noqa: E402

DEFAULT_SEED = 0
#: Serial GC with the heap committed up front. On a shared 4-core, 16 GB
#: host the parallel collector's adaptive sizing kept shortening
#: extractions for over a minute (3.5 s → 2.3 s on ``flagship``), so a
#: run's median depended on how many samples it fit; its GC threads also
#: spin at barriers, which turns a busy host's CPU steal into waiting. The
#: serial collector has neither.
JVM_OPTIONS = "-XX:+UseSerialGC -Xms{heap_mib}m"
ORACLE_SUBJECTS = 25

#: (rows, digest) of every task's MEDS-label output at the default seed and
#: full size.
PINNED = {
    ("flagship", "flagship"): (133562, "159bdf22c126d65a"),
    ("hf_readmission", "hf_readmission"): (366, "fd9df0591ccd1ad2"),
    ("sample_sweep", "imminent_mortality"): (12659, "4ae2daf782c4a3fd"),
    ("sample_sweep", "abnormal_lab"): (741, "18cccd0870b67f13"),
    ("sample_sweep", "intervention_weaning"): (429, "4a2968ba81cc5997"),
    ("sample_sweep", "long_term_recurrence"): (852, "9eb2d6acd4bb1e92"),
}


def host_memory_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mib() -> int:
    """An eighth of host RAM, between 1 and 4 GiB. More is slower, not
    faster: ``hf_readmission`` keeps up to ~2 GB live while planning, and a
    larger young generation makes each collection copy more survivors (one
    25 s run on a 4-core, 16 GB host spent 4.1 s in GC at a 2 GiB heap and
    7.5 s at 6 GiB)."""
    return max(1024, min(4096, host_memory_bytes() // 8 // (1 << 20)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Half the cores, at least one. The JVM's JIT and GC threads, the
    driver thread and Python need the rest; with every core given to tasks,
    ``flagship``'s parallel stages waited on whichever core a busy host took
    away, and the IQR of its median over ten runs reached 0.36 of the median
    on a shared 4-core host."""
    return max(1, nproc() // 2)


class Bench:
    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.workload = tasks.WORKLOADS[args.workload]
        self.subjects = tasks.TINY_SUBJECTS if args.tiny else self.workload.subjects
        self.cores = task_slots()
        self.heap_mib = driver_heap_mib()
        self.jvm_options = JVM_OPTIONS.format(heap_mib=self.heap_mib)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.reference: dict[str, tuple[int, str]] = {}
        self.cached_after: list[int] = []

    # -- inputs ---------------------------------------------------------------
    def make_inputs(self) -> None:
        self.data = meds.generate(self.args.seed, self.subjects)
        self.meds_path = str(self.work / "meds" / "data.parquet")
        os.makedirs(os.path.dirname(self.meds_path))
        self.meds_bytes = self.data.write_parquet(self.meds_path)
        self.cohort_dir = self.work / "cohorts"
        self.cohort_dir.mkdir()
        for name in self.workload.tasks:
            (self.cohort_dir / f"{name}.yaml").write_text(tasks.TASKS[name])

    def output_path(self, task: str) -> str:
        return str(self.cohort_dir / f"{task}.parquet")

    def cli_argv(self) -> list[str]:
        wl = self.workload
        if wl.multirun:
            return [
                "-m",
                f"cohort_dir={self.cohort_dir}",
                "cohort_name=" + ",".join(wl.tasks),
                f"data.path={self.meds_path}",
                "data.standard=meds",
            ]
        (task,) = wl.tasks
        return [
            "--config", str(self.cohort_dir / f"{task}.yaml"),
            "--data", self.meds_path,
            "--standard", "meds",
            "--output", self.output_path(task),
            "--meds-labels",
        ]

    # -- spark ----------------------------------------------------------------
    def start_session(self, event_log: Path | None = None):
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName(f"aces-spark-bench-{self.args.workload}")
            .config("spark.driver.memory", f"{self.heap_mib}m")
            .config("spark.driver.extraJavaOptions", self.jvm_options)
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", str(self.work / "tmp"))
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
        )
        if event_log is not None:
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", event_log.as_uri())
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def cached_relations(self, spark) -> int:
        return spark._jsparkSession.sharedState().cacheManager().cachedData().size()

    # -- one extraction -------------------------------------------------------
    def extract(self, spark) -> float | None:
        """One timed CLI extraction plus its output check. Returns seconds,
        or None (and counts the run failed) when it raised or its output
        failed a check."""
        from aces_spark import cli

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            cli.main(self.cli_argv())
        except Exception as e:  # a failed run is counted, not fatal
            return self.fail(f"extraction raised {type(e).__name__}: {e}")
        finally:
            elapsed = time.perf_counter() - t0
            self.cached_after.append(self.cached_relations(spark))
            spark.catalog.clearCache()
        bad = []
        for task in self.workload.tasks:
            got = meds.label_digest(self.output_path(task))
            want = self.reference.setdefault(task, got)
            if got != want:
                bad.append(f"{task}: output {got} differs from first run {want}")
        return self.fail("; ".join(bad)) if bad else elapsed

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"perfbench: FAILED: {msg}", file=sys.stderr)

    def check_first_output(self) -> list[str]:
        """Pinned values, generator self-check and the brute-force oracle on
        the first warm-up's outputs; returns the failures."""
        sys.path.insert(0, str(ROOT / "tests"))
        from aces_spark.config import TaskExtractorConfig
        from test_sample_configs import brute_query

        bad = []
        sample = range(1, min(ORACLE_SUBJECTS, self.subjects) + 1)
        rows = self.data.rows_for(sample)
        for task in self.workload.tasks:
            got = self.reference[task]
            pin = PINNED.get((self.args.workload, task))
            if self.args.seed == DEFAULT_SEED and not self.args.tiny and got != pin:
                bad.append(f"{task}: output {got} differs from pinned {pin}")
            cfg = TaskExtractorConfig.load(self.cohort_dir / f"{task}.yaml")
            labels = meds.label_values(self.output_path(task))
            if got[0] == 0:
                bad.append(f"{task}: empty cohort (generator self-check)")
            elif cfg.label_window and labels != {False, True}:
                bad.append(f"{task}: labels {sorted(labels)} miss a value (generator self-check)")
            _, _, want = brute_query(cfg, rows)
            want = {(r[0], r[3], None if r[2] is None else r[2] > 0) for r in want}
            have = meds.label_rows(self.output_path(task), sample)
            if have != want:
                bad.append(
                    f"{task}: oracle mismatch on subjects 1-{sample[-1]}: "
                    f"{len(have - want)} extra, {len(want - have)} missing"
                )
        return bad

    # -- the run --------------------------------------------------------------
    def run(self) -> dict:
        self.make_inputs()
        t0 = time.perf_counter()
        spark = self.start_session()
        self.session_s = time.perf_counter() - t0
        self.setup_s = self.session_s
        for i in range(self.workload.warmups):
            t0 = time.perf_counter()
            ok = self.extract(spark)
            self.setup_s += time.perf_counter() - t0
            if i == 0 and ok is not None:
                bad = self.check_first_output()
                if bad:
                    self.fail("; ".join(bad))

        samples = []
        t_end = time.perf_counter() + self.args.seconds
        while not samples or time.perf_counter() < t_end:
            dt = self.extract(spark)
            if dt is not None:
                samples.append(dt)
            elif time.perf_counter() >= t_end:
                break
        if not samples:
            raise SystemExit(f"perfbench: no extraction succeeded: {self.errors}")
        self.samples = samples
        self.peak_rss = peak_rss_mib()
        spark.stop()
        if self.args.trace:
            from layers import traced_pass

            return self.report(traced_pass(self))
        return self.report(None)

    def report(self, layers: dict | None) -> dict:
        cohort_s = statistics.median(self.samples)
        record = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "events": self.data.n_events,
            "subjects": self.subjects,
            "meds_bytes": self.meds_bytes,
            "nproc": nproc(),
            "task_slots": self.cores,
            "ram_bytes": host_memory_bytes(),
            "driver_heap_mib": self.heap_mib,
            "jvm_options": self.jvm_options,
            "spark": __import__("pyspark").__version__,
            "java": java_version(),
            "python": platform.python_version(),
            "cohort_samples": [round(s, 4) for s in self.samples],
            "session_start_s": round(self.session_s, 4),
            "cached_relations_after": self.cached_after,
            "outputs": self.reference,
            "errors": self.errors,
        }
        (self.work / "record.json").write_text(json.dumps(record, indent=1))
        print("perfbench: " + json.dumps(record), file=sys.stderr)
        if layers is None:
            metrics = {
                "cohort_s": (cohort_s, "s"),
                "events_per_s": (self.data.n_events / cohort_s, "1/s"),
                "driver_peak_rss_mib": (self.peak_rss, "MiB"),
                "setup_s": (self.setup_s, "s"),
                # offset so the metric never reads 0: 1.0 means no run failed
                "fail_ratio": (1.0 + self.failed / self.attempted, "ratio"),
            }
        else:
            metrics = layers
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def peak_rss_mib() -> float:
    """Python peak RSS plus the driver JVM's VmHWM, in MiB."""
    from bench import peak_rss_mib as peaks

    p = peaks()
    return float(p["python"] + p["driver_jvm"])


def java_version() -> str:
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    return jvm.System.getProperty("java.version") if jvm is not None else "unknown"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(tasks.WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input size")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "aces_spark" / "cli.py").is_file():
        print(f"perfbench: no aces_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep every temporary file of this process, the launcher and the JVM
    # inside the work directory
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))
    os.chdir(work)

    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        stop_jvm()
    print(json.dumps(result))
    return 0


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
