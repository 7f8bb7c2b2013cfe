"""Shuffle-bytes probe (r11, verdict ask #3): run one or more ``queries()``
entries (or named operator scenarios) at an arbitrary SF directory and
record, per query, the TOTAL shuffle bytes written / records / spill the
run produced — the metric the r10 bytes-at-scale batches (fingerprint
width, lsh dedup width, window-df, salt, shared hash pass) claim to
improve, which wall-clock at sandbox SFs cannot show.

Implementation: Spark's event log (``spark.eventLog.enabled``) is parsed
for ``SparkListenerTaskEnd`` task metrics between per-query markers; no
bench-harness change, no UI dependency. Each query runs once (these are
byte counts, not timings — they are deterministic for a fixed plan).

Usage:
    python tools/r11_shuffle_probe.py [--sf DIR] [--out FILE] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def parse_eventlog(log_dir: Path) -> list[dict]:
    """All TaskEnd metric rows from every event-log file under log_dir."""
    rows = []
    # Spark 4 rolls event logs as a directory (eventlog_v2_<app>/events_*);
    # older versions write a single file — walk both shapes
    files = [f for f in sorted(log_dir.rglob("*")) if f.is_file()]
    for f in files:
        if f.name.startswith("appstatus"):
            continue
        with open(f, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    rows.append(
                        {
                            "kind": "job_start",
                            "job": ev.get("Job ID"),
                            "desc": props.get("spark.job.description", ""),
                            "stages": [
                                s.get("Stage ID")
                                for s in ev.get("Stage Infos", [])
                            ],
                        }
                    )
                elif ev.get("Event") == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    rows.append(
                        {
                            "kind": "task",
                            "stage": ev.get("Stage ID"),
                            "swb": sw.get("Shuffle Bytes Written", 0),
                            "swr": sw.get("Shuffle Records Written", 0),
                            "srb": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "spill": tm.get("Disk Bytes Spilled", 0),
                            "input": (tm.get("Input Metrics") or {}).get(
                                "Bytes Read", 0
                            ),
                        }
                    )
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import shutil
    import tempfile

    log_dir = Path(tempfile.mkdtemp(prefix="r11evlog_"))

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aces-spark-r11-shuffle-probe")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(log_dir))
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    qmap = dict(entry_mod.queries())
    for name, fn in getattr(entry_mod, "bench_extras", dict)().items():
        qmap.setdefault(f"bench_only:{name}", fn)

    # markers: wrap each query in a job description; jobs between markers
    # belong to that query (a single-threaded driver runs them serially)
    spans: dict[str, float] = {}
    for name in args.queries:
        if name not in qmap:
            print(f"# unknown query {name}", file=sys.stderr)
            continue
        spark.catalog.clearCache()
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
        except Exception:
            pass
        spark.sparkContext.setJobDescription(f"r11shuffle:{name}")
        t0 = time.perf_counter()
        df = qmap[name](spark, args.sf)
        df.write.format("noop").mode("overwrite").save()
        spans[name] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    # allow the event log to flush on stop
    time.sleep(1.0)

    rows = parse_eventlog(log_dir)
    # stage -> owning query via the job_start markers
    stage_owner: dict[int, str] = {}
    n_jobs: dict[str, int] = {}
    for r in rows:
        if r["kind"] == "job_start" and r["desc"].startswith("r11shuffle:"):
            q = r["desc"].split(":", 1)[1]
            n_jobs[q] = n_jobs.get(q, 0) + 1
            for s in r["stages"]:
                stage_owner[s] = q
    agg: dict[str, dict] = {}
    for r in rows:
        if r["kind"] != "task":
            continue
        q = stage_owner.get(r["stage"])
        if q is None:
            continue
        a = agg.setdefault(
            q,
            {
                "shuffle_bytes_written": 0,
                "shuffle_records_written": 0,
                "shuffle_bytes_read": 0,
                "disk_spill_bytes": 0,
                "input_bytes": 0,
                "n_tasks": 0,
            },
        )
        a["shuffle_bytes_written"] += r["swb"]
        a["shuffle_records_written"] += r["swr"]
        a["shuffle_bytes_read"] += r["srb"]
        a["disk_spill_bytes"] += r["spill"]
        a["input_bytes"] += r["input"]
        a["n_tasks"] += 1
    for q, a in agg.items():
        a["wall_sec"] = spans.get(q)
        a["n_jobs"] = n_jobs.get(q, 0)
    result = {"sf": args.sf, "cpus": cpus, "results": agg}
    text = json.dumps(result, indent=1)
    print(text)
    if args.out:
        Path(args.out).write_text(text)
    shutil.rmtree(log_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
