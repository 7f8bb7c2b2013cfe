"""Tail fixed-cost decomposition (r11, verdict ask #6): for each query,
split wall time into CONSTRUCT (the python fn building the DataFrame —
py4j chatter + analysis of intermediate hops), PLAN (forcing
queryExecution.executedPlan — optimization + physical planning), and
EXECUTE (noop write), plus the job count the execution launched. The
~180-query sub-2s tail is fixed-cost-bound at sandbox SF; this says
which constant dominates.

Usage: python tools/r11_tail_decomp.py [--sf DIR] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aces-spark-r11-tail-decomp")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    qmap = dict(entry_mod.queries())
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for name in args.queries:
        if name not in qmap:
            print(f"# unknown {name}", file=sys.stderr)
            continue
        fn = qmap[name]
        best = None
        for i in range(args.runs + 1):
            spark.catalog.clearCache()
            try:
                for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                    rdd.unpersist(False)
            except Exception:
                pass
            jobs0 = len(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t1 = time.perf_counter()
            jobs_c = len(tracker.getJobIdsForGroup(None) or [])
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            jobs1 = len(tracker.getJobIdsForGroup(None) or [])
            rec = {
                "construct": round(t1 - t0, 3),
                "plan": round(t2 - t1, 3),
                "execute": round(t3 - t2, 3),
                "total": round(t3 - t0, 3),
                "jobs_in_construct": jobs_c - jobs0,
                "jobs_in_execute": jobs1 - jobs_c,
            }
            if i and (best is None or rec["total"] < best["total"]):
                best = rec
        out[name] = best
        print(json.dumps({name: best}), flush=True)
    print(json.dumps({"sf": args.sf, "results": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
