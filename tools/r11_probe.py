"""Round-10 optimization probe: isolate one or more ``queries()`` entries
with the bench's exact session confs, time them with a GC-barriered
median-of-N (the r8-established isolated-rerun protocol), and optionally
dump each query's ``explain('formatted')`` to a file for the plan ledger
(``plans/r11/<query>_{before,after}.txt``).

Usage:
    python tools/r11_probe.py [--runs N] [--tag before|after] [--sf DIR] q1 q2 ...

Timing methodology matches bench.py (noop sink, clearCache before every
sample, unpersist+System.gc+settle barrier OUTSIDE the timed region);
numbers here are the isolated-quiet medians the round ledger cites
alongside the in-suite bench numbers.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--tag", default=None, help="dump plans/r11/<q>_<tag>.txt")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--settle", type=float, default=1.0)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aces-spark-r11-probe")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    qmap = dict(entry_mod.queries())
    for name, fn in getattr(entry_mod, "bench_extras", dict)().items():
        qmap.setdefault(f"bench_only:{name}", fn)
    plans_dir = Path(__file__).resolve().parent.parent / "plans" / "r11"

    def barrier():
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
        except Exception:
            pass
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        time.sleep(args.settle)

    out: dict[str, dict] = {}
    for name in args.queries:
        if name not in qmap:
            print(f"# unknown query {name}", file=sys.stderr)
            continue
        fn = qmap[name]
        spark.sparkContext.setJobDescription(f"r11probe:{name}")
        if args.tag:
            plans_dir.mkdir(parents=True, exist_ok=True)
            spark.catalog.clearCache()
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain(mode="formatted")
            safe = name.replace(":", "_")
            (plans_dir / f"{safe}_{args.tag}.txt").write_text(buf.getvalue())
        samples = []
        # one untimed warmup (codegen compile), then N timed barriered runs
        for i in range(args.runs + 1):
            barrier()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if i:
                samples.append(dt)
        samples.sort()
        out[name] = {
            "median": round(samples[len(samples) // 2], 3),
            "min": round(samples[0], 3),
            "max": round(samples[-1], 3),
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf": args.sf, "results": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
