"""Isolated median-of-3 re-measure of the retrieval/text quiet-run tail
(r8 VERDICT "What's wrong" #2 / "Next round" #2).

Six sub-3 s queries drifted >1.5× between identical-code quiet runs
r7→r8 (`collocations` 1.98×, `pii_scrub` 1.92×, `phrase_search` 1.74×,
`bm25_search` 1.70×, `rare_token_score` 1.67×, `hybrid_rrf_search`
1.61×). All share the tokenize path; none was code-touched in r8. This
probe measures each one ISOLATED — fresh catalog, every persistent RDD
unpersisted, System.gc() + settle before every sample, one warm
(untimed) run then 3 timed samples, median reported — to distinguish
in-suite measurement artifacts from real per-query cost.

Usage: python tools/tail_probe.py [sf_dir] [query ...]
Prints one JSON line with per-query {median, samples}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TAIL = [
    "collocations",
    "phrase_search",
    "bm25_search",
    "rare_token_score",
    "hybrid_rrf_search",
    "pii_scrub",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or TAIL
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tail-probe")
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

    queries = entry_mod.queries()

    def gc_fence():
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
        except Exception:
            pass
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        time.sleep(2.0)

    def run_once(fn) -> float:
        spark.catalog.clearCache()
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    out = {}
    for name in names:
        fn = queries[name]
        gc_fence()
        run_once(fn)  # warm: classload + codegen, untimed
        samples = []
        for _ in range(3):
            gc_fence()
            samples.append(round(run_once(fn), 3))
        out[name] = {"median": statistics.median(samples), "samples": samples}
        print(f"{name}: median {out[name]['median']}s {samples}", file=sys.stderr)

    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "queries": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
