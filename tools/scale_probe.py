"""Scale probe: synthesize an N-row predicates frame (no I/O bound) and
time the two window kernels plus a full flagship-shaped query() end-to-end.

This is the evidence run for the 100 TB story: per-subject algebra means
throughput is kernel-bound and embarrassingly parallel by subject, so
rows/s measured here extrapolates linearly with executors until shuffle
I/O dominates. Compare against the reference baseline (BASELINE.md):
0.22-0.44M event rows/s end-to-end on 36 cores.

Each kernel does one untimed warmup action (codegen + JIT + buffer-pool
warm) and then ``SPARK_GRAFT_PROBE_REPS`` (default 3) timed repetitions;
the JSON reports the MEDIAN plus the min-max spread, so single-shot
scheduler noise (observed 12× on a cold shell) cannot move the published
numbers. README throughput ranges are regenerated from this output.

Usage: python tools/scale_probe.py [n_rows] [n_subjects]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from datetime import timedelta
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    subj = int(sys.argv[2]) if len(sys.argv) > 2 else max(1000, n // 100)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aces-spark-scale-probe")
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 2))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from aces_spark.config import (
        EventConfig,
        PlainPredicateConfig,
        TaskExtractorConfig,
        WindowConfig,
    )
    from aces_spark.operators.aggregate import (
        aggregate_temporal_window,
        boolean_expr_bound_sum,
    )
    from aces_spark.query import query
    from aces_spark.types import TemporalWindowBounds

    # synthetic per-subject event stream: ~n/subj events per subject, hourly
    # cadence with minute jitter; p_trig fires 1/3, p_bound 1/11
    df = (
        spark.range(n)
        .select(
            (F.col("id") % subj).alias("subject_id"),
            F.timestamp_micros(
                (F.col("id") / subj).cast("long") * 3_600_000_000
                + (F.col("id") % 7) * 60_000_000
            ).alias("timestamp"),
            (F.col("id") % 3 == 0).cast("long").alias("p_trig"),
            (F.col("id") % 11 == 0).cast("long").alias("p_bound"),
        )
        .repartition(int(cpus) * 2, "subject_id")
        .persist()
    )
    df.count()  # materialize

    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "3"))

    def timed(fn):
        """Warmup action (untimed) + ``reps`` timed runs → (median, lo, hi)."""
        fn().write.format("noop").mode("overwrite").save()
        times = []
        for _ in range(reps):
            t = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        times.sort()
        med = times[len(times) // 2] if reps % 2 else (times[reps // 2 - 1] + times[reps // 2]) / 2
        return round(med, 2), round(times[0], 2), round(times[-1], 2)

    t1, t1_lo, t1_hi = timed(
        lambda: aggregate_temporal_window(
            df, TemporalWindowBounds(True, timedelta(hours=24), True, None)
        )
    )
    e1, e1_lo, e1_hi = timed(
        lambda: boolean_expr_bound_sum(df, F.col("p_bound") > 0, "row_to_bound", "both")
    )

    cfg = TaskExtractorConfig(
        predicates={"p_trig": PlainPredicateConfig("x"), "p_bound": PlainPredicateConfig("y")},
        trigger=EventConfig("p_trig"),
        windows={
            "obs": WindowConfig(
                start="trigger", end="start + 24h",
                start_inclusive=True, end_inclusive=True,
                has={"p_bound": "(1, None)"},
            ),
            "fu": WindowConfig(
                start="obs.end", end="start -> p_bound",
                start_inclusive=False, end_inclusive=True,
            ),
        },
    )
    full, full_lo, full_hi = timed(lambda: query(cfg, df))

    def mrows(sec):
        return round(n / sec / 1e6, 2)

    print(
        json.dumps(
            {
                "metric": "scale_probe",
                "rows": n,
                "subjects": subj,
                "cpus": int(cpus),
                "reps": reps,
                "temporal_kernel_sec": t1,
                "event_bound_kernel_sec": e1,
                "full_query_sec": full,
                "temporal_mrows_per_sec": mrows(t1),
                "event_bound_mrows_per_sec": mrows(e1),
                "full_query_mrows_per_sec": mrows(full),
                # min-max of the timed reps, as throughput (hi sec → lo rate)
                "temporal_mrows_range": [mrows(t1_hi), mrows(t1_lo)],
                "event_bound_mrows_range": [mrows(e1_hi), mrows(e1_lo)],
                "full_query_mrows_range": [mrows(full_hi), mrows(full_lo)],
                "baseline_mrows_per_sec": "0.22-0.44 (reference, 36 cores, BASELINE.md)",
                # BASELINE.md rows carry MiB; record ours too (python
                # ru_maxrss + driver-JVM VmHWM high-water mark)
                "peak_rss_mib": __import__("bench").peak_rss_mib(),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
