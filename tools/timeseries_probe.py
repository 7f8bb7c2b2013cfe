"""Throughput probe for the time-series operators (asof/rollup/gapfill):
synthesize an N-row two-sided event stream (no I/O bound) and time each
operator end-to-end, same protocol as ``scale_probe.py`` — one untimed
warmup action per operator, then median of ``SPARK_GRAFT_PROBE_REPS``
(default 3) timed repetitions with the min-max spread.

Also times the skew-chunked as-of variant on a deliberately skewed key
distribution (one key holds ~50% of rows) to show the escape hatch's
effect where the plain kernel serializes.

Usage: python tools/timeseries_probe.py [n_rows] [n_keys]
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


def _timed(fn, reps: int):
    fn()  # warmup: codegen + JIT + buffer pools
    times = []
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        times.append(time.monotonic() - t0)
    times.sort()
    return times[len(times) // 2], times[0], times[-1]


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    keys = int(sys.argv[2]) if len(sys.argv) > 2 else max(1000, n // 200)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "3"))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aces-spark-timeseries-probe")
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 2))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from aces_spark.operators.timeseries import (
        asof_join,
        asof_join_chunked,
        gapfill_locf,
        time_rollup,
    )

    # two-sided stream: 80% "left" rows, 20% "right" observations,
    # hourly-ish cadence per key
    base = spark.range(n).select(
        (F.col("id") % keys).alias("k"),
        F.timestamp_micros(
            (F.col("id") / keys).cast("long") * 3_600_000_000
            + (F.col("id") % 13) * 60_000_000
        ).alias("ts"),
        F.col("id").alias("rid"),
        (F.col("id") % 97).cast("double").alias("v"),
        (F.col("id") % 5 == 0).alias("is_right"),
    ).repartition(int(cpus) * 2, "k").persist()
    base.count()

    left = base.filter(~F.col("is_right")).select("k", "rid", "ts")
    right = base.filter(F.col("is_right")).select(
        "k", F.col("ts").alias("rts"), F.col("rid").alias("obs_id"), F.col("v")
    )

    results = {}

    def run_asof():
        # consume the filled columns — a bare count() lets Catalyst prune
        # the window away (column pruning) and times only the union+filter
        asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts",
            right_cols=["v"], right_order="obs_id",
        ).agg(F.sum("v"), F.count("asof_ts")).collect()

    results["asof_join"] = _timed(run_asof, reps)

    # skewed variant: fold half the keys into key 0 (~50% of rows one key)
    skew_l = left.withColumn("k", F.when(F.col("k") % 2 == 0, 0).otherwise(F.col("k")))
    skew_r = right.withColumn("k", F.when(F.col("k") % 2 == 0, 0).otherwise(F.col("k")))

    def run_asof_skew_plain():
        asof_join(
            skew_l, skew_r, on="k", left_ts="ts", right_ts="rts",
            right_cols=["v"], right_order="obs_id",
        ).agg(F.sum("v"), F.count("asof_ts")).collect()

    def run_asof_skew_chunked():
        asof_join_chunked(
            skew_l, skew_r, on="k", left_ts="ts", right_ts="rts",
            right_cols=["v"], right_order="obs_id", chunk=timedelta(hours=6),
        ).agg(F.sum("v"), F.count("asof_ts")).collect()

    results["asof_skewed_plain"] = _timed(run_asof_skew_plain, reps)
    results["asof_skewed_chunked"] = _timed(run_asof_skew_chunked, reps)

    def run_rollup():
        time_rollup(
            base, ts_col="ts", by="is_right", grains=["hour", "day"],
        ).agg(F.sum("n_events")).collect()

    results["time_rollup"] = _timed(run_rollup, reps)

    def run_gapfill():
        gapfill_locf(
            base.select("k", "ts", "v", "rid"), on="k", ts_col="ts",
            value_col="v", bucket="day", order_col="rid",
        ).agg(F.sum("v"), F.sum(F.col("is_observed").cast("long"))).collect()

    results["gapfill_locf"] = _timed(run_gapfill, reps)

    out = {
        "n_rows": n,
        "n_keys": keys,
        "cpus": int(cpus),
        "reps": reps,
        "ops": {
            name: {
                "median_s": round(med, 3),
                "min_s": round(lo, 3),
                "max_s": round(hi, 3),
                "median_mrows_s": round(n / med / 1e6, 2),
            }
            for name, (med, lo, hi) in results.items()
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
