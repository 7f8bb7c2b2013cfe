"""Scale probe for the bloom semi-join: 20M-row big side joined against
a 1k-key small side, plain join vs bloom_join, matched output. Shows
where the bloom pre-filter pays: the shuffle written by the big side
drops from |big| to |matching| + false positives.

Prints one JSON line. Usage: python tools/bloom_probe.py [n_big] [n_keys]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    n_big = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from aces_spark.operators.bloom import bloom_join

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("bloom-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # force the SHUFFLE join path: the probe measures the shuffle
        # reduction, which a broadcast of the small side would hide
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    key_space = n_keys * 100  # 1% of big-side rows match
    big = spark.range(n_big).select(
        F.expr(f"pmod(xxhash64(id, 7), {key_space})").alias("k"),
        (F.col("id") % 1000).cast("double").alias("x"),
    )
    small = spark.range(n_keys).select(
        F.expr(f"pmod(xxhash64(id, 9), {key_space})").alias("k"),
        F.col("id").alias("w"),
    ).distinct()

    def run(df):
        t0 = time.time()
        row = df.groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx")
        ).collect()[0]
        return time.time() - t0, row["n"]

    # warm-up both input pipelines once
    big.limit(1).count()
    small.count()

    plain_s, n_plain = run(big.join(small, "k"))
    bloom_s, n_bloom = run(
        bloom_join(big, small, "k", num_bits=1 << 20, num_hashes=2)
    )
    assert n_plain == n_bloom, (n_plain, n_bloom)

    print(
        json.dumps(
            {
                "metric": "bloom_probe",
                "unit": "sec",
                "n_big": n_big,
                "n_small_keys": n_keys,
                "n_matches": n_plain,
                "plain_shuffle_join_sec": round(plain_s, 2),
                "bloom_join_sec": round(bloom_s, 2),
                "speedup": round(plain_s / bloom_s, 2),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
