"""Scale probe for SemDeDup (datapipe/kmeans.py:semantic_dedup):
cluster-then-prune semantic dedup over a large synthetic vector table
with planted near-duplicates — measures the full pipeline (deterministic
k-means + within-cluster cosine pruning) and checks the planted copies
actually get dropped.

Prints one JSON line. Usage:

    python tools/semdedup_probe.py [n_vectors] [dim] [k] [quantizer]

``quantizer`` is ``exact`` (default — the deterministic oracle-able
trainer, capped at k*dim <= 4096) or ``ivf`` (the MLlib-trained coarse
quantizer, uncapped — the production path for k in the hundreds-plus;
this is the variant the r6 verdict asked to see measured at k >= 256).
Recall here = fraction of the planted near-duplicates dropped.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 128
    quantizer = sys.argv[4] if len(sys.argv) > 4 else "exact"

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kmeans_probe import synth_vectors

    from aces_spark.datapipe.kmeans import semantic_dedup

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = synth_vectors(spark, n, dim)
    # planted near-dups: every 20th vector reappears with one component
    # nudged by 1e-4 — cosine ≈ 1.0, must lose to its original's lower id
    dups = base.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + n).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x + 1e-4).otherwise(x)
        ).alias("embedding"),
    )
    vecs = base.unionByName(dups).repartition(32).persist()
    n_total = vecs.count()

    t0 = time.time()
    kept = semantic_dedup(
        vecs, k=k, n_iters=2, threshold=0.999, quantizer=quantizer
    )
    stats = kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum((F.col("vec_id") >= n).cast("long")).alias("dups_surviving"),
    ).collect()[0]
    sec = time.time() - t0

    print(
        json.dumps(
            {
                "probe": "semantic_dedup",
                "quantizer": quantizer,
                "n_vectors": n_total,
                "dim": dim,
                "k": k,
                "threshold": 0.999,
                "n_kept": stats["n_kept"],
                "n_dropped": n_total - stats["n_kept"],
                "planted_dups_surviving": int(stats["dups_surviving"] or 0),
                "planted_recall": round(
                    1 - (stats["dups_surviving"] or 0) / max(1, n_total - n), 4
                ),
                "wall_sec": round(sec, 2),
                "vectors_per_sec": int(n_total / sec),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
