"""Scale probe for first-class k-means (datapipe/kmeans.py): Lloyd
rounds over a large synthetic vector table, recording wall time and
vectors/sec so the "assignment is |vecs|*k broadcast rows, update one
(cluster,dim) aggregate" claim carries a measured number.

Prints one JSON line. Usage:

    python tools/kmeans_probe.py [n_vectors] [dim] [k]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def synth_vectors(spark, n: int, dim: int):
    """Deterministic pseudo-random vectors in [-1, 1]: component d of
    row i is a scaled xxhash64(i, d) — fully reproducible, no rand()."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda d: (
                (F.abs(F.xxhash64(F.col("id"), d)) % 2000001) - 1000000
            ).cast("double")
            / 1000000.0,
        ).alias("embedding"),
    )


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    from pyspark.sql import SparkSession

    from aces_spark.datapipe.kmeans import kmeans_clusters

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    vecs = synth_vectors(spark, n, dim).repartition(32).persist()
    vecs.count()  # materialize outside the timed region

    start = time.perf_counter()
    out = kmeans_clusters(vecs, k=k, n_iters=2)
    sizes = (
        out.groupBy("cluster_id").count().orderBy("cluster_id").collect()
    )
    wall = time.perf_counter() - start
    assigned = sum(r["count"] for r in sizes)
    print(
        json.dumps(
            {
                "probe": "kmeans_clusters",
                "n_vectors": n,
                "dim": dim,
                "k": k,
                "n_iters": 2,
                "wall_sec": round(wall, 2),
                "vectors_per_sec": int(assigned / wall),
                "n_clusters_nonempty": len(sizes),
                "max_cluster": max(r["count"] for r in sizes),
                "min_cluster": min(r["count"] for r in sizes),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
