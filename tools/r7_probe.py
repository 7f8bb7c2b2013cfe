"""Scale probes for the round-7 debut operators, driver-free synthetic
inputs (spark.range + hash expressions — generation is never the
bottleneck being measured). Prints one JSON line per probe.

* ``tfidf`` — tfidf_cosine_pairs at a doc-count SWEEP with vocabulary
  growing proportionally (the web regime: per-term df stays constant,
  so the inverted-index pair mass — the only quadratic step — grows
  LINEARLY in docs; the probe records wall times to show it). Every
  20th doc is a word-permuted copy of its predecessor (cosine 1.0 by
  construction) so recall is observable.
* ``adamic`` — adamic_adar over a uniform random graph (2M edges,
  200k nodes): Σ deg(w)² pair mass with the max_degree hub guard.
* ``intervals`` — interval_coverage + decayed_sum at 20M events /
  100k keys: both are one-exchange shapes, the probe pins wall time.

Usage: python tools/r7_probe.py {tfidf|adamic|intervals} [scale args]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _spark(name: str):
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def probe_tfidf(sizes: list[int]) -> None:
    from pyspark.sql import functions as F

    from aces_spark.datapipe.dedup import tfidf_cosine_pairs

    spark = _spark("r7-tfidf-probe")
    out = {"probe": "tfidf_cosine_pairs", "unit": "sec", "runs": []}
    for n in sizes:
        vocab = 2 * n  # df ~ tokens/vocab stays ~20: the linear regime
        # ~40-word docs; every 20th doc re-derives its predecessor's
        # words in a rotated order (same multiset -> cosine 1.0)
        base_id = F.when(F.col("id") % 20 == 1, F.col("id") - 1).otherwise(
            F.col("id")
        )
        rot = F.when(F.col("id") % 20 == 1, F.lit(17)).otherwise(F.lit(0))
        words = F.transform(
            F.sequence(F.lit(0), F.lit(39)),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(
                    F.xxhash64(base_id, F.pmod(i + rot, F.lit(40))), F.lit(vocab)
                ),
            ),
        )
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.array_join(words, " ").alias("text"),
        ).localCheckpoint()
        t0 = time.time()
        pairs = tfidf_cosine_pairs(docs, threshold=0.95, max_doc_freq=1000)
        stats = pairs.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                (
                    (F.col("doc_b") - F.col("doc_a") == 1)
                    & (F.col("doc_b") % 20 == 1)
                ).cast("long")
            ).alias("planted_found"),
        ).collect()[0]
        sec = time.time() - t0
        out["runs"].append(
            {
                "n_docs": n,
                "vocab": vocab,
                "n_pairs": stats["n_pairs"],
                "planted_found": int(stats["planted_found"] or 0),
                "planted_total": (n - 1) // 20 + (0 if n % 20 != 2 else 0),
                "wall_sec": round(sec, 2),
                "docs_per_sec": int(n / sec),
            }
        )
        docs.unpersist()
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


def probe_adamic(n_edges: int, n_nodes: int) -> None:
    from pyspark.sql import functions as F

    from aces_spark.operators.graph import adamic_adar

    spark = _spark("r7-adamic-probe")
    edges = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_nodes)).alias("dst"),
    ).localCheckpoint()
    t0 = time.time()
    scores = adamic_adar(edges, max_degree=200, min_common=2)
    stats = scores.agg(
        F.count(F.lit(1)).alias("n_pairs"), F.max("n_common").alias("max_common")
    ).collect()[0]
    sec = time.time() - t0
    print(
        json.dumps(
            {
                "probe": "adamic_adar",
                "n_edges": n_edges,
                "n_nodes": n_nodes,
                "max_degree": 200,
                "n_pairs": stats["n_pairs"],
                "max_common": stats["max_common"],
                "wall_sec": round(sec, 2),
                "edges_per_sec": int(n_edges / sec),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


def probe_intervals(n: int, keys: int) -> None:
    from datetime import timedelta

    from pyspark.sql import functions as F

    from aces_spark.operators.timeseries import decayed_sum, interval_coverage

    spark = _spark("r7-intervals-probe")
    ev = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(keys)).alias("k"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + F.pmod(F.xxhash64("id", F.lit(3)), F.lit(86_400_000_000 * 30))
        ).alias("ts"),
        (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(1000)).cast("double") / 10.0).alias(
            "value"
        ),
    ).localCheckpoint()
    iv = ev.select(
        "k",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 30 minutes")).alias("end_ts"),
    )
    t0 = time.time()
    n_islands = interval_coverage(iv, "k").count()
    cov_s = time.time() - t0
    t0 = time.time()
    n_groups = decayed_sum(ev, "k", half_life=timedelta(days=7)).count()
    dec_s = time.time() - t0
    print(
        json.dumps(
            {
                "probe": "interval_coverage+decayed_sum",
                "n_rows": n,
                "n_keys": keys,
                "n_islands": n_islands,
                "coverage_wall_sec": round(cov_s, 2),
                "n_groups": n_groups,
                "decayed_wall_sec": round(dec_s, 2),
                "rows_per_sec_coverage": int(n / cov_s),
                "rows_per_sec_decayed": int(n / dec_s),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


def main() -> int:
    which = sys.argv[1] if len(sys.argv) > 1 else "tfidf"
    if which == "tfidf":
        sizes = [int(x) for x in sys.argv[2:]] or [100_000, 200_000, 400_000]
        probe_tfidf(sizes)
    elif which == "adamic":
        probe_adamic(
            int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 200_000,
        )
    elif which == "intervals":
        probe_intervals(
            int(sys.argv[2]) if len(sys.argv) > 2 else 20_000_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 100_000,
        )
    else:
        raise SystemExit(f"unknown probe {which!r}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
