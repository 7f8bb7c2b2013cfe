"""Scale probe for the graph operators: PageRank and triangle counting
on a synthetic skewed graph (30% of edges hit 100 hub nodes — the
celebrity-degree regime the degree-ordered orientation exists for).

Prints one JSON line with edge counts and wall times. Usage:

    python tools/graph_probe.py [n_edges_pagerank] [n_edges_triangles]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def synth_edges(spark, n_edges: int, n_nodes: int):
    """Deterministic skewed edge list: xxhash-derived endpoints, 30% of
    destinations concentrated on 100 hubs."""
    from pyspark.sql import functions as F

    return spark.range(n_edges).select(
        F.expr(f"pmod(xxhash64(id, 1), {n_nodes})").alias("src"),
        F.when(
            F.col("id") % 10 < 3, F.expr("pmod(xxhash64(id, 2), 100)")
        )
        .otherwise(F.expr(f"pmod(xxhash64(id, 3), {n_nodes})"))
        .alias("dst"),
    )


def main() -> int:
    n_pr = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    n_tri = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000

    from pyspark.sql import SparkSession

    from aces_spark.operators.graph import pagerank, triangle_count

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("graph-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    out = {"metric": "graph_probe", "unit": "sec"}

    # --- PageRank: n_pr edges over n_pr/5 nodes, 3 iterations ---
    edges = synth_edges(spark, n_pr, n_pr // 5)
    t0 = time.time()
    r = pagerank(edges, iterations=3)
    n_nodes = r.count()
    pr_s = time.time() - t0
    out["pagerank"] = {
        "n_edges": n_pr,
        "n_nodes": n_nodes,
        "iterations": 3,
        "sec": round(pr_s, 2),
        "edge_traversals_per_sec": round(3 * n_pr / pr_s),
    }

    # --- Bucketed-edges claim (graph.py module docstring): an edge table
    # pre-bucketed by src makes the edge-side build (distinct, out-degree
    # agg, degree join) exchange-free — hash(src) satisfies clustering on
    # {src}, and on {src,dst} by the subset rule — so only the per-
    # iteration rank-side shuffle and message aggregate remain. Measured
    # as executed-plan Exchange counts (checkpoint=False keeps the whole
    # lineage visible) plus wall time for the real checkpointed run.
    import shutil
    import tempfile

    bdir = tempfile.mkdtemp(prefix="graph_probe_bucketed_")
    try:
        edges = synth_edges(spark, n_pr, n_pr // 5)
        plain_path = f"{bdir}/edges_plain"
        edges.write.mode("overwrite").parquet(plain_path)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS probe_db LOCATION '{bdir}/warehouse'")
        # repartition on the bucket key BEFORE bucketBy: without it every
        # input partition writes a file into every bucket (nFiles =
        # partitions x buckets — 1024 small files here), and the shredded
        # scan costs 3x more than the exchanges bucketing saves. With it:
        # one file per bucket, and the bucketed variant wins on BOTH
        # exchange count and wall time.
        from pyspark.sql import functions as F

        (
            edges.repartition(32, F.col("src"))
            .write.mode("overwrite")
            .bucketBy(32, "src")
            .sortBy("src")
            .option("path", f"{bdir}/edges_bucketed")
            .saveAsTable("probe_db.edges_bucketed")
        )

        def exchange_count(src_df):
            plan = (
                pagerank(src_df, iterations=3, checkpoint=False)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            return plan.count("Exchange ")

        def timed_run(src_df):
            # lazily-checkpointed RDDs from the PREVIOUS run linger until
            # the ContextCleaner reaps them and can inflate the next run
            # 3-5x — force the reap, then time
            spark._jvm.System.gc()
            time.sleep(2)
            t0 = time.time()
            pagerank(src_df, iterations=3).count()
            return time.time() - t0

        plain_df = spark.read.parquet(plain_path)
        bucketed_df = spark.table("probe_db.edges_bucketed")
        secs = {"plain": [], "bucketed": []}
        for _ in range(3):  # interleaved min-of-3: order effects cancel
            secs["plain"].append(timed_run(plain_df))
            secs["bucketed"].append(timed_run(bucketed_df))
        out["bucketed_edges"] = {
            "n_edges": n_pr,
            "plain": {
                "exchanges": exchange_count(plain_df),
                "sec": round(min(secs["plain"]), 2),
            },
            "bucketed": {
                "exchanges": exchange_count(bucketed_df),
                "sec": round(min(secs["bucketed"]), 2),
            },
        }
        spark.sql("DROP TABLE IF EXISTS probe_db.edges_bucketed")
        spark.sql("DROP DATABASE IF EXISTS probe_db")
    finally:
        shutil.rmtree(bdir, ignore_errors=True)

    # --- Triangles: denser graph (n_tri edges over n_tri/20 nodes) ---
    edges = synth_edges(spark, n_tri, n_tri // 20)
    t0 = time.time()
    n_tris = triangle_count(edges).collect()[0]["n_triangles"]
    tri_s = time.time() - t0
    out["triangles"] = {
        "n_edges": n_tri,
        "n_triangles": n_tris,
        "sec": round(tri_s, 2),
        "edges_per_sec": round(n_tri / tri_s),
    }

    print(json.dumps(out, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
