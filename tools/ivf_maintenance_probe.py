"""Scale probe for IVF delete/compact (VERDICT r7 ask #5): build a
persisted index over N synthetic vectors, tombstone a small id slice,
compact, and record that the rewrite touched ONLY the dirty cell
directories — with wall times and rewritten-bytes vs index-bytes.

Usage: python tools/ivf_maintenance_probe.py [n_vectors] [dim] [n_cells]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _cell_state(cells_dir: str) -> dict[str, dict[str, float]]:
    out = {}
    for d in os.listdir(cells_dir):
        if d.startswith("cell_id="):
            full = os.path.join(cells_dir, d)
            out[d] = {
                f: os.path.getmtime(os.path.join(full, f))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            }
    return out


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    n_cells = int(sys.argv[3]) if len(sys.argv) > 3 else 256

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from aces_spark.datapipe.similarity import (
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_topk_indexed,
        save_ivf_index,
        seed_centroids,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic synthetic vectors: md5-derived coords in [-1, 1]
    coords = [
        (
            F.conv(F.substring(F.md5(F.concat_ws("|", F.lit(j), F.col("id"))), 1, 8), 16, 10)
            .cast("long")
            % 2_000_001
            - 1_000_000
        ).cast("double")
        / 1_000_000.0
        for j in range(dim)
    ]
    vecs = (
        spark.range(n)
        .repartition(32)
        .select(F.col("id").alias("vec_id"), F.array(*coords).alias("embedding"))
        .localCheckpoint(eager=True)
    )
    idx = "/root/repo/.scaledata/ivf_probe"
    import shutil

    shutil.rmtree(idx, ignore_errors=True)
    cents = seed_centroids(vecs, k=n_cells)
    t0 = time.monotonic()
    save_ivf_index(vecs, idx, centroids=cents)
    build_s = time.monotonic() - t0
    index_bytes = _tree_bytes(f"{idx}/cells")

    # delete every vector of 3 cells plus half of a 4th — the realistic
    # shape (deletes cluster spatially: a domain purge, a licensing
    # takedown of one source) and the one that demonstrates locality;
    # a uniformly random id slice would dirty EVERY cell by construction
    cells_df = spark.read.parquet(f"{idx}/cells")
    victim_cells = [
        r["cell_id"]
        for r in cells_df.select("cell_id").distinct().orderBy("cell_id").limit(4).collect()
    ]
    dead = cells_df.filter(
        F.col("cell_id").isin(victim_cells[:3])
        | ((F.col("cell_id") == victim_cells[3]) & (F.col("vec_id") % 2 == 0))
    ).select("vec_id").localCheckpoint(eager=True)
    t1 = time.monotonic()
    n_tomb = delete_from_ivf_index(spark, idx, dead)
    delete_s = time.monotonic() - t1

    before = _cell_state(f"{idx}/cells")
    t2 = time.monotonic()
    stats = compact_ivf_index(spark, idx)
    compact_s = time.monotonic() - t2
    after = _cell_state(f"{idx}/cells")

    clean_untouched = sum(
        1 for d in before if d in after and after[d] == before[d]
    )
    touched = [d for d in before if d not in after or after[d] != before[d]]
    rewritten_bytes = sum(
        os.path.getsize(os.path.join(f"{idx}/cells", d, f))
        for d in touched
        if os.path.isdir(os.path.join(f"{idx}/cells", d))
        for f in after.get(d, {})
    )
    # sanity: query still works post-compact
    qs = vecs.filter(F.col("vec_id").between(n // 2, n // 2 + 4))
    n_res = ivf_topk_indexed(spark, idx, qs, k=5, n_probes=2).count()

    print(
        json.dumps(
            {
                "n_vectors": n,
                "dim": dim,
                "n_cells_total": len(before),
                "build_sec": round(build_s, 2),
                "index_mb": round(index_bytes / 1e6, 1),
                "n_tombstoned": n_tomb,
                "delete_sec": round(delete_s, 2),
                "compact_sec": round(compact_s, 2),
                "cells_touched": len(touched),
                "cells_untouched": clean_untouched,
                "dirty_per_stats": stats,
                "rewritten_mb": round(rewritten_bytes / 1e6, 1),
                "rewrite_fraction": round(rewritten_bytes / index_bytes, 4),
                "post_compact_query_rows": n_res,
            }
        )
    )
    shutil.rmtree(idx, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
