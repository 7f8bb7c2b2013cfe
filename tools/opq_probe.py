"""OPQ-vs-plain-PQ recall probe (VERDICT r8 ask #6).

Measures recall@k against exact L2 brute force for plain PQ and
rotated (parametric-OPQ: PCA + eigenvalue allocation) PQ on:

1. the driver testdata embeddings at the given sf directory, and
2. a synthetic full-rank anisotropic corpus (decaying spectrum behind a
   random orthonormal mix — the regime OPQ exists for), and
3. a synthetic low-rank corpus (the honest counter-regime where
   redundant spreading beats decorrelation).

Usage: python tools/opq_probe.py [sf_dir] [m] [n_codes] [k]
Prints one JSON line for COVERAGE.md.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    m = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_codes = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    k = int(sys.argv[4]) if len(sys.argv) > 4 else 10

    import numpy as np
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from aces_spark.datapipe.pq import (
        opq_encode,
        opq_topk,
        opq_train,
        pq_encode,
        pq_topk,
        pq_train,
    )

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def measure(df, x, n_queries=50):
        ids = sorted(x.keys())[:n_queries]
        queries = df.filter(df.vec_id.isin(ids))

        def exact_topk(qid):
            q = x[qid]
            d = sorted(
                (float(np.sum((q - v) ** 2)), i) for i, v in x.items() if i != qid
            )
            return {i for _, i in d[:k]}

        truth = {q: exact_topk(q) for q in ids}

        def recall(res):
            by_q: dict = {}
            for r in res:
                by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return round(
                sum(len(by_q.get(q, set()) & truth[q]) for q in ids)
                / (float(k) * len(ids)),
                4,
            )

        cb = pq_train(df, m=m, n_codes=n_codes, quantizer="kmeans")
        plain = recall(pq_topk(queries, pq_encode(df, cb), cb, k=k).collect())
        model = opq_train(df, m=m, n_codes=n_codes, quantizer="kmeans")
        rot = recall(
            opq_topk(queries, opq_encode(df, model), model, k=k).collect()
        )
        res = {
            "plain_pq": plain,
            "opq": rot,
            "rotated": model["rotated"],
            "spectrum_ratio": (
                None
                if model["spectrum_ratio"] == float("inf")
                else round(model["spectrum_ratio"], 2)
            ),
        }
        if model["rotated"]:
            refined = opq_train(
                df, m=m, n_codes=n_codes, quantizer="kmeans", refine=1
            )
            res["opq_np1"] = recall(
                opq_topk(queries, opq_encode(df, refined), refined, k=k).collect()
            )
        return res

    out = {"m": m, "n_codes": n_codes, "k": k}

    emb = entry_mod._read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    x = {
        int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    out["testdata_embeddings"] = {"n": len(x), **measure(emb, x)}
    print(json.dumps({"testdata": out["testdata_embeddings"]}), file=sys.stderr)

    rng = np.random.default_rng(7)
    n, d = 2000, 64
    spec = 2.0 ** -np.arange(d)[: d] * 64.0
    qmat, _ = np.linalg.qr(rng.normal(size=(d, d)))
    xa = rng.normal(size=(n, d)) * np.sqrt(np.maximum(spec, 1e-6)) @ qmat.T
    dfa = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(xa)],
        "vec_id long, embedding array<double>",
    )
    out["anisotropic_fullrank"] = {
        "n": n, **measure(dfa, {i: xa[i] for i in range(n)})
    }
    print(json.dumps({"anisotropic": out["anisotropic_fullrank"]}), file=sys.stderr)

    xl = rng.normal(size=(n, 4)) @ rng.normal(size=(4, d)) + 0.01 * rng.normal(
        size=(n, d)
    )
    dfl = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(xl)],
        "vec_id long, embedding array<double>",
    )
    out["lowrank_rank4"] = {"n": n, **measure(dfl, {i: xl[i] for i in range(n)})}
    print(json.dumps({"lowrank": out["lowrank_rank4"]}), file=sys.stderr)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
