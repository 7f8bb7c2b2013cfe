"""Scale probe for train_linear_classifier (VERDICT r7 ask #1): train
the 3-iteration integer-GD hashed-BoW classifier on >= 1M synthetic
labeled documents and record wall time + model size + held-in accuracy.

Documents are generated INSIDE Spark (range + md5-derived word picks —
no parquet, no driver materialization), ~15 tokens each: 5 class words
(positive/negative vocabulary by label = id % 2) + 10 filler words, so
the corpus is linearly separable and the accuracy check is sharp.

Usage: python tools/classifier_probe.py [n_docs] [n_buckets]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

POS = ["good", "great", "excellent", "wonderful", "superb", "fine"]
NEG = ["bad", "awful", "terrible", "dreadful", "poor", "nasty"]
FILLER = ["the", "a", "data", "row", "table", "query", "spark", "join"]


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 1 << 10

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from aces_spark.functions.features import (
        linear_classifier_score,
        train_linear_classifier,
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

    def pick(words, salt):
        arr = F.array(*[F.lit(w) for w in words])
        h = F.conv(
            F.substring(F.md5(F.concat_ws("|", F.lit(salt), F.col("id"))), 1, 15),
            16,
            10,
        ).cast("long")
        return F.element_at(arr, (F.pmod(h, F.lit(len(words))) + 1).cast("int"))

    base = spark.range(n_docs).repartition(32)
    label = (F.col("id") % 2 == 0).alias("label")
    pos_arr = F.array(*[F.lit(w) for w in POS])
    neg_arr = F.array(*[F.lit(w) for w in NEG])
    class_words = [
        F.element_at(
            F.when(F.col("id") % 2 == 0, pos_arr).otherwise(neg_arr),
            (
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws("|", F.lit(f"c{i}"), F.col("id"))),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(len(POS)),
                )
                + 1
            ).cast("int"),
        )
        for i in range(5)
    ]
    fillers = [pick(FILLER, f"f{i}") for i in range(10)]
    docs = base.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *class_words, *fillers).alias("text"),
        label,
    ).localCheckpoint(eager=True)
    n = docs.count()

    t0 = time.monotonic()
    w = train_linear_classifier(docs, n_buckets=n_buckets, n_iters=3)
    rows = w.collect()
    train_s = time.monotonic() - t0

    t1 = time.monotonic()
    scored = linear_classifier_score(
        docs.select("doc_id", "text"),
        spark.createDataFrame(rows, "bucket long, weight_micro long"),
        n_buckets=n_buckets,
    )
    acc_n = (
        scored.join(docs.select("doc_id", F.col("label").alias("truth")), "doc_id")
        .filter(F.col("label") == F.col("truth"))
        .count()
    )
    score_s = time.monotonic() - t1

    print(
        json.dumps(
            {
                "n_docs": n,
                "n_buckets": n_buckets,
                "n_iters": 3,
                "nonzero_weights": len(rows),
                "train_sec": round(train_s, 2),
                "score_sec": round(score_s, 2),
                "train_docs_per_sec": round(n / train_s),
                "accuracy": round(acc_n / n, 6),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
