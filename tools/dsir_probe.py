"""Scale probe for DSIR importance scoring (datapipe/selection.py):
score a large synthetic raw pool against a target subset, recording
wall time and docs/sec. The synthetic target draws from the lower half
of the vocabulary so the two bag models genuinely differ (planted
signal: target-vocab-heavy raw docs must outrank the rest).

Prints one JSON line. Usage:

    python tools/dsir_probe.py [n_docs] [words_per_doc]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

VOCAB = 50_000  # target docs draw from [0, VOCAB/2), raw from [0, VOCAB)


def synth_docs(spark, n: int, words: int):
    """Deterministic corpus: doc i is `words` pseudo-words; docs with
    id % 10 < 3 are TARGET (vocab ids halved → lower-half vocabulary)."""
    from pyspark.sql import functions as F

    is_t = (F.col("id") % 10) < 3
    word_id = F.abs(F.xxhash64(F.col("id"), F.col("j"))) % VOCAB
    return (
        spark.range(n)
        .select("id", F.explode(F.sequence(F.lit(1), F.lit(words))).alias("j"))
        .select(
            "id",
            F.concat(
                F.lit("w"),
                F.when(is_t, word_id % (VOCAB // 2)).otherwise(word_id).cast("string"),
            ).alias("w"),
        )
        .groupBy("id")
        .agg(F.concat_ws(" ", F.collect_list("w")).alias("text"))
        .select(
            F.col("id").alias("doc_id"),
            "text",
            ((F.col("id") % 10) < 3).alias("is_target"),
        )
    )


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    words = int(sys.argv[2]) if len(sys.argv) > 2 else 30

    from pyspark.sql import functions as F
    from pyspark.sql import SparkSession

    from aces_spark.datapipe.selection import dsir_score

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = synth_docs(spark, n, words).repartition(32).persist()
    docs.count()  # materialize outside the timed region

    start = time.perf_counter()
    top = dsir_score(
        docs, F.col("is_target"), n_buckets=4096, k=100
    ).collect()
    wall = time.perf_counter() - start
    # planted-signal sanity: winners should lean lower-half vocabulary.
    # A raw doc's words are uniform over the full vocab, so its true
    # lower-half share is ~0.5; the top-100 should exceed that.
    def lower_share(doc_id):
        row = docs.filter(F.col("doc_id") == doc_id).select("text").first()
        ws = row["text"].split()
        return sum(1 for w in ws if int(w[1:]) < VOCAB // 2) / len(ws)

    top_share = sum(lower_share(r["doc_id"]) for r in top[:10]) / 10
    print(
        json.dumps(
            {
                "probe": "dsir_score",
                "n_docs": n,
                "words_per_doc": words,
                "n_buckets": 4096,
                "wall_sec": round(wall, 2),
                "docs_per_sec": int(n / wall),
                "top10_lower_vocab_share": round(top_share, 3),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
