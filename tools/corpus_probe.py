"""Corpus-scale probe: synthesize N documents driver-free (spark.range —
no I/O bound, no Python loop) and time the training-data operators
end-to-end. The evidence run for the datapipe's 100 TB story: every op
here is linear with uniform shuffle keys, so docs/s measured at 1M docs
extrapolates with executors.

Usage: python tools/corpus_probe.py [n_docs]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aces-spark-corpus-probe")
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from aces_spark.datapipe.dedup import dedup_exact, minhash_lsh_pairs
    from aces_spark.datapipe.packing import assign_splits, pack_sequences
    from aces_spark.datapipe.text import clean_corpus, vocab_top_k

    # synthetic word-salad docs: ~40 words each from a 1000-word vocab,
    # deterministic per doc_id; every 50th doc duplicates its predecessor's
    # content so dedup does real work. All JVM expressions — generation is
    # not the bottleneck being measured, but it IS charged to each op
    # below (the probe persists the corpus first so it isn't).
    base_id = F.when(F.col("id") % 50 == 1, F.col("id") - 1).otherwise(F.col("id"))
    word = lambda j: F.concat(  # noqa: E731
        F.lit("w"),
        F.conv(F.substring(F.md5(F.concat(base_id.cast("string"), F.lit(f"_{j}"))), 1, 4), 16, 10)
        % 1000,
    )
    docs = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *[word(j) for j in range(40)]).alias("text"),
            F.concat(F.lit("src"), (F.col("id") % 8).cast("string")).alias("source"),
        )
        .repartition(int(cpus) * 2)
        .persist()
    )
    docs.count()

    # best-of-N per op (default 2, like bench.py): single-shot numbers on
    # a shared machine swung up to 4x run-to-run; the minimum is the
    # operator's cost, the rest is co-tenant noise
    probe_runs = max(1, int(os.environ.get("SPARK_GRAFT_PROBE_RUNS", "2")))

    def timed(fn):
        best = None
        for _ in range(probe_runs):
            # forced GC OUTSIDE the timed region (same rationale as
            # bench.py): back-to-back heavy ops otherwise charge the
            # previous op's broadcast/codegen garbage to the next
            # measurement — observed as a phantom slowdown on whichever
            # op ran after the 1M-doc MinHash pair stage
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            t = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t
            best = el if best is None else min(best, el)
        return round(best, 2)

    timings = {
        "exact_dedup": timed(lambda: dedup_exact(docs)),
        "clean_corpus": timed(lambda: clean_corpus(docs, min_quality=0.3)),
        "minhash_lsh_pairs": timed(
            lambda: minhash_lsh_pairs(docs, n=3, num_hashes=16, bands=4)
        ),
        "minhash_lsh_pairs_xxhash": timed(
            lambda: minhash_lsh_pairs(docs, n=3, num_hashes=16, bands=4, hasher="xxhash64")
        ),
        "pack_sequences": timed(lambda: pack_sequences(docs, max_tokens=2048)),
        "assign_splits": timed(lambda: assign_splits(docs)),
        "vocab_topk": timed(lambda: vocab_top_k(docs, k=100)),
    }

    from aces_spark.datapipe.chunking import chunk_documents, rare_token_stats
    from aces_spark.datapipe.sampling import mix_sample
    from aces_spark.datapipe.validation import check_rules

    timings["chunk_documents"] = timed(
        lambda: chunk_documents(docs, chunk_tokens=64, stride=48)
    )
    timings["rare_token_stats"] = timed(lambda: rare_token_stats(docs, max_count=2))
    timings["mix_sample"] = timed(
        lambda: mix_sample(
            docs,
            {f"src{i}": 0.125 for i in range(8)},
            strata_col="source",
        )
    )
    timings["validate_rules"] = timed(
        lambda: check_rules(
            docs, [("not_null", "text"), ("unique", "doc_id"), ("matches", "source", "^src")]
        )
    )

    # round-5 operators: retrieval, LM scoring, sketches, sampling,
    # tokenizer statistics — same linearity story, measured not asserted
    from aces_spark.datapipe.bpe import _pair_counts, word_freq_table
    from aces_spark.datapipe.lm import collocations, score_documents_lm, train_bigram_lm
    from aces_spark.datapipe.retrieval import bm25_scores
    from aces_spark.datapipe.sampling import weighted_sample
    from aces_spark.datapipe.sketches import hll_distinct, kmv_distinct

    timings["bm25_search"] = timed(
        lambda: bm25_scores(docs, ["w1", "w42", "w7"], top_k=100)
    )
    model = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    timings["lm_train_and_score"] = timed(
        lambda: score_documents_lm(docs.filter(F.col("doc_id") % 2 == 1), model)
    )
    model["bigrams"].unpersist()
    timings["collocations"] = timed(lambda: collocations(docs, min_count=100, top_k=100))
    timings["kmv_distinct"] = timed(lambda: kmv_distinct(docs, "text", k=1024))
    timings["hll_distinct"] = timed(lambda: hll_distinct(docs, "text", p=12))
    timings["weighted_sample"] = timed(
        lambda: weighted_sample(
            docs.select("doc_id", F.length("text").alias("w")), "w", k=10000
        )
    )
    timings["bpe_pair_counts"] = timed(lambda: _pair_counts(word_freq_table(docs)))
    print(
        json.dumps(
            {
                "metric": "corpus_probe",
                "docs": n,
                "cpus": int(cpus),
                "sec": timings,
                "kdocs_per_sec": {k: round(n / v / 1e3, 1) for k, v in timings.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
