"""Scale probe for the data-selection operators: greedy max-coverage
selection and temperature-scaled domain mixing over a synthetic corpus.

The coverage greedy is the interesting one at scale: each round is one
broadcast anti-join + count aggregate over the CACHED (doc_id, word)
relation, so round cost must stay flat as k grows and linear in corpus
size. Prints one JSON line. Usage:

    python tools/selection_probe.py [n_docs] [k]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from aces_spark.datapipe.selection import (
        greedy_coverage_select,
        temperature_mix_weights,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("selection-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # synthetic corpus: ~40 words per doc drawn from a 50k-word Zipf-ish
    # vocabulary (hash-derived, deterministic), plus a doc_id-derived
    # domain column for the mixing probe
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(
            F.lit("w"), (F.xxhash64(F.col("id"), i) % 50000).cast("string")
        ),
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(words, " ").alias("text"),
        F.concat(F.lit("dom"), (F.col("id") % 37).cast("string")).alias("source"),
    )
    docs = docs.localCheckpoint(eager=True)  # exclude synthesis from timings

    out = {"metric": "selection_probe", "unit": "sec", "n_docs": n_docs}

    t0 = time.time()
    picks = greedy_coverage_select(docs, k=k)
    cov_s = time.time() - t0
    out["coverage_select"] = {
        "k": k,
        "n_picked": len(picks),
        "sec": round(cov_s, 2),
        "sec_per_round": round(cov_s / max(len(picks), 1), 2),
        "docs_per_sec_per_round": round(n_docs * max(len(picks), 1) / cov_s),
    }

    t0 = time.time()
    mix = temperature_mix_weights(docs, "source", alpha_pct=50)
    n_domains = mix.count()
    out["temperature_mix"] = {
        "n_domains": n_domains,
        "sec": round(time.time() - t0, 2),
    }

    print(json.dumps(out, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
