"""Scale probe for the symmetric-delete fuzzy join: edit-distance-1
self-pairs over a large synthetic vocabulary, with the candidate-stage
statistics that justify the no-cartesian claim.

A naive distance join is a cartesian (n^2 levenshtein evaluations — at
1M strings that is 10^12 pairs, infeasible at any cluster size); the
symmetric-delete plan does ~len variants per string, ONE hash equi-join
on the variant, and verifies only the candidate pairs. The probe
records n_strings, wall time, strings/sec, and the candidate:true-pair
ratio (the verification overhead factor).

Prints one JSON line. Usage:

    python tools/fuzzy_probe.py [n_strings]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def synth_words(spark, n: int):
    """Deterministic pseudo-random 6-9 char lowercase words, plus a
    guaranteed near-dup per 10th word (one char deleted) so the true
    pair count is non-trivial."""
    from pyspark.sql import functions as F

    base = spark.range(n).select(
        F.lower(F.conv(F.expr("abs(xxhash64(id, 7))") % (36**8), 10, 36)).alias(
            "word"
        ),
        "id",
    )
    typos = base.filter(F.col("id") % 10 == 0).select(
        F.expr("concat(substring(word, 1, 2), substring(word, 4))").alias("word")
    )
    return base.select("word").union(typos)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from aces_spark.datapipe.fuzzy import delete_variants, fuzzy_self_pairs

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("fuzzy-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    words = synth_words(spark, n).localCheckpoint()
    n_words = words.count()

    # candidate-stage statistics: variant rows and raw candidate pairs
    # (what the verification stage has to levenshtein)
    v = words.distinct().select(F.explode(delete_variants("word", 1)).alias("v"))
    n_variants = v.count()
    cand = (
        v.groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("c * (c - 1)")).alias("p"))
        .collect()[0]["p"]
    )

    t0 = time.time()
    n_pairs = fuzzy_self_pairs(words, "word", max_dist=1).count()
    sec = time.time() - t0

    out = {
        "metric": "fuzzy_probe",
        "unit": "sec",
        "n_strings": n_words,
        "n_variant_rows": n_variants,
        "n_candidate_pairs_ordered": int(cand),
        "n_true_pairs": n_pairs,
        "candidate_to_true_ratio": round(cand / max(2 * n_pairs, 1), 1),
        "naive_cartesian_pairs": n_words * n_words,
        "cartesian_reduction_x": round(n_words * n_words / max(cand, 1)),
        "sec": round(sec, 2),
        "strings_per_sec": round(n_words / sec),
    }
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
