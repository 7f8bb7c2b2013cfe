"""Scale probe for the full entity-resolution pipeline
(datapipe/fuzzy.py:resolve_entities): blocked fuzzy match + transitive
closure + canonicalization over a large synthetic vocabulary, end to
end — the fuzzy probe measures the pair stage alone; this one adds the
large-star/small-star closure and the singleton attach.

Prints one JSON line. Usage:

    python tools/linkage_probe.py [n_strings]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from fuzzy_probe import synth_words  # same corpus as the pair probe

    from aces_spark.datapipe.fuzzy import resolve_entities

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", __import__("bench").driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    words = synth_words(spark, n).localCheckpoint()
    n_words = words.count()

    t0 = time.time()
    out = resolve_entities(words, "word", max_dist=1)
    stats = out.agg(
        F.count(F.lit(1)).alias("n_values"),
        F.countDistinct("entity_id").alias("n_entities"),
        F.max("entity_size").alias("max_entity"),
    ).collect()[0]
    sec = time.time() - t0

    print(
        json.dumps(
            {
                "probe": "resolve_entities",
                "n_strings": n_words,
                "n_values": stats["n_values"],
                "n_entities": stats["n_entities"],
                "max_entity": stats["max_entity"],
                "wall_sec": round(sec, 2),
                "strings_per_sec": int(n_words / sec),
            },
            separators=(",", ":"),
        )
    )
    if "--sn-sweep" in sys.argv:
        _sn_sweep(spark, words, n_words)
    spark.stop()
    return 0


def _sn_sweep(spark, words, n_words: int) -> None:
    """Sorted-neighborhood window sweep (w in {5, 10, 20}) against the
    SymSpell exact-recall path on the same corpus: rows BUILT by the
    neighbor join (|values|*w, the cost knob) vs recall = fraction of
    the SymSpell max_dist=1 pairs the heuristic blocker recovers."""
    import time

    from pyspark.sql import functions as F

    from aces_spark.datapipe.fuzzy import (
        fuzzy_self_pairs,
        sorted_neighborhood_pairs,
    )

    truth = (
        fuzzy_self_pairs(words, "word", max_dist=1)
        .select("left_str", "right_str")
        .distinct()
        .localCheckpoint()
    )
    n_truth = truth.count()
    for w in (5, 10, 20):
        t0 = time.time()
        sn = (
            sorted_neighborhood_pairs(words, "word", window=w, max_dist=1)
            .select("left_str", "right_str")
            .distinct()
            .localCheckpoint()
        )
        n_sn = sn.count()
        sec = time.time() - t0
        hit = sn.join(truth, ["left_str", "right_str"]).count()
        print(
            json.dumps(
                {
                    "probe": "sorted_neighborhood_sweep",
                    "n_strings": n_words,
                    "window": w,
                    "rows_built": n_words * w,
                    "pairs_found": n_sn,
                    "truth_pairs": n_truth,
                    "recall_vs_symspell": round(hit / max(1, n_truth), 4),
                    "wall_sec": round(sec, 2),
                },
                separators=(",", ":"),
            )
        )


if __name__ == "__main__":
    raise SystemExit(main())
