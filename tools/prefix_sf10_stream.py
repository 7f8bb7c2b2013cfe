"""Streamed full-sf10 rung for ``prefix_jaccard`` (r10 — VERDICT r9 ask #2).

The one-shot sf10 run dies on this host: ~1e9 candidate rows through a
single ``distinct`` spill > the 79 GB scratch disk (documented since
r8). This runner computes the SAME output by partitioning the candidate
mass into ``B`` shingle-hash block ranges and processing one block per
FRESH JVM (shuffle scratch is only freed on JVM exit — the r7 lesson in
the sf10_probe docstring), checkpointing each block's VERIFIED pairs to
parquet:

1. ``--prepare``: build the shingle relation once from the augmented
   sf10 documents, materialize the prefix index (stage 1 of the
   operator, ``dedup._prefix_relation``) and the full sorted arrays to
   parquet — both linear in the corpus.
2. ``--block k``: filter the prefix relation to ``pmod(shingle, B) = k``
   (the join key, so filtering both sides == filtering the join),
   generate candidates (stage 2), distinct WITHIN the block (≈ 1/B of
   the one-shot spill), verify exactly (stage 3), write the block's
   true pairs to parquet. Exactness: a pair colliding on shingles in
   two blocks is verified twice to the SAME jaccard; the final distinct
   restores the one-shot output set exactly.
3. ``--finalize``: union the block outputs, distinct, count, then the
   standard tier-A sampled-family differential (both endpoints in the
   10% md5 family sample) against the registry DuckDB oracle on the
   sf10s slice — the same evidence contract as every other miner's
   full-sf10 row.

Per-block scratch math (recorded for the exclusion clause): one-shot
spill ≈ S GB ⇒ per-block ≈ S/B + the linear prefix/array relations
(~2 GB parquet). B=16 ⇒ ≈ 5–6 GB per JVM on an 80 GB budget.

Usage: python tools/prefix_sf10_stream.py            # orchestrate all
       python tools/prefix_sf10_stream.py --prepare|--block K|--finalize
Env: PREFIX_STREAM_BLOCKS (default 16), PREFIX_STREAM_DIR,
     ORACLE_CPUS / ORACLE_DRIVER_MEM as in sf10_probe.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

SF10 = os.environ.get("PREFIX_STREAM_SF10", "/root/repo/.scaledata/sf10")
SLICE = os.environ.get("PREFIX_STREAM_SLICE", "/root/repo/.scaledata/sf10s")
SCRATCH = os.environ.get("PREFIX_STREAM_DIR", "/root/repo/.scaledata/_prefix_stream")
BLOCKS = int(os.environ.get("PREFIX_STREAM_BLOCKS", "16"))
PCT = int(os.environ.get("PREFIX_STREAM_PCT", "10"))
N_GRAM = 3
THRESHOLD = 0.5
T_BP = 5000


def _spark(app: str):
    from pyspark.sql import SparkSession

    cpus = os.environ.get("ORACLE_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 2))
        .config("spark.driver.memory", os.environ.get("ORACLE_DRIVER_MEM") or __import__("bench").driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def prepare() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from aces_spark.datapipe.dedup import _prefix_relation, word_shingles

    spark = _spark("prefix-stream-prepare")
    docs = em._docs_with_near_dups(spark, SF10)
    sh = word_shingles(docs, N_GRAM, "text").select(
        "doc_id", F.xxhash64(F.col("shingle")).alias("shingle")
    ).persist()
    _prefix_relation(sh, T_BP).write.mode("overwrite").parquet(f"{SCRATCH}/prefix")
    sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("__arr")
    ).write.mode("overwrite").parquet(f"{SCRATCH}/arrs")
    print(json.dumps({"stage": "prepare", "ok": True}))


def block(k: int) -> None:
    from pyspark.sql import functions as F

    from aces_spark.datapipe.dedup import _prefix_candidates, _prefix_verify

    spark = _spark(f"prefix-stream-block-{k}")
    prefix = spark.read.parquet(f"{SCRATCH}/prefix").filter(
        F.pmod(F.col("shingle"), F.lit(BLOCKS)) == k
    )
    arrs = spark.read.parquet(f"{SCRATCH}/arrs")
    cands = _prefix_candidates(prefix, T_BP).distinct()
    out = _prefix_verify(cands, arrs, THRESHOLD)
    t0 = time.monotonic()
    out.write.mode("overwrite").parquet(f"{SCRATCH}/pairs/block={k}")
    print(
        json.dumps(
            {"stage": "block", "k": k, "wall_s": round(time.monotonic() - t0, 1)}
        )
    )


def finalize() -> None:
    import duckdb

    import __spark_entry__ as em
    from check_oracle import TABLES, frame_key
    from sf10_probe import keep_sql

    spark = _spark("prefix-stream-finalize")
    df = (
        spark.read.parquet(f"{SCRATCH}/pairs")
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
        .persist()
    )
    n_full = df.count()
    srows = [
        tuple(r)
        for r in df.filter(
            f"{keep_sql('doc_a', PCT)} AND {keep_sql('doc_b', PCT)}"
        ).collect()
    ]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SLICE}/{t}.parquet"
        if Path(p).is_dir():
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    rel = con.sql(em.oracle_sql()["prefix_jaccard"])
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    ok = (
        sorted(df.columns) == sorted(dcols)
        and len(srows) == len(drows)
        and frame_key(srows, df.columns) == frame_key(drows, dcols)
    )
    print(
        json.dumps(
            {
                "stage": "finalize",
                "tier": "A-streamed",
                "blocks": BLOCKS,
                "rows_full": n_full,
                "rows_sampled": len(srows),
                "rows_oracle": len(drows),
                "differential": "PASS" if ok else "FAIL",
            }
        )
    )
    if not ok:
        raise SystemExit(1)


def orchestrate() -> None:
    env = dict(os.environ)
    t0 = time.monotonic()

    def run(*args: str) -> None:
        r = subprocess.run(
            [sys.executable, __file__, *args],
            env=env,
            stderr=subprocess.DEVNULL,
        )
        if r.returncode != 0:
            raise SystemExit(f"subprocess {args} failed rc={r.returncode}")

    run("--prepare")
    for k in range(BLOCKS):
        run("--block", str(k))
    run("--finalize")
    print(json.dumps({"stage": "done", "total_wall_s": round(time.monotonic() - t0, 1)}))


if __name__ == "__main__":
    if "--prepare" in sys.argv:
        prepare()
    elif "--block" in sys.argv:
        block(int(sys.argv[sys.argv.index("--block") + 1]))
    elif "--finalize" in sys.argv:
        finalize()
    else:
        orchestrate()
