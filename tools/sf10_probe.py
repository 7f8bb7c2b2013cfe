"""sf10 scale-rung probe for the pair-mass family (r7 verdict ask #4).

Two kinds of evidence, both against the 100×-sf0.1 directory that
``tools/make_sfbig.py`` synthesizes (500k docs / 200k embeddings / 10M
events — the rung where single-node DuckDB oracles stop fitting the
pair-mass queries):

1. **Sampled-key differential (tier A)** — queries whose OUTPUT set is
   corpus-independent (pair emitted iff a predicate of the two rows
   alone holds: exact Jaccard >= t, Hamming <= k, signature-band
   collision). Spark runs on the FULL sf10 directory; its output is
   filtered to pairs whose BOTH endpoint families survive the
   deterministic 10% md5 family sample (``tools/make_sf10_slice.py``);
   DuckDB runs the registry oracle on the sliced directory. Because
   family membership decides presence identically on both engines, the
   filtered-full-run and the oracle-on-slice must agree hash-exactly —
   so the slice verifies the *sf10 run itself*, not a smaller rerun.

2. **Sampled-key differential with full-corpus global state (tier AG,
   r9)** — the r8 verdict's ask #1: the miners whose PAIR predicate is
   pairwise but whose WEIGHTS are corpus-global (IDF, the df>1000
   boilerplate cap). The global state is LINEAR in the corpus, so the
   DuckDB reference computes it over the FULL sf10 directory too —
   only the quadratic pair mass is restricted to the sampled families
   (both endpoints kept ⇒ ~1% of pairs). Spark runs full, its output
   filtered to sampled-family pairs, compared hash-exact against
   probe-specific SQL that mirrors the registry oracle with the pair
   join (and only the pair join) family-sampled. Covers
   ``tfidf_cosine_dups``, ``containment_pairs``,
   ``ngram_jaccard_pairs``.

3. **Full-output numpy differential (tier N, r9)** — ``semantic_dedup``
   (ivf arm): centroids are trained ONCE in Spark (MLlib, seed-pinned),
   collected (k×dim — the sanctioned bounded hop), handed to BOTH
   engines: Spark via ``semantic_dedup(..., centroids=...)``, and an
   independent numpy reference that re-derives assignment (argmax of
   9-dp-rounded cosine, first-max tie-break) and the keep-lowest-id
   prune (6-dp cosine ≥ t) with a DIFFERENT op order (unnormalized
   einsum dot / norm product vs the engine's normalize-then-matmul).
   The FULL kept set is compared — 200k rows, no sampling needed. (The
   exact arm stays the slice-sweep baseline: its per-cell gram at k=4
   IS the quadratic oracle arm.)

4. **Full-scale run record (tier B)** — anything left whose value
   correctness comes from the separate slice sweep
   (``check_oracle.py .scaledata/sf10s``), where both engines see the
   same corpus.

Family arithmetic: make_sfbig derives replica ids as base + c*1e7, and
the registry's near-dup augmentation adds +1e6 to a perturbed copy's id
— so an endpoint id's base family is ``m - 1e6 if m >= 1e6 else m``
with ``m = id % 1e7`` (base ids are < 1e6 at any sf this tool targets).

Usage: python tools/sf10_probe.py [sf10_dir] [slice_dir] [pct] [query ...]

Run ONE query per invocation when probing the heavy tail — shuffle
spill from a 1e8+-candidate query lives until the JVM exits, and two
heavy queries' spill in one process can exceed the host's scratch disk.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

from check_oracle import TABLES, frame_key  # noqa: E402

FAMILY_MOD = 10_000_000
AUG_OFFSET = 1_000_000

# (id column A, id column B) of the pair output
TIER_A = {
    "prefix_jaccard": ("doc_a", "doc_b"),
    "simhash_near_pairs": ("doc_a", "doc_b"),
    "minhash_lsh_pairs": ("doc_a", "doc_b"),
    "hamming_near_pairs": ("media_a", "media_b"),
}
TIER_AG = {
    "tfidf_cosine_dups": ("doc_a", "doc_b"),
    "containment_pairs": ("doc_a", "doc_b"),
    "ngram_jaccard_pairs": ("doc_a", "doc_b"),
}
TIER_N = ["semantic_dedup_ivf"]
TIER_B: list[str] = []


def keep_duck(col: str, pct: int) -> str:
    """DuckDB predicate mirroring make_sf10_slice's family sample (and
    :func:`keep_sql`), aug-offset-aware for query-side +1e6 replica ids."""
    base = (
        f"(CASE WHEN {col} % {FAMILY_MOD} >= {AUG_OFFSET} "
        f"THEN {col} % {FAMILY_MOD} - {AUG_OFFSET} "
        f"ELSE {col} % {FAMILY_MOD} END)"
    )
    return (
        f"(CAST(concat('0x', substring(md5(CAST({base} AS VARCHAR)), 1, 15)) "
        f"AS BIGINT) % 100 < {pct})"
    )


def tier_ag_sql(name: str, pct: int) -> str:
    """Probe oracle for a tier-AG miner: the registry oracle's structure
    with the df cap / IDF weights computed over the FULL corpus and the
    pair join restricted to sampled-family docs. Mirrors
    ``aces_spark/datapipe/dedup.py`` semantics exactly (same floor
    rounding, same cap rule); the heavy-shingle cap uses GROUP BY +
    ANTI JOIN instead of the slice oracle's COUNT() window so the 31M-row
    full-corpus shingle relation never sorts."""
    import __spark_entry__ as em

    docs_aug = em._DOCS_NEAR_DUPS_SQL
    toks = em._DOC_TOKENS_SQL
    keep = keep_duck("doc_id", pct)

    if name in ("ngram_jaccard_pairs", "containment_pairs"):
        front = f"""
WITH docs_aug AS ({docs_aug}),
toks AS (SELECT doc_id, {toks} AS t FROM docs_aug),
sh_all AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
heavy AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000),
shs AS (
  SELECT sh_all.doc_id, sh_all.shingle FROM sh_all
  ANTI JOIN heavy USING (shingle)
  WHERE {keep}),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shs GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS lo, b.doc_id AS hi, COUNT(*) AS n_common
  FROM shs a JOIN shs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)"""
        if name == "ngram_jaccard_pairs":
            return front + """
SELECT lo AS doc_a, hi AS doc_b,
  floor(n_common / (sa.n_shingles + sb.n_shingles - n_common) * 10000 + 0.5)
    / 10000.0 AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = lo
JOIN sizes sb ON sb.doc_id = hi
WHERE floor(n_common / (sa.n_shingles + sb.n_shingles - n_common) * 10000 + 0.5)
    / 10000.0 >= 0.2
"""
        return front + """,
directed AS (
  SELECT lo AS doc_a, hi AS doc_b, n_common FROM common
  UNION ALL
  SELECT hi AS doc_a, lo AS doc_b, n_common FROM common)
SELECT doc_a, doc_b,
  floor(n_common / sa.n_shingles * 10000 + 0.5) / 10000.0 AS containment
FROM directed JOIN sizes sa ON sa.doc_id = doc_a
WHERE floor(n_common / sa.n_shingles * 10000 + 0.5) / 10000.0 >= 0.8
"""

    assert name == "tfidf_cosine_dups", name
    return f"""
WITH docs_aug AS ({docs_aug}),
tk AS (
  SELECT doc_id, unnest({toks}) AS term FROM docs_aug),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tk WHERE term <> '' GROUP BY doc_id, term),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM docs_aug),
dfq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf
  GROUP BY term HAVING COUNT(*) <= 1000),
ws AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS DOUBLE) * LN((nd.n + 1.0) / (CAST(dfq.df AS DOUBLE) + 1.0)) AS w
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
  WHERE {keep_duck('tf.doc_id', pct)}),
norms AS (
  SELECT doc_id,
         CAST(SUM(CAST(FLOOR(w * w * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS n2
  FROM ws GROUP BY doc_id
  HAVING SUM(CAST(FLOOR(w * w * 1000000 + 0.5) AS BIGINT)) > 0),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
         CAST(SUM(CAST(FLOOR(a.w * b.w * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS dot
  FROM ws a JOIN ws b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, n_shared_terms,
  FLOOR((CAST(dot AS DOUBLE) / 1000000.0)
        / SQRT((CAST(na.n2 AS DOUBLE) / 1000000.0)
             * (CAST(nb.n2 AS DOUBLE) / 1000000.0)) * 1000000 + 0.5)
    / 1000000.0 AS cosine
FROM dots
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
WHERE FLOOR((CAST(dot AS DOUBLE) / 1000000.0)
        / SQRT((CAST(na.n2 AS DOUBLE) / 1000000.0)
             * (CAST(nb.n2 AS DOUBLE) / 1000000.0)) * 1000000 + 0.5)
    / 1000000.0 >= 0.8
"""


def keep_sql(col: str, pct: int) -> str:
    """Spark-SQL predicate mirroring make_sf10_slice's family sample."""
    base = (
        f"(CASE WHEN {col} % {FAMILY_MOD} >= {AUG_OFFSET} "
        f"THEN {col} % {FAMILY_MOD} - {AUG_OFFSET} "
        f"ELSE {col} % {FAMILY_MOD} END)"
    )
    return (
        f"(CAST(conv(substring(md5(CAST({base} AS STRING)), 1, 15), 16, 10) "
        f"AS BIGINT) % 100 < {pct})"
    )


def main() -> int:
    sf10 = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scaledata/sf10"
    slc = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.scaledata/sf10s"
    pct = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    only = set(sys.argv[4:])

    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    cpus = os.environ.get("ORACLE_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sf10-probe")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("ORACLE_DRIVER_MEM") or __import__("bench").driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{slc}/{t}.parquet"
        if Path(p).is_dir():
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    report = {}
    fails = 0

    for name, (ca, cb) in TIER_A.items():
        if only and name not in only:
            continue
        df = queries[name](spark, sf10)
        # persist the (small) RESULT so the sampled-key filter below
        # reads the cache instead of replaying the corpus-sized shuffle
        df = df.persist()
        t0 = time.monotonic()
        n_full = df.count()
        wall = time.monotonic() - t0
        plan = df._jdf.queryExecution().executedPlan().toString()
        nex = plan.count("Exchange hashpartitioning")

        srows = [
            tuple(r)
            for r in df.filter(
                f"{keep_sql(ca, pct)} AND {keep_sql(cb, pct)}"
            ).collect()
        ]
        df.unpersist()
        rel = con.sql(oracles[name])
        dcols = [d[0] for d in rel.description]
        drows = rel.fetchall()
        ok = (
            sorted(df.columns) == sorted(dcols)
            and len(srows) == len(drows)
            and frame_key(srows, df.columns) == frame_key(drows, dcols)
        )
        fails += 0 if ok else 1
        report[name] = {
            "tier": "A",
            "wall_s": round(wall, 1),
            "rows_full": n_full,
            "rows_sampled": len(srows),
            "exchanges": nex,
            "differential": "PASS" if ok else "FAIL",
        }
        print(json.dumps({name: report[name]}))

    con_full = None
    for name, (ca, cb) in TIER_AG.items():
        if only and name not in only:
            continue
        if con_full is None:
            con_full = duckdb.connect()
            p = f"{sf10}/documents.parquet"
            if Path(p).is_dir():
                p = f"{p}/*.parquet"
            con_full.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')"
            )
        df = queries[name](spark, sf10).persist()
        t0 = time.monotonic()
        n_full = df.count()
        wall = time.monotonic() - t0
        plan = df._jdf.queryExecution().executedPlan().toString()
        nex = plan.count("Exchange hashpartitioning")
        srows = [
            tuple(r)
            for r in df.filter(
                f"{keep_sql(ca, pct)} AND {keep_sql(cb, pct)}"
            ).collect()
        ]
        df.unpersist()
        spark.catalog.clearCache()
        t0 = time.monotonic()
        rel = con_full.sql(tier_ag_sql(name, pct))
        dcols = [d[0] for d in rel.description]
        drows = rel.fetchall()
        oracle_wall = time.monotonic() - t0
        ok = (
            sorted(df.columns) == sorted(dcols)
            and len(srows) == len(drows)
            and frame_key(srows, df.columns) == frame_key(drows, dcols)
        )
        fails += 0 if ok else 1
        report[name] = {
            "tier": "AG",
            "wall_s": round(wall, 1),
            "oracle_wall_s": round(oracle_wall, 1),
            "rows_full": n_full,
            "rows_sampled": len(srows),
            "exchanges": nex,
            "differential": "PASS" if ok else "FAIL",
        }
        print(json.dumps({name: report[name]}))

    if not only or only & {"semantic_dedup_ivf", "semantic_dedup"}:
        report["semantic_dedup_ivf"] = probe_semantic_ivf(spark, sf10)
        fails += 0 if report["semantic_dedup_ivf"]["differential"] == "PASS" else 1
        print(json.dumps({"semantic_dedup_ivf": report["semantic_dedup_ivf"]}))

    if not only or "substring_strip_exact" in only:
        report["substring_strip_exact"] = probe_substring_exact(spark, sf10, pct)
        fails += 0 if report["substring_strip_exact"]["differential"] == "PASS" else 1
        print(json.dumps({"substring_strip_exact": report["substring_strip_exact"]}))

    for name in TIER_B:
        if only and name not in only:
            continue
        df = queries[name](spark, sf10)
        t0 = time.monotonic()
        n_full = df.count()
        wall = time.monotonic() - t0
        plan = df._jdf.queryExecution().executedPlan().toString()
        report[name] = {
            "tier": "B",
            "wall_s": round(wall, 1),
            "rows_full": n_full,
            "exchanges": plan.count("Exchange hashpartitioning"),
            "differential": "see slice sweep",
        }
        print(json.dumps({name: report[name]}))

    print(json.dumps(report, indent=1))
    return 1 if fails else 0


def probe_semantic_ivf(
    spark, sf10: str, k: int = 1024, threshold: float = 0.4
) -> dict:
    """Tier N: semantic_dedup's ivf arm on the FULL sf10 embeddings,
    verified in full (no sampling — the kept set is corpus-sized, not
    pair-mass-sized) against an independent numpy reference that shares
    only the collected centroid matrix. Engine: normalize-then-matmul
    cosines; reference: unnormalized einsum dot over norm product —
    different op order, same 9-dp (assign) / 6-dp (prune) rounding and
    first-max / keep-lowest-id rules, so agreement is evidence, not an
    identity."""
    import numpy as np

    import __spark_entry__ as entry_mod
    from aces_spark.datapipe.kmeans import semantic_dedup
    from aces_spark.datapipe.similarity import kmeans_centroids

    emb = entry_mod._read_table(spark, sf10, "embeddings").select(
        "vec_id", "embedding"
    )
    t0 = time.monotonic()
    cents = kmeans_centroids(emb, k=k, max_iter=2)
    cent_rows = sorted(
        (int(r["cell_id"]), [float(x) for x in r["centroid"]])
        for r in cents.collect()
    )
    train_wall = time.monotonic() - t0
    cents_frame = spark.createDataFrame(
        cent_rows, "cell_id int, centroid array<double>"
    )

    kept_df = semantic_dedup(
        emb, k=k, n_iters=2, threshold=threshold,
        quantizer="ivf", centroids=cents_frame,
    ).persist()
    t0 = time.monotonic()
    n_kept = kept_df.count()
    wall = time.monotonic() - t0
    got = sorted(
        (int(r["vec_id"]), int(r["cluster_id"])) for r in kept_df.collect()
    )
    kept_df.unpersist()

    # ---- numpy reference ------------------------------------------------
    t0 = time.monotonic()
    import pyarrow.dataset as pads

    tbl = pads.dataset(f"{sf10}/embeddings.parquet").to_table(
        columns=["vec_id", "embedding"]
    )
    ids = tbl["vec_id"].to_numpy().astype(np.int64)
    x = np.stack(
        [np.asarray(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()]
    )
    order = np.argsort(ids, kind="stable")
    ids, x = ids[order], x[order]

    cmat = np.asarray([c for _, c in cent_rows], dtype=np.float64)
    cids = np.asarray([i for i, _ in cent_rows], dtype=np.int64)
    xn_ = np.sqrt(np.einsum("ij,ij->i", x, x))
    cn_ = np.sqrt(np.einsum("ij,ij->i", cmat, cmat))
    sims = np.round(
        (x @ cmat.T)
        / (np.maximum(xn_, 1e-300)[:, None] * np.maximum(cn_, 1e-300)[None, :]),
        9,
    )
    cell = cids[np.argmax(sims, axis=1)]

    ref = []
    for c in np.unique(cell):
        m = cell == c
        cid_ids, cx, cnorm = ids[m], x[m], xn_[m]
        nz = cnorm > 0
        n = len(cid_ids)
        dom = np.zeros(n, dtype=bool)
        if n > 1:
            cos = np.round(
                (cx @ cx.T)
                / (np.maximum(cnorm, 1e-300)[:, None]
                   * np.maximum(cnorm, 1e-300)[None, :]),
                6,
            )
            lower = cid_ids[:, None] < cid_ids[None, :]
            dom = ((cos >= threshold) & lower & nz[:, None]).any(axis=0) & nz
        ref.extend((int(i), int(c)) for i in cid_ids[~dom])
    ref.sort()
    ref_wall = time.monotonic() - t0

    return {
        "tier": "N",
        "k": k,
        "train_wall_s": round(train_wall, 1),
        "wall_s": round(wall, 1),
        "ref_wall_s": round(ref_wall, 1),
        "rows_full": n_kept,
        "rows_verified": len(got),
        "differential": "PASS" if got == ref else "FAIL",
    }




def probe_substring_exact(spark, sf10: str, pct: int) -> dict:
    """Tier AG for a DOC-KEYED output: substring_strip_exact's spans are
    per-doc LOCAL once the ≥2-occurrence gram set is known, and that set
    is a LINEAR corpus aggregate — so the DuckDB reference computes dup
    grams over the FULL corpus and splices only sampled-family docs,
    while Spark runs full and its output rows filter to the same docs.
    Engine fingerprints are internal xxhash64; the reference uses raw
    grams (the shared key-is-internal contract)."""
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()["substring_strip_exact"]
    df = q(spark, sf10).persist()
    t0 = time.monotonic()
    n_full = df.count()
    wall = time.monotonic() - t0
    plan = df._jdf.queryExecution().executedPlan().toString()
    nex = plan.count("Exchange hashpartitioning")
    srows = [tuple(r) for r in df.filter(keep_sql("doc_id", pct)).collect()]
    cols = df.columns
    df.unpersist()
    spark.catalog.clearCache()

    con = duckdb.connect()
    p = f"{sf10}/documents.parquet"
    if Path(p).is_dir():
        p = f"{p}/*.parquet"
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
    keep = keep_duck("d.doc_id", pct)
    t0 = time.monotonic()
    rel = con.sql(f"""
WITH aug AS ({entry_mod._DOCS_NEAR_DUPS_SQL}),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS s,
         substring(text, CAST(i + 1 AS INT), 50) AS gram
  FROM aug, UNNEST(range(0, length(text) - 50 + 1)) AS u(i)
  WHERE length(text) >= 50),
dup AS MATERIALIZED (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
fl AS MATERIALIZED (
  SELECT g.doc_id, g.s, g.s + 50 AS e
  FROM g JOIN dup USING (gram)
  WHERE {keep_duck('g.doc_id', pct)}),
isl AS (
  SELECT doc_id, s, e,
    SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (SELECT doc_id, s, e,
          MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM fl)),
spans AS (SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
          FROM isl GROUP BY doc_id, island),
segs AS (SELECT doc_id,
           COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS a,
           s AS b
         FROM spans),
hd AS (SELECT g2.doc_id,
         STRING_AGG(substring(d.text, CAST(g2.a + 1 AS INT), CAST(g2.b - g2.a AS INT)),
                    '' ORDER BY g2.a) AS head
       FROM segs g2 JOIN aug d USING (doc_id) GROUP BY g2.doc_id),
per AS (SELECT doc_id, MAX(e) AS tail_start, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e - s) AS BIGINT) AS n_chars_removed
        FROM spans GROUP BY doc_id)
SELECT d.doc_id,
  CASE WHEN per.n_spans IS NULL THEN d.text
       ELSE COALESCE(hd.head, '')
            || substring(d.text, CAST(per.tail_start + 1 AS INT))
  END AS text_clean,
  COALESCE(per.n_spans, 0) AS n_spans,
  COALESCE(per.n_chars_removed, 0) AS n_chars_removed
FROM aug d LEFT JOIN per USING (doc_id) LEFT JOIN hd USING (doc_id)
WHERE {keep}
""")
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    oracle_wall = time.monotonic() - t0
    ok = (
        sorted(cols) == sorted(dcols)
        and len(srows) == len(drows)
        and frame_key(srows, cols) == frame_key(drows, dcols)
    )
    return {
        "tier": "AG",
        "wall_s": round(wall, 1),
        "oracle_wall_s": round(oracle_wall, 1),
        "rows_full": n_full,
        "rows_sampled": len(srows),
        "exchanges": nex,
        "differential": "PASS" if ok else "FAIL",
    }


if __name__ == "__main__":
    raise SystemExit(main())
