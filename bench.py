"""Benchmark harness: runs every ``queries()`` entry at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is forced end-to-end with a noop-format write (full distributed
execution, no driver-side collect). A shared warm-up touches every input
table so the JVM/codegen cost isn't charged to the first query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def peak_rss_mib() -> dict:
    """Peak resident memory of this Python process and its driver-JVM
    child (VmHWM, the kernel's high-water mark) — the reference's
    headline table is time+memory, so the bench records both."""
    import resource

    out = {"python": round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)}
    jvm = 0
    me = str(os.getpid())
    try:
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as fh:
                    parts = fh.read().split()
                if len(parts) > 3 and parts[3] == me and "java" in parts[1]:
                    with open(f"/proc/{p}/status") as fh:
                        for line in fh:
                            if line.startswith("VmHWM:"):
                                jvm = max(jvm, int(line.split()[1]) // 1024)
                                break
            except (OSError, ValueError, IndexError):
                continue
    except OSError:
        pass
    out["driver_jvm"] = jvm
    return out


def driver_memory() -> str:
    """Driver heap for ``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM``
    when set, else an eighth of host RAM clamped to 1-4 GiB. A heap larger
    than the host can back gets the JVM killed, and on the cohort tasks a
    bigger heap was slower, not faster (longer young collections)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as fh:
        total = next(int(line.split()[1]) * 1024 for line in fh if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, total // 8 // (1 << 20)))}m"


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aces-spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # events.parquet carries TIMESTAMP(NANOS) which Spark rejects natively;
    # read nanos as long (queries truncate to μs themselves)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    # warm-up: touch every table once (JVM classload + file listing)
    for t in ("events", "documents", "embeddings", "lineitem", "orders", "customer",
              "nation", "region"):
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).count()
        except Exception:
            pass

    # each query runs `runs` times and reports the fastest — the Spark
    # catalog cache is cleared before EVERY run (so repeats redo all real
    # work); what repeats amortize is one-time JVM classload + whole-stage
    # codegen compilation, which on a long-lived cluster is paid once, not
    # per query
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    timings: dict[str, float] = {}
    to_bench = dict(entry_mod.queries())
    # periodic JVM GC between queries: a 100+-query session accumulates
    # torn-down broadcasts / generated classes faster than the lazy
    # ContextCleaner reclaims them, and the resulting late-session GC
    # churn showed up as 10-30x slowdowns on queries that run in <1 s in
    # a fresh session — measurement noise, not plan cost. A forced GC
    # every few queries keeps the driver heap flat; the GC itself runs
    # OUTSIDE the timed region.
    gc_every = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_GC_EVERY", "8")))
    # heavy-tail isolation: lingering lazily-localCheckpointed RDDs from
    # a preceding graph/iterative query survive the plain unpersist (the
    # async ContextCleaner reaps them on its own schedule) and can
    # inflate EVERY sample of the next multi-second query — r6 recorded
    # item_covisitation at 13.9 s in-suite vs 1.7 s isolated-warm. The
    # fix is the repo's own probe discipline (tools/scale_probe.py):
    # before each timed sample of a query whose previous-round time
    # exceeded 2 s, unpersist + System.gc() + a short settle so the
    # block manager is actually empty when the clock starts. The settle
    # runs OUTSIDE the timed region (it adds wall time, not query time).
    settle = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE_SEC", "2"))
    prior: dict[str, float] = {}
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    try:
        prior = json.loads(detail_path.read_text()).get("queries", {})
    except Exception:
        pass
    heavy = {
        k for k, v in prior.items() if isinstance(v, (int, float)) and v > 2.0
    }

    def drop_leftovers():
        # drop leftover storage blocks (lazy localCheckpoints from the
        # iterative operators live in the block manager until the async
        # cleaner gets to them; by the ~110th query the accumulated
        # blocks caused eviction thrash — one 3 s query read 52 s
        # in-suite but 2.7 s isolated). Queries are independent, so
        # unpersisting everything between them is safe.
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
        except Exception:
            pass

    def gc_barrier():
        drop_leftovers()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        time.sleep(settle)

    n_done = 0
    # bench-only extras (e.g. JVM-intrinsic hash fast paths that have no
    # SQL oracle): timed like any query, prefixed so they are visibly not
    # correctness-gated entries
    for name, fn in getattr(entry_mod, "bench_extras", dict)().items():
        to_bench[f"bench_only:{name}"] = fn
    for name, fn in to_bench.items():
        is_heavy = name in heavy
        drop_leftovers()
        if n_done % gc_every == 0 and not is_heavy:
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        n_done += 1
        samples: list[float] = []
        failed = False
        for _ in range(runs):
            if is_heavy:
                gc_barrier()
            spark.catalog.clearCache()
            start = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - start)
            except Exception as e:  # keep benching even if one query regresses
                failed = True
                print(
                    f"# bench error in {name}: {type(e).__name__}: {str(e)[:200]}",
                    file=sys.stderr,
                )
                break
        # heavy-tail stabilization: a best-of-2 above 2 s can still be a
        # one-off position blip (in-suite numbers move ±3x with suite
        # position); take a third sample — behind the full barrier, so a
        # query that turned heavy THIS round (not in the prior record)
        # also gets at least one thrash-free sample — and report the
        # MEDIAN so a round-over-round delta on the tail means the code
        # changed
        if not failed and samples and min(samples) > 2.0:
            gc_barrier()
            spark.catalog.clearCache()
            start = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - start)
                samples.sort()
                timings[name] = round(samples[len(samples) // 2], 3)
            except Exception:
                timings[name] = round(min(samples), 3)
        else:
            timings[name] = -1.0 if failed else round(min(samples), 3)

    # headline total covers the correctness-gated suite only, so it stays
    # comparable round-over-round; bench_only extras are reported per-query
    total = round(
        sum(v for k, v in timings.items() if v >= 0 and not k.startswith("bench_only:")), 3
    )
    obj = {
        "metric": "aces_spark_full_query_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": int(cpus),
        "n_queries": sum(1 for k in timings if not k.startswith("bench_only:")),
        "peak_rss_mib": peak_rss_mib(),
    }
    # The driver records only the LAST ~2000 characters of stdout, so the
    # final printed line must be a COMPLETE JSON object inside that window.
    # The full per-query detail (which outgrew the window at ~90 queries —
    # the r4 "parsed": null) goes to a file + a preceding stdout line; the
    # final line is the full object if it fits, else a summary carrying the
    # headline numbers, the slowest queries, and a pointer to the detail.
    compact = json.dumps(obj, separators=(",", ":"))
    try:
        detail_path.write_text(compact + "\n")
    except OSError:
        pass  # read-only checkout: stdout detail line still carries it
    if len(compact) <= 1800:
        print(compact)
        return 0
    print(compact)  # full detail first: may be clipped by the tail window
    slowest = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v >= 0),
            key=lambda kv: kv[1],
            reverse=True,
        )[:12]
    )
    summary = dict(obj)
    del summary["queries"]
    summary["slowest"] = slowest
    summary["detail_file"] = detail_path.name
    print(json.dumps(summary, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
