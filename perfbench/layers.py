"""The traced pass: per-layer metrics of one workload, measured from outside.

On a fresh SparkContext with the event log on, it runs:

1. one CLI extraction (job group ``cli``), to count the MEDS scans of the
   user path and the relations it leaves cached;
2. for each task, each layer's public function in turn, every call on
   materialized inputs (``localCheckpoint``) and in its own span and job
   group:

   * ``sources.predicates.get_predicates_df`` (group ``predicates``);
   * ``operators.aggregate.aggregate_temporal_window`` /
     ``aggregate_event_bound_window`` for every edge of ``cfg.window_tree``
     (groups ``aggregate.temporal`` / ``aggregate.event_bound``), each
     forced with a no-op write;
   * ``query.query``, which dispatches to ``plans.fused`` or
     ``plans.extract_subtree`` (group ``plan``); its executed plan gives
     the plan shape;
   * ``sources.sinks.write_result`` with MEDS labels (group ``sinks``).

Sums run over the workload's tasks (four for ``sample_sweep``). The kernel
calls re-run work that ``query`` also does, so the traced layer sum counts
predicates, plan and sinks only.
"""

from __future__ import annotations

import dataclasses
import os
import statistics
from datetime import timedelta

import meds
import spans

KIND_FUSED, KIND_GENERAL = 1, 2


def _edges(tree):
    """``(child, bounds with accumulated offset)`` for every tree edge, as
    the general planner evaluates them."""
    from aces_spark.types import TemporalWindowBounds

    stack = [(tree, timedelta(0))]
    while stack:
        node, offset = stack.pop()
        for child in node.children:
            bounds = dataclasses.replace(child.endpoint_expr, offset=child.endpoint_expr.offset + offset)
            if isinstance(bounds, TemporalWindowBounds):
                child_offset = offset + bounds.window_size
            else:
                child_offset = timedelta(0)
            yield child, bounds
            stack.append((child, child_offset))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def traced_pass(bench) -> dict[str, tuple[float, str]]:
    from pyspark.sql import functions as F

    from aces_spark import cli
    from aces_spark.config import TaskExtractorConfig
    from aces_spark.operators.aggregate import (
        aggregate_event_bound_window,
        aggregate_temporal_window,
    )
    from aces_spark.plans.fused import can_fuse
    from aces_spark.query import query
    from aces_spark.sources.predicates import get_predicates_df
    from aces_spark.sources.sinks import write_result
    from aces_spark.types import TemporalWindowBounds

    log_dir = bench.work / "eventlog"
    log_dir.mkdir()
    spark = bench.start_session(event_log=log_dir)
    tracer = spans.Tracer(spark)
    counts = {"edges": 0, "exchanges": 0, "joins": 0, "rows_out": 0, "candidates": 0,
              "sink_rows": 0, "sink_bytes": 0}
    kind = KIND_FUSED
    traced_dir = bench.work / "traced"
    traced_dir.mkdir()

    with tracer.span("traced_run"):
        with tracer.span("cli", group="cli"):
            cli.main(bench.cli_argv())
        cached_after = bench.cached_relations(spark)
        spark.catalog.clearCache()

        for task in bench.workload.tasks:
            with tracer.span(f"task:{task}"):
                cfg = TaskExtractorConfig.load(bench.cohort_dir / f"{task}.yaml")
                with tracer.span("predicates", group="predicates"):
                    pred = get_predicates_df(cfg, spark, bench.meds_path, standard="meds")
                    pred = pred.localCheckpoint(eager=True)
                # the loader's collapse makes keys unique; the checkpoint
                # drops the marker that tells query() so
                pred._aces_keys_unique = True
                with tracer.span("count", group="count"):
                    counts["rows_out"] += pred.count()
                    counts["candidates"] += pred.filter(
                        F.col("timestamp").isNotNull() & (F.col(cfg.trigger.predicate) >= 1)
                    ).count()

                events = pred.filter(F.col("subject_id").isNotNull() & F.col("timestamp").isNotNull())
                for child, bounds in _edges(cfg.window_tree):
                    temporal = isinstance(bounds, TemporalWindowBounds)
                    layer = "aggregate.temporal" if temporal else "aggregate.event_bound"
                    kernel = aggregate_temporal_window if temporal else aggregate_event_bound_window
                    with tracer.span(f"{layer}:{child.name}", group=layer):
                        kernel(events, bounds).write.format("noop").mode("overwrite").save()
                    counts["edges"] += 1

                with tracer.span("plan", group="plan"):
                    result = query(cfg, pred)
                    shape = spans.plan_shape(result)
                    result = result.localCheckpoint(eager=True)
                counts["exchanges"] += shape["exchanges"]
                counts["joins"] += shape["joins"]
                if not can_fuse(cfg.window_tree):
                    kind = KIND_GENERAL

                out = str(traced_dir / f"{task}.parquet")
                with tracer.span("sinks", group="sinks"):
                    write_result(result, out, meds_labels=True)
                got = meds.label_digest(out)
                if got != bench.reference[task]:
                    bench.fail(f"{task}: traced output {got} differs from first run {bench.reference[task]}")
                counts["sink_rows"] += got[0]
                counts["sink_bytes"] += _dir_bytes(out)
                spark.catalog.clearCache()

    app_id = spark.sparkContext.applicationId
    spark.stop()  # closes the event log
    tracer.write(bench.work / "spans.jsonl")
    per = spans.parse_event_log(log_dir / app_id)

    def g(key, *groups):
        return spans.total(per, key, groups or None)

    kernel_s = tracer.seconds("aggregate.")
    layer_sum = tracer.seconds("predicates") + tracer.seconds("plan") + tracer.seconds("sinks")
    return {
        "predicates.s": (tracer.seconds("predicates"), "s"),
        "predicates.rows_in": (g("records_read", "predicates"), "rows"),
        "predicates.rows_out": (counts["rows_out"], "rows"),
        "predicates.jobs": (g("jobs", "predicates"), "count"),
        "predicates.shuffle_write_bytes": (g("shuffle_write_bytes", "predicates"), "bytes"),
        "aggregate.temporal_s": (tracer.seconds("aggregate.temporal"), "s"),
        "aggregate.event_bound_s": (tracer.seconds("aggregate.event_bound"), "s"),
        "aggregate.edges": (counts["edges"], "count"),
        "plan.s": (tracer.seconds("plan"), "s"),
        "plan.kind": (kind, "1fused-2general"),
        "plan.kernel_ratio": (tracer.seconds("plan") / kernel_s, "ratio"),
        "plan.exchanges": (counts["exchanges"], "count"),
        "plan.joins": (counts["joins"], "count"),
        "plan.jobs": (g("jobs", "plan"), "count"),
        "plan.shuffle_write_bytes": (g("shuffle_write_bytes", "plan"), "bytes"),
        "plan.spill_bytes": (g("spill_bytes", "plan"), "bytes"),
        "plan.anchor_yield": (counts["sink_rows"] / max(counts["candidates"], 1), "ratio"),
        "sinks.s": (tracer.seconds("sinks"), "s"),
        "sinks.rows": (counts["sink_rows"], "rows"),
        "sinks.bytes": (counts["sink_bytes"], "bytes"),
        "query.cached_relations_after": (cached_after, "count"),
        "cli.meds_scans": (g("file_scans", "cli"), "count"),
        "spark.jobs": (g("jobs"), "count"),
        "spark.tasks": (g("tasks"), "count"),
        "spark.gc_s": (g("gc_s"), "s"),
        "spark.task_failures": (g("task_failures"), "count"),
        "trace_overhead_s": (layer_sum - statistics.median(bench.samples), "s"),
    }
