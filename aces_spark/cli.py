"""Command-line entry point (reference: ``aces-cli``, ``src/aces/run.py:121-180``).

Two launch surfaces, one engine:

1. **Flag style** (Spark-native):

    python -m aces_spark.cli --config task.yaml --data /path/to/meds \\
        --standard meds --output out.parquet [--meds-labels] \\
        [--predicates overlay.yaml] [--window-stats stats.parquet]

2. **Hydra-style ``key=value`` overrides**, mirroring the reference
   launcher's muscle memory (``src/aces/configs/_aces.yaml`` defines the
   schema: ``cohort_dir``/``cohort_name`` drive ``config_path`` and
   ``output_filepath`` through ``${...}`` interpolation; the ``data``
   group selects ``single_file`` vs ``sharded``):

    python -m aces_spark.cli cohort_dir=/cohorts cohort_name=readmit \\
        data.path=/meds/data.parquet data.standard=meds
    python -m aces_spark.cli -m cohort_dir=/cohorts cohort_name=readmit \\
        data=sharded data.root=/meds/data data.standard=meds \\
        "data.shard=$(python -m aces_spark.sources.expand_shards train/4)"

   In the reference, ``-m`` (multirun) fans one OS process per shard; here
   shards run sequentially inside ONE SparkSession (each writes its own
   ``${data._prefix}``-suffixed output, preserving the reference's file
   layout) — on a cluster the parallelism comes from partitions, not
   processes.
"""

from __future__ import annotations

import argparse
import itertools
import re
import sys

# Defaults transcribed from the reference's Hydra schema
# (src/aces/configs/_aces.yaml + configs/data/{defaults,single_file,sharded}.yaml)
_ACES_DEFAULTS: dict[str, str | None] = {
    "cohort_dir": "",
    "cohort_name": "",
    "config_path": "${cohort_dir}/${cohort_name}.yaml",
    "predicates_path": None,
    "output_filepath": "${cohort_dir}/${cohort_name}${data._prefix}.parquet",
    "window_stats_dir": None,
    "window_stats_filepath": "${window_stats_dir}/${cohort_name}${data._prefix}.parquet",
    "data": "single_file",
    "data.standard": None,
    "data.ts_format": "%m/%d/%Y %H:%M",
    "data.path": None,
    "data.root": None,
    "data.shard": None,
    "data._prefix": "",
    # engine-local extras (no reference analog; Spark session knobs)
    "spark.master": None,
    "spark.shuffle_partitions": None,
}

_DATA_GROUPS: dict[str, dict[str, str]] = {
    "single_file": {"data._prefix": ""},
    "sharded": {
        "data.path": "${data.root}/${data.shard}.parquet",
        "data._prefix": "/${data.shard}",
    },
}

_INTERP_RE = re.compile(r"\$\{([A-Za-z0-9_.]+)\}")


def _parse_overrides(tokens: list[str]) -> dict[str, str]:
    out: dict[str, str] = {}
    for tok in tokens:
        if "=" not in tok:
            raise SystemExit(f"aces-spark: override '{tok}' is not of the form key=value")
        key, _, value = tok.partition("=")
        key = key.lstrip("+")  # Hydra's +key=... adds a new key; flat dict, same thing
        if key not in _ACES_DEFAULTS and key != "data":
            raise SystemExit(
                f"aces-spark: unknown override key '{key}'; known keys: "
                + ", ".join(sorted(_ACES_DEFAULTS))
            )
        out[key] = value
    return out


def _resolve(cfg: dict[str, str | None]) -> dict[str, str | None]:
    """Resolve ``${key}`` interpolations (the subset of OmegaConf the
    reference schema uses: flat key references, possibly chained)."""
    resolved = dict(cfg)
    for _ in range(len(resolved) + 1):
        changed = False
        for key, value in resolved.items():
            if not isinstance(value, str) or "${" not in value:
                continue
            refs = _INTERP_RE.findall(value)
            unknown = [r for r in refs if r not in resolved]
            if unknown:
                raise SystemExit(
                    f"aces-spark: '{key}' references unknown key '${{{unknown[0]}}}'"
                )
            if any(resolved[r] is None for r in refs):
                # a reference is unset (e.g. ${window_stats_dir} when no
                # stats output is requested): the value is only an error if
                # something actually consumes it — null it, like lazy
                # OmegaConf access in the reference schema
                resolved[key] = None
                changed = True
                continue
            if any(isinstance(resolved[r], str) and "${" in resolved[r] for r in refs):
                continue  # resolve dependencies first
            resolved[key] = _INTERP_RE.sub(lambda m: str(resolved[m.group(1)]), value)
            changed = True
        if changed:
            continue
        # no progress: either done, or only circular references remain
        stuck = [k for k, v in resolved.items() if isinstance(v, str) and "${" in v]
        if stuck:
            raise SystemExit(
                "aces-spark: circular ${...} references involving: " + ", ".join(sorted(stuck))
            )
        return resolved
    raise SystemExit("aces-spark: interpolation did not converge (circular ${...} references)")


def _sweep_jobs(overrides: dict[str, str], multirun: bool) -> list[dict[str, str]]:
    """Expand comma-separated override values into a cartesian sweep
    (Hydra multirun semantics; without ``-m`` values are taken verbatim)."""
    if not multirun:
        return [overrides]
    swept_keys = [k for k, v in overrides.items() if "," in v]
    if not swept_keys:
        return [overrides]
    choices = [overrides[k].split(",") for k in swept_keys]
    jobs = []
    for combo in itertools.product(*choices):
        job = dict(overrides)
        job.update(dict(zip(swept_keys, combo)))
        jobs.append(job)
    return jobs


def _null(v: str | None) -> str | None:
    return None if v in (None, "", "null", "None") else v


def hydra_main(argv: list[str]) -> int:
    """Entry for the ``key=value`` launch surface."""
    multirun = False
    tokens = []
    for tok in argv:
        if tok in ("-m", "--multirun"):
            multirun = True
        else:
            tokens.append(tok)
    overrides = _parse_overrides(tokens)

    _enable_console_logging()
    spark = None
    for job_overrides in _sweep_jobs(overrides, multirun):
        cfg = dict(_ACES_DEFAULTS)
        # the `data` group key swaps in that group's defaults BEFORE
        # explicit data.* overrides land on top (Hydra defaults-list order)
        group = job_overrides.get("data", cfg["data"])
        if group not in _DATA_GROUPS:
            raise SystemExit(
                f"aces-spark: unknown data group '{group}' (one of {sorted(_DATA_GROUPS)})"
            )
        cfg.update(_DATA_GROUPS[group])
        cfg.update(job_overrides)
        cfg = _resolve(cfg)

        if not (_null(cfg["cohort_dir"]) and _null(cfg["cohort_name"])):
            # without cohort_dir/cohort_name BOTH derived paths are
            # meaningless ('' interpolations → '/.parquet'), so BOTH must
            # be overridden explicitly — config_path alone would silently
            # target the filesystem root with its output
            missing = [k for k in ("config_path", "output_filepath") if k not in job_overrides]
            if missing:
                raise SystemExit(
                    "aces-spark: cohort_dir and cohort_name are required (they derive "
                    "config_path and output_filepath), or set config_path and "
                    f"output_filepath explicitly (missing: {', '.join(missing)})"
                )
        standard = _null(cfg["data.standard"])
        if standard is None:
            raise SystemExit("aces-spark: data.standard is required (meds, esgpt, or direct)")
        data_path = _null(cfg["data.path"])
        if data_path is None:
            raise SystemExit(
                "aces-spark: data.path is required (or data=sharded with data.root + data.shard)"
            )
        if spark is None:
            spark = _build_session(
                _null(cfg["spark.master"]), _null(cfg["spark.shuffle_partitions"])
            )
        window_stats = cfg["window_stats_filepath"] if _null(cfg["window_stats_dir"]) else None
        _run_extraction(
            spark,
            config_path=cfg["config_path"],
            predicates_path=_null(cfg["predicates_path"]),
            data_path=data_path,
            standard=standard.lower(),
            ts_format=_null(cfg["data.ts_format"]),
            output_path=cfg["output_filepath"],
            # reference behavior: MEDS standard always label-coerces
            # (src/aces/run.py:146-167); other standards write raw
            meds_labels=standard.lower() == "meds",
            window_stats_path=window_stats,
        )
    return 0


def _enable_console_logging() -> None:
    # surface the engine's sanity lines (cohort size, label-uniformity
    # warning) on the console like the reference CLI does — scoped to the
    # aces_spark namespace so Spark/py4j INFO chatter stays quiet
    import logging

    pkg_log = logging.getLogger("aces_spark")
    if not pkg_log.handlers:
        handler = logging.StreamHandler()
        handler.setFormatter(logging.Formatter("%(asctime)s %(levelname)s %(message)s"))
        pkg_log.addHandler(handler)
        pkg_log.setLevel(logging.INFO)


def _build_session(master: str | None, shuffle_partitions: str | int | None):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("aces-spark")
    if master:
        builder = builder.master(master)
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return builder.getOrCreate()


def _run_extraction(
    spark,
    config_path: str,
    predicates_path: str | None,
    data_path: str,
    standard: str,
    ts_format: str | None,
    output_path: str,
    meds_labels: bool,
    window_stats_path: str | None,
) -> None:
    from pyspark.sql import Observation

    from .config import TaskExtractorConfig
    from .query import cohort_stats_aggs, log_cohort_stats, query
    from .sources.predicates import get_predicates_df
    from .sources.sinks import write_result

    cfg = TaskExtractorConfig.load(config_path, predicates_path)
    predicates_df = get_predicates_df(cfg, spark, data_path, standard=standard, ts_format=ts_format)
    # the sanity report is observed on the write's own job: nothing is
    # cached and no second job runs
    stats = Observation()
    result = query(cfg, predicates_df).observe(stats, *cohort_stats_aggs(bool(cfg.label_window)))
    write_result(
        result,
        output_path,
        meds_labels=meds_labels,
        window_stats_path=window_stats_path,
    )
    log_cohort_stats(stats.get)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="aces-spark",
        description="Extract a cohort from an event-stream dataset using a YAML task config.",
    )
    p.add_argument("--config", required=True, help="Path to the YAML task configuration.")
    p.add_argument("--predicates", default=None, help="Optional predicates overlay YAML.")
    p.add_argument("--data", required=True, help="Input path (file, directory of shards, or glob).")
    p.add_argument("--standard", default="meds", choices=["meds", "direct", "esgpt"])
    p.add_argument("--ts-format", default=None, help="strptime format for direct-mode string timestamps.")
    p.add_argument("--output", required=True, help="Output parquet path.")
    p.add_argument("--meds-labels", action="store_true", help="Coerce output to the MEDS label schema.")
    p.add_argument("--window-stats", default=None, help="Optional path for the raw window-struct output.")
    p.add_argument("--master", default=None, help="Spark master override (default: existing session or local[*]).")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and all(a in ("-m", "--multirun") or not a.startswith("-") for a in argv):
        # no --flags (beyond multirun) → the Hydra-style key=value surface
        return hydra_main(argv)

    args = build_parser().parse_args(argv)
    _enable_console_logging()
    spark = _build_session(args.master, args.shuffle_partitions)
    _run_extraction(
        spark,
        config_path=args.config,
        predicates_path=args.predicates,
        data_path=args.data,
        standard=args.standard,
        ts_format=args.ts_format,
        output_path=args.output,
        meds_labels=args.meds_labels and args.standard == "meds",
        window_stats_path=args.window_stats,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
