"""Sinks: result writing and the MEDS label schema (SURVEY §2.1 S5-S7).

Reimplements the reference's output coercion (``src/aces/run.py:22-118``,
``:146-167``): the cohort result is renamed/cast to the public MEDS label
schema — mandatory ``subject_id: long``; optional ``prediction_time:
timestamp``, ``boolean_value: boolean``, ``integer_value: long``,
``float_value: float`` (float32, as the reference's final arrow align
emits), ``categorical_value: string`` — with extra columns
(the window structs) dropped, or optionally persisted separately as the
"window stats" output.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..utils import ident

MEDS_LABEL_SCHEMA = T.StructType(
    [
        T.StructField("subject_id", T.LongType(), False),
        T.StructField("prediction_time", T.TimestampType(), True),
        T.StructField("boolean_value", T.BooleanType(), True),
        T.StructField("integer_value", T.LongType(), True),
        # float32, matching the MEDS LabelSchema arrow type the reference
        # aligns to (src/aces/run.py:118 LabelSchema.align)
        T.StructField("float_value", T.FloatType(), True),
        T.StructField("categorical_value", T.StringType(), True),
    ]
)

_RENAME = {
    "subject_id": "subject_id",
    "index_timestamp": "prediction_time",
    "label": "boolean_value",
}


def to_meds_labels(result: DataFrame) -> DataFrame:
    """Coerce a cohort-extraction result to the MEDS label schema
    (reference ``src/aces/run.py:146-165``): rename
    ``index_timestamp`` → ``prediction_time`` and ``label`` →
    ``boolean_value`` (count > 0), add missing optional columns as nulls,
    drop everything else."""
    columns = result.columns
    if "subject_id" not in columns:
        raise ValueError("Output dataframe is missing a 'subject_id' column.")

    source = {_RENAME.get(c, c): c for c in columns}  # output name -> input column
    cols = []
    for field in MEDS_LABEL_SCHEMA.fields:
        sql_type = field.dataType.simpleString()
        if field.name in source:
            col = ident(source[field.name])
            if field.name == "boolean_value":
                col = f"CAST({col} AS BIGINT) > 0"
            cols.append(f"CAST({col} AS {sql_type}) AS {ident(field.name)}")
        else:
            cols.append(f"CAST(NULL AS {sql_type}) AS {ident(field.name)}")
    return result.selectExpr(*cols)


def write_result(
    result: DataFrame,
    output_path: str,
    meds_labels: bool = False,
    window_stats_path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write the cohort result as parquet; optionally as MEDS labels with
    the raw window-struct frame persisted separately
    (reference ``src/aces/run.py:161-167``). With ``window_stats_path``
    the labels are written from the window-stats file just written, so
    ``result`` is computed once."""
    # MEDS timestamps are μs; Spark's default INT96 reads back as nanos.
    # The caller's setting is restored afterwards.
    conf = result.sparkSession.conf
    key = "spark.sql.parquet.outputTimestampType"
    previous = conf.get(key, None)
    conf.set(key, "TIMESTAMP_MICROS")
    try:
        if window_stats_path:
            result.write.mode(mode).parquet(window_stats_path)
            result = result.sparkSession.read.parquet(window_stats_path)
        out = to_meds_labels(result) if meds_labels else result
        out.write.mode(mode).parquet(output_path)
    finally:
        if previous is None:
            conf.unset(key)
        else:
            conf.set(key, previous)


def read_jsonl(
    spark,
    path: str,
    schema: T.StructType | str | None = None,
    compression: str | None = None,
) -> DataFrame:
    """Read a JSONL corpus (one JSON document per line — the interchange
    format LLM training corpora actually ship in). ALWAYS pass ``schema``
    in production: without it Spark runs a full inference scan over the
    data before the real job (two reads of 100 TB instead of one).
    Gzip/zstd/bzip2 are detected from the file extension; pass
    ``compression`` only to force a codec. Corrupt lines land in
    ``_corrupt_record`` (PERMISSIVE mode) instead of failing the job —
    filter/inspect them explicitly rather than discovering data loss
    later. The field is appended to a user schema automatically: Spark
    only POPULATES ``_corrupt_record`` when the read schema contains it,
    so an explicit schema without the field would otherwise silently
    turn corrupt lines into all-null rows."""
    reader = spark.read
    if schema is not None:
        if isinstance(schema, str):
            if "_corrupt_record" not in schema:
                schema = schema + ", _corrupt_record string"
        elif "_corrupt_record" not in schema.fieldNames():
            # copy before extending: StructType.add mutates in place, and
            # silently growing the CALLER's schema object is a side effect
            schema = T.StructType(list(schema.fields)).add(
                "_corrupt_record", T.StringType(), True
            )
        reader = reader.schema(schema)
    if compression is not None:
        reader = reader.option("compression", compression)
    return reader.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
) -> None:
    """Write a DataFrame as JSONL (one object per line, one file per
    partition — downstream consumers parallelize by file). Default gzip:
    text JSON is ~10× parquet, so uncompressed JSONL at corpus scale is an
    I/O mistake; pass ``compression=None`` for plain text when a consumer
    requires it. Timestamps serialize as ISO-8601 strings."""
    w = df.write.mode(mode)
    if compression is not None:
        w = w.option("compression", compression)
    w.json(path)


def write_bucketed_predicates(
    predicates_df: DataFrame,
    table_name: str,
    n_buckets: int = 256,
    mode: str = "overwrite",
) -> None:
    """Persist a predicates frame bucketed + sorted by the engine's one
    shuffle key (``bucketBy(subject_id) / sortBy(subject_id, timestamp)``,
    saved as a catalog table — Spark only tracks bucketing through the
    catalog, not bare parquet paths).

    The 100 TB play: the engine's entire cost model is "shuffle the events
    ONCE by subject, then everything is partition-local". For a predicates
    frame that is extracted once and queried by many tasks (the common
    production pattern — one MEDS corpus, dozens of cohort definitions),
    bucketing moves that one exchange to WRITE time: every later
    ``spark.table(name)`` query sees hashpartitioning(subject_id) already
    satisfied and runs zero-exchange end-to-end. Size ``n_buckets`` to the
    target cluster's parallelism (buckets are the ceiling on scan tasks).
    """
    (
        predicates_df.write.mode(mode)
        .bucketBy(n_buckets, "subject_id")
        .sortBy("subject_id", "timestamp")
        .format("parquet")
        .saveAsTable(table_name)
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Hive-layout partitioned parquet sink: ``path/col=value/…``
    directories, optionally sorted within files and capped per file.

    The 100 TB lake layout: partition directories give readers STATIC
    partition pruning (a ``WHERE col = v`` never opens other directories —
    the same effect the persisted IVF index exploits), ``sort_cols``
    gives parquet min/max row-group skipping within files, and
    ``max_records_per_file`` bounds file sizes without an extra
    repartition job. Choose low-cardinality columns (date, source, split)
    — one directory per value per task is the small-files failure mode.
    """
    out = df
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    w = out.write.mode(mode).partitionBy(*partition_cols)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


def compact_parquet(
    spark,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
    sort_cols: list[str] | None = None,
    n_output_files: int | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ``ceil(total_bytes / target_file_bytes)`` files (optionally sorted
    within files for row-group skipping). Returns the output file count.

    The maintenance job every long-lived lake table needs — streaming
    sinks and fine-grained partitioned writes accumulate files whose
    per-file open/footer cost eventually dominates scans. Sizing from
    filesystem metadata (no data pass) keeps the job one shuffle; the
    rewrite target is a NEW path — swap atomically at the catalog/symlink
    level rather than overwriting in place while readers are active.

    Metadata sizing only works for ``file:`` URIs; on object stores /
    HDFS pass ``n_output_files`` explicitly — silently defaulting to one
    partition would funnel a multi-TB table through a single writer, so
    an un-sizable dataset without an explicit target raises instead.
    """
    df = spark.read.parquet(path)
    if n_output_files is not None:
        n_out = n_output_files
    else:
        all_files = df.inputFiles()
        # inputFiles() returns URIs with percent-encoding (' ' → %20) —
        # decode before touching the filesystem or sizing silently skips
        # such files and undersizes n_out
        local = [
            unquote(urlparse(f).path) for f in all_files if f.startswith("file:")
        ]
        if len(local) != len(all_files) or not local:
            raise ValueError(
                "compact_parquet can only size local file: datasets from "
                "metadata; pass n_output_files explicitly for this path"
            )
        total = 0
        for f in local:
            try:
                total += os.path.getsize(f)
            except OSError as e:
                # no silent undersizing: a file we cannot stat means the
                # metadata sizing contract is broken for this dataset
                raise ValueError(
                    f"compact_parquet could not size {f!r}; pass "
                    "n_output_files explicitly"
                ) from e
        n_out = max(1, -(-total // target_file_bytes))
    out = df.repartition(n_out)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(out_path)
    return n_out
