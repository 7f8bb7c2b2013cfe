"""Training-export operators: concat-and-chunk sequence packing and
deterministic train/val/test split assignment.

Both are pure DataFrame formulations of the last mile of a pretraining
pipeline (public practice from the GPT/T5/Llama lineage): documents are
concatenated in a deterministic order and chunked into fixed-size token
windows ("packing"), and every document gets a reproducible split label
derived from a hash of its id — never ``rand()``, so the corpus is a pure
function of the data across runs, engines, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import BUCKETS, sample_bucket_expr
from .text import token_count


def pack_sequences(
    df: DataFrame,
    max_tokens: int = 2048,
    part_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
    chunk_docs: int | None = None,
) -> DataFrame:
    """Concat-and-chunk packing plan: within each ``part_col`` stream,
    documents are concatenated in ``key_col`` order and cut into
    ``max_tokens``-sized packs. Returns one row per document:

    ``(part_col, key_col, n_tokens, token_start, pack_id, pack_offset,
    spans_packs)`` — ``pack_id``/``pack_offset`` locate the document's
    first token ((stream, pack) pairs identify a physical sequence);
    ``spans_packs`` marks documents that straddle a pack boundary (the
    consumer decides whether to split or re-pad them).

    Scale shape: ONE window exchange keyed by ``part_col`` (the same
    partitioning a per-source export writes with) computing a running
    token sum; everything else is row-local arithmetic. For a single
    dominant source (heavy skew — one stream's whole history would
    serialize into one task), pass ``chunk_docs`` to switch to the
    chunked-cumsum formulation (keyed by ``key_col`` blocks): intra-chunk
    window sums plus a broadcast exclusive prefix over per-chunk totals —
    bit-identical output, intra-stream parallelism ``|stream| / chunk_docs``.
    """
    toks_col = token_count(F.col(text_col)).alias("n_tokens")
    base = df.select(part_col, key_col, toks_col)
    if chunk_docs is None:
        w = (
            Window.partitionBy(part_col)
            .orderBy(F.col(key_col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = F.sum("n_tokens").over(w)  # inclusive running total
        return _pack_outputs(base, cum, part_col, key_col, max_tokens)

    # chunked: doc-id blocks bound each task's window frame
    chunk = F.floor(F.col(key_col) / chunk_docs).alias("__chunk")
    data = base.select("*", chunk)
    w_intra = (
        Window.partitionBy(part_col, "__chunk")
        .orderBy(F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = data.withColumn("__intra", F.sum("n_tokens").over(w_intra))
    totals = data.groupBy(part_col, "__chunk").agg(F.sum("n_tokens").alias("__tot"))
    w_prev = (
        Window.partitionBy(part_col)
        .orderBy(F.col("__chunk").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefixes = totals.select(
        part_col,
        "__chunk",
        F.coalesce(F.sum("__tot").over(w_prev), F.lit(0)).alias("__pre"),
    )
    joined = intra.join(F.broadcast(prefixes), on=[part_col, "__chunk"])
    out = _pack_outputs(joined, F.col("__intra") + F.col("__pre"), part_col, key_col, max_tokens)
    return out


def _pack_outputs(df: DataFrame, cum, part_col: str, key_col: str, max_tokens: int) -> DataFrame:
    toks = F.col("n_tokens")
    pack = F.floor((cum - toks) / max_tokens).cast("long")
    spans = (toks > 0) & (F.floor((cum - 1) / max_tokens).cast("long") != pack)
    return df.select(
        part_col,
        key_col,
        toks.alias("n_tokens"),
        (cum - toks).alias("token_start"),
        pack.alias("pack_id"),
        ((cum - toks) % max_tokens).alias("pack_offset"),
        spans.alias("spans_packs"),
    )


def assign_splits(
    df: DataFrame,
    splits: dict[str, float] | None = None,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Add a deterministic ``split`` column partitioning rows into named
    fractions (default 90/5/5 train/val/test) by the portable md5 bucket
    of ``key_col`` — row-local, zero-shuffle, reproducible bit-for-bit in
    any engine that can compute md5 (the same bucket family as
    :mod:`aces_spark.datapipe.sampling`).

    Fractions must sum to 1 (±1 bucket of rounding slack goes to the last
    split, which takes every remaining bucket).
    """
    if splits is None:
        splits = {"train": 0.9, "val": 0.05, "test": 0.05}
    if not splits:
        raise ValueError("splits must be a non-empty {name: fraction} dict")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")

    bucket = sample_bucket_expr(F.col(key_col), seed)
    names = list(splits)
    expr = F.lit(names[-1])  # last split absorbs rounding remainder
    upper = 0.0
    # build the when-chain from the first boundary up
    conds = []
    for name in names[:-1]:
        upper += splits[name]
        conds.append((name, int(round(upper * BUCKETS))))
    for name, bound in reversed(conds):
        expr = F.when(bucket < bound, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def leakage_safe_splits(
    docs: DataFrame,
    pairs: DataFrame,
    splits: dict[str, float] | None = None,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    seed: int = 0,
) -> DataFrame:
    """Train/val/test assignment that CANNOT leak near-duplicates across
    splits: every transitive near-dup cluster (from any of the dedup
    miners' pair outputs) is assigned as a UNIT, by the md5 bucket of
    its cluster representative — the eval-integrity step naive per-doc
    hashing gets wrong (a doc in train and its 0.98-Jaccard copy in test
    silently inflates held-out metrics; the published dedup papers'
    motivating failure).

    Output ``(id_col, cluster_id, cluster_size, split)`` — the id column
    keeps the caller's name. Plan: the
    log-round star closure from clusters.connected_components, then a
    row-local bucket on ``cluster_id`` — the split itself adds ZERO
    shuffle on top of the clustering, and singleton docs (absent from
    ``pairs``) hash exactly as in :func:`assign_splits` because their
    cluster id IS their doc id."""
    from .clusters import dedup_clusters

    clustered = dedup_clusters(docs, pairs, id_col=id_col, src=src, dst=dst)
    if id_col != "doc_id":
        # dedup_clusters canonicalizes its id column to "doc_id"; hand the
        # caller back the column name they passed in.
        clustered = clustered.withColumnRenamed("doc_id", id_col)
    return assign_splits(clustered, splits, key_col="cluster_id", seed=seed)


def epoch_shards(
    df: DataFrame,
    n_shards: int,
    epoch: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-epoch shuffle + sharding: the write-time
    ordering a data loader consumes. Each row gets ``(shard, pos)`` —
    ``shard`` from the portable md5 hash of ``epoch|id`` (so every epoch
    is a DIFFERENT but fully reproducible permutation — the "reshuffle
    each epoch" contract without any stored state), ``pos`` the 0-based
    read order within the shard from the total order ``(hash, id)``.
    Output ``(id_col, shard, pos)``.

    Scale shape: one map-only hash pass + ONE exchange on ``shard`` for
    the per-shard ``row_number`` — and that exchange IS the shuffle a
    writer needs anyway (`.repartition("shard")` before
    ``partitionBy("shard")``), so ordering costs nothing extra. Shards
    are md5-balanced: every shard gets |corpus|/n_shards ± O(√) rows, no
    planning pass. The in-shard sort is per-shard, never global; readers
    stream each shard file in ``pos`` order and the concatenation across
    shards is the epoch's permutation.
    """
    if n_shards < 1:
        raise ValueError("epoch_shards: n_shards must be >= 1")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{epoch}|"), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    rows = df.select(F.col(id_col), h.alias("__h"))
    w = Window.partitionBy(F.pmod(F.col("__h"), F.lit(int(n_shards)))).orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return rows.select(
        id_col,
        F.pmod(F.col("__h"), F.lit(int(n_shards))).cast("long").alias("shard"),
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )
