"""Sequence packing for training-data pipelines.

Operators a 100-TB pretraining pipeline needs after token counting
(operators/textstats.py):

- ``with_chunk_assignments``: concat-and-chunk. Documents are
  concatenated in a deterministic global order and cut into fixed
  ``budget``-token context windows; documents may straddle a boundary
  (the downstream loader resets attention masks at doc boundaries).
  Each doc's window span is a pure function of the exact global prefix
  sum of token counts — computed here with a two-phase distributed
  prefix sum (NO single-task global window): range-partition by the
  order key, windowed cumsum within each partition, then add the
  driver-cumulated per-partition offsets back via a broadcast join.
  The driver state is one row per partition — O(partitions), not
  O(rows) — so the shape survives 10^12 docs.
- ``sliding_chunks``: RAG-style overlapping fixed-width token chunks,
  each with a content hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..plans import cache


def with_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum",
) -> DataFrame:
    """Exact global running sum of ``value_col`` in ``order_col`` order
    (inclusive), without a global single-task window: the range
    repartition makes spark.sql.shuffle.partitions partitions.

    REQUIRES: ``order_col`` values are unique (ties would make "global
    order" ambiguous). The range partitioner's sampled boundaries don't
    affect the result: offsets are computed from actual partition
    contents, and range partitioning guarantees inter-partition order.
    """
    num_partitions = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    ranged = df.repartitionByRange(int(num_partitions), F.col(order_col))
    local = ranged.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_local_cum",
        F.sum(value_col).over(
            Window.partitionBy("_pid")
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    local = cache.checkpoint(local)  # pin partitioning: offsets must
    # describe the same physical partitions the rows carry in _pid
    totals = {
        r["_pid"]: r["t"]
        for r in local.groupBy("_pid").agg(F.sum(value_col).alias("t")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(offsets, "_pid int, _offset long")
    )
    return (
        local.join(off_df, "_pid")
        .withColumn(out_col, (F.col("_local_cum") + F.col("_offset")).cast("long"))
        .drop("_pid", "_local_cum", "_offset")
    )


def with_chunk_assignments(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "re_tokens",
) -> DataFrame:
    """Adds (tok_start, chunk_first, chunk_last): the doc's byte-exact
    placement when all docs are concatenated in ``id_col`` order and cut
    every ``budget`` tokens. Zero-token docs sit at their offset and
    span the single chunk containing it.

    The prefix sum runs over a SLIM (id, tokens) projection and the
    placements join back on ``id_col``: the range-repartition sampling
    pass and the offset materialization only ever touch two integer
    columns, never the document payload — at 10^12 docs the wide table
    crosses no extra shuffle for its cumsum (one equi-join attaches the
    three placement columns; AQE co-partitions it)."""
    slim = df.select(id_col, tokens_col)
    cum = with_prefix_sum(slim, id_col, tokens_col, out_col="_cum")
    start = F.col("_cum") - F.col(tokens_col)
    last_tok = F.greatest(F.col("_cum") - 1, start)  # empty doc -> start
    b = int(budget)
    # integer DIV, not floor(double /): token offsets are exact int64 and
    # must stay exact past 2^53 at trillion-doc scale
    placed = (
        cum.withColumn("tok_start", start.cast("long"))
        .withColumn("_last_tok", last_tok.cast("long"))
        .withColumn("chunk_first", F.expr(f"tok_start DIV {b}"))
        .withColumn("chunk_last", F.expr(f"_last_tok DIV {b}"))
        .select(id_col, "tok_start", "chunk_first", "chunk_last")
    )
    return df.join(placed, id_col)


def sliding_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """RAG-style overlapping token chunks: (id, chunk_idx, tok_start,
    tok_end, n_tokens, chunk_hash) — chunk i covers word tokens
    [i*stride, min(i*stride + window, n)); the last chunk may be short;
    empty docs emit no chunks.

    Pure Column (sequence -> transform -> explode), zero shuffle: chunking
    is embarrassingly parallel and the fan-out happens inside the scan
    stage. chunk_hash is the shared md5-based hash32 of the chunk's words,
    so downstream chunk-level dedup/ANN composes directly and the DuckDB
    oracle reproduces it bit-for-bit.
    """
    from .dedup import hash32, normalized_words

    win, st = int(window), int(stride)
    base = df.select(
        F.col(id_col).alias("id"), normalized_words(text_col).alias("w")
    ).withColumn(
        "n",
        F.when(F.array_join("w", "") == "", F.lit(0)).otherwise(F.size("w")),
    )
    n_chunks = F.when(F.col("n") == 0, F.lit(0)).otherwise(
        (F.greatest(F.col("n") - win, F.lit(0)) + (st - 1)) / st
    ).cast("long") + F.when(F.col("n") == 0, F.lit(0)).otherwise(F.lit(1))
    # integer ceil((n - win)+ / st) + 1; the float division is exact for
    # corpus-scale n (< 2^53) and floor()s via the long cast
    chunked = base.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1))
    ).where(F.col("n") > 0)
    tok_start = (F.col("chunk_idx") * st).cast("long")
    tok_end = F.least(tok_start + win, F.col("n").cast("long"))
    words = F.slice(
        F.col("w"), (tok_start + 1).cast("int"), (tok_end - tok_start).cast("int")
    )
    return chunked.select(
        "id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        tok_start.alias("tok_start"),
        tok_end.alias("tok_end"),
        (tok_end - tok_start).alias("n_tokens"),
        hash32(F.array_join(words, " "), 5).alias("chunk_hash"),
    )
