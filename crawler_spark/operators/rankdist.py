"""Distributed global row_number — the scale-safe replacement for an
unpartitioned window.

``Window.orderBy(...)`` with no ``partitionBy`` funnels EVERY row
through one window task: correct, but a single-task sort once the
frame outgrows one executor (10^8 hosts in a shard plan, 10^8–10^9
vocabulary types in an id-polluted web corpus). This module computes
the identical total-order rank with no single point of serialization:

  1. ``repartitionByRange(order)`` — the range exchange samples split
     bounds, so partition p holds a CONTIGUOUS slice of the total
     order (secondary tie-break columns spread equal-key runs, e.g.
     the cnt=1 Zipf tail, across partitions by word);
  2. per-partition ``row_number`` (``Window.partitionBy(pid)`` — every
     window task is bounded by one range slice);
  3. global rank = per-partition offset + local rank, the offsets
     being one ≤P-row collect (P = shuffle partitions) joined back as
     a broadcast.

The combined frame is ``localCheckpoint``-materialized once so the
offset count and the downstream consumer both read the same shuffle
output instead of recomputing the exchange.

The order MUST be total (include a tie-break column) — the same
determinism contract the single-window form already carried.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions`` as a partition count; a value that
    is not an integer (e.g. a platform's ``auto``) falls back to the
    context's default parallelism."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def distributed_rank(
    df: DataFrame,
    order: list[Column],
    rank_col: str = "r",
    num_partitions: int | None = None,
) -> DataFrame:
    """Return ``df`` with ``rank_col`` = 1-based global row_number in
    ``order``, computed without an unpartitioned WindowExec."""
    spark = df.sparkSession
    clash = {c for c in df.columns if c in ("__rd_pid", "__rd_lrn", "__rd_off")}
    if clash:
        raise ValueError(f"distributed_rank internal column clash: {clash}")
    parts = num_partitions or shuffle_partitions(spark)
    ranged = df.repartitionByRange(parts, *order).withColumn(
        "__rd_pid", F.spark_partition_id()
    )
    local = Window.partitionBy("__rd_pid").orderBy(*order)
    ranked = ranged.withColumn("__rd_lrn", F.row_number().over(local)).localCheckpoint()
    sizes = sorted(
        (r["__rd_pid"], r["n"])
        for r in ranked.groupBy("__rd_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in sizes:
        offsets.append((pid, acc))
        acc += n
    if not offsets:
        return df.withColumn(rank_col, F.lit(None).cast("long")).where(F.lit(False))
    off_df = spark.createDataFrame(offsets, "__rd_pid int, __rd_off long")
    return (
        ranked.join(F.broadcast(off_df), "__rd_pid")
        .withColumn(rank_col, (F.col("__rd_off") + F.col("__rd_lrn")).cast("long"))
        .drop("__rd_pid", "__rd_lrn", "__rd_off")
    )
