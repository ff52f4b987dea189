"""Ordered running sums without a single-partition window.

A row's position in a global sort order is a running sum over that order:
of 1 for a global rank, of a 0/1 boundary flag for a segment id, of a
length for a stream offset. Sorted-neighborhood and adaptive SNM blocking,
the progressive-ER recall curve and sequence packing all take theirs from
`running_sum`.

Two phases, no single reducer: a range partitioning on the order leaves
partition i holding only keys below those of partition i+1, so a running
sum inside each partition plus the total of all earlier partitions is the
global running sum. Only one total per partition reaches the driver —
a few thousand longs at 100 TB — and the offsets go back as a broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def running_sum(
    df: DataFrame,
    order: list,
    value: Column,
    name: str,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """-> (df plus column `name`, total).

    `name` is the inclusive running sum of the integral `value` over the
    sort order `order` (column names or Columns, `.desc()` allowed); the
    order must be total — break ties on a unique column — or rows that tie
    get an arbitrary order. `total` is the sum of `value` over all rows, 0
    for an empty frame. `num_partitions` fixes the range partition count;
    None lets Spark (and AQE) choose it."""
    ranged = (
        df.repartitionByRange(num_partitions, *order)
        if num_partitions
        else df.repartitionByRange(*order)
    )
    local = ranged.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_lsum",
        F.sum(value).over(
            Window.partitionBy("_pid")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # pin: read twice (totals + join) — _pid/_lsum must not be recomputed
    local = local.localCheckpoint(eager=True)
    totals = sorted(tuple(r) for r in local.groupBy("_pid").agg(F.sum(value)).collect())
    offsets, total = [], 0
    for pid, s in totals:
        offsets.append((pid, total))
        total += int(s or 0)
    off = df.sparkSession.createDataFrame(offsets, "_pid int, _off long")
    out = local.join(F.broadcast(off), "_pid").withColumn(
        name, F.col("_lsum") + F.col("_off")
    )
    return out.drop("_pid", "_lsum", "_off"), total
