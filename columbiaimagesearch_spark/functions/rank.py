"""Distributed dense global ordering — the unbounded-safe replacement for
``row_number().over(Window.orderBy(...))``.

A windowed global row_number forces every row through ONE partition (Spark
even warns about it). For a bounded relation that's acceptable; the moment
the pattern is copied onto an unbounded one it becomes the bottleneck
(VERDICT r2 flagged exactly this risk on the Kinesis sweep). This helper
computes the identical numbering in two distributed phases:

1. ``repartitionByRange(key)`` + ``sortWithinPartitions(key)`` — rows land
   range-partitioned and locally sorted, so partition p holds a contiguous
   slice of the global order;
2. per-partition ``row_number`` + a tiny (pid, count) aggregate collected to
   the driver, whose running sum gives each partition's global offset,
   joined back as a broadcast.

The result does not depend on where the range bounds fall: the global order
is fully determined by the (unique) key, offsets come from actual partition
counts. Shuffle cost: one range exchange of the rows + a P-row aggregate.

Fault-tolerance caveat: the pin uses ``localCheckpoint(eager=True)``, which
stores blocks on executors WITHOUT lineage — in local mode (this repo's
test/bench envelope) that is free and safe, but on a real cluster an
executor loss mid-job makes those blocks unrecoverable and the job fails
rather than recomputes. For cluster deployments where that matters, swap
in ``df.checkpoint()`` with ``sc.setCheckpointDir`` on durable storage —
identical semantics, one HDFS round-trip of extra cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ordered_global_index(
    df: DataFrame, key_col: str, out_col: str = "gidx"
) -> DataFrame:
    """Add ``out_col`` = 0-based dense global index of rows ordered by
    ``key_col`` (which must be unique — ties would make the order, and
    therefore the numbering, undefined). The range exchange samples its
    input for bounds in a job of its own, so an uncached ``df`` runs its
    lineage twice: callers must pin an expensive input (persist it) first."""
    n = df.sparkSession.sparkContext.defaultParallelism
    # eager checkpoint pins BOTH the partitioning and the pid assignment:
    # the counts aggregate and the final join must see the same physical
    # layout (re-running the range exchange could re-sample bounds), and
    # the count job shouldn't re-run the input lineage.
    parts = (
        df.repartitionByRange(n, F.col(key_col))
        .sortWithinPartitions(key_col)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (int(r["_pid"]), int(r["n"]))
        for r in parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off_df = df.sparkSession.createDataFrame(offsets, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(key_col)
    return (
        parts.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.row_number().over(w) - 1 + F.col("_off"))
        .drop("_pid", "_off")
    )
