"""Distributed global row numbering (dense, 0/1-based, total-order).

The naive formulation — ``row_number() OVER (ORDER BY k)`` with no
partition — is correct and is what the DuckDB oracle runs, but in Spark
it collapses the whole table into ONE task (a single-partition window):
the canonical 100 TB antipattern. `with_global_index` produces the
identical numbering with a range shuffle instead:

1. ``repartitionByRange(order keys)`` — rows land in range-ordered
   partitions (the same sampling-based range partitioner a global sort
   uses);
2. per-partition ``row_number`` over the order keys WITHIN each range
   partition (``Window.partitionBy(spark_partition_id())``) — parallel;
3. per-partition counts → a tiny cumulative-offset table (P rows, one
   per partition) — window over P rows, effectively free;
4. broadcast the offsets back and add.

Total cost: one range exchange + one in-partition sort + a broadcast of
P integers — the same shape as a distributed sort, with no single-task
bottleneck. Numbering is deterministic iff the order keys are a total
order (enforce by appending a unique tiebreaker key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_global_index(
    df: DataFrame,
    order_by: list[str],
    index_col: str = "global_index",
    start: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a dense global row number following ``order_by`` (which must
    be a total order for a deterministic result)."""
    cols = [F.col(c) for c in order_by]
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    ranged = ranged.withColumn("__pid", F.spark_partition_id())

    w_local = Window.partitionBy("__pid").orderBy(*cols)
    local = ranged.withColumn("__local_rn", F.row_number().over(w_local))

    # P-row offset table: rows before each partition. The window runs
    # over P rows total — negligible — and the result broadcasts.
    counts = local.groupBy("__pid").agg(F.count("*").alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )

    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(
            index_col, F.col("__local_rn") + F.col("__off") + F.lit(start - 1)
        )
        .drop("__pid", "__local_rn", "__off")
    )
