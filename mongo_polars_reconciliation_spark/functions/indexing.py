"""Contiguous 1-based row numbering and exclusive prefix sums.

The reference assigns B a 1-based contiguous row index in file order
(``with_row_index(offset=1)``, src/data_extractor.py:98-99) and reports
external residuals by that number (second_conciliate.py:381) — so the index is
part of the output semantics, not a convenience.

Spark has no stable "file order"; we make the contract explicit: the caller
supplies a total order (``order_by``). Both functions share one two-pass
scan: range-repartition on the order keys, sort within partitions, then add
per-partition offsets computed from a tiny per-partition table that is
broadcast back. Only that table ever hits the driver; data never leaves
executors. The range-partitioned frame is stored with
``localCheckpoint(eager=False)`` so ``spark_partition_id()`` is consistent
between the offset pass and the numbering pass; the ContextCleaner frees it
once no frame refers to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.functions.windows import single_partition_key


def with_prefix_sum(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    name: str = "prefix_sum",
) -> DataFrame:
    """Add an EXCLUSIVE prefix sum of ``value_col`` (long) by the given total
    order: row i gets sum(value of rows 0..i-1), first row gets 0.

    The global sequential dependency collapses to one scan + one broadcast
    (module docstring) — the distributed scan primitive behind row
    numbering, sequence packing, byte-offset assignment, and contiguous
    shard layout at 100 TB.
    """
    if not order_by:
        raise ValueError("order_by must name a deterministic total order")
    v = F.col(value_col).cast("long")
    ranged = (
        df.repartitionByRange(
            df.sparkSession.sparkContext.defaultParallelism, *order_by
        )
        .sortWithinPartitions(*order_by)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    sums = ranged.groupBy("__pid").agg(F.sum(v).alias("__s"))
    # ≤defaultParallelism rows — a single-partition window is the right plan;
    # the non-foldable constant key keeps WindowExec's warning out
    w_off = (
        Window.partitionBy(single_partition_key())
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sums.select(
        "__pid", F.coalesce(F.sum("__s").over(w_off), F.lit(0)).alias("__offset")
    )
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranged.join(F.broadcast(offsets), "__pid")
        .withColumn(
            name, F.coalesce(F.sum(v).over(w_in), F.lit(0)) + F.col("__offset")
        )
        .drop("__pid", "__offset")
    )


def with_file_row_number(
    df: DataFrame,
    order_by: list[str],
    name: str = "file_row_number",
) -> DataFrame:
    """Add a contiguous 1-based ``long`` index by the given total order: the
    exclusive prefix sum of 1, plus 1."""
    ones = df.withColumn(name, F.lit(1))
    return with_prefix_sum(ones, order_by, name, name).withColumn(
        name, F.col(name) + 1
    )
