"""Incremental reconciliation: settlement batches stream in, state persists.

The reference's incremental story is batch re-runs over a REMANENT state
collection (SURVEY.md §2.1 S2/S9, §2.7 note): each run loads prior leftovers,
matches the new settlement file, and persists the new leftovers. This module
is the same loop expressed as Structured Streaming: external (B) records
arrive as files; ``foreachBatch`` matches each micro-batch against the
still-unmatched internal (A) rows and accumulates matches in a parquet state
directory. Exactly-once per batch comes from the sink's idempotent
overwrite-by-batch layout plus checkpointing.

Convergence contract (what the oracle checks): the SET of matched A ids
after the stream drains equals the batch engine's matched set — an A row
matches iff any B candidate exists, regardless of which micro-batch carried
the candidate. Which B row won arbitration CAN differ from the batch run
(first-arriving batch wins instead of global file order), so outputs that
expose B attributes are rows-only checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.config import ReconConfig
from mongo_polars_reconciliation_spark.operators.match import match_records
from mongo_polars_reconciliation_spark.streaming.events import drain


def incremental_match(
    a: DataFrame,
    b_stream: DataFrame,
    cfg: ReconConfig,
    state_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain ``b_stream`` (availableNow), matching each micro-batch against
    the A rows not yet matched in ``state_dir``; append new matches there.

    State layout: parquet of (_id, matched key columns) per batch-epoch
    subdirectory — append-only, replayable, and mergeable by MERGE-style
    compaction downstream."""
    spark = a.sparkSession

    def process(batch_b: DataFrame, epoch_id: int) -> None:
        # first-batch detection is an explicit path-absence probe, NOT a
        # broad except around the read: a CORRUPT state dir must fail the
        # stream loudly — swallowing it would silently re-match everything
        if _has_state_files(spark, state_dir):
            matched_ids = spark.read.parquet(state_dir).select("_id").distinct()
            a_open = a.join(matched_ids, "_id", "left_anti")
        else:  # first batch: nothing persisted yet ⇒ every A row is open
            a_open = a
        matched, _ = match_records(a_open, batch_b, cfg)
        (
            matched.select("_id", *cfg.a_columns)
            .write.mode("append")
            .parquet(state_dir)
        )

    # the recorded plan is the stream side (file scan → foreachBatch); the
    # per-batch MATCH plan is the batch engine's (covered by the batch sweep)
    drain(
        b_stream.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint_dir
        ),
        "incremental_match",
    )


def _has_state_files(spark: SparkSession, state_dir: str) -> bool:
    """True when ``state_dir`` holds at least one parquet data file. Probed
    through the Hadoop FileSystem API so any supported scheme (file://,
    s3a://, hdfs://) answers — this is a metadata call, not a scan."""
    jvm = spark._jvm  # noqa: SLF001
    path = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(path):
        return False
    it = fs.listFiles(path, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return True
    return False


def matched_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Final matched-A set from the state directory (empty frame if the
    stream never matched anything)."""
    if not _has_state_files(spark, state_dir):
        from pyspark.sql.types import StringType, StructField, StructType

        return spark.createDataFrame([], StructType([StructField("_id", StringType())]))
    return spark.read.parquet(state_dir).select("_id").distinct()
