"""Streaming event operators: windowed aggregation, sessionization, custom
stateful processing.

Batch/stream parity contract: each operator here computes the SAME result as
its batch sibling in harness/queries.py (events_hourly / events_sessionize)
when run to completion over a bounded source — that is what the oracle
checks. The streaming-only machinery (watermarks, output modes, state
timeouts) is additive, not semantic.

Scale notes: event-time windows + watermark bound state to (watermark
horizon × distinct keys); session windows are merged incrementally by the
state store; ``applyInPandasWithState`` keeps one Arrow-encoded state row
per user. All shuffles hash on the grouping key, so a 1000-executor
cluster partitions state horizontally with no driver involvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mongo_polars_reconciliation_spark.functions.timenorm import ensure_epoch_nanos

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),  # epoch nanos (engine convention)
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

NANOS_PER_HOUR = 3_600_000_000_000
NANOS_PER_SEC = 1_000_000_000


SENTINEL_USER = -1


def _stored_events_schema(spark: SparkSession, path: str) -> StructType:
    """The schema the file source will actually produce for this file.
    readStream requires an explicit schema, and it MUST match the parquet
    physical type: declaring ``ts LongType`` over a TIMESTAMP(MICROS) file
    silently reinterprets micros as the declared unit — the round-3 silent-
    wrong-answer class. Read the footer through the batch reader (one
    metadata-only job) and stream with exactly that."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


def _events_feed_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    copies: int,
    with_sentinel: bool,
    file_per_trigger: bool,
) -> DataFrame:
    """The events table symlinked ``copies`` times into a fresh private
    feed dir (the file stream source needs a *directory*), read as a file
    stream under the table's stored schema with ``ts`` normalized to the
    engine's epoch-nanos BIGINT (functions/timenorm.py).
    ``with_sentinel`` adds one far-future event (``read_events_stream``);
    ``file_per_trigger`` delivers one feed file per micro-batch."""
    import os
    import shutil

    from mongo_polars_reconciliation_spark.scratch import scratch_path

    src_path = f"{sf_dir}/events.parquet"
    stored = _stored_events_schema(spark, src_path)
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    feed = scratch_path(tag, name, "feed")
    shutil.rmtree(feed, ignore_errors=True)
    os.makedirs(feed)
    for i in range(copies):
        os.symlink(src_path, f"{feed}/{i:03d}_events.parquet")
    if with_sentinel:
        # Far-future row in the FILE's native ts type (mixing physical types
        # across feed files under one declared schema is exactly the silent
        # corruption the stored-schema read exists to prevent).
        batch = ensure_epoch_nanos(spark.read.parquet(src_path))
        mx_ns = batch.agg(F.max("ts")).head()[0]
        sentinel_ns = int(mx_ns) + 10**15
        ts_type = stored["ts"].dataType.simpleString()
        if ts_type == "bigint":
            ts_expr = F.lit(sentinel_ns)
        else:
            # micros truncation loses up to 999 ns vs the bigint branch —
            # acceptable ONLY because the sentinel sits ~11.5 days in the
            # future and exists purely to push the watermark past every real
            # window; don't shrink the 10**15 offset toward sub-micro scales
            ts_expr = F.timestamp_micros(F.lit(sentinel_ns // 1000)).cast(ts_type)
        spark.range(1).select(
            F.lit(-1).cast("long").alias("event_id"),
            ts_expr.alias("ts"),
            F.lit(SENTINEL_USER).cast("long").alias("user_id"),
            F.lit("SENTINEL").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("").alias("props"),
        ).write.mode("overwrite").parquet(f"{feed}/zzz_sentinel.parquet")
    reader = spark.readStream.schema(stored)
    if file_per_trigger:
        reader = reader.option("maxFilesPerTrigger", "1")
    return ensure_epoch_nanos(reader.parquet(f"{feed}/*.parquet"))


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str = "events",
    with_sentinel: bool = False,
) -> DataFrame:
    """File-source stream over the events table, ``ts`` normalized to the
    engine's epoch-nanos BIGINT whatever the file's physical type (see
    functions/timenorm.py). The file stream source needs a *directory*, so
    the table file is symlinked into a private feed dir (a live pipeline
    points this at an arriving-files dir or Kafka).

    ``with_sentinel`` appends one far-future event (user ``SENTINEL_USER``):
    on a bounded stream, append-mode aggregations only emit once the
    watermark passes a window's end, and the watermark only moves when later
    events arrive — the sentinel plus Spark's final no-data micro-batch
    pushes the watermark past every real window so the drained stream equals
    the batch answer. Callers filter ``user_id != SENTINEL_USER``."""
    return _events_feed_stream(spark, sf_dir, name, 1, with_sentinel, False)


def read_events_stream_duplicated(
    spark: SparkSession,
    sf_dir: str,
    name: str = "events_dup",
    copies: int = 2,
) -> DataFrame:
    """Same file stream, but the table arrives ``copies`` times (separate
    files → separate micro-batches with maxFilesPerTrigger=1) — the at-least-
    once delivery shape that streaming dedup exists to absorb."""
    return _events_feed_stream(spark, sf_dir, name, copies, False, True)


def stream_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` on the event
    identity — redelivered events arriving within the watermark horizon are
    suppressed with BOUNDED state (keys older than the watermark are
    evicted, so state size tracks the horizon, not the stream's history).
    The streaming face of extensions.dedup.exact_dedup_groups for
    at-least-once ingest. Events later than the watermark are dropped as
    late data — which is also correct here, since any such row is a
    redelivery of an already-emitted event."""
    events = _nanos(events)
    with_time = events.withColumn("event_time", _event_time())
    return (
        with_time.withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )


def _event_time(col: str = "ts"):
    # epoch-nanos long → timestamp via integer division: `ts / 1000` would
    # round-trip through double and lose exactness above 2^53 (epoch-nanos
    # are ~1.7e18), so DIV keeps the math in long end-to-end
    return F.timestamp_micros(F.expr(f"{col} DIV 1000"))


def _nanos(events: DataFrame) -> DataFrame:
    """Operators accept ``ts`` as either epoch-nanos BIGINT (the engine
    convention, what the readers above emit) or a raw TIMESTAMP frame (what
    batch-parity callers hand in) — normalized here, no-op when already
    long. This is what keeps one operator body valid for both regimes."""
    return ensure_epoch_nanos(events)


def hourly_agg(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour event-time window per event_type — the streaming form
    of queries.events_hourly, producing the identical (hour_bucket,
    event_type, n, value_sum) rows once windows close."""
    events = _nanos(events)
    with_time = events.withColumn("event_time", _event_time())
    w = with_time.withWatermark("event_time", watermark) if watermark else with_time
    return (
        w.groupBy(F.window("event_time", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(
            # integer division end-to-end: epoch-seconds DIV 3600 ==
            # epoch-nanos DIV 3.6e12 (the batch bucket) without the double
            # round-trip a *1e9/3.6e12 chain would take through float
            F.expr("unix_timestamp(win.start) DIV 3600").cast("long").alias("hour_bucket"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def view_purchase_attribution(
    events: DataFrame, window_sec: int = 86400, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join (purchase attribution): every
    (purchase, view) pair of the same user where the view happened within
    ``window_sec`` before the purchase.

    Both sides carry an event-time watermark and the join's time-range
    condition is on the event-time columns — that is what lets the state
    store expire buffered rows once the watermark passes the interval, so
    per-key state is bounded by (watermark + window) × arrival rate
    instead of the whole stream. Inner joins emit on match arrival, so a
    drained bounded stream converges to the exact batch join. Event time
    is nanos truncated to microseconds (Spark's timestamp precision); the
    batch oracle applies the same truncation.

    Works unchanged on a batch frame (the watermark is a no-op there) —
    the batch/stream parity contract of this module."""
    base = _nanos(events).withColumn(
        "ets", F.timestamp_micros(F.expr("ts div 1000"))
    )
    views = (
        base.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_event_id"),
            F.col("user_id").alias("v_user"),
            F.col("ets").alias("v_ets"),
        )
        .withWatermark("v_ets", watermark)
    )
    purchases = (
        base.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            F.col("user_id").alias("p_user"),
            F.col("ets").alias("p_ets"),
        )
        .withWatermark("p_ets", watermark)
    )
    joined = purchases.join(
        views,
        F.expr(
            f"p_user = v_user AND v_ets >= p_ets - INTERVAL {window_sec} SECONDS"
            f" AND v_ets <= p_ets"
        ),
        "inner",
    )
    return joined.select(
        "purchase_event_id",
        "view_event_id",
        (F.unix_micros(F.col("p_ets")) - F.unix_micros(F.col("v_ets"))).alias(
            "gap_us"
        ),
    )


def session_agg(events: DataFrame, gap: str = "30 minutes",
                watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessionization via the built-in ``session_window``: events
    of one user belong to one session while consecutive gaps stay under
    ``gap``. Equivalent to the batch lag/cumsum sessionize (gaps-and-islands)
    aggregated per session."""
    events = _nanos(events)
    with_time = events.withColumn("event_time", _event_time())
    w = with_time.withWatermark("event_time", watermark) if watermark else with_time
    return (
        w.groupBy(F.session_window("event_time", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # micros, not nanos: the oracle engine's timestamp type bottoms
            # out at microsecond precision
            F.expr("min(ts) DIV 1000").alias("session_start_us"),
        )
        .select("user_id", "session_start_us", "n_events")
    )


USER_SEQ_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("seq_in_user", LongType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("seen", LongType())])


def user_running_seq(events: DataFrame) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-user
    running event sequence number, ordered by (ts, event_id) within each
    micro-batch, carried across batches in a one-row state per user.

    This is the template for operators the built-ins can't express —
    per-key state + arbitrary Python over Arrow batches."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = _nanos(events)

    def assign(key, pdfs, state: GroupState):
        import pandas as pd

        seen = state.get[0] if state.exists else 0
        # A group larger than arrow.maxRecordsPerBatch arrives as several
        # chunks in arrival order — concatenate and sort ONCE so the
        # (ts, event_id) ordering holds across chunk boundaries.
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(["ts", "event_id"])
        n = len(pdf)
        out = pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy(),
                "user_id": pdf["user_id"].to_numpy(),
                "seq_in_user": range(seen + 1, seen + n + 1),
            }
        )
        state.update((seen + n,))
        yield out

    return events.groupBy("user_id").applyInPandasWithState(
        assign,
        outputStructType=USER_SEQ_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Last executed plan (all stages, incl. physical) per drained query name —
# captured post-termination so tests/test_plans.py can sweep streaming
# queries for scale killers exactly like batch plans. Best-effort: capture
# failure must never fail the drain itself.
LAST_PLANS: dict[str, str] = {}


def drain(writer: DataStreamWriter, name: str) -> None:
    """Run the caller's configured stream writer over its bounded source
    to completion (``availableNow``), then record the executed plan in
    ``LAST_PLANS[name]``."""
    query = writer.trigger(availableNow=True).start()
    query.awaitTermination()
    try:
        LAST_PLANS[name] = query._jsq.explainInternal(True)  # noqa: SLF001
    except Exception:
        LAST_PLANS.pop(name, None)


def run_to_table(
    sdf: DataFrame, name: str, output_mode: str = "update"
) -> DataFrame:
    """Execute a bounded streaming frame to completion (availableNow) into a
    memory sink and return the materialized table — how the driver contract
    exposes streaming operators as checkable DataFrames."""
    spark = sdf.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    drain(
        sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
        name,
    )
    return spark.table(name)
