"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the configs below are the ones that matter at
cluster scale too: AQE on (runtime re-planning, skew-join splitting, dynamic
shuffle-partition coalescing), UTC session time zone (deterministic date
formatting), Arrow enabled for the few Pandas-UDF extension paths,
nanos-as-long so the ``events`` table's TIMESTAMP(NANOS) parquet is readable,
and the package root on the Python workers' ``PYTHONPATH``.

:func:`materialize` is the one "checkpoint unless already materialized"
rule the operators share, :func:`widen` the one "repartition when
narrower than the cluster" rule, and :func:`overlap` the one driver
thread pool for independent jobs.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "mongo-polars-reconciliation-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # size-based coalescing instead of parallelism-first: stages over
        # small inputs collapse to few tasks (kills per-task overhead on the
        # many tiny shuffles of a cascade); at scale the 64m advisory target
        # yields thousands of right-sized tasks — same config, both regimes.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # a 64m broadcast side is cheap on any real executor and converts the
        # frequent dim-sized joins (losers/zero-effect ids/tolerance keys)
        # from shuffle joins into broadcast-hash joins.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet has shipped as TIMESTAMP(NANOS,false) in some
        # testdata generations; Spark has no nanos timestamp, so keep the
        # nanos-as-long escape hatch on. Harmless for MICROS files — those
        # read as TIMESTAMP_NTZ and functions/timenorm.py normalizes either
        # form to the engine's epoch-nanos int64 convention (SURVEY.md §1.1).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    # Python workers start in the application's working directory; ship the
    # package root so UDF kernels import from any directory
    paths = [_PACKAGE_ROOT, *conf.get(_WORKER_PATH, "").split(os.pathsep)]
    conf[_WORKER_PATH] = os.pathsep.join(dict.fromkeys(p for p in paths if p))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """``df`` as a materialized leaf: returned unchanged when it is cached
    or already a checkpoint leaf (copying it through one more job buys
    nothing), otherwise ``localCheckpoint(eager=False)``. Under AQE that
    call runs the plan's shuffle and broadcast stages now, on the driver
    thread; only the final stage waits for the first action."""
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        return df
    plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
    if plan.getClass().getSimpleName() == "LogicalRDD":
        return df
    return df.localCheckpoint(eager=False)


def widen(df: DataFrame, *cols) -> DataFrame:
    """``df`` repartitioned to ``defaultParallelism`` when it has fewer
    partitions, else unchanged: hash-partitioned on ``cols`` when given,
    round-robin otherwise. The per-row map-side work downstream is the
    CPU cost, and a small input read from few splits would otherwise run
    it on as few cores (measured: 3 tasks on 32 cores). It never narrows,
    so an input that already has more partitions (the 100 TB case) gets
    no shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *cols)
    return df


def overlap(fn, items) -> list:
    """``[fn(x) for x in items]`` on a 2-thread driver pool, results in
    item order: independent jobs (disjoint output dirs, read-only inputs)
    overlap, so one job's straggler tasks leave no executor slot idle.
    Each call runs with a copy of the calling thread's local properties
    (job description, job group, call site, scheduler pool): under
    PySpark's pinned-thread mode a plain pool thread is a fresh JVM thread
    and would start its jobs unlabelled. The copy is taken per item, in
    the calling thread, because a SQL execution writes its id into its
    thread's properties and two workers must not share one object."""
    session = SparkSession.active()
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [
            pool.submit(inheritable_thread_target(session)(fn), x) for x in items
        ]
        return [f.result() for f in futures]
