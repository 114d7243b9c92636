"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the configs below are the ones that matter at
cluster scale too: AQE on (runtime re-planning, skew-join splitting, dynamic
shuffle-partition coalescing), UTC session time zone (deterministic date
formatting), Arrow enabled for the few Pandas-UDF extension paths,
nanos-as-long so the ``events`` table's TIMESTAMP(NANOS) parquet is readable,
and the package root on the Python workers' ``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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
