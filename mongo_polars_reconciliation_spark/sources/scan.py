"""Filtered, typed source scans (SURVEY.md §2.1 S1/S3/S4/S5).

The reference pushes its filters server-side as a Mongo ``$match`` and its
projection/casts as ``$project`` with ``$toString``
(src/data_extractor.py:26-50). On Spark the same effect is achieved by
*declaring* the filter and projection right next to the read: Catalyst pushes
predicates and column pruning into the parquet/CSV/connector scan
(verify with ``df.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.config import SourceFilter


def apply_source_filter(df: DataFrame, flt: SourceFilter) -> DataFrame:
    """Compile a SourceFilter into a single conjunctive ``where``.

    Mirrors the reference's $match block (src/data_extractor.py:32-44):
    equality, membership ($in), and [gte, lt) half-open ranges.
    """
    preds = []
    for col, v in flt.equals.items():
        preds.append(F.col(col) == F.lit(v))
    for col, vals in flt.isin.items():
        preds.append(F.col(col).isin(vals))
    for col, (gte, lt) in flt.ranges.items():
        if gte is not None:
            preds.append(F.col(col) >= F.lit(gte))
        if lt is not None:
            preds.append(F.col(col) < F.lit(lt))
    if not preds:
        return df
    return df.where(reduce(lambda a, b: a & b, preds))


def scan_internal(
    spark: SparkSession,
    path: str,
    fields: list[str],
    flt: SourceFilter | None = None,
    long_fields: tuple[str, ...] = (),
    double_fields: tuple[str, ...] = (),
) -> DataFrame:
    """Internal parquet-table scan: filter → project → cast (reference S1,
    src/data_extractor.py:26-50 + $toString schema expression_builder.py:29-43).

    Every projected field is cast to string unless listed in ``long_fields`` /
    ``double_fields`` — the reference's fixed config-driven schema
    (SURVEY.md §1.2). Filters are applied before the projection so they reach
    the scan as pushed predicates over the source column types.
    """
    df = spark.read.parquet(path)
    if flt is not None:
        df = apply_source_filter(df, flt)
    cols = []
    for f in fields:
        if f in long_fields:
            cols.append(F.col(f).cast("long").alias(f))
        elif f in double_fields:
            cols.append(F.col(f).cast("double").alias(f))
        else:
            cols.append(F.col(f).cast("string").alias(f))
    return df.select(cols)


def read_csv_all_string(spark: SparkSession, path: str) -> DataFrame:
    """All-string CSV read — ``pl.read_csv(infer_schema_length=0)`` parity
    (src/data_extractor.py:97). inferSchema stays off so every column is
    StringType; casts are applied later per config, exactly like the
    reference's cast_ext_exp."""
    return spark.read.csv(path, header=True, inferSchema=False)
