"""Event-time normalization at the read boundary.

The engine's internal convention for the ``events.ts`` column is **epoch
nanoseconds as BIGINT** (the reference's time-as-int64 convention,
SURVEY.md §1.1). The driver's testdata has stored that column as
TIMESTAMP(NANOS) parquet in some generations (readable only as long via
``spark.sql.legacy.parquet.nanosAsLong``) and TIMESTAMP(MICROS) in others
(read natively as TIMESTAMP_NTZ). Rather than scatter type branches across
every query, ALL events readers — batch and streaming — pass through
:func:`ensure_epoch_nanos` exactly once, and everything downstream does
integer nanosecond arithmetic on a BIGINT column.

Why normalize to int64 nanos instead of Spark's native TIMESTAMP: Spark
timestamps bottom out at microseconds, so a NANOS-generation file would
lose precision; int64 keeps whatever the file had, and every bucket /
gap / window expression stays in exact long arithmetic (no double
round-trips). The DuckDB oracles read the same parquet and use
``epoch_ns(ts)``, which yields the identical int64 under both physical
types — that is the cross-engine contract this module preserves.

Scale note: the conversion is a single projection (``unix_micros * 1000``)
inside whole-stage codegen — no shuffle, no UDF, negligible at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: column types accepted by :func:`ensure_epoch_nanos` — anything else is
#: testdata schema drift and fails loudly (a silent
#: micros-as-nanos reinterpretation shrank every timestamp 1000× and
#: shipped wrong answers through green pipelines).
_ACCEPTED = ("bigint", "timestamp", "timestamp_ntz")


def epoch_nanos_col(col: Column, dtype: str) -> Column:
    """Expression converting ``col`` of simpleString type ``dtype`` to epoch
    nanoseconds BIGINT. Session time zone must be UTC (session.py pins it)
    so TIMESTAMP_NTZ values — naive wall times — convert exactly the way
    DuckDB's ``epoch_ns`` treats them."""
    if dtype == "bigint":
        return col
    if dtype in ("timestamp", "timestamp_ntz"):
        # unix_micros is exact long math; * 1000 stays well inside int64
        # (current epoch-nanos ≈ 1.7e18 < 9.2e18).
        return F.unix_micros(col.cast("timestamp")) * F.lit(1000)
    raise TypeError(
        f"events time column has unsupported type {dtype!r}; expected one of "
        f"{_ACCEPTED}. Testdata schema drifted — extend "
        "functions/timenorm.py in ONE place instead of patching queries."
    )


def ensure_epoch_nanos(df: DataFrame, col: str = "ts") -> DataFrame:
    """Return ``df`` with ``col`` as epoch-nanoseconds BIGINT, whatever the
    physical parquet type was. No-op (same plan) when already long. Works
    identically on batch and streaming DataFrames."""
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise KeyError(f"column {col!r} not found; have {df.columns}")
    if dtype == "bigint":
        return df
    # A timestamp→long conversion is only correct under UTC: session.py pins
    # it, but a session created elsewhere would silently shift every value by
    # the local-TZ offset — the exact silent-wrong-answer class this module
    # exists to kill, so enforce rather than document.
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise RuntimeError(
            f"ensure_epoch_nanos needs spark.sql.session.timeZone='UTC' to "
            f"convert a {dtype} column exactly; session has {tz!r}. Create "
            "sessions via mongo_polars_reconciliation_spark.session.get_spark "
            "or set the conf before reading events."
        )
    return df.withColumn(col, epoch_nanos_col(F.col(col), dtype).cast("long"))
