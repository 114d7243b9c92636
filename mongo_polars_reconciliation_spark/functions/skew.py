"""Skew-proof aggregation: explicit key salting for a two-stage aggregate.

At 100 TB the aggregation keys can be skew-prone (one event type can be
most of a table). Map-side combine handles most of it; when a single hot
key still overwhelms one reducer, ``salted_two_stage_agg`` scatters its
rows over R salt buckets, aggregates per (key, salt), and merges the R
partials per key. Skewed joins are left to AQE's skew-join splitting (on
in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT = "__salt"


def salt_large(df: DataFrame, buckets: int) -> DataFrame:
    """Scatter: each row gets a deterministic pseudo-random salt in
    [0, buckets) — spreads any hot key across ``buckets`` partitions.
    Deterministic per row content via hash of all columns, not rand(), so
    retried tasks produce identical output (speculative execution safe)."""
    return df.withColumn(
        SALT, F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(buckets))
    )


def salted_two_stage_agg(
    df: DataFrame,
    keys: list[str],
    count_name: str = "n",
    sum_cols: dict[str, str] | None = None,
    buckets: int = 16,
) -> DataFrame:
    """Two-stage skew-proof aggregation: partial agg on (keys..., salt), then
    merge on keys — the manual form of map-side combine for the case where a
    single hot key overwhelms even the combined partials (e.g. one event
    type is 90% of a 100 TB table: stage 1 spreads it over ``buckets``
    reducers; stage 2 merges ``buckets`` rows per key).

    Only algebraic, order-insensitive aggregates are offered: counts and
    DECIMAL-routed sums (``sum_cols`` maps input column → output name; each
    is cast to DECIMAL(18,2) so re-association across salt buckets cannot
    change a double's rounding). The result is bit-identical to the unsalted
    ``df.groupBy(keys).agg(...)``."""
    sum_cols = sum_cols or {}
    salted = salt_large(df, buckets)
    partial = salted.groupBy(*keys, SALT).agg(
        F.count(F.lit(1)).alias("__pn"),
        *[
            F.sum(F.col(src).cast("decimal(18,2)")).alias(f"__ps_{out}")
            for src, out in sum_cols.items()
        ],
    )
    return partial.groupBy(*keys).agg(
        F.sum("__pn").alias(count_name),
        *[
            F.sum(f"__ps_{out}").cast("double").alias(out)
            for out in sum_cols.values()
        ],
    )
