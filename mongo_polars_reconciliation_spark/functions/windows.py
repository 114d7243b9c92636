"""Window-based replacements for Polars' order-dependent dedup primitives.

The reference leans on ``unique(subset, keep="first"/"last",
maintain_order=True)`` and ``is_duplicated()`` (src/reconciliatior.py:20-59,
133-141; second_conciliate.py:531), whose semantics depend on incidental row
order. Spark DataFrames have no row order, so every helper here takes an
explicit ``order_by`` — strictly stronger, deterministic semantics
(SURVEY.md §2.4/§2.5). All are single-shuffle window ops (shuffle on
``subset``), no global sort.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _ordered(order_by: list) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def single_partition_key() -> Column:
    """Constant-0 window partition key that survives constant folding.

    For windows whose input is already bounded to a handful of rows (a
    ``limit(k)`` head, a per-partition count table) a single-partition
    window is the correct plan — but an *empty* partition spec makes
    WindowExec log its data-scale warning, and a foldable literal is
    optimized back to empty. ``pmod(spark_partition_id(), 1)`` is always 0
    yet non-foldable, so the spec stays non-empty and bench logs stay
    clean. Never use over data-sized inputs."""
    return F.pmod(F.spark_partition_id(), F.lit(1))


def nearest_rank(q: "Fraction | float", n: str = "__n") -> Column:
    """The nearest-rank position ``ceil(q·n)`` of the row-count column
    ``n``, exact: ``q`` as the rational ``num/den`` (a ``Fraction``, or a
    decimal literal read through its ``str``), and the rank as
    ``(num·n + den − 1) DIV den`` in integer arithmetic. A float product
    can land just above an integer and shift the rank by one against the
    oracle's exact CEIL; this form cannot."""
    frac = q if isinstance(q, Fraction) else Fraction(str(q))
    num, den = frac.numerator, frac.denominator
    return F.expr(f"({num} * {n} + {den - 1}) DIV {den}")


def with_group_count(df: DataFrame, subset: list[str], name: str = "_cnt") -> DataFrame:
    """count(*) OVER (PARTITION BY subset) — basis for is_duplicated."""
    return df.withColumn(name, F.count(F.lit(1)).over(Window.partitionBy(*subset)))


def duplicated_rows(df: DataFrame, subset: list[str]) -> DataFrame:
    """All members of any key group with count>1, including the first —
    Polars ``is_duplicated`` semantics (src/reconciliatior.py:21)."""
    return (
        with_group_count(df, subset, "__dup_cnt")
        .where(F.col("__dup_cnt") > 1)
        .drop("__dup_cnt")
    )


def keep_first(df: DataFrame, subset: list[str], order_by: list) -> DataFrame:
    """``unique(subset, keep="first")`` with an explicit order contract."""
    w = Window.partitionBy(*subset).orderBy(*_ordered(order_by))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def keep_last(df: DataFrame, subset: list[str], order_by: list) -> DataFrame:
    """``unique(subset, keep="last")`` — first row of the reversed order."""
    w = Window.partitionBy(*subset).orderBy(*[c.desc() for c in _ordered(order_by)])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
