"""Pure-JVM local relations and literal columns from driver-side values.

Tiny driver-known tables (model artifacts, learned merge tables, stopword
dictionaries, query vectors, per-cell LUTs) enter plans as literals: a
literal struct array behind ``inline()`` for a relation, or one parsed
``F.expr`` array for a column. That costs one JVM-only task and zero
Python workers, where ``spark.createDataFrame(rows)`` would route the
rows through a Python RDD (one pickled slice per core) and pay a
Python-worker round trip in every job that scans it.

Invariant: values are bit-identical to the driver's — the same Python
floats/ints/strings cross py4j, and every double literal is emitted as
its shortest round-tripping ``repr``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def inline_local_df(spark, structs: list[Column]) -> DataFrame:
    """One-task, pure-JVM local relation from literal structs: inline()
    over a single-partition range. Row order is the array order (single
    row, single task — and exactly one output file if written)."""
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))


def _sql_double_array(values) -> "str | None":
    """SQL literal text for an array<double>, or None if any value is
    non-finite (inf/nan have no plain SQL literal — callers fall back to
    per-element ``F.lit``). ``repr`` emits the shortest decimal that
    round-trips the exact IEEE double, and both Python's and the JVM's
    parsers are correctly rounded, so parse(repr(x)) == x bit-for-bit."""
    parts = []
    for x in values:
        x = float(x)
        if not math.isfinite(x):
            return None
        parts.append(repr(x) + "D")
    return "array(" + ",".join(parts) + ")"


def dbl_array_col(values) -> Column:
    """Literal array<double> column built as ONE ``F.expr`` parse instead
    of one py4j round-trip per element: measured 32×64 doubles cost
    1.39 s to build via ``F.array(*[F.lit(x) …])`` (driver-side py4j per
    literal) vs 7 ms via the SQL string — identical Literal nodes in the
    analyzed plan, bit-equal values (checked elementwise)."""
    s = _sql_double_array(values)
    if s is None:
        return F.array(*[F.lit(float(x)) for x in values])
    return F.expr(s)


def dbl_nested_array_col(lists) -> Column:
    """Literal array<array<double>> column — the :func:`dbl_array_col`
    treatment for a centroid table folded into the plan."""
    inner = [_sql_double_array(c) for c in lists]
    if any(i is None for i in inner):
        return F.array(*[dbl_array_col(c) for c in lists])
    return F.expr("array(" + ",".join(inner) + ")")
