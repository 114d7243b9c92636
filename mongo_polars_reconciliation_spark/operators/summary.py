"""Aggregate summaries of reconciliation buckets.

Reference: ``save_aggregated_results`` (second_conciliate.py:450-483) — one
``sum(amount)`` + ``count(_id)`` per outcome bucket, assembled with run
metadata into a single summary document. SURVEY.md §2.6 A1.

The quantile family next to it: ``bucket_quantiles`` (exact nearest-rank
quantiles per bucket), ``mad_outliers`` (its two medians are
``bucket_quantiles`` at 0.5), and the fixed-bin histogram sketch
``histogram_quantiles`` with its mergeability pin
``histogram_merge_check`` (one ``_hist_bin`` serves both). Every rank is
``functions.windows.nearest_rank``, the exact integer ``ceil(q·n)``, so
each reported number is an actual data value (or bin edge) and
hash-compares against the SQL oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.functions.windows import (
    nearest_rank,
    single_partition_key,
)


def _count_and_amount(
    df: DataFrame, amount_col: str, id_col: str, n_name: str, amount_name: str
) -> list[Column]:
    """Row count and amount sum aggregates of a bucket. The sum goes
    through DECIMAL(18,2): decimal addition is exact and order-independent,
    so the result is deterministic under any shuffle order (float sums are
    not — SURVEY.md §7 hard part (c)). A missing amount column sums to 0."""
    amount = (
        F.coalesce(
            F.sum(F.col(amount_col).cast("decimal(18,2)")).cast("double"), F.lit(0.0)
        )
        if amount_col in df.columns
        else F.lit(0.0)
    )
    return [
        F.count(id_col if id_col in df.columns else F.lit(1)).alias(n_name),
        amount.alias(amount_name),
    ]


def bucket_summary(
    df: DataFrame,
    bucket_name: str,
    amount_col: str = "approved_transaction_amount",
    id_col: str = "_id",
) -> DataFrame:
    """One-row frame: (bucket, row count, amount sum). Map-side partial
    aggregation makes this one cheap shuffle of 32 partial rows at any
    scale."""
    return df.agg(
        F.lit(bucket_name).alias("bucket"),
        *_count_and_amount(df, amount_col, id_col, "n", "amount_sum"),
    )


def run_summary(buckets: dict[str, DataFrame], **kwargs) -> DataFrame:
    """Union of per-bucket summaries — the engine's flagship output shape
    ('what matched, what didn't, how much money')."""
    parts = [bucket_summary(df, name, **kwargs) for name, df in buckets.items()]
    return reduce(lambda x, y: x.unionByName(y), parts)


def bucket_quantiles(
    df: DataFrame,
    bucket_col: str,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    tie_col: str | None = None,
) -> DataFrame:
    """Exact nearest-rank quantiles per bucket: the value at rank
    ``ceil(q·n)`` in ``(value, tie)`` order. Nearest-rank (no
    interpolation) keeps the result an actual data value, so it is
    bit-identical across engines — interpolated percentiles mix floats
    engine-specifically and can't be hash-compared.

    One shuffle on the bucket key; the rank window sorts within each
    bucket group only (no global sort). Output: one row per bucket with a
    ``qXX`` column per requested quantile."""
    order = [F.col(value_col).asc()] + (
        [F.col(tie_col).asc()] if tie_col else []
    )
    w = Window.partitionBy(bucket_col).orderBy(*order)
    grp = Window.partitionBy(bucket_col)
    ranked = df.select(bucket_col, value_col, *([tie_col] if tie_col else [])).withColumn(
        "__rn", F.row_number().over(w)
    ).withColumn("__n", F.count(F.lit(1)).over(grp))
    aggs = [
        F.max(F.when(F.col("__rn") == nearest_rank(q), F.col(value_col))).alias(
            f"q{str(q).replace('0.', '')}"
        )
        for q in qs
    ]
    return ranked.groupBy(bucket_col).agg(
        F.max("__n").cast("long").alias("n"), *aggs
    )


def _hist_bin(bins: int) -> Column:
    """The fixed-width bin of ``__v`` over the broadcast ``(__lo, __hi)``
    edges: ``floor((v − lo) / width)``, the maximum folded into the last
    bin, every value in bin 0 when all values are equal. Pure IEEE double
    ops, so the oracle bins every value identically."""
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(bins))
    return (
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(F.floor((F.col("__v") - F.col("__lo")) / width), F.lit(bins - 1))
        )
        .cast("long")
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    bins: int = 1000,
) -> DataFrame:
    """Fixed-bin histogram quantile SKETCH — the 100 TB path next to
    ``bucket_quantiles``'s exact nearest-rank: two scans (min/max/count,
    then bin counts), a ≤``bins``-row cumulative table, and the quantile is
    the lower edge of the first bin whose cumulative count reaches the
    nearest-rank position. Error is bounded by one bin width; no global
    sort, no per-group window over the data, state is O(bins) regardless of
    input size.

    Cross-engine determinism: bin assignment and edge reconstruction are
    pure IEEE double ops (identical bit results in any engine), the rank is
    integer-rational ceil(q·n), and counts are exact — so even the sketch
    is hash-comparable, not just "close"."""
    vals = df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("__v")
    )
    stats = vals.agg(
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    )
    binned = (
        vals.crossJoin(F.broadcast(stats))
        .withColumn("__bin", _hist_bin(bins))
        .groupBy("__bin")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w_cum = (
        Window.partitionBy(single_partition_key())
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = binned.withColumn("__cum", F.sum("__c").over(w_cum))
    ranks = stats.select(
        "__lo",
        "__hi",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(str(q)).alias("q_label"),
                        nearest_rank(q).alias("__rank"),
                    )
                    for q in qs
                ]
            )
        ).alias("__q"),
    ).select("__lo", "__hi", "__q.q_label", "__q.__rank")
    hit = ranks.crossJoin(F.broadcast(cum)).where(F.col("__cum") >= F.col("__rank"))
    return (
        hit.groupBy("q_label", "__rank", "__lo", "__hi")
        .agg(F.min("__bin").alias("bin"))
        .select(
            "q_label",
            F.col("__rank").cast("long").alias("rank"),
            "bin",
            (
                F.col("__lo")
                + F.col("bin").cast("double")
                * ((F.col("__hi") - F.col("__lo")) / F.lit(float(bins)))
            ).alias("est"),
        )
    )


def histogram_merge_check(
    df: DataFrame,
    value_col: str,
    split_col: str,
    bins: int = 1000,
    n_splits: int = 3,
) -> DataFrame:
    """Mergeability pin for the fixed-bin histogram sketch (the third of
    the sketch-merge trio next to ``events_kmv_merge`` and
    ``text_cms_merge``): partial histograms over SHARED bin edges merge
    by elementwise count sum, bit-equal to the full-scan histogram — the
    property that lets a 100 TB table be histogrammed per
    partition/day/source and combined without rescanning. Shared edges
    are the precondition (per-partial min/max would make bins
    incompatible); here they come from one global min/max pass, in
    production from a fixed known range or a prior pass.

    The two sides are INDEPENDENTLY constructed (as in
    ``cms_merge_check``): each partial histogram bins its own
    filtered scan (``xxhash64(split_col) mod n_splits`` — total,
    never-null row partition), the global side re-bins an unfiltered
    scan, and only the (lo, hi) edge pass is shared — sharing the edges
    is the mergeability PRECONDITION being pinned, not a shortcut. The
    previous form binned once and aggregated the same checkpointed frame
    twice, making merged == global an unfalsifiable SUM identity. FULL
    OUTER comparison join: a bin present on one side only surfaces as a
    NULL, not a silently dropped row.

    Scale shape: one global (min, max) aggregate broadcast onto every
    scan → per-partial bin hash-aggregate with map-side combine (≤ bins
    rows each) → bins-row merge aggregate vs the direct global bins-row
    aggregate. Output ≤ bins rows. n_splits+1 scans — this operator is
    the mergeability audit, not the histogram builder."""
    vals = df.where(F.col(value_col).isNotNull()).select(
        F.col(split_col).alias("__s"),
        F.col(value_col).cast("double").alias("__v"),
    ).localCheckpoint(eager=False)
    stats = vals.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))

    def binned(frame: DataFrame, out: str) -> DataFrame:
        return (
            frame.crossJoin(F.broadcast(stats))
            .select(_hist_bin(bins).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(out))
        )

    split = F.pmod(F.xxhash64(F.col("__s")), F.lit(n_splits))
    partials = [
        binned(vals.where(split == i), "cnt") for i in range(n_splits)
    ]
    merged = (
        reduce(DataFrame.unionByName, partials)
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt_merged"))
    )
    global_c = binned(vals, "cnt_global")
    return merged.join(global_c, "bin", "full_outer").select(
        "bin",
        F.col("cnt_merged").cast("long").alias("cnt_merged"),
        F.col("cnt_global").cast("long").alias("cnt_global"),
    )


def summary_document(
    matched: DataFrame,
    unmatched: DataFrame,
    meta: dict[str, str],
    amount_col: str = "approved_transaction_amount",
    id_col: str = "_id",
) -> DataFrame:
    """Single-row run-summary document — the reference's aggregated-results
    Mongo doc shape (second_conciliate.py:465-478): run-metadata literal
    columns (execution id/type/date, processor, currency — P5 literal
    plumbing) around matched/remanent counts and DECIMAL-routed amount
    sums. Two one-row aggregates joined by a broadcast cross — constant
    cost at any scale."""

    def one_row(df: DataFrame, prefix: str) -> DataFrame:
        return df.agg(
            *_count_and_amount(
                df, amount_col, id_col, f"{prefix}_transactions_number", f"{prefix}_amount"
            )
        )

    doc = one_row(matched, "conciliated").crossJoin(one_row(unmatched, "remanent"))
    for name, value in meta.items():
        doc = doc.withColumn(name, F.lit(value))
    return doc.select(
        *[F.col(c) for c in meta],
        "conciliated_transactions_number",
        "remanent_transactions_number",
        "conciliated_amount",
        "remanent_amount",
    )


def mad_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-key anomaly summary via Median Absolute Deviation: for
    each key, the nearest-rank median of ``value_col``, the nearest-rank
    median of |value − median| (the MAD), and how many rows deviate more
    than ``k·MAD`` — the standard robust outlier rule (unlike mean/stddev,
    a handful of extreme values cannot drag the threshold).

    Exactness: both medians are :func:`bucket_quantiles` at 0.5, so
    actual data values at the integer nearest rank; deviations are single
    IEEE subtractions, and the k·MAD comparison runs identically in the
    SQL oracle — no interpolation anywhere, so the whole frame
    hash-compares.

    Scale shape: each median is a per-key rank window plus a
    one-row-per-key aggregate, and the final count is one more aggregate
    on the key — per-key sorts only, no global sort. The median frames
    are key-sized, so adaptive execution broadcasts them into their joins
    back onto the rows."""
    med = bucket_quantiles(df, key_col, value_col, (0.5,)).select(
        F.col(key_col), F.col("q5").alias("med")
    )
    dev = df.select(key_col, value_col).join(med, key_col).withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = bucket_quantiles(dev, key_col, "__dev", (0.5,)).select(
        F.col(key_col), F.col("q5").alias("mad")
    )
    return (
        dev.join(mad, key_col)
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.count(
                F.when(F.col("__dev") > F.lit(k) * F.col("mad"), 1)
            ).alias("n_outliers"),
        )
    )
