"""Exact multi-key match with deterministic duplicate arbitration.

Reference: ``Reconciliator.match_records`` + ``_process_duplicates``
(src/reconciliatior.py:66-74, 20-59) — SURVEY.md §2.3 J1 / §2.4.

Join shape: N-key inner equi-join A⋈B. Polars consumes the right-side key
columns; we reproduce that output schema by dropping B's ``ext_`` key columns
after the join (the ``exd_`` copies carry the values, exactly why the
reference creates them).

Arbitration: when one A row (``_id``) matches k>1 B rows, the reference keeps
the *first* candidate in join-output order and returns the *last* to the
external-residual bucket (middle candidates vanish — k≥3 bug). Join-output
order is incidental in Polars and nonexistent in Spark, so the engine's
contract is explicit: candidate order = ``ext_file_row_number`` ascending
(B's file order). ``strict_compat=True`` reproduces the middle-candidate
drop; default sends every loser back.

Physical plan (``match_candidates``): one equi-join on the key pairs —
sort-merge, or broadcast when AQE sizes B under
``autoBroadcastJoinThreshold`` — and one arbitration window. There is no
second plan for hot keys: skew is left to AQE's skew-join splitting (on in
session.py). Arbitration adds one shuffle on ``_id``; the window is per id
(no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.config import ReconConfig


def _join_cond(a: DataFrame, b: DataFrame, cfg: ReconConfig):
    return [
        a[ka] == b[kb] for ka, kb in zip(cfg.a_columns, cfg.b_columns, strict=True)
    ]


def match_candidates(
    a: DataFrame,
    b: DataFrame,
    cfg: ReconConfig,
    cache=None,
) -> DataFrame:
    """Inner-join A⋈B on the key pairs and rank each A row's candidates by
    B file order — the shared substrate for winners, losers AND residuals
    (everything downstream anti-joins this by single-column identity
    instead of re-shuffling A/B on the full keys)."""
    joined = a.join(b, _join_cond(a, b, cfg), "inner")
    # B's keys go by NAME: ``prepare_external`` gives every B column the
    # ``ext_`` prefix, so the names are exact and never collide with A's
    joined = joined.drop(*cfg.b_columns)
    w = Window.partitionBy(cfg.id_col).orderBy(
        F.col(cfg.ext_row_number_col).asc_nulls_last()
    )
    ranked = joined.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__cnt", F.count(F.lit(1)).over(Window.partitionBy(cfg.id_col))
    )
    if cache is not None:
        # winners, losers and both residual derivations read this frame —
        # materialize the join/window once
        ranked = cache(ranked)
    return ranked


def split_winners_losers(
    ranked: DataFrame, cfg: ReconConfig
) -> tuple[DataFrame, DataFrame]:
    """Split ranked candidates into ``(matched, loser_b_rows)``.

    ``matched``: one row per matched A row (winner candidate), schema =
    A columns + B's non-key ``ext_`` columns + ``exd_`` key copies.
    ``loser_b_rows``: losing B candidates reconstructed to the prepared-B
    schema (``ext_`` keys restored from ``exd_``, src/reconciliatior.py:44-51)
    — the caller appends them to the external residual bucket.
    """
    joined = ranked.drop("__rn", "__cnt")
    matched = ranked.where(F.col("__rn") == 1).drop("__rn", "__cnt")

    if cfg.strict_compat:
        # faithful bug: only the LAST candidate of each duplicated group goes
        # back; middles vanish (unique(keep="last"), reconciliatior.py:24-26)
        losers = ranked.where((F.col("__cnt") > 1) & (F.col("__rn") == F.col("__cnt")))
    else:
        losers = ranked.where(F.col("__rn") > 1)

    ext_cols = [c for c in joined.columns if c.startswith(cfg.ext_prefix)]
    exd_cols = [c for c in joined.columns if c.startswith(cfg.key_copy_prefix)]
    # restore ONLY the ext_ key columns this pass's join consumed: under a
    # reduced key set (cascade pass 2+) the other exd_ copies still have
    # their live ext_ column, and restoring those too would duplicate names
    restored = [
        exd
        for exd in exd_cols
        if cfg.ext_prefix + exd.removeprefix(cfg.key_copy_prefix) not in ext_cols
    ]
    loser_b = losers.select(
        *[F.col(c) for c in ext_cols],
        *[F.col(exd).alias(cfg.ext_prefix + exd.removeprefix(cfg.key_copy_prefix))
          for exd in restored],
        *[F.col(c) for c in exd_cols],
    )
    return matched, loser_b


def match_records(
    a: DataFrame, b: DataFrame, cfg: ReconConfig
) -> tuple[DataFrame, DataFrame]:
    """One-call form: ``(matched, loser_b_rows)`` (reference
    ``match_records`` + ``_process_duplicates``, src/reconciliatior.py:66-74,
    20-59). The pipeline uses the decomposed ``match_candidates`` +
    ``split_winners_losers`` so residuals can reuse the candidate frame."""
    return split_winners_losers(match_candidates(a, b, cfg), cfg)
