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

Physical plans (``match_candidates``): by default one sort-merge (or, when
AQE sizes B under ``autoBroadcastJoinThreshold``, broadcast) join on the
keys. With a ``hot_keys`` frame the join is split: hot key tuples join via a
broadcast of B's hot slice and the rest sort-merge. Invariants of the split:

- it partitions the key space, and an inner equi-join distributes over that
  partition, so the output is bit-identical to the plain plan;
- one arbitration window runs over the union of the two branches, never one
  per branch (an ``_id`` has one key tuple, so its candidate group lives in
  one branch, but ``__cnt`` must not depend on that);
- the plan reads A and B three times (key aggregate, semi/anti split, match
  join), so the inputs must be materialized before it — the cascade
  checkpoints its pass inputs and the harness faces read checkpointed
  fixtures.

Arbitration adds one shuffle on ``_id``; the window is per-key-group (no
global sort) and AQE handles skewed ids.
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
    hot_keys: DataFrame | None = None,
    cache=None,
) -> DataFrame:
    """Inner-join A⋈B on the key pairs and rank each A row's candidates by
    B file order — the shared substrate for winners, losers AND residuals
    (everything downstream anti-joins this by single-column identity
    instead of re-shuffling A/B on the full keys).

    ``hot_keys`` (A-named key tuples, e.g. from ``hot_match_keys``) selects
    the split plan (module docstring): rows with a hot key tuple join
    through a broadcast of B's hot slice, the rest sort-merge. It pays off
    on fanout-heavy keys — a key hot on BOTH sides builds its whole nA·nB
    fanout in one merge task, which AQE skew splitting (streamed side only)
    cannot break up; a merely frequent key with trivial fanout makes the
    split pure overhead. The hot-key frame is aggregate-sized and broadcast
    for the semi/anti splits; materialize a caller-supplied one if its
    lineage is expensive."""
    if hot_keys is None:
        joined = a.join(b, _join_cond(a, b, cfg), "inner")
    else:
        hk_b = hot_keys.select(
            *[
                F.col(ka).alias(kb)
                for ka, kb in zip(cfg.a_columns, cfg.b_columns, strict=True)
            ]
        )

        def split(df: DataFrame, hk: DataFrame, keys: list[str], how: str):
            # USING-join semantics pull the keys to the front; re-select the
            # original order so both branches share one schema
            return df.join(F.broadcast(hk), on=keys, how=how).select(*df.columns)

        a_hot = split(a, hot_keys, cfg.a_columns, "left_semi")
        a_rest = split(a, hot_keys, cfg.a_columns, "left_anti")
        b_hot = split(b, hk_b, cfg.b_columns, "left_semi")
        b_rest = split(b, hk_b, cfg.b_columns, "left_anti")
        rest = a_rest.join(b_rest, _join_cond(a_rest, b_rest, cfg), "inner")
        hot = a_hot.join(F.broadcast(b_hot), _join_cond(a_hot, b_hot, cfg), "inner")
        joined = rest.unionByName(hot)
    # B's keys go by NAME: the split branches share the hot-key subtree, so
    # the analyzer re-assigns the right side's expression IDs and a
    # drop-by-reference would silently no-op. ``prepare_external`` gives
    # every B column the ``ext_`` prefix, so the names are exact.
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
    a: DataFrame,
    b: DataFrame,
    cfg: ReconConfig,
    hot_keys: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One-call form: ``(matched, loser_b_rows)`` (reference
    ``match_records`` + ``_process_duplicates``, src/reconciliatior.py:66-74,
    20-59). The pipeline uses the decomposed ``match_candidates`` +
    ``split_winners_losers`` so residuals can reuse the candidate frame."""
    return split_winners_losers(match_candidates(a, b, cfg, hot_keys=hot_keys), cfg)


def hot_match_keys(
    a: DataFrame, b: DataFrame, cfg: ReconConfig, hot_threshold: int
) -> DataFrame:
    """Key tuples whose COMBINED row count (A side + B side) reaches
    ``hot_threshold`` — the keys whose sort-merge task would be a monster
    at scale (per-key join fanout nA·nB ≤ (combined/2)², so the combined
    count bounds it). SURVEY §4 names the reconciliation keys as
    skew-prone at 100× — VOID rows cluster on amounts, a hot settlement
    date dominates a day's file (reference keys: src/config.py:10-20).

    One union-all of the two key projections + one hash aggregate (map-side
    combine), mirroring the ingest kernel's ``combined_cap_keys``
    discipline: counting both sides, not just one, catches skew whichever
    side carries it. Returns the key frame A-named; it stays a DataFrame —
    never collected — and is broadcast by the caller for the semi/anti
    splits. NULL key components land in the frame harmlessly: equality
    semi-joins never match them, so NULL-keyed rows stay in the
    sort-merge branch, where the inner join drops them exactly as the
    unsalted join does."""
    ka = cfg.a_columns
    keys_a = a.select(*[F.col(c) for c in ka])
    keys_b = b.select(
        *[F.col(kb).alias(kaa) for kaa, kb in zip(ka, cfg.b_columns, strict=True)]
    )
    return (
        keys_a.unionByName(keys_b)
        .groupBy(*ka)
        .agg(F.count(F.lit(1)).alias("__nk"))
        .where(F.col("__nk") >= F.lit(hot_threshold))
        .select(*ka)
    )


def hot_match_keys_auto(
    a: DataFrame,
    b: DataFrame,
    cfg: ReconConfig,
    broadcast_budget_rows: int = 1_000_000,
    min_fanout: int = 32,
) -> DataFrame:
    """Budget-derived hot-key frame for ``match_candidates(hot_keys=...)``:
    a deterministic sizing rule for "hot keys are few and B's hot slice is
    broadcastable" instead of a hand-picked threshold.

    Rule: rank key tuples by combined A+B row count descending (ties
    broken by the key values, so the pick is deterministic), then keep
    the fattest keys while their CUMULATIVE B-side row count still fits
    ``broadcast_budget_rows`` — the budget bounds exactly what the hot
    branch broadcasts (B's hot slice), so the chosen set is
    broadcastable BY CONSTRUCTION. ``min_fanout`` floors the candidate
    set: keys below it never pay the split (fanout-light keys are cheaper
    on the plain sort-merge).

    Candidate filters, applied before ranking, drop key tuples that can
    never usefully occupy the budget: (1) tuples with any NULL component
    (the equality semi-joins never match them, so a large NULL cluster
    must not crowd out real hot keys; NULL-keyed rows stay in the
    sort-merge branch either way); (2) tuples with ZERO B-side rows
    (nothing to broadcast, no match possible); (3) tuples whose B slice
    ALONE exceeds the budget (skipped, so one un-broadcastable monster
    cannot disable the split for later keys that do fit). Within the
    individually-fitting set the rule admits a maximal PREFIX: if the
    prefix overflows at key i, later smaller keys are not back-filled.
    The prefix rule never overfills, and any prefix is a valid key-space
    partition, so this costs only optional coverage, never correctness.

    Scale bound: the surviving candidates are pre-pruned to the
    ``broadcast_budget_rows / min_fanout`` fattest keys by a distributed
    top-K (``TakeOrderedAndProject``, executor-side) BEFORE the
    cumulative window, so the global ranking window's input is
    aggregate-sized on any key distribution. The cap is exact at the
    design point (every admitted key carries ≥ min_fanout B rows); past
    it the rule keeps the cap-many fattest — still a budget-respecting
    prefix, and the split is bit-identical under ANY key-space
    partition.

    Everything stays a DataFrame — one union-all key aggregate (the same
    shape ``hot_match_keys`` builds, plus a per-side count), filters, a
    distributed top-K, one window — nothing is collected to the driver.
    Budget sizing: a broadcast row of the prepared-B schema is a few
    hundred bytes, so the 1M-row default targets the few-hundred-MB
    broadcast range; size it to executor memory, not to the data
    volume."""
    ka = cfg.a_columns
    keys_a = a.select(*[F.col(c) for c in ka]).withColumn("__b", F.lit(0))
    keys_b = b.select(
        *[F.col(kb).alias(kaa) for kaa, kb in zip(ka, cfg.b_columns, strict=True)]
    ).withColumn("__b", F.lit(1))
    non_null = F.lit(True)
    for c in ka:
        non_null = non_null & F.col(c).isNotNull()
    counts = (
        keys_a.unionByName(keys_b)
        .groupBy(*ka)
        .agg(
            F.count(F.lit(1)).alias("__nk"),
            F.sum("__b").alias("__nb"),
        )
        .where(F.col("__nk") >= F.lit(min_fanout))
        .where(non_null)
        .where(F.col("__nb") >= F.lit(1))
        .where(F.col("__nb") <= F.lit(broadcast_budget_rows))
    )
    order = [F.col("__nk").desc(), *[F.col(c).asc_nulls_last() for c in ka]]
    cap = max(1, broadcast_budget_rows // max(min_fanout, 1))
    pruned = counts.orderBy(*order).limit(cap)
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        pruned.withColumn("__cum_nb", F.sum("__nb").over(w))
        .where(F.col("__cum_nb") <= F.lit(broadcast_budget_rows))
        .select(*ka)
    )
