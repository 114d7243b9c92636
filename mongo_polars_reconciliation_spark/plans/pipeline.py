"""Multi-pass reconciliation cascade (SURVEY.md §2.8, §3.4).

Reference control flow (``Reconciliator`` + ``new_rc_step``,
src/reconciliatior.py:13-17, 201-206; intended cascade shown in
src/reconciliation.py:66-73): five accumulator buckets grown by diagonal
concat across passes; after each pass the residuals become the next pass's
inputs.

Spark port fixes the reference's recomputation anti-pattern
(second_conciliate.py:513-544 re-executes the plan per ``collect``): inputs
and residuals are materialized between passes — each pass's match + two
anti-joins reuse one pair of cached inputs.

Materialization: a cascade is a *deep* plan — each pass's logical tree
embeds every earlier pass — and with AQE every shuffle stage re-optimizes
the full tree, so driver-side planning time would grow quadratically in
pass count while executors sit idle. Pass inputs, residuals and each
pass's candidate frame therefore go through ``localCheckpoint``:
executor-memory storage plus lineage truncation, the eager-materialization
semantics the reference engine has anyway (Polars collects per step). The
trade: a lost executor forces a job restart instead of partition
recompute. A frame the caller already cached, or one that already is a
checkpoint leaf, is used as is.

Exact passes take an optional ``hot_threshold``: the pass then matches
through ``match_candidates``' hot-key split plan, whose output is
bit-identical to the plain plan (operators/match.py), so only the physical
join strategy changes.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame

from mongo_polars_reconciliation_spark.config import (
    ReconConfig,
    ToleranceRule,
    ZeroEffectRule,
)
from mongo_polars_reconciliation_spark.operators.match import (
    hot_match_keys,
    match_candidates,
    split_winners_losers,
)
from mongo_polars_reconciliation_spark.operators.residuals import (
    residuals_from_candidates,
)
from mongo_polars_reconciliation_spark.operators.summary import run_summary
from mongo_polars_reconciliation_spark.operators.tolerance import apply_tolerance
from mongo_polars_reconciliation_spark.operators.zero_effect import apply_zero_effect


@dataclass(frozen=True)
class ExactPass:
    """Exact multi-key match + residuals (match_records / not_match_records).

    ``keys``: optional per-pass key set (a subset of the run config's pairs,
    since the prepared B frame only carries ``ext_``/``exd_`` columns for
    those) — the reference's cascade re-matches residuals on different key
    configs between steps (src/reconciliation.py:66-73, new_rc_step).

    ``hot_threshold``: when set, key tuples with at least this many combined
    A+B rows (``hot_match_keys``) join through a broadcast of B's hot slice
    and the rest sort-merges. The output is bit-identical to the plain
    plan; set it for fanout-heavy hot keys, not for any frequent key.
    ``None`` keeps the plain plan, where AQE picks the join by size."""

    keys: tuple = ()
    hot_threshold: int | None = None


@dataclass(frozen=True)
class TolerancePass:
    """Reduced-key tolerance re-match (apply_tolerance)."""

    rules: tuple[ToleranceRule, ...]


def _union(acc: DataFrame | None, df: DataFrame) -> DataFrame:
    return df if acc is None else acc.unionByName(df, allowMissingColumns=True)


@dataclass
class Reconciliation:
    """Accumulator-bucket pipeline mirroring the Reconciliator API
    (src/reconciliatior.py:6-18) with checkpointed pass transitions."""

    cfg: ReconConfig
    a_df: DataFrame
    b_df: DataFrame
    a_to_b_mt: DataFrame | None = None
    a_to_b_nmt: DataFrame | None = None
    b_to_a_nmt: DataFrame | None = None
    z_eff_a: DataFrame | None = None
    iterations: int = 1
    _persisted: list[DataFrame] = field(default_factory=list)
    # candidate frame of the current pass's match, consumed by
    # not_match_records for id-based residual derivation
    _candidates: DataFrame | None = None

    def _persist(self, df: DataFrame) -> DataFrame:
        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            return df  # already cached by the caller
        if df._jdf.queryExecution().analyzed().getClass().getSimpleName() == (
            "LogicalRDD"
        ):
            return df  # already a checkpoint leaf — don't copy it again
        df = df.localCheckpoint(eager=False)
        self._persisted.append(df)
        return df

    def apply_zero_effect(self, rules: list[ZeroEffectRule]) -> None:
        clean, pairs = apply_zero_effect(
            self.a_df, rules, self.cfg.id_col, cache=self._persist
        )
        self.a_df = self._persist(clean)
        self.z_eff_a = _union(self.z_eff_a, pairs)

    def match_records(self, hot_threshold: int | None = None) -> None:
        # the split plan re-reads both inputs; run()/new_rc_step() have
        # already checkpointed them, as match_candidates requires
        hot_keys = (
            None
            if hot_threshold is None
            else hot_match_keys(self.a_df, self.b_df, self.cfg, hot_threshold)
        )
        ranked = match_candidates(
            self.a_df, self.b_df, self.cfg, hot_keys=hot_keys, cache=self._persist
        )
        matched, loser_b = split_winners_losers(ranked, self.cfg)
        self._candidates = ranked
        self.a_to_b_mt = _union(self.a_to_b_mt, matched)
        self.b_to_a_nmt = _union(self.b_to_a_nmt, loser_b)

    def not_match_records(self) -> None:
        """Both residuals of the current pass, derived from its candidate
        frame (residual membership is id-based, so the match's one key
        shuffle is reused — see ``residuals_from_candidates``)."""
        if self._candidates is None:
            raise ValueError("not_match_records needs a prior match_records")
        a_res, b_res = residuals_from_candidates(
            self.a_df, self.b_df, self._candidates, self.cfg
        )
        self._candidates = None
        self.a_to_b_nmt = _union(self.a_to_b_nmt, a_res)
        self.b_to_a_nmt = _union(self.b_to_a_nmt, b_res)

    def apply_tolerance(self, rules: list[ToleranceRule]) -> None:
        matched, a_resid, b_resid = apply_tolerance(
            self.a_df, self.b_df, self.cfg, list(rules), cache=self._persist
        )
        self.a_to_b_mt = _union(self.a_to_b_mt, matched)
        # tolerance *recomputes* both residual buckets (reconciliatior.py:143-148)
        self.a_to_b_nmt = a_resid
        self.b_to_a_nmt = b_resid

    def new_rc_step(self) -> None:
        """Residuals become next pass's inputs (src/reconciliatior.py:201-206)."""
        self.a_df = self._persist(self.a_to_b_nmt)
        self.b_df = self._persist(self.b_to_a_nmt)
        self.a_to_b_nmt = None
        self.b_to_a_nmt = None
        self.iterations += 1

    def run(
        self,
        passes: list[ExactPass | TolerancePass],
        zero_effect_rules: list[ZeroEffectRule] | None = None,
    ) -> dict[str, DataFrame]:
        """Execute a cascade (reference intended order: exact → tolerance →
        exact, src/reconciliation.py:66-73) and return the final buckets."""
        self.a_df = self._persist(self.a_df)
        self.b_df = self._persist(self.b_df)
        if zero_effect_rules:
            self.apply_zero_effect(zero_effect_rules)
        base_cfg = self.cfg
        for i, p in enumerate(passes):
            if isinstance(p, ExactPass):
                if p.keys:
                    self.cfg = replace(base_cfg, keys=list(p.keys))
                self.match_records(hot_threshold=p.hot_threshold)
                self.not_match_records()
                self.cfg = base_cfg
            else:
                self.apply_tolerance(list(p.rules))
            if i < len(passes) - 1:
                self.new_rc_step()
        return self.buckets()

    def buckets(self) -> dict[str, DataFrame]:
        empty_a = self.a_df.limit(0)
        return {
            "a_to_b_mt": self.a_to_b_mt if self.a_to_b_mt is not None else empty_a,
            "a_to_b_nmt": self.a_to_b_nmt if self.a_to_b_nmt is not None else empty_a,
            "b_to_a_nmt": self.b_to_a_nmt if self.b_to_a_nmt is not None else self.b_df.limit(0),
            "z_eff_a": self.z_eff_a if self.z_eff_a is not None else empty_a,
        }

    def summary(self, amount_col: str, id_col: str | None = None) -> DataFrame:
        return run_summary(
            self.buckets(), amount_col=amount_col, id_col=id_col or self.cfg.id_col
        )

    def unpersist(self) -> None:
        """Drop this run's references to its checkpoints; the ContextCleaner
        frees their blocks once no other frame refers to them."""
        self._persisted.clear()
