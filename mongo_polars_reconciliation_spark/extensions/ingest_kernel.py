"""Shared admission kernel of the incremental-ingest family.

Three ingest operators answer the same "new dump arrived" question over
different content spaces — text MinHash bands
(``extensions/dedup.py:ingest_novel_neardup``), embedding probe blocks
(``extensions/similarity.py:ingest_novel_semantic``), binary payload
chunks (``extensions/multimodal.py:ingest_novel_payloads``) — and the
reference's own ingest loop is the same decision over Mongo state
(``second_conciliate.py:420-447``: read persisted state, admit only
novel rows, append). What differs per family is the CANDIDATE GENERATOR
and the VERIFIER (exact Jaccard over shingles / 6-dp cosine / shared
aligned-block fraction); what never differs is the state discipline.
This module is that discipline, extracted verbatim from the three
function bodies:

- :func:`digest_novel_keepers` — phase 1: within-batch exact collapse
  to the deterministic min-id keeper per content digest, then the
  LEFT ANTI join against the persisted digest ledger. One map-side
  combined aggregate over the BATCH plus one anti-join whose stored
  side is bucketed by the digest in production — history never
  reshuffles and is never rescanned.
- :func:`combined_cap_keys` — the hot-bucket guard: per-key population
  counted over the batch's keys PLUS the state rows those keys touch
  (the caller restricts the state side to touched buckets first, via
  the bucketed semi-join that reads only matching buckets), over-cap
  keys dropped from both sides. A bucket that common is boilerplate
  collision — genuinely similar items still meet in their other keys.
- :func:`greedy_admit` — sequential-arrival admission over the
  verified near-dup pair graph: the greedy maximal independent set in
  id order, the one rule that makes batched ingest equal doc-at-a-time
  ingest (batch-split indifference + redelivery-admits-nothing; both
  properties pinned per family in tests/test_properties.py).
- :func:`admit_sequential` — the phase-3 tail every family ends with:
  checkpoint the verified edge set (it is consumed three times — both
  legs of the paired-node union and the greedy loop's own leaf), admit
  unpaired survivors outright, run :func:`greedy_admit` over the rest.

Family-specific invariants stay at the call sites with their
narratives: the self-pair filter and ghost-row replay semantics (the
crash-window story differs per state layout), the
distinct-after-touched-semi-join duplicate-state-row rule (pair-level
for the text family, row-level for payload blocks whose verifier
COUNTS rows), and the survivor-exclusion rule on the history doc side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.session import materialize


def digest_novel_keepers(
    batch_digests: DataFrame,
    state_digests: DataFrame,
    id_col: str,
    hash_col: str,
) -> DataFrame:
    """Phase 1 of every digest-led ingest: collapse the arriving batch to
    ONE keeper per content digest (min id — deterministic, not
    order-dependent like Polars ``unique(keep='first')``), then drop
    every digest already in the persisted ledger.

    ``batch_digests`` is the batch projected to (``id_col``, ``__dg``) —
    the family owns its digest expression (text md5 with the NULL→''
    rule, payload md5 with the NULL→empty-binary rule, both pinned at
    the call sites). ``state_digests`` is any frame carrying
    ``hash_col`` (the accumulated ledger). Returns (id_col, __dg) of
    the novel keepers, un-checkpointed — callers place the plan
    boundary where their consumption pattern needs it.

    Scale shape: one digest hash-aggregate over the batch (map-side
    combine; the batch, not history, is scanned) + one LEFT ANTI join
    on the digest. A production ledger is BUCKETED by the digest
    (``write_bucketed_state``), so the anti-join is shuffle-free on the
    (huge) stored side and only the new batch moves (plan-pinned in
    tests/test_bucketing.py)."""
    return (
        batch_digests.groupBy("__dg")
        .agg(F.min(id_col).alias(id_col))
        .join(
            state_digests.select(F.col(hash_col).alias("__dg")),
            "__dg",
            "left_anti",
        )
    )


def combined_cap_keys(
    batch_keys: DataFrame,
    state_keys: DataFrame,
    key_col: str,
    max_bucket_size: int,
) -> DataFrame:
    """Hot-bucket guard over the COMBINED per-key population: the
    batch's own key rows plus the state rows those keys touch. Returns
    the under-cap key frame; the caller semi-joins both sides to it.

    ``state_keys`` must already be restricted to touched buckets (the
    bucketed key semi-join — exchange-free on the stored side, reading
    only matching buckets, never a full state re-aggregation); counting
    an unrestricted state here would re-aggregate all of history, the
    exact scan this family exists to avoid. The left join keeps
    batch-only keys (no state contribution counts as 0). Capped ≡
    uncapped wherever no bucket exceeds the cap (pinned per family in
    tests/test_lsh_cap.py); a dropped bucket's candidates would have
    failed verification anyway on real boilerplate collisions."""
    nb = batch_keys.groupBy(key_col).agg(F.count(F.lit(1)).alias("__nb"))
    nh = state_keys.groupBy(key_col).agg(F.count(F.lit(1)).alias("__nh"))
    return (
        nb.join(nh, key_col, "left")
        .where(
            F.col("__nb") + F.coalesce(F.col("__nh"), F.lit(0))
            <= max_bucket_size
        )
        .select(key_col)
    )


def greedy_admit(
    candidates: DataFrame,
    edges: DataFrame,
    id_col: str,
    max_iter: int = 25,
) -> DataFrame:
    """Sequential-arrival admission over a verified near-dup pair graph:
    admit a doc iff NO already-ADMITTED lower id is a verified near-dup
    of it — the greedy maximal independent set in id order, which is the
    one rule that makes batched ingest equal doc-at-a-time ingest
    (admission is indifferent to batch boundaries that respect id order,
    and re-delivering an ingested batch admits nothing: every rejected
    doc is, by construction, a verified near-dup of an admitted lower
    doc that now sits in the state).

    Keep-lowest-per-PAIR (curation's rule) or per-CLUSTER (connected
    components) both break that contract: a doc can be dropped because
    of a neighbor that itself was never admitted, so on re-delivery (or a
    different batch split) nothing in the state blocks it and it slips
    in. Pinned on those counter-example shapes in
    tests/test_properties.py.

    Iterative topological wave, one join + one groupBy per round: a node
    is REJECTED once any lower neighbor is admitted, ADMITTED once every
    lower neighbor is rejected (vacuously, when it has none). Statuses
    are final once decided, so rounds needed = longest dependency chain
    in the pair DAG (tiny for real near-dup graphs); ``max_iter`` is the
    loud safety bound, and oracle-facing callers pin it to the unrolled
    round count of their SQL mirror so the engines cannot silently
    diverge. Status frames are localCheckpoint'ed per round (the lineage
    lesson of dedup_clusters). The per-round ``.count()`` is the one
    bounded driver-side loop the ingest family keeps — it reads a
    status frame of |paired batch nodes| rows, never the corpus.

    Both inputs go through ``session.materialize`` at entry: an input
    that already is a checkpoint leaf or cached (``admit_sequential``
    passes both that way) is read as is, so the loop's map-only
    projections sit straight on the caller's leaf instead of copying it
    through one more job; a raw input is checkpointed once."""
    e = materialize(edges).select(F.col("lo"), F.col("hi"))
    status = materialize(candidates).select(
        F.col(id_col).alias("node"), F.lit("U").alias("st")
    )
    for _ in range(max_iter):
        low = (
            e.join(status, e["lo"] == status["node"])
            .groupBy("hi")
            .agg(
                F.max((F.col("st") == "A").cast("int")).alias("any_a"),
                F.max((F.col("st") != "R").cast("int")).alias("any_nonr"),
            )
        )
        status = (
            status.join(low, status["node"] == low["hi"], "left")
            .select(
                F.col("node"),
                F.when(F.col("st") != "U", F.col("st"))
                .when(F.col("any_a") == 1, F.lit("R"))
                .when(F.coalesce(F.col("any_nonr"), F.lit(0)) == 0, F.lit("A"))
                .otherwise(F.lit("U"))
                .alias("st"),
            )
            .localCheckpoint(eager=False)
        )
        if status.where(F.col("st") == "U").count() == 0:
            return status.where(F.col("st") == "A").select(
                F.col("node").alias(id_col)
            )
    raise RuntimeError(
        f"greedy_admit did not converge in {max_iter} rounds — the verified "
        "pair graph has a dependency chain longer than the bound; raise "
        "max_iter (and the oracle's unrolled round count with it)"
    )


def admit_sequential(
    kept_ids: DataFrame,
    edges: DataFrame,
    id_col: str,
    mis_max_iter: int = 25,
) -> DataFrame:
    """The phase-3 tail shared by every ingest family: given the
    history-clean survivor ids and their verified within-batch near-dup
    edges (lo < hi, both survivors — a history-dropped doc is never
    admitted, so it cannot block anyone: sequential semantics), admit
    the unpaired survivors outright and run :func:`greedy_admit` over
    the paired ones. Returns the admitted id frame.

    The edge set is checkpointed HERE because this tail consumes it
    three times (both legs of the paired-node union and the greedy
    loop's own leaf) — callers pass the raw verified frame and must not
    stack a second boundary under it. :func:`greedy_admit` reads both
    checkpoints as is."""
    edges = edges.localCheckpoint(eager=False)
    paired = (
        edges.select(F.col("lo").alias(id_col))
        .unionByName(edges.select(F.col("hi").alias(id_col)))
        .distinct()
        .localCheckpoint(eager=False)
    )
    admitted_mis = greedy_admit(paired, edges, id_col, mis_max_iter)
    unpaired = kept_ids.join(paired, id_col, "left_anti")
    return unpaired.unionByName(admitted_mis)
