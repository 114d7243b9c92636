"""End-to-end training-data curation pipeline — the composition showcase.

Chains the extension operators the way a 100 TB corpus build would:
exact dedup → MinHash-LSH near-dup removal → quality gate → per-language
corpus statistics. Every stage is one of the already-tested operators
(extensions/dedup.py, extensions/text.py); this module only wires them, so
the scale properties are the stages' own: hash-groupBy dedup, LSH bucket
joins (never all-pairs), JVM-side text scoring, DECIMAL-routed aggregates.

Drop rule for near-dup pairs: a document is removed iff it appears as the
``id_b`` (higher id) of any verified pair — deterministic keep-lowest, the
standard greedy rule, and exactly mirrorable in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.extensions.dedup import (
    exact_dedup_groups,
    minhash_near_dups,
)
from mongo_polars_reconciliation_spark.extensions.text import (
    floor4,
    fused_doc_scores,
)


def _dedup_head(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    near_dup_threshold: float,
    max_bucket_size: int | None,
    line_dedup: bool = False,
) -> DataFrame:
    """The shared head of both curation pipelines: narrow ``(id, text)``
    scan → exact dedup (min-id keeper) → optional C4 line dedup →
    MinHash-LSH near-dup drop. Returns the surviving ``(id, text)`` rows.

    ONE narrow projection feeds every stage: checkpointing it makes the
    corpus text read once (the exact-dedup digest and the keeper join
    would otherwise each re-scan the source — one full-corpus scan at
    100 TB; neutral at test scale, where the checkpoint write costs about
    what the second tiny scan did). Stage boundaries are
    localCheckpoint'ed: ``kept`` feeds the near-dup stage AND the
    downstream scorers, and without lineage truncation AQE re-analyzes
    the whole upstream tree per shuffle stage (the measured
    driver-planning bottleneck — see plans/pipeline.py)."""
    base = docs.select(F.col(id_col), F.col(text_col)).localCheckpoint(
        eager=False
    )
    keepers = exact_dedup_groups(base, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    kept = base.join(keepers, id_col).localCheckpoint(eager=False)

    if line_dedup:
        from mongo_polars_reconciliation_spark.extensions.text import (
            line_dedup_trim,
        )

        # C4 line stage: trim every corpus-repeated line to its first
        # global occurrence and feed the CLEANED text downstream; docs
        # that empty out are dropped here (n_kept = 0, the C4 drop rule)
        kept = (
            line_dedup_trim(kept, id_col=id_col, text_col=text_col)
            .where(F.col("n_kept") > 0)
            .select(F.col(id_col), F.col("text_kept").alias(text_col))
            .localCheckpoint(eager=False)
        )

    # near-dup removal — drop the higher id of every verified pair
    pairs = minhash_near_dups(
        kept,
        id_col,
        text_col,
        threshold=near_dup_threshold,
        max_bucket_size=max_bucket_size,
    )
    return kept.join(
        pairs.select(F.col("id_b").alias(id_col)), id_col, "left_anti"
    ).localCheckpoint(eager=False)


def _lang_stats(
    kept: DataFrame, id_col: str, text_col: str, min_quality: float
) -> DataFrame:
    """The shared tail: quality gate + language id + token count in ONE
    map-only projection (:func:`fused_doc_scores`), then per-language
    stats; the quality mean goes through an exact DECIMAL sum so shuffle
    order can't change the rounded result."""
    scored = fused_doc_scores(kept, id_col=id_col, text_col=text_col).where(
        F.col("quality_r") >= min_quality
    )
    return scored.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        floor4(
            F.sum(F.col("quality_r").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_quality_r"),
    )


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    near_dup_threshold: float = 0.6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Per-language stats of the curated corpus: (pred_lang, n_docs,
    total_ws_tokens, avg_quality_r) — exact dedup → near-dup drop →
    quality gate.

    ``max_bucket_size`` is the LSH hot-bucket guard passed through to
    :func:`minhash_near_dups` (see extensions/dedup.py:lsh_candidate_pairs)
    — the production corpus build should set it (default 1000) so one
    boilerplate band key can never turn the bucket self-join into B² pairs;
    ``None`` keeps exact mode. At test scale no bucket approaches the
    default cap, so capped and exact results coincide — pinned on the
    driver fixture by tests/test_lsh_cap.py."""
    kept = _dedup_head(
        docs, id_col, text_col, near_dup_threshold, max_bucket_size
    )
    return _lang_stats(kept, id_col, text_col, min_quality)


def curate_corpus_v2(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    near_dup_threshold: float = 0.6,
    contam_threshold: float = 0.2,
    max_bucket_size: int | None = None,
    lm_threshold_q: int | None = None,
    min_term_sent_ratio: float | None = None,
    min_mwps: float | None = None,
    max_symbol_word_ratio: float | None = None,
    min_alpha_word_frac: float | None = None,
    line_dedup: bool = False,
) -> DataFrame:
    """The FULL corpus build: exact dedup → MinHash-LSH near-dup drop →
    repetition gate (Gopher rule: top-token share > 0.2 or duplicate
    3-gram fraction > 0.3) → benchmark decontamination (drop docs whose
    5-gram overlap fraction with the eval slice reaches
    ``contam_threshold`` — eval-set members themselves overlap 100% and
    are removed from the training corpus, which is the point) → quality
    gate → per-language stats. Same output shape as :func:`curate_corpus`.

    Every stage is an individually-oracle-checked operator; the joins the
    gates add are all left_anti on the doc id (one key-shuffle each, tiny
    build sides — the flagged-doc sets).

    ``lm_threshold_q`` (the v3 face): when set, a corpus-bigram LM
    typicality gate runs after decontamination — the bigram model is
    trained on the SURVIVING corpus itself (post-dedup, post-gates, the
    distribution the score should mean "typical of") and documents whose
    integer-exact mean conditional probability (bigram_lm_scores) falls
    below the threshold are dropped. Docs with no bigrams carry no score
    and pass. None (default) skips the stage entirely — v2 behavior.

    ``min_term_sent_ratio`` / ``min_mwps``: the two C4-residual
    gates real curation runs among its first cuts — drop docs whose
    terminal-punctuation-per-sentence ratio, or mean words per sentence,
    falls below the floor (``fused_doc_scores(c4=True)`` signals; Raffel
    et al. 2020 §2.2). Both are row-local columns in the scorer's single
    projection and the gate is the same left_anti-on-doc-id shape as the
    other gates — zero new shuffles beyond it. None (default) skips.

    ``max_symbol_word_ratio`` / ``min_alpha_word_frac``: two Gopher
    rule gates (Rae et al. 2021 §A1.1.1) — drop docs whose '#'+'...'
    symbol-per-word ratio exceeds the cap (Gopher uses 0.1) or whose
    share of words containing an alphabetic character falls below the
    floor (Gopher uses 0.8). Same row-local-signal + left_anti-on-doc-id
    shape as the C4 gates; None (default) skips.

    The C4 and Gopher gates share ONE
    ``fused_doc_scores(c4=…, gopher=…)`` projection, so ``kept`` is
    scanned once for both families. All four signals are row-local,
    so flagging both families from the same frame and applying one union
    left_anti is value-identical to the sequential gates (pinned by
    test_curation_fused_gates_match_sequential_replay in
    tests/test_properties.py) and saves a full-corpus scan at 100 TB.

    ``line_dedup=True`` (the v4 face): corpus-wide C4 LINE dedup
    runs right after exact dedup — every line repeated anywhere in the
    surviving corpus is trimmed to its first global occurrence
    (``line_dedup_trim``), documents that empty out are dropped, and the
    CLEANED text feeds every downstream stage (near-dup signatures,
    gates, scoring) — boilerplate no longer pollutes MinHash shingles or
    quality signals. Default off: v2/v3 behavior byte-identical."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        contamination_probe,
        repetition_signals,
    )

    kept = _dedup_head(
        docs, id_col, text_col, near_dup_threshold, max_bucket_size,
        line_dedup,
    )

    rep_flagged = (
        repetition_signals(kept, id_col=id_col, text_col=text_col)
        .where(F.col("flag_repetitive"))
        .select(id_col)
    )
    kept = kept.join(rep_flagged, id_col, "left_anti")

    need_c4 = min_term_sent_ratio is not None or min_mwps is not None
    need_gopher = (
        max_symbol_word_ratio is not None or min_alpha_word_frac is not None
    )
    if need_c4 or need_gopher:
        # ONE projection carries every requested gate signal;
        # all four are row-local, so the union of flags from the shared
        # frame + one left_anti equals the old sequential per-family gates
        gate_cond = F.lit(False)
        if min_term_sent_ratio is not None:
            gate_cond = gate_cond | (
                F.col("term_sent_ratio_r") < min_term_sent_ratio
            )
        if min_mwps is not None:
            gate_cond = gate_cond | (F.col("mwps_r") < min_mwps)
        if max_symbol_word_ratio is not None:
            gate_cond = gate_cond | (
                F.col("symbol_word_ratio_r") > max_symbol_word_ratio
            )
        if min_alpha_word_frac is not None:
            gate_cond = gate_cond | (
                F.col("alpha_word_frac_r") < min_alpha_word_frac
            )
        gate_flagged = (
            fused_doc_scores(
                kept,
                id_col=id_col,
                text_col=text_col,
                c4=need_c4,
                gopher=need_gopher,
            )
            .where(gate_cond)
            .select(id_col)
        )
        kept = kept.join(gate_flagged, id_col, "left_anti")

    contam_flagged = (
        contamination_probe(
            kept, benchmark, n=5, id_col=id_col, text_col=text_col
        )
        .where(F.col("contam_frac_r") >= contam_threshold)
        .select(id_col)
    )
    kept = kept.join(contam_flagged, id_col, "left_anti").localCheckpoint(
        eager=False
    )

    if lm_threshold_q is not None:
        from mongo_polars_reconciliation_spark.extensions.text import (
            bigram_lm_scores,
        )

        lm_flagged = (
            bigram_lm_scores(kept, id_col=id_col, text_col=text_col)
            .where(F.col("lm_score_q") < lm_threshold_q)
            .select(id_col)
        )
        kept = kept.join(lm_flagged, id_col, "left_anti").localCheckpoint(
            eager=False
        )

    return _lang_stats(kept, id_col, text_col, min_quality)
