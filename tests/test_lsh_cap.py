"""Hot-bucket cap for LSH candidate generation, and the MinHash band keys.

A degenerate bucket — one band key shared by B docs — makes the LSH
self-join emit B(B-1)/2 pairs; AQE's skew split spreads the shuffle but
cannot shrink the pair count. The cap must (a) skip such buckets BEFORE
the join, (b) keep every pair arising from healthy buckets, and (c) be
auditable via lsh_dropped_buckets.
"""

import pytest
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.extensions.dedup import (
    lsh_candidate_pairs,
    lsh_dropped_buckets,
)


def _sigs(spark, n_docs: int):
    """Band-key frame (doc_id, band, bkey) where band 0 is one constant
    hot bucket across ALL docs, bands 1..3 are unique per doc — except
    docs 0 and 1 share every band (a genuine near-dup pair)."""
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).select(
        "doc_id",
        "band",
        F.when(F.col("band") == 0, F.lit("hot"))
        .when(F.col("doc_id") <= 1, F.lit("twin"))
        .otherwise(F.col("doc_id").cast("string"))
        .alias("bkey"),
    )


def test_cap_skips_hot_bucket_keeps_healthy_pairs(spark):
    n = 10_000
    sigs = _sigs(spark, n)
    # uncapped this join would emit ~50M pairs from band 0 alone; with the
    # cap it must finish fast and keep exactly the twin pair from the
    # healthy bands
    pairs = lsh_candidate_pairs(sigs, max_bucket_size=100)
    assert [tuple(r) for r in pairs.collect()] == [(0, 1)]


def test_dropped_buckets_audit_names_the_hot_bucket(spark):
    n = 5_000
    dropped = lsh_dropped_buckets(_sigs(spark, n), max_bucket_size=100).collect()
    assert len(dropped) == 1
    assert dropped[0]["band"] == 0 and dropped[0]["bsz"] == n


def test_uncapped_equals_generous_cap(spark):
    """On data with no bucket over the cap, capped output == exact output
    (the cap only ever removes over-cap buckets, nothing else)."""
    sigs = _sigs(spark, 60)
    exact = lsh_candidate_pairs(sigs)
    capped = lsh_candidate_pairs(sigs, max_bucket_size=60)
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, capped.collect())
    )


def test_minhash_capped_equals_uncapped_on_fixture(spark):
    """``minhash_near_dups(build_documents_aug, max_bucket_size=1000)``
    at sf0.001 is bit-identical to exact mode, because no fixture bucket
    approaches the cap — the guard is semantics-preserving; the
    cap-ENGAGED behavior is pinned by the hot-bucket tests above."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        minhash_near_dups,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_documents_aug,
    )

    docs = build_documents_aug(spark, "/root/testdata/sf0.001")
    exact = minhash_near_dups(docs)
    capped = minhash_near_dups(docs, max_bucket_size=1000)
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, capped.collect())
    )


def _model_band_keys(text: str, num_hashes: int, bands: int) -> set:
    """Driver-side MinHash band keys of one doc: distinct word 3-gram
    shingles, sid = the polynomial hash mod P, minhash j =
    min((2j+3)·sid + 5j+7) mod P, band b = the '_'-join of minima
    b·r .. b·r+r-1."""
    from mongo_polars_reconciliation_spark.extensions.dedup import MINHASH_P

    toks = text.split(" ")
    sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    sids = []
    for g in sh:
        h = 0
        for c in g:
            h = (h * 31 + ord(c) % MINHASH_P) % MINHASH_P
        sids.append(h)
    if not sids:
        return set()
    mh = [
        min(((2 * j + 3) * s + 5 * j + 7) % MINHASH_P for s in sids)
        for j in range(num_hashes)
    ]
    r = num_hashes // bands
    return {
        f"{b}:" + "_".join(str(m) for m in mh[b * r : (b + 1) * r])
        for b in range(bands)
    }


def test_band_state_keys_match_python_model(spark):
    """The persisted ``bband`` strings (and so the oracle's
    ``STRING_AGG(... ORDER BY j)`` band keys) equal a driver-side Python
    model of the MinHash band keys, at the default geometry and at 6
    bands of 2; a doc under 3 tokens has none."""
    from mongo_polars_reconciliation_spark.extensions.dedup import band_state

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "entirely different content with other words here"),
        (4, "short doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for bands in (4, 6):
        got = sorted(
            tuple(r)
            for r in band_state(docs, num_hashes=12, bands=bands)
            .select("doc_id", "bband")
            .collect()
        )
        want = sorted(
            (d, k) for d, t in rows for k in _model_band_keys(t, 12, bands)
        )
        assert got == want and len(want) == 3 * bands, bands


def test_band_geometry_must_divide_num_hashes(spark):
    """A band count that does not divide ``num_hashes`` is refused with
    both values named — never silently re-banded (12 hashes / 5 bands
    would write 6 bands of 2) nor a bare ZeroDivisionError (13 bands)."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel_neardup,
        minhash_near_dups,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    empty_dg = spark.createDataFrame([], "text_hash string")
    empty_bands = spark.createDataFrame([], "bband string, doc_id long")
    for bands in (5, 13):
        for build in (
            lambda: band_state(docs, num_hashes=12, bands=bands),
            lambda: minhash_near_dups(docs, num_hashes=12, bands=bands),
            lambda: ingest_novel_neardup(
                docs, empty_dg, empty_bands, docs, num_hashes=12, bands=bands
            ),
        ):
            with pytest.raises(ValueError, match=rf"\b{bands}\b.*\b12\b"):
                build()


def _payloads(spark, n_degenerate: int):
    """Payload corpus with one degenerate aligned block: docs 0 and 1 are
    byte-identical (4 unique 64-byte blocks — a genuine exact near-dup
    pair), docs 2..n+1 all START with the same 64-byte zero-run block
    (the shared-header / zero-padding class) followed by unique bytes."""
    uniq = " ".join(f"tok{i:04d}" for i in range(20))[:256].ljust(256, "x")
    rows = [(0, uniq), (1, uniq)]
    zeros = "\x00" * 64
    for i in range(2, n_degenerate + 2):
        rows.append((i, zeros + f"doc{i:08d}".ljust(64, "y")))
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
    )

    return attach_payload(
        spark.createDataFrame(rows, "doc_id long, text string")
    )


def test_payload_cap_skips_hot_block_keeps_healthy_pairs(spark):
    """A corpus-sized bucket of identical
    aligned blocks (zero-padding) must be skipped BEFORE the self-join —
    uncapped, 5k copies of one block emit ~12.5M pairs; capped, the join
    stays bounded and the genuine byte-identical pair (whose similarity
    comes from its own non-degenerate blocks) survives at sim 1.0."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        payload_near_dups,
    )

    mm = _payloads(spark, 5_000)
    got = payload_near_dups(
        mm, block_bytes=64, threshold=0.5, max_bucket_size=100
    ).collect()
    assert [(r["id_a"], r["id_b"], r["block_sim_r"]) for r in got] == [
        (0, 1, 1.0)
    ]


def test_payload_dropped_buckets_audit_names_the_block(spark):
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        payload_dropped_buckets,
    )

    mm = _payloads(spark, 500)
    dropped = payload_dropped_buckets(
        mm, block_bytes=64, max_bucket_size=100
    ).collect()
    assert len(dropped) == 1
    assert dropped[0]["block_no"] == 0 and dropped[0]["bsz"] == 500


def test_payload_capped_equals_uncapped_on_fixture(spark):
    """On the mm payload fixture (no degenerate common block) the capped
    probe is bit-identical to exact mode — the guard is
    semantics-preserving; cap-ENGAGED behavior is pinned by the
    hot-block tests above."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        payload_near_dups,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_mm_payload_aug,
    )

    mm = build_mm_payload_aug(spark, "/root/testdata/sf0.001")
    exact = payload_near_dups(mm, block_bytes=64, threshold=0.5)
    capped = payload_near_dups(
        mm, block_bytes=64, threshold=0.5, max_bucket_size=1000
    )
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, capped.collect())
    )


def test_payload_ingest_cap_bounds_degenerate_history_collisions(spark):
    """The payload ingest's hot-bucket cap guards the HISTORY
    collision join too — 2k history payloads sharing one zero-run block
    would fan every zero-padded batch doc out to all of them; with the
    cap the degenerate key is dropped from both sides BEFORE the join
    (the combined batch+touched-state count), the join stays bounded,
    and admission decisions fall back to the docs' discriminative
    blocks: the byte-exact re-upload is still rejected (digest phase),
    the genuinely novel zero-padded doc still admits."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
    )
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        PayloadFamily,
    )

    zeros = "\x00" * 64
    hist_rows = [
        (i, zeros + f"hist{i:08d}".ljust(64, "h")) for i in range(2000)
    ]
    hist = attach_payload(
        spark.createDataFrame(hist_rows, "doc_id long, text string")
    )
    batch = attach_payload(
        spark.createDataFrame(
            [
                # byte-exact re-upload of hist doc 7 → digest rejection
                (100000, zeros + "hist00000007".ljust(64, "h")),
                # novel zero-padded payload → must admit despite sharing
                # the (capped) degenerate block with all 2000 hist docs
                (100001, zeros + "novel".ljust(64, "n")),
            ],
            "doc_id long, text string",
        )
    )
    family = PayloadFamily(block_bytes=64)
    got = sorted(
        r["doc_id"]
        for r in family.admit(
            batch, family.seed(hist), max_bucket_size=100, mis_max_iter=8
        ).collect()
    )
    assert got == [100001], got


def test_text_ingest_history_cap_equals_uncapped(spark):
    """The text ingest's history collision join honors the
    hot-bucket cap with the combined batch+touched-state count. Two
    pins: (a) on the standard ingest fixture (no hot bucket) capped ≡
    uncapped exactly; (b) on a boilerplate-header corpus — 400 history
    docs sharing a 3-token header whose band key goes corpus-hot while
    every doc's tail is unique — the cap drops the hot key from the
    join, and the admission answer is STILL identical to uncapped,
    because hot-bucket candidates share only boilerplate (Jaccard far
    under threshold) and fail verification anyway."""
    from tests.test_properties import _ingest_case

    family, hist, batch = _ingest_case(spark, "neardup")
    state = family.seed(hist)
    exact = sorted(
        tuple(r) for r in family.admit(batch, state, mis_max_iter=8).collect()
    )
    capped = sorted(
        tuple(r)
        for r in family.admit(
            batch, state, max_bucket_size=1000, mis_max_iter=8
        ).collect()
    )
    assert exact == capped and len(exact) > 0

    boiler = "common0 common1 common2"
    hist2 = spark.createDataFrame(
        [(i, f"{boiler} u{i:05d}a u{i:05d}b u{i:05d}c") for i in range(400)],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [
            (1000, f"{boiler} v00001a v00001b v00001c"),  # novel tail
            # true near-dup of hist doc 7 (drops the last tail token:
            # J = 4/6 >= 0.6) — must still be caught through a
            # NON-boilerplate shared band or, if its only collisions ride
            # the capped key, the capped answer documents the miss; both
            # engines/paths must simply AGREE
            (1001, f"{boiler} u00007a u00007b"),
        ],
        "doc_id long, text string",
    )
    state2 = family.seed(hist2)
    got_exact = sorted(
        r["doc_id"]
        for r in family.admit(batch2, state2, mis_max_iter=8).collect()
    )
    got_capped = sorted(
        r["doc_id"]
        for r in family.admit(
            batch2, state2, max_bucket_size=100, mis_max_iter=8
        ).collect()
    )
    assert got_exact == got_capped, (got_exact, got_capped)
    assert 1000 in got_capped  # the novel doc always admits


def test_capped_plan_is_skew_safe(spark):
    """The CAPPED pair path must not co-locate a bucket's rows before the
    cap can drop it: a window form — ``count(1) over (partition by band,
    bkey)`` — puts every row of a degenerate bucket on ONE window task,
    and AQE cannot split a window partition. The skew-safe shape counts
    per-key populations with a map-side partial aggregate and removes
    the (pigeonhole-tiny) over-cap key set with a BROADCAST anti-join, so
    no operator ever gathers an over-cap bucket. Pinned on the physical plan: no Window
    node anywhere, and the prune is a broadcast LeftAnti. The UNCAPPED
    path keeps the window form (its singleton prune) — also pinned so a
    refactor cannot silently swap the two."""
    sigs = _sigs(spark, 200)
    capped = lsh_candidate_pairs(sigs, max_bucket_size=50)
    plan = capped._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        capped._jdf.queryExecution(), "formatted"
    )
    assert "Window" not in plan, plan
    # one tree line per node: the prune node itself is a broadcast LeftAnti
    assert any(
        "BroadcastHashJoin" in ln and "LeftAnti" in ln for ln in plan.splitlines()
    ), plan
    uncapped = lsh_candidate_pairs(sigs)
    uplan = uncapped._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        uncapped._jdf.queryExecution(), "formatted"
    )
    assert "Window" in uplan, uplan


def test_capped_prune_shuffles_past_broadcast_threshold(spark):
    """The over-cap key set grows as rows / cap, so the capped prune must
    not force a broadcast: with ``autoBroadcastJoinThreshold`` disabled
    (the key set past any broadcast budget) the prune plans as a
    sort-merge LeftAnti, and it still keeps exactly the healthy pairs."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        capped = lsh_candidate_pairs(_sigs(spark, 200), max_bucket_size=50)
        plan = capped._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            capped._jdf.queryExecution(), "formatted"
        )
        got = [tuple(r) for r in capped.collect()]
    finally:
        spark.conf.set(key, saved)
    lines = plan.splitlines()
    assert any("SortMergeJoin" in ln and "LeftAnti" in ln for ln in lines), plan
    assert not any("BroadcastHashJoin" in ln and "LeftAnti" in ln for ln in lines), plan
    assert got == [(0, 1)]
