"""Hot-bucket cap for LSH candidate generation (VERDICT r3 item 4).

A degenerate bucket — one band key shared by B docs — makes the LSH
self-join emit B(B-1)/2 pairs; AQE's skew split spreads the shuffle but
cannot shrink the pair count. The cap must (a) skip such buckets BEFORE
the join, (b) keep every pair arising from healthy buckets, and (c) be
auditable via lsh_dropped_buckets.
"""

from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.extensions.dedup import (
    lsh_candidate_pairs,
    lsh_dropped_buckets,
)

RPB, NH = 3, 12  # bands derived from data: j // RPB


def _sigs(spark, n_docs: int):
    """Signature frame (doc_id, j, mh) where band 0 (j=0..2) is one
    constant hot bucket across ALL docs, bands 1..3 are unique per doc —
    except docs 0 and 1 share every band (a genuine near-dup pair)."""
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(NH - 1))).alias("j"),
    ).select(
        "doc_id",
        "j",
        F.when(F.col("j") < RPB, F.lit(7))  # hot bucket: constant band 0
        .when(F.col("doc_id") <= 1, F.col("j") * 1000)  # docs 0,1 twins
        .otherwise(F.col("doc_id") * 100 + F.col("j"))
        .cast("long")
        .alias("mh"),
    )


def test_cap_skips_hot_bucket_keeps_healthy_pairs(spark):
    n = 10_000
    sigs = _sigs(spark, n)
    # uncapped this join would emit ~50M pairs from band 0 alone; with the
    # cap it must finish fast and keep exactly the twin pair from the
    # healthy bands
    pairs = lsh_candidate_pairs(sigs, rows_per_band=RPB, max_bucket_size=100)
    assert [tuple(r) for r in pairs.collect()] == [(0, 1)]


def test_dropped_buckets_audit_names_the_hot_bucket(spark):
    n = 5_000
    dropped = lsh_dropped_buckets(
        _sigs(spark, n), rows_per_band=RPB, max_bucket_size=100
    ).collect()
    assert len(dropped) == 1
    assert dropped[0]["band"] == 0 and dropped[0]["bsz"] == n


def test_uncapped_equals_generous_cap(spark):
    """On data with no bucket over the cap, capped output == exact output
    (the cap only ever removes over-cap buckets, nothing else)."""
    sigs = _sigs(spark, 60)
    exact = lsh_candidate_pairs(sigs, rows_per_band=RPB)
    capped = lsh_candidate_pairs(
        sigs, rows_per_band=RPB, max_bucket_size=60
    )
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, capped.collect())
    )


def test_minhash_capped_equals_uncapped_on_fixture(spark):
    """r13 (VERDICT r12 #5, registry consolidation): the exact
    configuration the retired ``dedup_minhash_lsh_capped`` driver query
    ran — ``minhash_near_dups(build_documents_aug,
    max_bucket_size=1000)`` at sf0.001 — is bit-identical to exact
    mode, because no fixture bucket approaches the cap. This pin is the
    retired query's oracle check verbatim (the query shared the
    uncapped face's oracle), so the guard-is-semantics-preserving
    property stays verified every run; the cap-ENGAGED behavior is
    pinned by the hot-bucket tests above."""
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


def test_wide_signatures_equal_long(spark):
    """The production wide signature path (one groupBy, 12 min columns,
    row-local band keys) must produce exactly the long form's values and
    band-key strings — pins the r5 shuffle-elimination refactor."""
    from pyspark.sql import functions as F

    from mongo_polars_reconciliation_spark.extensions.dedup import (
        _band_keys,
        _band_keys_wide,
        _shingle_ids,
        minhash_signatures,
        minhash_signatures_wide,
        shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "entirely different content with other words here"),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    sh_ids = _shingle_ids(shingles(docs))
    long_sigs = minhash_signatures(sh_ids, "doc_id", NH)
    wide_sigs = minhash_signatures_wide(sh_ids, "doc_id", NH)
    long_as_wide = sorted(
        tuple(r)
        for r in long_sigs.groupBy("doc_id")
        .pivot("j", list(range(NH)))
        .agg(F.first("mh"))
        .collect()
    )
    wide = sorted(tuple(r) for r in wide_sigs.collect())
    assert long_as_wide == wide

    bk_long = sorted(tuple(r) for r in _band_keys(long_sigs, "doc_id", RPB).collect())
    bk_wide = sorted(
        tuple(r) for r in _band_keys_wide(wide_sigs, "doc_id", RPB, NH).collect()
    )
    assert bk_long == bk_wide


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
    """r10 (VERDICT r9's weak flag): a corpus-sized bucket of identical
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
    probe is bit-identical to exact mode. This is the retired
    ``mm_payload_near_dup_capped`` driver query's configuration verbatim
    (it shared the uncapped face's oracle; retired r13 per VERDICT r12
    #5 — this pin now carries the guard-is-semantics-preserving
    property; cap-ENGAGED behavior is pinned by the hot-block tests
    above)."""
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
    """r10: the payload ingest's hot-bucket cap guards the HISTORY
    collision join too — 2k history payloads sharing one zero-run block
    would fan every zero-padded batch doc out to all of them; with the
    cap the degenerate key is dropped from both sides BEFORE the join
    (the combined batch+touched-state count), the join stays bounded,
    and admission decisions fall back to the docs' discriminative
    blocks: the byte-exact re-upload is still rejected (digest phase),
    the genuinely novel zero-padded doc still admits."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
        ingest_novel_payloads,
        payload_block_state,
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
    digests = hist.select(
        F.md5(F.col("payload")).alias("payload_hash")
    ).distinct()
    got = sorted(
        r["doc_id"]
        for r in ingest_novel_payloads(
            batch,
            digests,
            payload_block_state(hist, block_bytes=64),
            block_bytes=64,
            max_bucket_size=100,
            mis_max_iter=8,
        ).collect()
    )
    assert got == [100001], got


def test_text_ingest_history_cap_equals_uncapped(spark):
    """r10: the text ingest's history collision join now honors the
    hot-bucket cap with the combined batch+touched-state count. Two
    pins: (a) on the standard ingest fixture (no hot bucket) capped ≡
    uncapped exactly; (b) on a boilerplate-header corpus — 400 history
    docs sharing a 3-token header whose band key goes corpus-hot while
    every doc's tail is unique — the cap drops the hot key from the
    join, and the admission answer is STILL identical to uncapped,
    because hot-bucket candidates share only boilerplate (Jaccard far
    under threshold) and fail verification anyway."""
    from pyspark.sql import functions as F

    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel_neardup,
    )
    from tests.test_properties import _neardup_fixture

    hist, batch, digests, bands = _neardup_fixture(spark)
    exact = sorted(
        tuple(r)
        for r in ingest_novel_neardup(
            batch, digests, bands, hist, mis_max_iter=8
        ).collect()
    )
    capped = sorted(
        tuple(r)
        for r in ingest_novel_neardup(
            batch, digests, bands, hist, max_bucket_size=1000, mis_max_iter=8
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
    dg2 = hist2.select(
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "text_hash"
        )
    ).distinct()
    bands2 = band_state(hist2)
    got_exact = sorted(
        r["doc_id"]
        for r in ingest_novel_neardup(
            batch2, dg2, bands2, hist2, mis_max_iter=8
        ).collect()
    )
    got_capped = sorted(
        r["doc_id"]
        for r in ingest_novel_neardup(
            batch2, dg2, bands2, hist2, max_bucket_size=100, mis_max_iter=8
        ).collect()
    )
    assert got_exact == got_capped, (got_exact, got_capped)
    assert 1000 in got_capped  # the novel doc always admits


def test_capped_plan_is_skew_safe(spark):
    """r17 (VERDICT r16 #1): the CAPPED pair path must not co-locate a
    bucket's rows before the cap can drop it. The r16 window form did —
    ``count(1) over (partition by band, bkey)`` put every row of a
    degenerate bucket on ONE window task, and AQE cannot split a window
    partition. The skew-safe shape counts per-key populations with a
    map-side partial aggregate and removes the (pigeonhole-tiny)
    over-cap key set with a BROADCAST anti-join, so no operator ever
    gathers an over-cap bucket. Pinned on the physical plan: no Window
    node anywhere, and the prune is a broadcast LeftAnti. The UNCAPPED
    path keeps the window form (its singleton prune) — also pinned so a
    refactor cannot silently swap the two."""
    sigs = _sigs(spark, 200)
    capped = lsh_candidate_pairs(sigs, rows_per_band=RPB, max_bucket_size=50)
    plan = capped._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        capped._jdf.queryExecution(), "formatted"
    )
    assert "Window" not in plan, plan
    # one tree line per node: the prune node itself is a broadcast LeftAnti
    assert any(
        "BroadcastHashJoin" in ln and "LeftAnti" in ln for ln in plan.splitlines()
    ), plan
    uncapped = lsh_candidate_pairs(sigs, rows_per_band=RPB)
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
        capped = lsh_candidate_pairs(
            _sigs(spark, 200), rows_per_band=RPB, max_bucket_size=50
        )
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
