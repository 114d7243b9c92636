"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB dedup pipeline shape:
- *exact*: one hash-groupBy shuffle on a digest column;
- *MinHash+LSH*: ONE path, shared by the batch probe
  (:func:`minhash_near_dups`), the persisted band state
  (:func:`band_state`) and the incremental ingest
  (:func:`ingest_novel_neardup`): word n-gram shingles
  (:func:`shingle_sets`) → polynomial shingle id → ``num_hashes`` minima
  from one ``groupBy(doc)`` → row-local band keys
  (:func:`_minhash_band_keys`) → bucket self-join
  (:func:`lsh_candidate_pairs`) → exact-Jaccard verification of the
  candidates only (:func:`jaccard_verify`; never all pairs);
- *SimHash*: per-token bit votes → 64-bit signature → 4×16-bit block
  pigeonhole join → Hamming filter;
- *n-gram Jaccard*: shingle inverted index with a document-frequency cap
  (stop-shingle removal bounds the index blowup), then pair-count verify.

MinHash invariants: ``bands`` divides ``num_hashes`` (a non-dividing
geometry raises, it is never silently re-banded), and band ``b``'s key is
the ``'_'``-join of minima ``b*r .. b*r+r-1`` (r = num_hashes / bands) —
one string format shared by the persisted ``bband`` state and the DuckDB
oracle's ``STRING_AGG(... ORDER BY j)``.

Shingle and token ids come from one polynomial rolling string hash
(functions/hashing.py, per-char fold mod P): narrow column arithmetic
with no dictionary, no global sort and no join, bit-identical in ANSI
SQL, so every DuckDB oracle replays the same ids and the same signatures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.extensions.ingest_kernel import (
    admit_sequential,
    combined_cap_keys,
    digest_novel_keepers,
)
from mongo_polars_reconciliation_spark.extensions.text import (
    floor4,
    hash128,
    word_ngrams,
)
from mongo_polars_reconciliation_spark.functions.hashing import (
    poly_hash_col,
    poly_hash_spark,
)
from mongo_polars_reconciliation_spark.session import widen

# Universal-hash constants: h_j(x) = (A_j * x + B_j) mod P. Deterministic
# literals so the oracle SQL can reproduce them.
MINHASH_P = 8191
# SimHash: 31-bit token ids (Mersenne prime 2^31-1) feed 64 double-round
# multiplicative parity hashes. ONE affine round is not enough: if the
# product doesn't wrap the modulus, parity is linear in k and the
# signature degenerates to 0101... — the second multiply wraps ~2^29
# times, scrambling parity. Every intermediate product stays < 2^63 so
# BIGINT arithmetic is exact (and overflow-free) in Spark AND DuckDB.
SIMHASH_SID_P = 2147483647
SIMHASH_A1 = 1103515245
SIMHASH_A2 = 2654435761
SIMHASH_BITS = 64
SIMHASH_BLOCKS = 4
SIMHASH_BLOCK_BITS = 16


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the keeper
    (min id) and the copy count. Keeper choice is deterministic (min id), not
    order-dependent like Polars ``unique(keep='first')``."""
    return (
        df.select(
            F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col)
        )
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def ingest_novel(
    new_docs: DataFrame,
    state_digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental corpus ingest — the crawl loop's dedup step: of an
    arriving batch, keep ONE copy per content digest (min id, the
    deterministic keeper rule of :func:`exact_dedup_groups`) whose digest
    is ABSENT from the persisted state, i.e. never seen in any prior
    ingest. Returns (id, text_hash) of the novel keepers; the caller
    appends them to the state (``sources/state.py:upsert_state_table``
    for transactional stores, or a partitioned-parquet union) and admits
    only these documents downstream — the first question of every "new
    dump arrived" decision, answered without rescanning history.

    ``state_digests`` is any frame with a ``text_hash`` column (the
    accumulated digest set). NULL text digests as '' (the null-text
    rule shared with leakage_safe_split).

    Scale shape: one digest hash-aggregate over the batch (map-side
    combine; the batch, not history, is scanned) + one LEFT ANTI join on
    the digest against the state. Both sides shuffle on the digest; a
    production state table is BUCKETED by text_hash so the anti-join is
    shuffle-free on the (huge) state side and only the new batch moves.
    Nothing driver-side; output ≤ distinct-batch-digests rows. Body =
    the shared kernel's phase 1 (ingest_kernel.digest_novel_keepers) plus
    this family's digest rule."""
    dg = F.md5(
        F.coalesce(F.col(text_col), F.lit("")).cast("binary")
    ).alias("__dg")
    return digest_novel_keepers(
        new_docs.select(F.col(id_col), dg), state_digests, id_col, "text_hash"
    ).select(F.col(id_col), F.col("__dg").alias("text_hash"))


def band_state(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(bband, doc_id) MinHash band-key table of a corpus — the persisted
    NEAR-dup state the crawl loop keeps next to the exact digest set.
    ``bband`` is the single composite key ``band || ':' || bkey``: one
    column instead of (band, bkey) so the state table can be BUCKETED by
    exactly the join key and the incremental band anti-join reads the
    (huge) state side with no exchange (``write_bucketed_state(...,
    key='bband')``; plan-pinned in tests/test_bucketing.py) — the same
    treatment the digest state gets for :func:`ingest_novel`.

    NULL text digests as '' (shared null-text rule); docs shorter than
    ``n`` tokens carry no shingles, hence no band keys — they are
    exact-dedup-only, by construction."""
    base = docs.select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )
    bk = _minhash_band_keys(
        shingles(base, id_col, text_col, n), id_col, num_hashes, bands
    )
    return bk.select(_bband(), F.col(id_col))


def ingest_novel_neardup(
    new_docs: DataFrame,
    state_digests: DataFrame,
    state_bands: DataFrame,
    state_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.6,
    max_bucket_size: int | None = None,
    mis_max_iter: int = 25,
) -> DataFrame:
    """Incremental NEAR-dup ingest — the full "new dump arrived" decision
    (extends :func:`ingest_novel`, which answers only the exact-digest
    half): of an arriving batch, admit the documents that are neither
    exact copies NOR verified near-duplicates of (a) the persisted corpus
    or (b) an already-admitted batch member. Returns (id, text_hash) of
    the admitted docs; the caller appends their digests to
    ``state_digests``, their :func:`band_state` rows to ``state_bands``,
    and the docs themselves to the corpus store.

    State contract: ``state_digests`` = accumulated (text_hash) set;
    ``state_bands`` = accumulated (bband, doc_id) band-key table
    (:func:`band_state`, bucketed by bband in production);
    ``state_docs`` = the corpus store (id, text) — read ONLY for the
    (few) docs whose band keys collide with the batch, via a semi-join;
    history is never rescanned. Ids must be unique across state and
    batch (ingest assigns monotone ids — arrival order IS id order).

    Pipeline: (1) within-batch exact collapse (min-id keeper per digest)
    + digest anti-join, exactly :func:`ingest_novel`; (2) MinHash band
    keys of the survivors joined against the band STATE → candidate
    (batch, history) pairs, exact-Jaccard-verified at ``threshold`` over
    shingles — history shingles computed only for collision candidates;
    (3) the remaining batch docs' candidate pairs among THEMSELVES,
    verified the same way, feed the shared admission tail
    (``ingest_kernel.admit_sequential`` → ``greedy_admit``; see there
    for why per-pair/per-cluster keep-lowest break idempotence). Docs
    with no shingles (< n tokens) are exact-dedup-only by construction.
    Phases 1 (digest keepers) and the hot-bucket cap are the kernel's
    too; this body keeps only the text-family pieces — MinHash band
    keys, the ghost-row/survivor-exclusion rules below, and
    exact-Jaccard verification.

    ``max_bucket_size`` guards BOTH collision joins (the
    ``ingest_novel_payloads`` treatment): a boilerplate band key shared
    corpus-wide — the canonical LSH hot bucket — would fan every batch
    doc carrying it out to all its history holders. With the cap set,
    the per-key population is counted over the batch's keys plus the
    state rows those keys TOUCH (the bucketed key semi-join reads only
    matching buckets, never full history) and over-cap keys are dropped
    from the history join; the within-batch phase keeps its batch-side
    count via :func:`lsh_candidate_pairs`. A bucket that common is boilerplate
    collision — genuinely similar docs still meet in their other bands —
    and a dropped bucket's candidates would have failed the Jaccard
    verify anyway in that case (pinned capped ≡ uncapped on a
    boilerplate-header corpus in tests/test_lsh_cap.py). Default None =
    exact, all driver queries' current behavior.

    Scale shape: phase 1 is the digest-bucketed anti-join (plan pin in
    tests/test_bucketing.py); phase 2's band join hits a state table
    bucketed by the composite bband key, so the accumulated band state
    never reshuffles (second plan pin there) and verification touches
    |candidates| history docs, not |history|; phase 3 runs on the batch
    only. The only iterative part (greedy admission) is bounded by the
    batch's pair-chain depth with a loud ``mis_max_iter`` guard."""
    b = new_docs.select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )
    dg = F.md5(F.col(text_col).cast("binary")).alias("__dg")
    keep1 = digest_novel_keepers(
        b.select(F.col(id_col), dg), state_digests, id_col, "text_hash"
    ).localCheckpoint(eager=False)
    kept = b.join(keep1.select(id_col), id_col).localCheckpoint(eager=False)

    # batch band keys over the checkpointed shingle-ARRAY frame, which
    # jaccard_verify reuses
    sets_b = widen(
        shingle_sets(kept, id_col, text_col, n), id_col
    ).localCheckpoint(eager=False)
    sh_b = sets_b.select(F.col(id_col), F.explode("__shset").alias("shingle"))
    bk = _minhash_band_keys(sh_b, id_col, num_hashes, bands).select(
        _bband(), F.col(id_col), F.col("band"), F.col("bkey")
    ).localCheckpoint(eager=False)

    # phase 2: history collisions → exact-Jaccard verify against the few
    # colliding history docs only
    bk_h = bk.select("bband", F.col(id_col).alias("__bid"))
    hits = state_bands.select("bband", F.col(id_col).alias("__hid"))
    if max_bucket_size is not None:
        # combined batch + touched-state population per key; the state
        # count reads only the buckets the batch's keys hit (bucketed
        # semi-join — exchange-free on the stored side, never a full
        # state re-aggregation)
        hits = hits.join(
            bk_h.select("bband").distinct(), "bband"
        ).localCheckpoint(eager=False)
        ok = combined_cap_keys(bk_h, hits, "bband", max_bucket_size)
        bk_h = bk_h.join(ok, "bband")
        hits = hits.join(ok, "bband")
    # Self-pairs (__bid == __hid) are impossible for legitimate input (ids
    # are unique across state and batch) — they arise ONLY from ghost state
    # rows a crash-replayed streaming trigger left behind (bands/docs
    # written, digest ledger not — streaming/corpus.py's write order).
    # Without this filter a replayed batch doc meets its own ghost band
    # rows at Jaccard 1.0 and is silently dropped, so the ledger is never
    # backfilled — the admitted doc vanishes from the drained output
    # permanently. Filtering self-pairs (plus excluding batch ids from the
    # history DOC side below) makes every crash window replay to exactly
    # the original admitted set (pinned in tests/test_properties.py).
    cand_hist = (
        bk_h.join(hits, "bband")
        .where(F.col("__bid") != F.col("__hid"))
        .select("__bid", "__hid")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # distinct AFTER the candidate semi-join: a crash-replayed
    # streaming trigger can leave duplicate rows in the docs/bands state
    # faces (streaming/corpus.py writes the digest ledger last), and a
    # duplicated history doc would contribute a second shingle-set row,
    # duplicating every pair it is verified in. Deduping here costs a shuffle of |collision candidates| rows only (never the
    # corpus), making duplicate state rows semantics-free by construction.
    # Exclude phase-1 SURVIVOR ids from the history DOC side (legitimately
    # a no-op — state and batch ids are disjoint): a ghost history doc
    # that is also a digest-novel batch doc would otherwise contribute a
    # second shingle-set row to sets_all (sets_b already carries every
    # survivor), so its pairs would be verified against both copies —
    # over-dropping near the threshold on replay. Pairs whose __hid
    # is a survivor are still verified, against the single batch-side
    # copy, which is exactly the true Jaccard. Survivors, NOT all batch
    # ids: a redelivered doc whose digest is already ledgered is dropped
    # in phase 1 and absent from sets_b, so its history copy is the only
    # one — excluding it would un-verify its pairs and re-admit its
    # near-dups (the redelivery-admits-nothing property).
    hist_docs = state_docs.select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    ).join(
        cand_hist.select(F.col("__hid").alias(id_col)).distinct(), id_col
    ).join(keep1.select(id_col), id_col, "left_anti").distinct()
    # checkpoint the combined shingle-ARRAY frame: jaccard_verify joins it
    # twice and the history side would otherwise re-run its semi-join +
    # shingle extraction per consumption (sets_b is already materialized
    # above)
    sets_all = shingle_sets(hist_docs, id_col, text_col, n).unionByName(
        sets_b
    ).localCheckpoint(eager=False)
    dropped_hist = jaccard_verify(
        cand_hist.select(
            F.col("__hid").alias("id_a"), F.col("__bid").alias("id_b")
        ),
        sets_all,
        id_col,
        threshold,
    ).select(F.col("id_b").alias(id_col)).distinct()
    kept2 = kept.join(dropped_hist, id_col, "left_anti").localCheckpoint(
        eager=False
    )

    # phase 3: within-batch candidates among the history-clean docs only
    # (a history-dropped doc is never admitted, so it cannot block anyone
    # — sequential semantics), then greedy admission
    bk2 = bk.join(kept2.select(id_col), id_col)
    pairs = lsh_candidate_pairs(
        bk2.select(id_col, "band", "bkey"), id_col, max_bucket_size
    )
    edges = jaccard_verify(pairs, sets_b, id_col, threshold).select(
        F.col("id_a").alias("lo"), F.col("id_b").alias("hi")
    )
    admitted = admit_sequential(
        kept2.select(id_col), edges, id_col, mis_max_iter
    )
    return keep1.join(admitted, id_col).select(
        F.col(id_col), F.col("__dg").alias("text_hash")
    )


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document distinct word n-gram shingle ARRAY ``(id, __shset)`` —
    the checkpointable form of :func:`shingles`: consumers derive the
    exploded rows (map-only explode) for the signatures and intersect the
    arrays row-locally in :func:`jaccard_verify` — no groupBy over the
    shingle frame. Docs shorter than ``n`` tokens have no row. The
    n-gram array is :func:`text.word_ngrams` (total under ANSI: its CASE
    guard holds even when the optimizer evaluates the projection on rows
    the size filter would have dropped); the null filter is defensive —
    concat_ws over in-bounds tokens is never NULL."""
    return (
        df.select(
            F.col(id_col),
            F.split(F.col(text_col), " ").alias("toks"),
        )
        .where(F.size("toks") >= n)
        .select(
            F.col(id_col),
            F.filter(
                F.array_distinct(word_ngrams("toks", n)),
                lambda x: x.isNotNull(),
            ).alias("__shset"),
        )
    )


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document ``(id, shingle)``: the
    explode of :func:`shingle_sets`."""
    return shingle_sets(df, id_col, text_col, n).select(
        F.col(id_col), F.explode("__shset").alias("shingle")
    )


def _minhash_band_keys(
    sh: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """MinHash band keys ``(id, band, bkey)`` of an ``(id, shingle)``
    frame — the one builder behind every MinHash face.

    Shingle id ``sid`` = the polynomial hash mod ``MINHASH_P``; minhash
    j = ``min((2j+3)·sid + 5j+7) mod P`` over the doc's shingles, all
    ``num_hashes`` minima from ONE ``groupBy(id)`` (map-side partial min,
    one narrow row per doc per partition; sid < P keeps the products
    exact in long math). Band b's key is the ``'_'``-join of minima
    ``b·r .. b·r+r-1`` (r = num_hashes / bands) — a row-local concat plus
    a small fixed explode, no further shuffle.

    Measured-and-rejected: a fully ROW-LOCAL form (per-row shingle array
    → sid array → array-min hashes → band keys in one projection, zero
    shuffles before the bucket join — the rewrite that took SimHash
    4.5 s → 1.4 s) ran 10–20% SLOWER in an interleaved A/B at sf0.1: the
    shingle explode exists anyway for the exact-Jaccard verify, and it
    trades one saved shuffle for interpreted higher-order-function
    evaluation of the minima, while this aggregation is
    whole-stage-codegen'd."""
    if bands < 1 or num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows = num_hashes // bands
    sid = poly_hash_col("shingle", MINHASH_P)
    sigs = sh.select(F.col(id_col), sid.alias("sid")).groupBy(id_col).agg(
        *[
            F.min(
                F.pmod((2 * j + 3) * F.col("sid") + (5 * j + 7), F.lit(MINHASH_P))
            ).alias(f"mh{j}")
            for j in range(num_hashes)
        ]
    )
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(f"mh{b * rows + i}").cast("string") for i in range(rows)]
            ).alias("bkey"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))


def _bband() -> Column:
    """The composite band key ``band || ':' || bkey`` of the persisted
    band state (:func:`band_state`)."""
    return F.concat_ws(":", F.col("band").cast("string"), F.col("bkey")).alias(
        "bband"
    )


def lsh_candidate_pairs(
    band_keys: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Bucket self-join over ``(id, band, bkey)`` band-key rows
    (:func:`_minhash_band_keys`) → distinct candidate pairs
    (id_a < id_b). The join is the LSH trick: only same-bucket docs ever
    meet, so cost scales with bucket sizes, not n².

    Uncapped, singleton buckets are pruned before the self-join: they
    can't form pairs, and dropping them shrinks both join inputs and the
    distinct (measured ~25% faster, no semantic change). The bucket size
    is a WINDOW count over (band, bkey), not a groupBy + join-back: one
    shuffle of the band-key frame establishes the partitioning, the
    filter runs in place, and the self-join's two sides share that hash
    partitioning (one physical exchange via reuse). The agg-then-join
    form pays the aggregate's shuffle AND a join back whose build side is
    O(distinct buckets), beyond broadcast range at corpus scale (the
    window form measured ×0.8 at sf0.1).

    ``max_bucket_size`` is the hot-bucket guard: one degenerate bucket (a
    boilerplate band key shared by B docs) makes the self-join emit B²
    pairs — AQE's skew split spreads the shuffle but cannot shrink the
    pair count. With the cap set, the buckets :func:`lsh_dropped_buckets`
    reports are removed BEFORE the join: a bucket that common is
    near-certainly boilerplate collision, and genuinely similar docs still
    meet in their other, less-degenerate bands. The window form would be
    a skew hazard here — ``count(1) over (partition by band, bkey)`` puts
    every row of a bucket into ONE window partition before the filter can
    drop it, and AQE never splits a window partition — so the capped path
    counts per-key populations with a map-side partial aggregate (the
    monster bucket folds to one row per map task) and removes the
    over-cap keys with an anti-join. By pigeonhole at most
    n/max_bucket_size keys exceed the cap; the join strategy is left to
    AQE and ``spark.sql.autoBroadcastJoinThreshold``, so the key set
    broadcasts while it is small and takes a sort-merge anti-join once it
    outgrows the threshold. Singletons then die in the self-join itself
    (a 1-row bucket yields no ``id_a < id_b`` pair). Pair set identical
    on both paths by construction; capped ≡ uncapped and the plan shapes
    are pinned in tests/test_lsh_cap.py, skewed-bucket linearity probed
    by tools/scale_probe.py (lsh_hot_bucket). Default None = exact."""
    if max_bucket_size is not None:
        over = lsh_dropped_buckets(band_keys, max_bucket_size).select(
            "band", "bkey"
        )
        sized = band_keys.join(over, ["band", "bkey"], "left_anti")
    else:
        sized = band_keys.withColumn(
            "bsz", F.count(F.lit(1)).over(Window.partitionBy("band", "bkey"))
        ).where(F.col("bsz") >= 2)
    l = sized.select(F.col(id_col).alias("id_a"), "band", "bkey")
    r = sized.select(F.col(id_col).alias("id_b"), "band", "bkey")
    return (
        l.join(r, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_dropped_buckets(
    band_keys: DataFrame, max_bucket_size: int = 1000
) -> DataFrame:
    """(band, bkey, bsz) for every bucket of the ``(id, band, bkey)``
    band-key rows over ``max_bucket_size`` — exactly what the cap in
    :func:`lsh_candidate_pairs` skips, so a capped run can report WHAT it
    declined to compare instead of silently under-reporting duplicates."""
    return (
        band_keys.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .where(F.col("bsz") > max_bucket_size)
    )


def jaccard_verify(
    pairs: DataFrame,
    sets: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate ``pairs`` (id_a, id_b) only.
    ``sets`` is the :func:`shingle_sets` frame ``(id, __shset)``: each
    pair attaches its two DISTINCT-shingle arrays by two id-keyed joins,
    and ∩ is ``size(array_intersect(A, B))`` row-locally — no shingle
    explode, no (id, shingle)-keyed join, no groupBy over the
    pair×shingle expansion. Union is |A|+|B|−∩; the ratio is floored to
    4 dp before thresholding so the decision is reproducible across
    engines. Docs with no shingles (< n tokens) have no ``sets`` row, so
    their pairs drop out of the inner joins.

    Returns (id_a, id_b, jacc_r) for pairs with a NONZERO overlap and
    ``jacc_r >= threshold``: the overlap guard defines the result for a
    degenerate ``threshold <= 0`` as "pairs that share a shingle"."""
    a = sets.select(F.col(id_col).alias("id_a"), F.col("__shset").alias("__sa"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("__shset").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            floor4(inter / (F.size("__sa") + F.size("__sb") - inter)).alias(
                "jacc_r"
            ),
            inter.alias("__inter"),
        )
        .where((F.col("__inter") > 0) & (F.col("jacc_r") >= threshold))
        .select("id_a", "id_b", "jacc_r")
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """shingle → minhash → LSH bands → verified near-dup pairs.
    ``max_bucket_size`` caps degenerate LSH buckets (see
    :func:`lsh_candidate_pairs`; pair with :func:`lsh_dropped_buckets`
    over the same band keys for an audit of what a cap skips). Default
    None = exact.

    Materialization is ``localCheckpoint`` (not ``persist``): the verify
    join reads the shingle and pair frames multiple times, and lineage
    truncation additionally stops AQE from re-analyzing the whole
    shingle→signature→band tree at every downstream shuffle stage — the
    same driver-planning bottleneck measured on the cascade (see
    plans/pipeline.py module doc).

    The shingle-set frame is widened to the cluster's parallelism before
    the checkpoint (:func:`session.widen`): the downstream per-character
    polynomial hash is the CPU-heavy step."""
    # the checkpointed frame is the per-doc shingle ARRAY, not the
    # exploded rows: the signature pipeline explodes it map-only, and
    # jaccard_verify intersects the arrays directly
    sets = widen(
        shingle_sets(df, id_col, text_col, n), id_col
    ).localCheckpoint(eager=False)
    sh = sets.select(F.col(id_col), F.explode("__shset").alias("shingle"))
    # checkpoint the (bands-per-doc) band-key rows: the bucket-pair stage
    # consumes them three times (size filter + both self-join sides), and
    # each consumption would otherwise recompute the signature aggregation
    band_keys = _minhash_band_keys(
        sh, id_col, num_hashes, bands
    ).localCheckpoint(eager=False)
    # candidate pairs are tiny (bucket collisions only) but sit on top of
    # the whole signature pipeline — materialize once
    pairs = lsh_candidate_pairs(
        band_keys, id_col, max_bucket_size
    ).localCheckpoint(eager=False)
    return jaccard_verify(pairs, sets, id_col, threshold)


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """64-bit SimHash over unigram tokens with term-frequency weights.

    Bit k of the signature is 1 iff the ±1 vote sum over token
    occurrences is positive, where token t votes by the parity of the
    double-round hash ``((sid·(A1+k) mod P) · (A2+k)) mod P`` with
    P = 2^31-1 — 64 well-mixed 1-bit hashes of the 31-bit token id, all
    in exact BIGINT range on any engine.

    Physical shape: the WHOLE signature is one row-local projection — zero
    shuffles, zero explodes. Each row's token array maps to a token-id
    array (the per-char polynomial fold runs once per occurrence, inside
    the row), and each of the 64 vote sums is an integer fold over that id
    array; the signature assembles from the 64 sums in the same
    projection. At 100 TB this is a map-only stage that inherits the
    scan's partitioning — the only shuffles in the whole near-dup pipeline
    are the downstream block-bucket join's. Result-identical to the
    earlier explode → per-occurrence hash → (doc,sid) groupBy → 64-column
    groupBy(doc) form (vote sums are order-independent integer additions
    over the same per-occurrence parities) but without that form's two
    whole-corpus shuffles, which dominated wall time: measured 4.5 s →
    ~2.5 s at sf0.1. Two earlier rejected reorderings of the shuffle form
    (hash-after-count-groupBy, pre-hash widening) are moot now — there is
    nothing left to shuffle."""
    sids = F.expr(
        f"transform(split({text_col}, ' '), "
        f"t -> {poly_hash_spark('t', SIMHASH_SID_P)})"
    ).alias("__sids")

    def vote_sum(k: int) -> str:
        # fold the ±1 parity votes of every occurrence for bit k
        parity = (
            f"pmod(pmod(s * ({SIMHASH_A1} + {k}), {SIMHASH_SID_P})"
            f" * (cast({SIMHASH_A2} as bigint) + {k}), {SIMHASH_SID_P}) % 2"
        )
        return (
            f"aggregate(__sids, cast(0 as bigint), (acc, s) -> "
            f"acc + CASE WHEN {parity} = 1 THEN 1 ELSE -1 END)"
        )

    # bit 63's place value is min-long (two's complement) — 1<<63 doesn't
    # fit a positive BIGINT literal in any engine
    def place(k: int) -> int:
        return -(1 << 63) if k == SIMHASH_BITS - 1 else 1 << k

    sig = " + ".join(
        f"CASE WHEN {vote_sum(k)} > 0 THEN cast({place(k)} as bigint) "
        f"ELSE cast(0 as bigint) END"
        for k in range(SIMHASH_BITS)
    )
    # the 64 per-row vote folds are the CPU cost; shuffling the raw
    # (id, text) rows to widen a few-split corpus is cheap
    base = widen(df.select(F.col(id_col), F.col(text_col)))
    return base.select(F.col(id_col), sids).select(
        F.col(id_col), F.expr(sig).cast("long").alias("simhash")
    )


def simhash_blocks(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode each 64-bit signature into its 4 disjoint 16-bit blocks as
    (id, simhash, b, bval) rows — the LSH-style bucket key. The mask makes
    the arithmetic shift's sign-fill irrelevant, so Spark and SQL agree on
    negative signatures."""
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    return sigs.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BLOCKS - 1}),"
                f" b -> struct(b as b,"
                f" (shiftright(simhash, {SIMHASH_BLOCK_BITS}*b) & {mask}) as bval))"
            )
        ).alias("bb"),
    ).select(F.col(id_col), "simhash", F.col("bb.b").alias("b"), F.col("bb.bval").alias("bval"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """4-block pigeonhole blocking over 64-bit signatures: a pair within
    Hamming distance 3 differs in at most 3 of the 4 disjoint 16-bit
    blocks, so it MUST agree on at least one — only docs sharing a
    (block index, block value) bucket ever meet, and the bucket space is
    4 × 2^16, so bucket sizes (and join cost) shrink with corpus entropy
    instead of collapsing into 256 mega-buckets like a high-byte scheme.
    Exact Hamming ≤ max_hamming via bit_count(xor) on the survivors."""
    if max_hamming >= SIMHASH_BLOCKS:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < {SIMHASH_BLOCKS}"
        )
    sigs = simhash_signatures(df, id_col, text_col).localCheckpoint(eager=False)
    blocks = simhash_blocks(sigs, id_col)
    l = blocks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "b", "bval"
    )
    r = blocks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "b", "bval"
    )
    return (
        l.join(r, ["b", "bval"])
        .where(F.col("id_a") < F.col("id_b"))
        # a close pair can collide in several blocks — dedup before scoring
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")).cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# dedup_clusters counts convergence once per this many label rounds
CLUSTER_CHECK_EVERY = 3


def dedup_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs: every document gets the
    MIN id reachable through the pair graph as its ``cluster_id`` — the
    step that turns pairwise matches into keep-one-per-cluster decisions.

    Iterative min-label propagation TO CONVERGENCE in pure DataFrame ops:
    each round joins current labels across the (symmetrized) edge list,
    takes the elementwise min, and stops when a round changes nothing —
    so the result is the exact fixpoint (what the SQL oracle's recursive
    closure computes) for any component shape, not just short chains.
    Rounds needed = max min-label eccentricity ≈ component diameter.
    ``max_iter`` is a loud safety bound, not a silent truncation. Each
    round is one join + one groupBy on the id key, and labels are
    localCheckpoint'ed so round N+1 plans against a leaf, not N stacked
    joins.

    Convergence is counted every ``CLUSTER_CHECK_EVERY`` rounds, not
    every round: labels are MONOTONE (only ever decrease), so "the latest
    round changed nothing" certifies the fixpoint regardless of what the
    uncounted rounds in between did. A long-chain graph therefore costs
    ~1/CLUSTER_CHECK_EVERY as many driver actions (the uncounted rounds
    fuse into the next count's job), trading at most
    CLUSTER_CHECK_EVERY−1 cheap no-op rounds after convergence.

    ``ids``: one row per document id (the universe — singletons keep
    themselves as cluster_id)."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = ids.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("lbl")
    ).localCheckpoint(eager=False)
    converged = False
    for rnd in range(1, max_iter + 1):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(
                neighbor_min, labels["node"] == neighbor_min["src"], "left"
            )
            .select(
                labels["node"].alias("node"),
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
                (F.coalesce(F.col("nlbl"), F.col("lbl")) < F.col("lbl")).alias(
                    "__chg"
                ),
            )
            .localCheckpoint(eager=False)
        )
        if rnd % CLUSTER_CHECK_EVERY == 0 or rnd == max_iter:
            changed = new_labels.where(F.col("__chg")).count()
            if changed == 0:
                labels = new_labels.drop("__chg")
                converged = True
                break
        labels = new_labels.drop("__chg")
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds — "
            "component diameter exceeds the safety bound; raise max_iter"
        )
    return labels.select(F.col("node").alias(id_col), F.col("lbl").alias("cluster_id"))


def dedup_clusters_star(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds —
    the O(log n)-round production path for graphs whose diameter makes
    per-hop min-label propagation (``dedup_clusters``) too slow. Same
    output contract: every document labeled with the MIN id reachable
    through the pair graph ("Connected Components in MapReduce and
    Beyond", Kiveris et al., SOCC'14).

    Per round: large-star rewires every node's LARGER neighbors to the
    minimum of its neighborhood; small-star rewires the smaller ones.
    Both are one groupBy + one join on the node key — no global
    structure, so a 1000-executor cluster partitions each round by node
    id. Edges double-halve toward a star forest rooted at each
    component's minimum in O(log n) rounds regardless of diameter.

    Convergence is an exact set-fixpoint test, reached cheaply: each round
    pays ONE driver action — a (count, xxhash64-sum) fingerprint of the new
    edge set folded into the same job that materializes it — and only when
    the fingerprint repeats does the exact ``exceptAll`` confirmation run
    (once, at the probable fixpoint; a fingerprint collision merely costs
    one extra confirm). The previous implementation ran count + count +
    exceptAll per round — three job launches whose driver latency dominated
    wall time at bench scale (star was 1.4× plain propagation at sf0.1
    despite doing asymptotically less work). ``max_iter`` is a loud safety
    bound like the propagation variant's."""
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        # no distinct here: duplicate (u, v) rows are harmless to
        # small_star (its groupBy-min ignores them and its final distinct
        # removes them) and skipping it saves one shuffle per round
        return (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # input oriented u > v; m = min of u's smaller neighborhood
        m = e.groupBy("u").agg(F.min("v").alias("m"))
        rewired = (
            e.join(m, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_edge = m.select("u", F.col("m").alias("v"))
        return rewired.unionAll(self_edge).distinct()

    def fingerprint(e: DataFrame) -> tuple:
        # one action: materializes the checkpoint AND returns the probe
        # DECIMAL(38,0) sum: a long sum of full-range xxhash64 values
        # overflows int64 (ANSI mode raises) after a handful of rows
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    # prev_fp starts unknown — fingerprinting the INPUT would cost one
    # extra job on every run just to detect the (never-in-practice) case
    # of an input already at fixpoint, which instead costs one extra round
    prev_fp: tuple | None = None
    converged = False
    for _ in range(max_iter):
        new_edges = small_star(large_star(edges)).localCheckpoint(eager=False)
        fp = fingerprint(new_edges)
        if fp == prev_fp and new_edges.exceptAll(edges).count() == 0:
            edges = new_edges
            converged = True
            break
        edges, prev_fp = new_edges, fp
    if not converged:
        raise RuntimeError(
            f"dedup_clusters_star did not converge in {max_iter} rounds"
        )
    labels = edges.groupBy("u").agg(F.min("v").alias("lbl"))
    return (
        ids.select(F.col(id_col).alias("node"))
        .join(labels, F.col("node") == F.col("u"), "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("lbl"), F.col("node")).alias("cluster_id"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup via shingle inverted index. Shingles
    with document frequency > max_df are dropped from the *index* (classic
    stop-shingle removal — bounds bucket blowup); Jaccard is computed over
    the capped shingle sets of both docs (consistent, engine-mirrorable).

    The shingle frame is checkpointed once (read three times: df-counts,
    both sides of the inverted-index join) and widened to the cluster's
    parallelism (:func:`session.widen`). The shingle identity that
    shuffles (df groupBy, cap join, inverted-index self-join) is the
    128-bit two-lane xxhash64 composite, not the raw n-token string — the
    ``duplicate_spans`` shuffle-byte treatment; a collision could only
    merge two shingles' df counts (collision odds ~N²/2¹²⁹). Interleaved
    A/B at sf0.1 measured neutral wall-clock (3.29 vs 3.31 s min —
    stage latency dominates at test scale); the change is for shuffle
    BYTES, which shrink several-fold on long shingles at 100 TB."""
    sh = widen(
        shingles(df, id_col, text_col, n).select(
            F.col(id_col), *hash128("shingle")
        ),
        id_col,
    ).localCheckpoint(eager=False)
    # measured-and-rejected: a window-count df cap (the
    # lsh_candidate_pairs uncapped form) ran ×1.46 SLOWER here in an
    # interleaved A/B at sf0.1 (2.90 vs 4.24 s min) — this frame is
    # ~300k rows of near-unique hash keys, so the window's sort dwarfs
    # the hash-agg + join-back it would save; the band-key frame where
    # the rewrite wins is two orders smaller and post-aggregate.
    df_counts = sh.groupBy("h1", "h2").agg(F.count(F.lit(1)).alias("df_"))
    capped = sh.join(
        df_counts.where(F.col("df_") <= max_df), ["h1", "h2"]
    ).select(F.col(id_col), "h1", "h2", "df_")
    # Jaccard denominators count the FULL capped sets (including unique
    # shingles)…
    sizes = capped.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    # …but a df=1 shingle can never be SHARED, so it contributes nothing to
    # any intersection — drop the (majority) unique shingles from the
    # inverted-index self-join. Semantics-free, large input cut.
    joinable = capped.where(F.col("df_") >= 2).select(
        F.col(id_col), "h1", "h2"
    )
    inter = (
        joinable.select(F.col(id_col).alias("id_a"), "h1", "h2")
        .join(
            joinable.select(F.col(id_col).alias("id_b"), "h1", "h2"),
            ["h1", "h2"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sza")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("szb")), "id_b")
        .select(
            "id_a",
            "id_b",
            floor4(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
            ).alias("jacc_r"),
        )
        .where(F.col("jacc_r") >= threshold)
    )


def source_overlap(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Inter-source exact-duplicate overlap matrix — the data-card signal
    for corpus composition: for every unordered pair of sources, the
    number of distinct content digests present in BOTH (e.g. how much of
    a new crawl is already covered by an existing dump — the first
    question before paying to dedup/train on it). Off-diagonal pairs
    only; per-source duplicate stats are ``corpus_datacard``'s job.

    Scale shape: (digest, source) distinct — one hash-aggregate on the
    md5 digest (the text never shuffles) → self-join keyed on digest,
    whose fanout per digest is (#sources containing it)², bounded by the
    source-count, never by corpus size → one (source_a, source_b)
    count aggregate. Mergeable across corpus partitions (distinct-union
    then recount), no all-pairs document join anywhere.

    NULL text digests as the empty string (same as
    leakage_safe_split): a NULL digest would never match the overlap
    self-join, so null-text rows count as empty-text content."""
    ds = (
        df.select(
            F.md5(
                F.coalesce(F.col(text_col), F.lit("")).cast("binary")
            ).alias("__dg"),
            F.col(source_col).alias("__src"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = ds.select("__dg", F.col("__src").alias("source_a"))
    b = ds.select("__dg", F.col("__src").alias("source_b"))
    return (
        a.join(b, "__dg")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def cluster_keepers_by_quality(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality_r",
) -> DataFrame:
    """Pick the KEEPER of every near-dup cluster by QUALITY instead of by
    min id — the decision production curation actually makes: near-dup
    clusters collapse to their best-scoring member, not their
    lowest-numbered one (reference parity: the reconciliation engine's
    duplicate arbitration keeps a deterministic winner per duplicate
    group, `src/reconciliatior.py:141-160`; this is the corpus-curation
    face of the same contract).

    ``clusters``: (id_col, cluster_id) — `dedup_clusters` /
    `dedup_clusters_star` output. ``scores``: (id_col, quality_col) —
    `fused_doc_scores`. Output: one row per cluster with the argmax-
    quality member (ties broken by MIN id so the answer is total-order
    deterministic), its score, and the member count.

    Scale shape: one equi-join on the id key + ONE aggregate on
    cluster_id — `max(struct(quality, -id))` computes the lexicographic
    argmax WITH map-side partial aggregation, so the shuffle carries one
    struct per (map partition, cluster), never the member list. A window
    (`row_number` over cluster) must shuffle every member and cannot
    partial-aggregate, and a corpus-sized degenerate cluster becomes one
    executor's sort; here it folds to one row per map task. The struct
    max is orderable-but-not-hashable, so Spark plans a SortAggregate —
    the per-partition sort is over narrow (cluster_id, struct) rows,
    measured noise-level at sf0.1 (`max_by` plans the identical
    SortAggregate; verified, not assumed)."""
    joined = clusters.join(scores.select(id_col, quality_col), id_col)
    best = F.max(
        F.struct(
            F.col(quality_col).alias("q"),
            (-F.col(id_col)).alias("negid"),
        )
    ).alias("__best")
    return (
        joined.groupBy("cluster_id")
        .agg(best, F.count(F.lit(1)).cast("long").alias("n_members"))
        .select(
            "cluster_id",
            (-F.col("__best.negid")).alias("keeper_id"),
            F.col("__best.q").alias("keeper_quality_r"),
            "n_members",
        )
    )
