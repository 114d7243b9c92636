"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB (SURVEY.md §2.9): media lives in a
``binary`` column next to a metadata struct; decode / feature-extract /
resize / frame-sample run as Arrow-batched Pandas functions over
``mapInPandas`` — the *only* sanctioned Python-in-the-loop path, because
Arrow moves the bytes zero-copy and the work is per-row embarrassingly
parallel. The feature bodies here are deterministic stand-ins for a real
decoder; the Spark-side plumbing (schema, batch iteration, partitioning)
is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from mongo_polars_reconciliation_spark.extensions.text import floor4


def attach_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mime: str = "text/plain",
) -> DataFrame:
    """Build a (payload binary, meta struct) multimodal frame. In production
    the payload comes from the lake (image/audio bytes); here it is the UTF-8
    encoding of the text column, which keeps everything deterministic."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.length(F.col(text_col)).cast("long").alias("n_chars"),
        ).alias("meta"),
    )


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("prefix_hex", StringType()),
        StructField("mime", StringType()),
    ]
)


def extract_features(mm: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload.

    The stub 'decoder' computes byte length and the hex of the first 8 bytes
    — stand-ins for (width, height, phash). A NULL payload gives NULL
    ``byte_len`` and ``prefix_hex`` (SQL ``octet_length`` and ``hex`` of
    NULL). Swap ``_extract``'s body for PIL/ffmpeg calls in production;
    the mapInPandas contract (schema, batch shape) stays identical."""

    def _extract(batches: Iterator, /):
        import pandas as pd

        for pdf in batches:
            payload = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": payload.map(len, na_action="ignore").astype(
                        "Int64"
                    ),
                    "prefix_hex": payload.map(
                        lambda b: bytes(b)[:8].hex(), na_action="ignore"
                    ),
                    "mime": pdf["meta"].map(lambda m: m["mime"]),
                }
            )

    return mm.mapInPandas(_extract, FEATURE_SCHEMA)


def payload_digest_dedup(
    mm: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Exact payload dedup — the binary column joined into the dedup
    family: md5 over the raw bytes, one row per distinct payload
    with the deterministic min-id keeper and the copy count — byte-for-
    byte identical images/audio collapse exactly like duplicate text
    does in ``exact_dedup_groups`` (same output contract, same hash-
    groupBy-with-map-side-combine scale shape; the digest set persists
    into the ``ingest_novel`` state pattern unchanged)."""
    return (
        mm.select(
            F.md5(F.col(payload_col)).alias("payload_hash"), F.col(id_col)
        )
        .groupBy("payload_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def payload_block_keys(
    mm: DataFrame,
    block_bytes: int = 1024,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(id, block_no, block_hash, n_blocks): md5 digest of every fixed-
    size byte block of the payload — the pigeonhole bucket keys of
    :func:`payload_near_dups` (the SimHash-blocks treatment applied to
    raw bytes). Map-only: a per-row explode of ceil(len/block_bytes)
    binary slices, each hashed JVM-side; zero-length payloads emit no
    blocks (the frame_sample_plan guard)."""
    nb = F.expr(
        f"CAST(ceil(length({payload_col}) / {block_bytes}) AS INT)"
    )
    return (
        mm.where(F.length(payload_col) > 0)
        .select(
            F.col(id_col),
            nb.cast("long").alias("n_blocks"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, CAST(ceil(length({payload_col})"
                    f" / {block_bytes}) AS INT) - 1),"
                    f" i -> md5(substring({payload_col},"
                    f" i * {block_bytes} + 1, {block_bytes})))"
                )
            ).alias("block_no", "block_hash"),
        )
        .select(
            F.col(id_col),
            F.col("block_no").cast("long").alias("block_no"),
            "block_hash",
            "n_blocks",
        )
    )


def payload_near_dups(
    mm: DataFrame,
    block_bytes: int = 1024,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Chunked-byte-signature near-dup probe over binary payloads:
    two payloads are candidates iff they share at least one
    (block_no, block_hash) — identical bytes at the same aligned offset
    window — and a pair is emitted when the shared-block fraction
    ``floor4(n_shared / max(n_blocks_a, n_blocks_b))`` reaches
    ``threshold`` (:func:`_shared_blocks`). Catches the dominant binary
    near-dup classes — re-uploads with appended/truncated tails,
    metadata-stripped copies sharing their byte prefix —
    deterministically and oracle-replayably (no decoder needed, so it
    works in this container and as the cheap pre-filter before any
    perceptual hash in production).

    ``max_bucket_size`` is the hot-bucket guard of
    ``lsh_candidate_pairs``: a degenerate COMMON aligned block — a
    zero-padding run, a shared format header — IS corpus-sized on real
    binary corpora, and its bucket self-join emits B² pairs. Buckets
    over the cap are skipped BEFORE the join; a block that common
    carries no near-dup signal (every pair it
    suggests still shares its other, discriminative blocks), but note
    the capped ``n_shared`` counts only surviving blocks, so a pair
    whose overlap is MOSTLY degenerate blocks can fall under
    ``threshold`` — exactly the intended behavior, audited (never
    silent) via :func:`payload_dropped_buckets`. Default None = exact;
    tests/test_lsh_cap.py pins capped ≡ exact on the driver fixture at
    cap 1000 (no degenerate block there), the hot-bucket unit test
    pins the skip on a synthetic zero-padded corpus. Singleton buckets
    are always pruned — they cannot form a pair, and dropping them
    before the join shrinks both join inputs (the
    ``lsh_candidate_pairs`` treatment; the count agg hashes on the
    same keys as the join, so no extra shuffle of the big side).

    Scale shape: exactly the SimHash pigeonhole envelope — block keys
    are a map-only projection; the only shuffles are the (block_no,
    digest) bucket self-join (bucket sizes = copies of identical
    aligned blocks, capped as above) and the pair-count aggregate;
    byte-shifted content shares no aligned block, so unrelated payloads
    never meet. Output: (id_a, id_b, n_shared, n_blocks_a, n_blocks_b,
    block_sim_r)."""
    keys = payload_block_keys(
        mm, block_bytes, id_col, payload_col
    ).localCheckpoint(eager=False)
    keep = F.col("bsz") >= 2
    if max_bucket_size is not None:
        keep = keep & (F.col("bsz") <= max_bucket_size)
    ok = (
        keys.groupBy("block_no", "block_hash")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .where(keep)
        .select("block_no", "block_hash")
    )
    keys = keys.join(ok, ["block_no", "block_hash"])
    return (
        _shared_blocks(
            keys, keys, ["block_no", "block_hash"], id_col,
            F.col("__ida") < F.col("__idb"),
        )
        .where(F.col("__sim") >= threshold)
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            F.col("__nsh").alias("n_shared"),
            F.col("__nba").alias("n_blocks_a"),
            F.col("__nbb").alias("n_blocks_b"),
            F.col("__sim").alias("block_sim_r"),
        )
    )


def _block_side(
    keys: DataFrame, key: list[str], id_col: str, side: str
) -> DataFrame:
    """One side of a block-bucket join: the bucket ``key`` columns, the id
    as ``__id<side>`` and the payload's block count as ``__nb<side>``."""
    return keys.select(
        *key,
        F.col(id_col).alias(f"__id{side}"),
        F.col("n_blocks").alias(f"__nb{side}"),
    )


def _shared_blocks(
    keys_a: DataFrame,
    keys_b: DataFrame,
    key: list[str],
    id_col: str,
    pair_cond,
) -> DataFrame:
    """The payload block-pair verdict: bucket join of two block-key frames
    (``key`` columns, ``id_col``, ``n_blocks``) → one row per id pair
    meeting ``pair_cond`` with ``__nsh`` = its shared aligned blocks and
    ``__sim`` = the shared-block fraction
    ``floor4(__nsh / max(__nba, __nbb))``. Callers threshold ``__sim``."""
    return (
        _block_side(keys_a, key, id_col, "a")
        .join(_block_side(keys_b, key, id_col, "b"), key)
        .where(pair_cond)
        .groupBy("__ida", "__idb", "__nba", "__nbb")
        .agg(F.count(F.lit(1)).alias("__nsh"))
        .withColumn(
            "__sim", floor4(F.col("__nsh") / F.greatest("__nba", "__nbb"))
        )
    )


def payload_block_state(
    mm: DataFrame,
    block_bytes: int = 1024,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(bblock, doc_id, n_blocks) block-key table of a payload corpus —
    the persisted near-dup state of the payload ingest, the binary
    analog of the text pipeline's ``band_state``: ``bblock`` is the
    single composite key ``block_no || ':' || block_hash`` so the state
    table can be BUCKETED by exactly the collision join's key
    (``write_bucketed_state(..., key='bblock')``; plan-pinned in
    tests/test_bucketing.py). ``n_blocks`` rides along so the shared-
    block-fraction verdict needs no payload re-read — the block
    signature is self-verifying, unlike MinHash bands which only
    CANDIDATE a pair and hand off to an exact-Jaccard pass."""
    return payload_block_keys(mm, block_bytes, id_col, payload_col).select(
        F.concat_ws(
            ":", F.col("block_no").cast("string"), F.col("block_hash")
        ).alias("bblock"),
        F.col(id_col),
        F.col("n_blocks"),
    )


def ingest_novel_payloads(
    new_mm: DataFrame,
    state_digests: DataFrame,
    state_blocks: DataFrame,
    block_bytes: int = 1024,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_bucket_size: int | None = None,
    mis_max_iter: int = 25,
) -> DataFrame:
    """Incremental PAYLOAD ingest — the near-dup ingest family
    (extensions/dedup.py:ingest_novel_neardup) over binary payloads: of
    an arriving batch, admit the payloads that are neither byte-exact
    copies (md5 digest) NOR chunked-block near-dups (shared aligned-
    block fraction ≥ ``threshold``, the :func:`payload_near_dups` rule)
    of the persisted corpus or an already-admitted batch member.
    Returns (id, payload_hash) of the admitted payloads; the caller
    appends the digests to ``state_digests`` and the admitted payloads'
    :func:`payload_block_state` rows to ``state_blocks``. No payload
    store face is needed: the block signature is self-verifying
    (``n_shared`` IS the count of colliding composite keys), so history
    bytes are never re-read at all.

    State contract: ``state_digests`` = accumulated (payload_hash) set;
    ``state_blocks`` = accumulated (bblock, doc_id, n_blocks) table,
    both bucketed by their key in production. Ids unique across state
    and batch; arrival order = id order. Zero-length payloads emit no
    blocks — exact-dedup-only, like sub-``n``-token texts in the text
    family. NULL payloads digest as the EMPTY payload (the shared
    null-content rule): a NULL digest would never match the anti-join
    (NULL <> NULL in join equality), so a null-payload doc would
    re-admit on every redelivery (the text family's null-text rule).

    ``max_bucket_size``: the hot-bucket cap, applied over the COMBINED
    per-key population of the collision join — the batch's own keys plus
    the state rows those keys touch. Counting the state side is scale-
    sane precisely because the state is bucketed by bblock: the key
    semi-join reads only the matching buckets exchange-free, never the
    full history (capped ≡ uncapped pinned on the fixture). The text
    ingest applies the same restrict-to-touched-buckets-then-count
    pattern to its band state; both families share the count-and-filter
    itself (``ingest_kernel.combined_cap_keys``).

    Scale shape: phase 1 is the digest-bucketed anti-join; phase 2's
    collision join hits the bblock-bucketed state (plan pin in
    tests/test_bucketing.py) and verification is the same aggregate that
    found the candidates (:func:`_shared_blocks`); phase 3 runs on the
    batch only, capped the same way, feeding the sequential-arrival
    greedy admission (batch-split + redelivery properties pinned in
    tests/test_properties.py)."""
    from mongo_polars_reconciliation_spark.extensions.ingest_kernel import (
        admit_sequential,
        combined_cap_keys,
        digest_novel_keepers,
    )

    empty_bin = F.lit("").cast("binary")
    dg = F.md5(F.coalesce(F.col(payload_col), empty_bin)).alias("__dg")
    keep1 = digest_novel_keepers(
        new_mm.select(F.col(id_col), dg), state_digests, id_col, "payload_hash"
    ).localCheckpoint(eager=False)
    kept = new_mm.join(keep1.select(id_col), id_col)
    bk = payload_block_state(
        kept, block_bytes, id_col, payload_col
    ).localCheckpoint(eager=False)

    # phase 2: history collisions; the state join touches only the
    # buckets holding the batch's keys (bucketed scan, exchange-free).
    # distinct AFTER the key semi-join (the ingest family's duplicate-
    # state-row contract): a crash-replayed streaming append leaves
    # duplicate block rows, and a duplicated row would double its
    # pair's n_shared — inflating the similarity past the threshold.
    # Cost is bounded by the touched-bucket rows, never full history.
    hits = (
        state_blocks.join(bk.select("bblock").distinct(), "bblock")
        .distinct()
        .localCheckpoint(eager=False)
    )
    if max_bucket_size is not None:
        ok = combined_cap_keys(bk, hits, "bblock", max_bucket_size)
        bk = bk.join(ok, "bblock").localCheckpoint(eager=False)
        hits = hits.join(ok, "bblock")
    # Self-pairs are impossible for legitimate input (ids unique across
    # state and batch) — they arise only from ghost block rows a
    # crash-replayed streaming trigger left behind (blocks/ written,
    # digest ledger not). Unfiltered, a replayed payload meets its own
    # ghost blocks at shared fraction 1.0 and is silently dropped, so
    # the ledger is never backfilled. With the filter, every crash
    # window replays to exactly the original admitted set (pinned in
    # tests/test_properties.py); pairs against OTHER ghosts still
    # verify at the true fraction (block rows are distinct-deduped).
    dropped_hist = (
        _shared_blocks(
            bk, hits, ["bblock"], id_col, F.col("__ida") != F.col("__idb")
        )
        .where(F.col("__sim") >= threshold)
        .select(F.col("__ida").alias(id_col))
        .distinct()
    )
    kept2 = (
        keep1.select(id_col)
        .join(dropped_hist, id_col, "left_anti")
        .localCheckpoint(eager=False)
    )

    # phase 3: within-batch pairs among the history-clean payloads, then
    # greedy admission (a history-dropped payload never blocks anyone)
    bk2 = bk.join(kept2, id_col)
    edges = (
        _shared_blocks(
            bk2, bk2, ["bblock"], id_col, F.col("__ida") < F.col("__idb")
        )
        .where(F.col("__sim") >= threshold)
        .select(F.col("__ida").alias("lo"), F.col("__idb").alias("hi"))
    )
    admitted = admit_sequential(kept2, edges, id_col, mis_max_iter)
    return keep1.join(admitted, id_col).select(
        F.col(id_col), F.col("__dg").alias("payload_hash")
    )


def payload_dropped_buckets(
    mm: DataFrame,
    block_bytes: int = 1024,
    max_bucket_size: int = 1000,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(block_no, block_hash, bsz) for every block bucket the cap in
    :func:`payload_near_dups` would skip — the audit face of the cap
    (the ``lsh_dropped_buckets`` contract): a capped run reports WHAT it
    declined to compare — typically zero-padding runs and shared format
    headers — instead of silently under-reporting payload near-dups."""
    return (
        payload_block_keys(mm, block_bytes, id_col, payload_col)
        .groupBy("block_no", "block_hash")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .where(F.col("bsz") > max_bucket_size)
    )


def frame_sample_plan(
    mm: DataFrame, every_n_bytes: int = 1024, id_col: str = "doc_id"
) -> DataFrame:
    """'Frame sampling' analog over binary payloads: emit (doc, frame_no,
    offset) rows for every ``every_n_bytes`` window — the partition-friendly
    explode that a video pipeline performs before per-frame decode. Pure
    built-in expressions; the decode of each window would be mapInPandas.

    Zero-length payloads emit no frames — without the guard,
    ``sequence(0, -1)`` counts DOWN and fabricates two bogus frames."""
    return mm.where(F.length("payload") > 0).select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(length(payload)/{every_n_bytes}) AS INT) - 1),"
                f" i -> i * {every_n_bytes})"
            )
        ).alias("frame_no", "byte_offset"),
    ).select(
        F.col(id_col),
        F.col("frame_no").cast("long").alias("frame_no"),
        F.col("byte_offset").cast("long").alias("byte_offset"),
    )
