"""Streaming corpus ingestion: exact dedup as a native streaming aggregation.

The batch face of exact dedup (extensions/dedup.py:exact_dedup_groups) is one
hash-groupBy on a text digest. Documents arriving as a stream (a crawler, a
drop-folder of dumps) need the SAME contract — one row per distinct text with
the deterministic keeper — maintained incrementally across micro-batches.
Because min and count are commutative streaming aggregates, Structured
Streaming's aggregation state store computes exactly the batch answer
whatever the arrival order: the drained result is bit-identical to
``dedup_exact`` and shares its oracle.

Scale posture: aggregation state is one row per distinct text hash (the
deduped corpus size, not the arrival count), partitioned by the hash — the
same key the batch groupBy shuffles on. Complete-mode emission to the memory
sink is the bounded-drain test harness; a production sink would run update
mode into an upsert store (sources/state.py:upsert_state_table).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.streaming.events import drain


def read_documents_stream(
    spark: SparkSession,
    docs: DataFrame,
    name: str = "docs",
    n_files: int = 2,
    id_col: str = "doc_id",
    split_expr=None,
) -> DataFrame:
    """File-source stream over a documents frame, delivered as ``n_files``
    micro-batches (maxFilesPerTrigger=1) — the arriving-dumps shape.
    ``split_expr`` (a Column in 0..n_files-1; default id modulus) decides
    which batch a row rides in — callers exercising cross-batch state
    should split so duplicates of one text land in DIFFERENT batches.
    The feed dir is query-private under the process scratch root."""
    from mongo_polars_reconciliation_spark.scratch import scratch_path

    if split_expr is None:
        split_expr = F.pmod(F.col(id_col), F.lit(n_files))
    feed = scratch_path("corpus", name, "feed")
    shutil.rmtree(feed, ignore_errors=True)
    os.makedirs(feed)
    # the per-part feed writes are independent (disjoint dirs, same
    # read-only source) — overlap them on a small driver pool (r16,
    # guide §2.6). The file source orders triggers by modification time,
    # and sequential writes used to give part i an earlier mtime than
    # part i+1 implicitly; with overlapped writes that guarantee must be
    # made explicit, so the mtimes are pinned monotone per part AFTER
    # the writes — the same discipline the order-sensitive harness
    # queries already apply on top (their re-pin is now redundant but
    # harmless).
    import glob as _glob
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    def _write_part(i: int) -> None:
        docs.where(split_expr == i).write.mode("overwrite").parquet(
            f"{feed}/part{i}"
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(_write_part, range(n_files)))
    now = _time.time()
    for i in range(n_files):
        for f in _glob.glob(f"{feed}/part{i}/*.parquet"):
            os.utime(f, (now + 10 * i, now + 10 * i))
    return (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{feed}/part*")
    )


def dedup_state(
    stream: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Streaming exact-dedup aggregation: (text_hash, keeper_id, n_copies),
    keeper = MIN id — commutative aggregates, so the drained state equals
    the batch ``exact_dedup_groups`` regardless of micro-batch order."""
    return (
        stream.select(
            F.md5(F.col(text_col).cast("binary")).alias("text_hash"),
            F.col(id_col),
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def cms_counter_state(
    stream: DataFrame,
    d: int = 3,
    w: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Streaming count-min-sketch maintenance: the (j, b) counter rows of
    ``extensions/text.py:heavy_hitters_cms`` as a NATIVE streaming
    aggregation. Counter increments are plain sums — commutative across
    micro-batches — so the drained complete-mode state is bit-identical
    to the batch sketch whatever the arrival order: the streaming face
    of the mergeability contract ``text_cms_merge`` pins for batch
    partials. State is exactly d×w counter rows however many documents
    stream through — the bounded-state property that makes CMS the
    frequency sketch a perpetual ingest pipeline can afford.

    Note: this is the per-occurrence form (one aggregation), not the
    batch path's vocab-first two-phase rewrite — chained streaming
    aggregations are unsupported, and the sums are identical either
    way."""
    from mongo_polars_reconciliation_spark.functions.hashing import (
        POLY_P31,
        POLY_P31B,
        poly_hash_mixed_col,
    )

    # widen-if-narrow, streaming edition: the token explode + interpreted
    # hash folds are map-side work that would otherwise run on one task
    # per source file within each micro-batch; repartitioning the (cheap,
    # pre-explode) document rows spreads the fold across the cluster. The
    # exchange lands before the stateful aggregate's own shuffle.
    target = stream.sparkSession.sparkContext.defaultParallelism
    tok = stream.repartition(target).select(
        F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    h1 = poly_hash_mixed_col("tok", POLY_P31)
    h2 = poly_hash_mixed_col("tok", POLY_P31B)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).cast("int").alias("j"),
                    F.pmod(
                        F.pmod(h1 + F.lit(j) * h2, F.lit(POLY_P31)),
                        F.lit(w),
                    ).alias("b"),
                )
                for j in range(d)
            ]
        )
    ).alias("jb")
    return (
        tok.select(rows)
        .select(F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def datacard_stream_state(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Streaming maintenance of the exact datacard state
    (``extensions/text.py:datacard_state``): the fused scoring projection
    is map-only, so the one stateful operator is the
    (source, lang, ws_tokens) aggregate — counts and DECIMAL quality
    sums, both commutative, so the drained complete-mode state is
    bit-identical to the batch state whatever the micro-batch order.
    State is |groups × distinct lengths| rows however many documents
    stream through (the bounded-state property); the card itself is a
    batch epilogue over the drained state (``datacard_from_state`` —
    chained streaming aggregations are unsupported, and the derivation
    is a window over sketch-sized rows, not data)."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        fused_doc_scores,
    )

    scored = fused_doc_scores(
        stream, id_col=id_col, text_col=text_col, keep=(source_col, lang_col)
    )
    return scored.groupBy(source_col, lang_col, "ws_tokens").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.col("quality_r").cast("decimal(18,4)")).alias("q_sum"),
    )


def incremental_neardup_ingest(
    docs_stream: DataFrame,
    seed_digests: DataFrame,
    seed_bands: DataFrame,
    seed_docs: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **neardup_kwargs,
) -> None:
    """The FULL crawl loop as a stream: each arriving micro-batch of
    documents runs the batch near-dup admission operator
    (extensions/dedup.py:ingest_novel_neardup) against the seed state
    PLUS everything admitted by earlier micro-batches, then appends its
    admitted docs to all three state faces under ``state_root``
    (admitted/ = (id, text_hash) ledger, bands/ = their band-key rows,
    docs/ = the admitted documents) — so batch N+1's dedup horizon
    includes batch N, exactly like successive dumps against a growing
    corpus.

    Equivalence contract (what the oracle checks): when micro-batch
    arrival order respects id order, the drained admitted set equals the
    ONE-batch admission of the concatenated stream — the greedy
    batch-split property pinned in tests/test_properties.py. Exactly-once
    posture: the admitted/ digest ledger is written LAST —
    a crash between the bands/docs writes and the ledger write means the
    replayed trigger re-derives the SAME admitted set (the state digests
    it anti-joins are unchanged; the operator filters the self-pairs and
    double-counted shingles its own ghost rows would otherwise create —
    the crash-window pins in tests/test_properties.py) and re-appends
    bands/docs, leaving duplicate rows there; ``ingest_novel_neardup``
    tolerates duplicate state rows by construction (bands feed a DISTINCT
    candidate set, docs are deduped after the candidate semi-join), so
    the blind spot the old ledger-first order created (replay admits
    nothing → bands/docs never backfilled → permanent near-dup hole)
    cannot occur. A production transactional sink (sources/state.py
    capability gate) would put all three faces in one transaction; until
    then this ordering makes every crash window replay-idempotent rather
    than merely the ledger.

    ``neardup_kwargs`` are forwarded BOTH to the admission operator and
    to the ``band_state`` rows persisted for admitted docs: the MinHash
    geometry — n/num_hashes/bands — must match between the state being
    probed and the state being appended, or later triggers silently miss
    near-dups of earlier admissions.

    Like ``incremental_match``, the per-batch plan is the batch engine's
    (swept by the batch plan sweep); this captures the stream side."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel_neardup,
    )
    from mongo_polars_reconciliation_spark.streaming.recon import (
        _has_state_files,
    )

    spark = seed_docs.sparkSession
    adm_dir = f"{state_root}/admitted"
    bands_dir = f"{state_root}/bands"
    docs_dir = f"{state_root}/docs"
    # the band-state geometry MUST match the admission join's keys —
    # these kwargs are the shared subset of the two signatures
    band_kwargs = {
        k: v
        for k, v in neardup_kwargs.items()
        if k in ("n", "num_hashes", "bands")
    }

    def process(batch: DataFrame, epoch_id: int) -> None:
        digests = seed_digests.select("text_hash")
        bands = seed_bands.select("bband", id_col)
        corpus = seed_docs.select(id_col, text_col)
        if _has_state_files(spark, adm_dir):
            digests = digests.unionByName(
                spark.read.parquet(adm_dir).select("text_hash")
            ).distinct()
            bands = bands.unionByName(spark.read.parquet(bands_dir))
            corpus = corpus.unionByName(spark.read.parquet(docs_dir))
        admitted = ingest_novel_neardup(
            batch, digests, bands, corpus,
            id_col=id_col, text_col=text_col, **neardup_kwargs,
        ).localCheckpoint(eager=True)
        adm_docs = batch.select(id_col, text_col).join(
            admitted.select(id_col), id_col
        ).localCheckpoint(eager=True)
        # bands + docs BEFORE the admitted/ ledger (see docstring): a crash
        # anywhere in this window leaves the digest ledger short, so the
        # replayed trigger re-derives the same admissions and the duplicate
        # band/doc appends are tolerated downstream. The two PRE-ledger
        # writes are mutually independent (both read the eager adm_docs
        # checkpoint, land in disjoint dirs) and unordered within the
        # crash window, so they overlap on a 2-thread pool (r16, guide
        # §2.6); only the ledger write must come strictly after both.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f1 = pool.submit(
                lambda: band_state(adm_docs, id_col, text_col, **band_kwargs)
                .write.mode("append")
                .parquet(bands_dir)
            )
            f2 = pool.submit(
                lambda: adm_docs.write.mode("append").parquet(docs_dir)
            )
            f1.result()
            f2.result()
        admitted.write.mode("append").parquet(adm_dir)

    drain(
        docs_stream.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint_dir
        ),
        "incremental_neardup",
    )


def incremental_semantic_ingest(
    vecs_stream: DataFrame,
    seed_assign: DataFrame,
    seed_vecs: DataFrame,
    cents: "list[list[float]]",
    state_root: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mis_max_iter: int = 25,
) -> None:
    """The embedding-space crawl loop as a stream (r10) — the vector face
    of :func:`incremental_neardup_ingest`: each arriving micro-batch of
    vectors runs the batch semantic admission
    (extensions/similarity.py:ingest_novel_semantic) under the PERSISTED
    centroid artifact against the seed state PLUS everything admitted by
    earlier triggers, then appends the admitted vectors to both state
    faces under ``state_root`` (vecs/ = the vector store, assign/ =
    their probe-assignment rows).

    ``cents`` and ``nprobe`` are shared between the admission join and
    the appended :func:`assignment_state` rows — the MinHash-geometry
    lesson applied to probe keys: a per-trigger refit (or a different
    nprobe) would make later triggers probe the accumulated state with
    mismatched blocks and silently miss semantic dups of earlier
    admissions.

    Exactly-once posture: the semantic family has NO separate ledger
    face — an admitted vector's own (assign, vecs) rows ARE its ledger,
    because a redelivered copy meets itself at cos 1.0 and is dropped.
    Write order vecs/ THEN assign/: a crash after vecs/ leaves the
    ghosts unreachable (the store is only read through the assignment
    collision semi-join), so the replayed trigger re-derives the same
    admissions and re-appends — duplicate rows are deduped after the
    semi-join; a crash after both faces means the replay admits nothing
    and the faces are already complete. Both windows pinned in
    tests/test_properties.py; the drained admitted set is read from the
    vecs/ face, so every window drains to the same answer."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        assignment_state,
        ingest_novel_semantic,
    )
    from mongo_polars_reconciliation_spark.streaming.recon import (
        _has_state_files,
    )

    spark = seed_vecs.sparkSession
    vecs_dir = f"{state_root}/vecs"
    assign_dir = f"{state_root}/assign"

    def process(batch: DataFrame, epoch_id: int) -> None:
        assign = seed_assign.select("blk", id_col)
        vecs = seed_vecs.select(id_col, vec_col)
        if _has_state_files(spark, vecs_dir):
            vecs = vecs.unionByName(spark.read.parquet(vecs_dir))
        if _has_state_files(spark, assign_dir):
            assign = assign.unionByName(spark.read.parquet(assign_dir))
        admitted = ingest_novel_semantic(
            batch, assign, vecs, cents,
            threshold=threshold, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col, mis_max_iter=mis_max_iter,
        ).localCheckpoint(eager=True)
        adm_vecs = batch.select(id_col, vec_col).join(
            admitted, id_col
        ).localCheckpoint(eager=True)
        adm_vecs.write.mode("append").parquet(vecs_dir)
        assignment_state(
            adm_vecs, cents, nprobe, id_col, vec_col
        ).write.mode("append").parquet(assign_dir)

    drain(
        vecs_stream.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint_dir
        ),
        "incremental_semantic",
    )


def incremental_payload_ingest(
    mm_stream: DataFrame,
    seed_digests: DataFrame,
    seed_blocks: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    block_bytes: int = 1024,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_bucket_size: "int | None" = None,
    mis_max_iter: int = 25,
) -> None:
    """The binary-payload crawl loop as a stream (r10): each arriving
    micro-batch of payloads runs the batch admission
    (extensions/multimodal.py:ingest_novel_payloads) against the seed
    state PLUS everything admitted by earlier triggers, then appends the
    admitted payloads' block-key rows to blocks/ and their (id,
    payload_hash) rows to the admitted/ digest ledger — blocks BEFORE
    the ledger, the text loop's write order: a crash in the window means
    the replayed trigger re-derives the SAME admissions (digests
    unchanged; the operator filters the self-pairs its ghost block rows
    would create — the crash-window pin in tests/test_properties.py) and
    re-appends, with duplicate block rows deduped after the candidate
    semi-join. ``block_bytes`` is shared between the admission join and
    the appended :func:`payload_block_state` rows — mismatched chunk
    geometry would make later triggers probe with foreign keys."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        ingest_novel_payloads,
        payload_block_state,
    )
    from mongo_polars_reconciliation_spark.streaming.recon import (
        _has_state_files,
    )

    spark = seed_digests.sparkSession
    adm_dir = f"{state_root}/admitted"
    blocks_dir = f"{state_root}/blocks"

    def process(batch: DataFrame, epoch_id: int) -> None:
        digests = seed_digests.select("payload_hash")
        blocks = seed_blocks.select("bblock", id_col, "n_blocks")
        if _has_state_files(spark, adm_dir):
            digests = digests.unionByName(
                spark.read.parquet(adm_dir).select("payload_hash")
            ).distinct()
            blocks = blocks.unionByName(spark.read.parquet(blocks_dir))
        admitted = ingest_novel_payloads(
            batch, digests, blocks,
            block_bytes=block_bytes, threshold=threshold,
            id_col=id_col, payload_col=payload_col,
            max_bucket_size=max_bucket_size, mis_max_iter=mis_max_iter,
        ).localCheckpoint(eager=True)
        adm_mm = batch.select(id_col, payload_col).join(
            admitted.select(id_col), id_col
        ).localCheckpoint(eager=True)
        payload_block_state(
            adm_mm, block_bytes, id_col, payload_col
        ).write.mode("append").parquet(blocks_dir)
        admitted.write.mode("append").parquet(adm_dir)

    drain(
        mm_stream.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint_dir
        ),
        "incremental_payload",
    )


def compact_ingest_state(
    spark: SparkSession,
    state_root: str,
    table_prefix: str = "corpus_ingest",
    buckets: int = 64,
    id_col: str = "doc_id",
) -> "dict[str, str]":
    """Compact the crawl loop's append-only state dirs into the BUCKETED
    tables the admission joins want (r9): ``incremental_neardup_ingest``
    appends one parquet fragment per micro-batch to admitted/ bands/
    docs/ — correct, but after N triggers each is N small fragments and
    every anti-join reshuffles the whole accumulated state. This rewrite
    lands each face bucketed by exactly its join key — digests by
    text_hash, band keys by bband, docs by the id — so the NEXT ingest
    reads the (huge) state sides exchange-free, the layout both
    bucketed-state plan pins in tests/test_bucketing.py verify.

    Returns {face: table_name}. Run it like any compaction job — between
    ingest waves, not inside one; readers launched before the rewrite
    keep their snapshot, and the loop's idempotence property means a
    re-delivered batch admits nothing whether it reads the fragments or
    the compacted tables (pinned in tests/test_streaming.py).

    Consumers (r10, advice): the compacted tables feed the BATCH wave
    path — ``spark.table(out['digests'])`` etc. straight into
    ``ingest_novel_neardup`` (the ``dedup_ingest_waves`` query is exactly
    wave → compact → wave, with the wave-2 plan pinned exchange-free on
    all three compacted faces). ``incremental_neardup_ingest`` reads the
    ``state_root`` parquet DIRS, not these tables — to resume the
    streaming loop after a compaction, seed a fresh ``state_root`` from
    the tables (or pass them as the seed_* frames of a new loop)."""
    from mongo_polars_reconciliation_spark.sources.state import (
        write_bucketed_state,
    )

    faces = {
        "digests": (f"{state_root}/admitted", "text_hash"),
        "bands": (f"{state_root}/bands", "bband"),
        "docs": (f"{state_root}/docs", id_col),
    }
    return _compact_faces(
        spark,
        faces,
        table_prefix,
        buckets,
        dedupe={"digests": ["text_hash"]},
    )


def compact_semantic_state(
    spark: SparkSession,
    state_root: str,
    table_prefix: str = "semantic_ingest",
    buckets: int = 64,
    id_col: str = "vec_id",
) -> "dict[str, str]":
    """:func:`compact_ingest_state` for the embedding-space crawl loop's
    faces (r10): ``incremental_semantic_ingest`` appends one fragment per
    trigger to vecs/ and assign/; this rewrite lands the vector store
    bucketed by the id (the collision verify's semi-join key) and the
    assignment rows by blk (the collision join's key), and drops the
    duplicate rows a crash-replayed trigger may have appended — dedup at
    compaction is SAFE precisely because the admission joins already
    treat duplicate state rows as semantics-free. Same consumer routing
    as the text compactor: tables feed the batch wave path; the
    streaming loop reads state_root dirs."""
    faces = {
        "vecs": (f"{state_root}/vecs", id_col),
        "assign": (f"{state_root}/assign", "blk"),
    }
    return _compact_faces(
        spark,
        faces,
        table_prefix,
        buckets,
        dedupe={"vecs": None, "assign": None},
    )


def compact_payload_state(
    spark: SparkSession,
    state_root: str,
    table_prefix: str = "payload_ingest",
    buckets: int = 64,
    id_col: str = "doc_id",
) -> "dict[str, str]":
    """:func:`compact_ingest_state` for the binary-payload crawl loop's
    faces (r10): the (doc_id, payload_hash) ledger bucketed by
    payload_hash (the digest anti-join's key) and the block rows by
    bblock (the collision join's key), crash-replay duplicates dropped.
    Same consumer routing as the text compactor."""
    faces = {
        "digests": (f"{state_root}/admitted", "payload_hash"),
        "blocks": (f"{state_root}/blocks", "bblock"),
    }
    return _compact_faces(
        spark,
        faces,
        table_prefix,
        buckets,
        dedupe={"digests": None, "blocks": None},
    )


def _compact_faces(
    spark: SparkSession,
    faces: "dict[str, tuple[str, str]]",
    table_prefix: str,
    buckets: int,
    dedupe: "dict[str, list[str] | None] | None" = None,
) -> "dict[str, str]":
    """Shared face-rewrite loop of the three state compactors: each
    ``face -> (fragment_dir, bucket_key)`` lands as a managed bucketed
    table ``{table_prefix}_{face}``. ``dedupe[face]`` = column subset to
    project-and-distinct (None = full-row distinct); faces absent from
    ``dedupe`` are rewritten verbatim."""
    from mongo_polars_reconciliation_spark.sources.state import (
        write_bucketed_state,
    )

    # the stale-location cleanup below shells out to the local filesystem —
    # loudly refuse a non-local warehouse URI instead of rmtree'ing a
    # stripped-scheme path that doesn't mean what it says (r10, advice)
    wh_uri = spark.conf.get("spark.sql.warehouse.dir")
    if not (wh_uri.startswith("file:") or wh_uri.startswith("/")):
        raise ValueError(
            f"state compaction only supports a local (file:) warehouse; "
            f"spark.sql.warehouse.dir={wh_uri!r} — on a remote warehouse, "
            f"drop the stale table locations with the catalog's own tooling"
        )
    wh = wh_uri.removeprefix("file:")

    def _compact_one(item) -> tuple[str, str]:
        face, (path, key) = item
        table = f"{table_prefix}_{face}"
        # a crashed earlier compaction can leave the managed location
        # behind after its table entry is gone — saveAsTable then fails
        # with LOCATION_ALREADY_EXISTS; clear it like the table itself
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
        df = spark.read.parquet(path)
        if dedupe is not None and face in dedupe:
            cols = dedupe[face]
            df = (df.select(*cols) if cols else df).distinct()
        write_bucketed_state(df, table, buckets=buckets, key=key)
        return face, table

    # face rewrites are independent (distinct tables, distinct source
    # dirs) — overlap them on a small driver pool (r16, guide §2.6) so
    # one face's write tail back-fills with the next face's scan
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        return dict(pool.map(_compact_one, faces.items()))


def ingest_novel_state(
    stream: DataFrame,
    state_digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming incremental corpus ingest — the crawl loop's streaming
    face (batch form: extensions/dedup.py:ingest_novel): arriving
    documents are digested, anti-joined against the PERSISTED digest
    state via a STREAM-STATIC left anti join (stateless per micro-batch —
    the static side is a plain table, re-read per trigger, so a state
    refresh between runs is picked up automatically), then reduced to one
    keeper row per novel digest by the commutative (min, count)
    aggregation — so the drained complete-mode result is bit-identical to
    the batch operator whatever the arrival order or micro-batch split.

    Scale posture: the anti-join is the stream-static shape Structured
    Streaming executes WITHOUT join state (only the aggregation keeps
    state — one row per novel digest); the static digest table is the
    same bucketed-by-text_hash layout the batch path uses
    (tests/test_bucketing.py), so at 100 TB the stored side joins
    exchange-free and only the micro-batch moves."""
    dg = F.md5(
        F.coalesce(F.col(text_col), F.lit("")).cast("binary")
    ).alias("text_hash")
    novel = stream.select(F.col(id_col), dg).join(
        state_digests.select("text_hash"), "text_hash", "left_anti"
    )
    return novel.groupBy("text_hash").agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
