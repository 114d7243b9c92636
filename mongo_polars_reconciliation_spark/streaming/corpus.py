"""Streaming corpus ingestion.

Two kinds of streaming face live here.

**Native streaming aggregations** (``dedup_state``, ``cms_counter_state``,
``ingest_novel_state``, and ``extensions/text.py:datacard_state``, which
runs on a stream unchanged): the batch operator's state is a commutative
aggregate (min, count, sums), so Structured Streaming's state store
computes exactly the batch answer whatever the arrival order or
micro-batch split, and the drained result shares the batch face's
oracle. State is one row per aggregate key (distinct text hash, sketch
counter, datacard group), partitioned by that key.

**The crawl loop** (``incremental_neardup_ingest``,
``incremental_semantic_ingest``, ``incremental_payload_ingest``): the
reference's ingest loop (``second_conciliate.py:420-447``: read the
persisted state, admit only novel rows, append) as a ``foreachBatch``
stream, written once in ``_crawl_loop``. Each family is an admission
operator plus its list of state faces, each face a parquet dir under
``state_root``, in write order. Per trigger:

- every face is read as its seed frame unioned with its dir, when the dir
  holds files — so trigger N+1's horizon includes trigger N's admissions,
  as successive dumps meet a growing corpus;
- the family's batch admission operator runs against those faces;
- the admitted ids and the admitted batch rows are eager-checkpointed, so
  every append reads one materialized answer;
- the pre-ledger faces are appended (overlapped), then the ledger face —
  the last in the list — strictly after them.

Crash safety follows from the write order. A crash after some pre-ledger
appends leaves the ledger short, so the replayed trigger re-derives the
same admissions and appends them again; a crash after the ledger append
means the replay admits nothing, and every face is already complete.
The duplicate and ghost state rows a replay leaves are harmless by
construction of the admission operators: the text and payload operators filter the
self-pairs a replayed row forms with its own ghost and dedup state rows
after their candidate semi-join, and the semantic store is reached only
through its assign/ ledger. The crash-window tests in
tests/test_properties.py and tests/test_streaming.py pin this. A
transactional sink would put all faces in one commit; until then this
order makes every crash window replay-idempotent.

The per-trigger plan is the batch engine's (swept by the batch plan
sweep); ``drain`` records the stream side in ``LAST_PLANS``. The
compactors (``compact_*_state``) rewrite a loop's append-only dirs into
the bucketed tables the batch wave path reads.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.extensions.text import cms_cells
from mongo_polars_reconciliation_spark.session import overlap
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
    # the per-part writes are independent (disjoint dirs, one read-only
    # source), so they overlap. The file source orders triggers by
    # modification time, so after the writes every file of part i gets an
    # mtime strictly below every file of part i+1: trigger order is part
    # order, which the order-sensitive crawl loops rely on.
    import glob as _glob
    import time as _time

    def _write_part(i: int) -> None:
        docs.where(split_expr == i).write.mode("overwrite").parquet(
            f"{feed}/part{i}"
        )

    overlap(_write_part, range(n_files))
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
    way. The cells are :func:`extensions.text.cms_cells`, as in the
    batch sketch."""
    # widen-if-narrow, streaming edition: the token explode + interpreted
    # hash folds are map-side work that would otherwise run on one task
    # per source file within each micro-batch; repartitioning the (cheap,
    # pre-explode) document rows spreads the fold across the cluster. The
    # exchange lands before the stateful aggregate's own shuffle.
    target = stream.sparkSession.sparkContext.defaultParallelism
    tok = stream.repartition(target).select(
        F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    return (
        cms_cells(tok, d, w)
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _crawl_loop(
    stream: DataFrame,
    faces: "list[tuple[str, DataFrame, Callable]]",
    admit: "Callable[[DataFrame, dict[str, DataFrame]], DataFrame]",
    row_cols: "tuple[str, ...]", state_root: str, checkpoint_dir: str,
    plan_name: str, id_col: str, digest_ledger: bool = True,
) -> None:
    """Drain ``stream`` through the crawl loop (module docstring).

    ``faces`` lists ``(name, seed, rows)`` in write order, the last being
    the ledger. Per trigger, face ``name`` is read as ``seed`` unioned
    with the ``state_root/name`` dir (projected to ``seed``'s columns)
    when that dir holds files, a ``digest_ledger`` then DISTINCTed;
    ``admit(batch, {name: face})`` gives the admitted ids; the ids and
    the admitted batch rows (``id_col`` + ``row_cols``) are
    eager-checkpointed; ``rows(admitted, admitted_rows)`` is appended to
    every face but the ledger on a 2-thread pool, then to the ledger.
    The executed plan lands in ``LAST_PLANS[plan_name]``."""
    from mongo_polars_reconciliation_spark.streaming.recon import (
        _has_state_files,
    )

    spark = stream.sparkSession
    ledger = faces[-1][0]

    def read(name: str, seed: DataFrame) -> DataFrame:
        path = f"{state_root}/{name}"
        if not _has_state_files(spark, path):
            return seed
        df = seed.unionByName(spark.read.parquet(path).select(*seed.columns))
        return df.distinct() if digest_ledger and name == ledger else df

    def process(batch: DataFrame, epoch_id: int) -> None:
        state = {name: read(name, seed) for name, seed, _ in faces}
        admitted = admit(batch, state).localCheckpoint(eager=True)
        adm_rows = batch.select(id_col, *row_cols).join(
            admitted.select(id_col), id_col
        ).localCheckpoint(eager=True)

        def append(face) -> None:
            name, _, rows = face
            rows(admitted, adm_rows).write.mode("append").parquet(
                f"{state_root}/{name}"
            )

        # the pre-ledger appends read only the two checkpoints and land in
        # disjoint dirs, so they overlap; the ledger waits for all of them
        overlap(append, faces[:-1])
        append(faces[-1])

    drain(
        stream.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint_dir
        ),
        plan_name,
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
    """The text crawl loop: each trigger runs
    ``extensions/dedup.py:ingest_novel_neardup`` against the seeds plus
    every earlier admission, then appends bands/ (the admitted docs'
    band keys), docs/ (the admitted docs) and, last, the admitted/
    (id, text_hash) ledger.

    Equivalence contract (what the oracle checks): when trigger order
    respects id order, the drained admitted set equals the one-batch
    admission of the concatenated stream — the greedy batch-split
    property pinned in tests/test_properties.py.

    ``neardup_kwargs`` go both to the admission operator and to the
    ``band_state`` rows appended for admitted docs: the MinHash geometry
    (n/num_hashes/bands) must match between the state probed and the
    state appended, or later triggers silently miss near-dups of earlier
    admissions."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel_neardup,
    )

    # the shared subset of the admission and band_state signatures
    band_kwargs = {
        k: v
        for k, v in neardup_kwargs.items()
        if k in ("n", "num_hashes", "bands")
    }
    faces = [
        ("bands", seed_bands.select("bband", id_col),
         lambda adm, rows: band_state(rows, id_col, text_col, **band_kwargs)),
        ("docs", seed_docs.select(id_col, text_col), lambda adm, rows: rows),
        ("admitted", seed_digests.select("text_hash"), lambda adm, rows: adm),
    ]
    _crawl_loop(
        docs_stream, faces,
        lambda batch, st: ingest_novel_neardup(
            batch, st["admitted"], st["bands"], st["docs"],
            id_col=id_col, text_col=text_col, **neardup_kwargs,
        ),
        (text_col,), state_root, checkpoint_dir, "incremental_neardup", id_col,
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
    """The embedding crawl loop: each trigger runs
    ``extensions/similarity.py:ingest_novel_semantic`` under the persisted
    centroid artifact against the seeds plus every earlier admission,
    then appends vecs/ (the admitted vectors) and, last, assign/ (their
    probe-assignment rows).

    ``cents`` and ``nprobe`` are shared between the admission join and
    the appended :func:`assignment_state` rows: a per-trigger refit (or a
    different nprobe) would make later triggers probe the accumulated
    state with mismatched blocks and silently miss semantic dups of
    earlier admissions.

    This family has no digest ledger: an admitted vector's own assign/
    rows are its ledger entry, because a redelivered copy meets itself at
    cos 1.0 and is dropped. Ghost vecs/ rows from a crash before the
    assign/ append are unreachable (the store is read only through the
    assignment collision semi-join). The drained admitted set is read
    from vecs/."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        assignment_state,
        ingest_novel_semantic,
    )

    faces = [
        ("vecs", seed_vecs.select(id_col, vec_col), lambda adm, rows: rows),
        ("assign", seed_assign.select("blk", id_col),
         lambda adm, rows: assignment_state(rows, cents, nprobe, id_col, vec_col)),
    ]
    _crawl_loop(
        vecs_stream, faces,
        lambda batch, st: ingest_novel_semantic(
            batch, st["assign"], st["vecs"], cents,
            threshold=threshold, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col, mis_max_iter=mis_max_iter,
        ),
        (vec_col,), state_root, checkpoint_dir, "incremental_semantic", id_col,
        digest_ledger=False,
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
    """The binary-payload crawl loop: each trigger runs
    ``extensions/multimodal.py:ingest_novel_payloads`` against the seeds
    plus every earlier admission, then appends blocks/ (the admitted
    payloads' block keys) and, last, the admitted/ (id, payload_hash)
    ledger. ``block_bytes`` is shared between the admission join and the
    appended :func:`payload_block_state` rows — a mismatched chunk
    geometry would make later triggers probe with foreign keys."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        ingest_novel_payloads,
        payload_block_state,
    )

    faces = [
        ("blocks", seed_blocks.select("bblock", id_col, "n_blocks"),
         lambda adm, rows: payload_block_state(
             rows, block_bytes, id_col, payload_col
         )),
        ("admitted", seed_digests.select("payload_hash"), lambda adm, rows: adm),
    ]
    _crawl_loop(
        mm_stream, faces,
        lambda batch, st: ingest_novel_payloads(
            batch, st["admitted"], st["blocks"],
            block_bytes=block_bytes, threshold=threshold,
            id_col=id_col, payload_col=payload_col,
            max_bucket_size=max_bucket_size, mis_max_iter=mis_max_iter,
        ),
        (payload_col,), state_root, checkpoint_dir, "incremental_payload", id_col,
    )


def compact_ingest_state(
    spark: SparkSession,
    state_root: str,
    table_prefix: str = "corpus_ingest",
    buckets: int = 64,
    id_col: str = "doc_id",
) -> "dict[str, str]":
    """Compact the crawl loop's append-only state dirs into the BUCKETED
    tables the admission joins want: ``incremental_neardup_ingest``
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

    Consumers: the compacted tables feed the BATCH wave
    path — ``spark.table(out['digests'])`` etc. straight into
    ``ingest_novel_neardup`` (the ``dedup_ingest_waves`` query is exactly
    wave → compact → wave, with the wave-2 plan pinned exchange-free on
    all three compacted faces). ``incremental_neardup_ingest`` reads the
    ``state_root`` parquet DIRS, not these tables — to resume the
    streaming loop after a compaction, seed a fresh ``state_root`` from
    the tables (or pass them as the seed_* frames of a new loop)."""
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
    faces: ``incremental_semantic_ingest`` appends one fragment per
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
    faces: the (doc_id, payload_hash) ledger bucketed by
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
    # stripped-scheme path that doesn't mean what it says
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
    # dirs) — overlap them so one face's write tail back-fills with the
    # next face's scan
    return dict(overlap(_compact_one, faces.items()))


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
