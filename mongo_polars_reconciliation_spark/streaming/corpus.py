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
stream, written once in ``_crawl_loop``.

Each ingest family is ONE definition here (:class:`NeardupFamily`,
:class:`SemanticFamily`, :class:`PayloadFamily`), and every caller (the
loops, :func:`compact_state`, the harness faces, the scale probes and
the tests) takes its state from it:

- ``faces``: the state faces in write order, the ledger last. A
  :class:`Face` names its parquet dir under ``state_root``, the columns
  the admission reads, its bucket key and the rows a trigger appends;
- the geometry (MinHash ``n``/``num_hashes``/``bands``; centroids and
  ``nprobe``; ``block_bytes``) is bound once, on the family, so the
  state probed and the state appended can never disagree (a mismatch
  silently misses near-dups of earlier admissions);
- ``seed(history)``: each face's rows for a history corpus. A digest
  ledger digests NULL content as the empty content;
- ``fold(state, admitted, admitted_rows)``: each face unioned with the
  rows one trigger appends, a digest ledger DISTINCTed — the state the
  next trigger reads back;
- ``admit(batch, state, **kwargs)``: the family's batch admission
  operator under that geometry.

Per trigger the loop reads every face as its seed unioned with its dir
(when the dir holds files), admits, eager-checkpoints the admitted ids
and the admitted batch rows so every append reads one materialized
answer, appends the pre-ledger faces (overlapped), then the ledger.

Invariants:

- **The ledger is written last.** A crash after some pre-ledger
  appends leaves the ledger short, so the replayed trigger re-derives
  the same admissions and appends them again; a crash after the ledger
  append means the replay admits nothing, and every face is already
  complete. A transactional sink would put all faces in one commit;
  until then this order makes every crash window replay-idempotent.
- **Duplicate and ghost state rows are semantics-free.** The text and
  payload operators filter the self-pairs a replayed row forms with its
  own ghost and dedup state rows after their candidate semi-join; the
  semantic store is reached only through its assign/ ledger. This is
  also why :func:`compact_state` may DISTINCT every face.
- **The geometry is bound once** per family instance (above).

The crash-window tests in tests/test_properties.py and
tests/test_streaming.py pin the first two, parametrized over the three
families. The per-trigger plan is the batch engine's (swept by the
batch plan sweep); ``drain`` records the stream side in ``LAST_PLANS``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.extensions import (
    dedup,
    multimodal,
    similarity,
)
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


@dataclass(frozen=True)
class Face:
    """One state face of an ingest family: the parquet dir
    ``state_root/<path>`` the crawl loop appends to, and the table
    :func:`compact_state` buckets by ``key``.

    ``cols`` are what the admission operator reads: a seed and a dir are
    projected to them. ``rows(admitted, admitted_rows)`` gives the rows
    one trigger appends. A ``ledger_set`` face is a digest ledger: every
    read and every fold DISTINCTs it."""

    name: str
    cols: "tuple[str, ...]"
    key: str
    rows: "Callable[[DataFrame, DataFrame], DataFrame]"
    ledger_set: bool = False
    dir: str = ""

    @property
    def path(self) -> str:
        return self.dir or self.name

    def union(self, state: DataFrame, rows: DataFrame) -> DataFrame:
        df = state.unionByName(rows.select(*self.cols))
        return df.distinct() if self.ledger_set else df


class IngestFamily:
    """What the three families share (module docstring). A family
    defines ``id_col``, ``row_col`` (the content column), ``plan_name``,
    ``faces`` in write order with the ledger last, ``digests(history)``
    and ``admit(batch, state, **kwargs)``."""

    def seed(self, history: DataFrame) -> "dict[str, DataFrame]":
        """Each face's rows for a ``history`` corpus: the whole history
        appended as one admission."""
        admitted = self.digests(history)
        return {
            f.name: f.rows(admitted, history).select(*f.cols)
            for f in self.faces
        }

    def admitted_rows(
        self, batch: DataFrame, admitted: DataFrame
    ) -> DataFrame:
        """The batch rows (id + content) of the admitted ids."""
        return batch.select(self.id_col, self.row_col).join(
            admitted.select(self.id_col), self.id_col
        )

    def fold(
        self, state: "dict[str, DataFrame]", admitted: DataFrame,
        admitted_rows: DataFrame,
    ) -> "dict[str, DataFrame]":
        """``state`` after one admission: each face unioned with the rows a
        trigger appends to it, exactly as the crawl loop reads them back."""
        return {
            f.name: f.union(state[f.name], f.rows(admitted, admitted_rows))
            for f in self.faces
        }


def _digest_ledger(
    history: DataFrame, col: str, alias: str, empty
) -> DataFrame:
    """The distinct content digests of ``history``; NULL content digests as
    the empty content (md5(NULL) is NULL, and NULL never matches the
    admission's anti-join, so a NULL-content doc would re-admit forever)."""
    return history.select(
        F.md5(F.coalesce(F.col(col), empty)).alias(alias)
    ).distinct()


@dataclass(frozen=True)
class NeardupFamily(IngestFamily):
    """Text near-dup ingest (``extensions/dedup.py:ingest_novel_neardup``):
    bands/ (MinHash band keys), docs/ and, last, the admitted/
    (id, text_hash) digest ledger. The MinHash geometry ``n`` /
    ``num_hashes`` / ``bands`` is bound here, so the state probed and
    the state appended share it."""

    id_col: str = "doc_id"
    row_col: str = "text"
    n: int = 3
    num_hashes: int = 12
    bands: int = 4
    plan_name = "incremental_neardup"

    @property
    def faces(self) -> "tuple[Face, ...]":
        return (
            Face("bands", ("bband", self.id_col), "bband",
                 lambda adm, rows: dedup.band_state(
                     rows, self.id_col, self.row_col, self.n,
                     self.num_hashes, self.bands,
                 )),
            Face("docs", (self.id_col, self.row_col), self.id_col,
                 lambda adm, rows: rows),
            Face("digests", ("text_hash",), "text_hash",
                 lambda adm, rows: adm, ledger_set=True, dir="admitted"),
        )

    def digests(self, history: DataFrame) -> DataFrame:
        return _digest_ledger(history, self.row_col, "text_hash", F.lit(""))

    def admit(
        self, batch: DataFrame, state: "dict[str, DataFrame]", **kwargs
    ) -> DataFrame:
        return dedup.ingest_novel_neardup(
            batch, state["digests"], state["bands"], state["docs"],
            id_col=self.id_col, text_col=self.row_col, n=self.n,
            num_hashes=self.num_hashes, bands=self.bands, **kwargs,
        )


@dataclass(frozen=True)
class SemanticFamily(IngestFamily):
    """Embedding ingest (``extensions/similarity.py:ingest_novel_semantic``):
    vecs/ and, last, assign/ (probe-assignment rows). The centroid
    artifact ``cents`` and ``nprobe`` are bound here: a per-trigger refit
    or another nprobe would probe the accumulated state with mismatched
    blocks. There is no digest ledger: an admitted vector's own assign/
    rows are its ledger entry, because a redelivered copy meets itself at
    cos 1.0, and ghost vecs/ rows are unreachable without them."""

    cents: "list[list[float]]"
    nprobe: int = 2
    id_col: str = "vec_id"
    row_col: str = "embedding"
    plan_name = "incremental_semantic"

    @property
    def faces(self) -> "tuple[Face, ...]":
        return (
            Face("vecs", (self.id_col, self.row_col), self.id_col,
                 lambda adm, rows: rows),
            Face("assign", ("blk", self.id_col), "blk",
                 lambda adm, rows: similarity.assignment_state(
                     rows, self.cents, self.nprobe, self.id_col, self.row_col
                 )),
        )

    def digests(self, history: DataFrame) -> None:
        return None

    def admit(
        self, batch: DataFrame, state: "dict[str, DataFrame]", **kwargs
    ) -> DataFrame:
        return similarity.ingest_novel_semantic(
            batch, state["assign"], state["vecs"], self.cents,
            nprobe=self.nprobe, id_col=self.id_col, vec_col=self.row_col,
            **kwargs,
        )


@dataclass(frozen=True)
class PayloadFamily(IngestFamily):
    """Binary-payload ingest
    (``extensions/multimodal.py:ingest_novel_payloads``): blocks/
    (aligned-block keys) and, last, the admitted/ (id, payload_hash)
    digest ledger. The chunk geometry ``block_bytes`` is bound here."""

    block_bytes: int = 1024
    id_col: str = "doc_id"
    row_col: str = "payload"
    plan_name = "incremental_payload"

    @property
    def faces(self) -> "tuple[Face, ...]":
        return (
            Face("blocks", ("bblock", self.id_col, "n_blocks"), "bblock",
                 lambda adm, rows: multimodal.payload_block_state(
                     rows, self.block_bytes, self.id_col, self.row_col
                 )),
            Face("digests", ("payload_hash",), "payload_hash",
                 lambda adm, rows: adm, ledger_set=True, dir="admitted"),
        )

    def digests(self, history: DataFrame) -> DataFrame:
        return _digest_ledger(
            history, self.row_col, "payload_hash", F.lit("").cast("binary")
        )

    def admit(
        self, batch: DataFrame, state: "dict[str, DataFrame]", **kwargs
    ) -> DataFrame:
        return multimodal.ingest_novel_payloads(
            batch, state["digests"], state["blocks"],
            block_bytes=self.block_bytes, id_col=self.id_col,
            payload_col=self.row_col, **kwargs,
        )


def _crawl_loop(
    stream: DataFrame, family: IngestFamily, seeds: "dict[str, DataFrame]",
    state_root: str, checkpoint_dir: str, **admit_kwargs,
) -> None:
    """Drain ``stream`` through the crawl loop (module docstring).

    Per trigger, each face is read as its seed unioned with its
    ``state_root`` dir when that dir holds files (:meth:`Face.union`);
    ``family.admit`` gives the admitted ids; the ids and the admitted
    batch rows are eager-checkpointed; each face's rows are appended,
    every face but the ledger on a 2-thread pool, then the ledger. The
    executed plan lands in ``LAST_PLANS[family.plan_name]``."""
    from mongo_polars_reconciliation_spark.streaming.recon import (
        _has_state_files,
    )

    spark = stream.sparkSession
    faces = family.faces
    seeds = {f.name: seeds[f.name].select(*f.cols) for f in faces}

    def read(face: Face) -> DataFrame:
        path = f"{state_root}/{face.path}"
        if not _has_state_files(spark, path):
            return seeds[face.name]
        return face.union(seeds[face.name], spark.read.parquet(path))

    def process(batch: DataFrame, epoch_id: int) -> None:
        state = {f.name: read(f) for f in faces}
        admitted = family.admit(batch, state, **admit_kwargs).localCheckpoint(
            eager=True
        )
        adm_rows = family.admitted_rows(batch, admitted).localCheckpoint(
            eager=True
        )

        def append(face: Face) -> None:
            face.rows(admitted, adm_rows).write.mode("append").parquet(
                f"{state_root}/{face.path}"
            )

        # the pre-ledger appends read only the two checkpoints and land in
        # disjoint dirs, so they overlap; the ledger waits for all of them
        overlap(append, faces[:-1])
        append(faces[-1])

    drain(
        stream.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint_dir
        ),
        family.plan_name,
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
    """The text crawl loop of :class:`NeardupFamily`. ``neardup_kwargs``
    go to ``ingest_novel_neardup``; its MinHash geometry (``n`` /
    ``num_hashes`` / ``bands``) binds the family, so the appended band
    keys share it.

    Equivalence contract (what the oracle checks): when trigger order
    respects id order, the drained admitted set equals the one-batch
    admission of the concatenated stream — the greedy batch-split
    property pinned in tests/test_properties.py."""
    geometry = {
        k: neardup_kwargs.pop(k)
        for k in ("n", "num_hashes", "bands")
        if k in neardup_kwargs
    }
    _crawl_loop(
        docs_stream, NeardupFamily(id_col, text_col, **geometry),
        {"digests": seed_digests, "bands": seed_bands, "docs": seed_docs},
        state_root, checkpoint_dir, **neardup_kwargs,
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
    """The embedding crawl loop of :class:`SemanticFamily` under the
    persisted centroid artifact ``cents``. The drained admitted set is
    read from vecs/."""
    _crawl_loop(
        vecs_stream, SemanticFamily(cents, nprobe, id_col, vec_col),
        {"assign": seed_assign, "vecs": seed_vecs},
        state_root, checkpoint_dir,
        threshold=threshold, mis_max_iter=mis_max_iter,
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
    """The binary-payload crawl loop of :class:`PayloadFamily`."""
    _crawl_loop(
        mm_stream, PayloadFamily(block_bytes, id_col, payload_col),
        {"digests": seed_digests, "blocks": seed_blocks},
        state_root, checkpoint_dir, threshold=threshold,
        max_bucket_size=max_bucket_size, mis_max_iter=mis_max_iter,
    )


def compact_state(
    spark: SparkSession,
    family: IngestFamily,
    state_root: str,
    table_prefix: str,
    buckets: int = 64,
) -> "dict[str, str]":
    """Compact a crawl loop's append-only dirs under ``state_root`` into
    one managed table ``{table_prefix}_{face}`` per face of ``family``,
    bucketed (and sorted) by the face's join key and DISTINCT over its
    columns, which is safe because duplicate state rows are
    semantics-free. After N triggers each dir is N small fragments and
    every admission join reshuffles it; the next ingest reads the
    compacted (huge) state sides exchange-free (the bucketed-state plan
    pins in tests/test_bucketing.py).

    Returns {face: table_name}. Run it between ingest waves, not inside
    one. The tables feed the batch wave path (``dedup_ingest_waves`` is
    wave → compact → wave); the streaming loop reads ``state_root``
    dirs, so to resume it after a compaction pass the tables as the
    seeds of a fresh ``state_root``."""
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

    def _compact_one(face: Face) -> "tuple[str, str]":
        table = f"{table_prefix}_{face.name}"
        # a crashed earlier compaction can leave the managed location
        # behind after its table entry is gone — saveAsTable then fails
        # with LOCATION_ALREADY_EXISTS; clear it like the table itself
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
        df = spark.read.parquet(f"{state_root}/{face.path}")
        write_bucketed_state(
            df.select(*face.cols).distinct(), table, buckets=buckets,
            key=face.key,
        )
        return face.name, table

    # face rewrites are independent (distinct tables, distinct source
    # dirs) — overlap them so one face's write tail back-fills with the
    # next face's scan
    return dict(overlap(_compact_one, family.faces))


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
