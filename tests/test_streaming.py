"""Batch/stream parity and state-carry tests for the streaming skin."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.functions.timenorm import ensure_epoch_nanos
from mongo_polars_reconciliation_spark.harness.queries import QUERIES, _ab
from mongo_polars_reconciliation_spark.scratch import scratch_path
from mongo_polars_reconciliation_spark.streaming.corpus import (
    NeardupFamily,
    PayloadFamily,
    SemanticFamily,
)
from mongo_polars_reconciliation_spark.streaming.events import (
    EVENTS_SCHEMA,
    read_events_stream,
    run_to_table,
    session_agg,
    user_running_seq,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_hourly_stream_equals_batch(spark):
    streamed = QUERIES["stream_events_hourly"](spark, SF_DIR)
    batch = QUERIES["events_hourly"](spark, SF_DIR)
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_session_window_batch_and_stream_agree(spark):
    """session_agg is one function for both regimes: applied to the batch
    frame it must give the same sessions as the drained stream."""
    streamed = QUERIES["stream_sessionize_agg"](spark, SF_DIR)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = session_agg(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), watermark=None
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_user_seq_state_carries_across_batches(spark):
    """Two micro-batches (maxFilesPerTrigger=1 over two files): the stateful
    operator must continue each user's sequence where batch 1 left off —
    max(seq) per user equals that user's total events, with no gaps."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # normalize ts to the engine's nanos-long convention BEFORE writing the
    # feed files: the stream below declares EVENTS_SCHEMA (ts bigint), and
    # feed files must physically match the declared schema
    ev = ensure_epoch_nanos(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    root = scratch_path("test_userseq_2batch")
    shutil.rmtree(root, ignore_errors=True)
    # split by time so batch order == event order per user
    mid = ev.approxQuantile("ts", [0.5], 0.0)[0]
    ev.where(F.col("ts") <= mid).write.parquet(f"{root}/feed/000_first.parquet")
    ev.where(F.col("ts") > mid).write.parquet(f"{root}/feed/001_second.parquet")
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{root}/feed/*.parquet")
    )
    out = run_to_table(user_running_seq(src), "mem_userseq_2b", output_mode="append")
    per_user = out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("seq_in_user").alias("mx"),
        F.countDistinct("seq_in_user").alias("uniq"),
    )
    bad = per_user.where(
        (F.col("n") != F.col("mx")) | (F.col("n") != F.col("uniq"))
    ).count()
    assert bad == 0
    expected = ev.groupBy("user_id").count()
    assert sorted(map(tuple, per_user.select("user_id", "n").collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_incremental_match_converges_to_batch_set(spark):
    """The foreachBatch incremental reconciliation over two half-feeds must
    match exactly the A ids the one-shot batch engine matches."""
    from mongo_polars_reconciliation_spark.operators.match import match_records

    inc = QUERIES["stream_incremental_match"](spark, SF_DIR)
    cfg, a, b = _ab(spark, SF_DIR)
    batch_matched, _ = match_records(a, b, cfg)
    assert sorted(r["_id"] for r in inc.collect()) == sorted(
        r["_id"] for r in batch_matched.select("_id").collect()
    )


def test_user_seq_orders_across_arrow_chunk_boundaries(spark):
    """A user group bigger than arrow.maxRecordsPerBatch arrives as several
    Arrow chunks; the operator must still number events in global (ts,
    event_id) order, not chunk-arrival order. Force 7-row chunks over a
    50-event user written to the feed file in REVERSE time order."""
    import pandas as pd

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        root = scratch_path("test_userseq_chunks")
        shutil.rmtree(root, ignore_errors=True)
        n = 50
        pdf = pd.DataFrame(
            {
                "event_id": range(n, 0, -1),
                "ts": range(n, 0, -1),  # epoch nanos; ts == event_id
                "user_id": [1] * n,
                "event_type": ["view"] * n,
                "value": [1.0] * n,
                "props": ["{}"] * n,
            }
        )
        spark.createDataFrame(pdf, schema=EVENTS_SCHEMA).coalesce(1).write.parquet(
            f"{root}/feed/batch0.parquet"
        )
        src = spark.readStream.schema(EVENTS_SCHEMA).parquet(f"{root}/feed/*.parquet")
        out = run_to_table(
            user_running_seq(src), "mem_userseq_chunks", output_mode="append"
        )
        got = {r["event_id"]: r["seq_in_user"] for r in out.collect()}
        # event_id k has ts=k seconds, so seq must equal event_id
        assert got == {k: k for k in range(1, n + 1)}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_view_attribution_stream_equals_batch(spark):
    """The interval join is one function for both regimes: applied to the
    batch events frame it must equal the drained stream result."""
    from mongo_polars_reconciliation_spark.streaming.events import (
        view_purchase_attribution,
    )

    streamed = QUERIES["stream_view_attribution"](spark, SF_DIR)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = view_purchase_attribution(
        spark.read.parquet(f"{SF_DIR}/events.parquet")
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_corrupt_state_dir_fails_loudly(spark, tmp_path):
    """A state dir that EXISTS but is unreadable must fail the stream, not
    be silently treated as first-batch (which would re-match everything)."""
    from mongo_polars_reconciliation_spark.streaming.recon import (
        _has_state_files,
        incremental_match,
    )

    root = str(tmp_path / "corrupt_state")
    state, ckpt, feed = f"{root}/state", f"{root}/ckpt", f"{root}/feed"
    os.makedirs(state)
    with open(f"{state}/part-00000.parquet", "wb") as f:
        f.write(b"this is not a parquet file")
    assert _has_state_files(spark, state)

    cfg, a, b = _ab(spark, SF_DIR)
    b.limit(10).write.mode("overwrite").parquet(f"{feed}/half0")
    b_stream = (
        spark.readStream.schema(b.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{feed}/half*")
    )
    with pytest.raises(Exception, match="(?i)parquet|magic|foreach"):
        incremental_match(a, b_stream, cfg, state, ckpt)


def test_has_state_files_absent_and_empty(spark, tmp_path):
    from mongo_polars_reconciliation_spark.streaming.recon import _has_state_files

    assert not _has_state_files(spark, str(tmp_path / "never_created"))
    empty = tmp_path / "empty_state"
    empty.mkdir()
    assert not _has_state_files(spark, str(empty))


def test_matched_state_reads_uri_state_dir(spark, tmp_path):
    """matched_state probes the state dir through the Hadoop FileSystem,
    like incremental_match: a ``file://`` URI holding matched ids must
    return them, not the empty never-matched frame."""
    from mongo_polars_reconciliation_spark.streaming.recon import (
        _has_state_files,
        matched_state,
    )

    uri = (tmp_path / "uri_state").as_uri()
    spark.createDataFrame([("a1",), ("a2",)], "_id string").write.parquet(uri)
    assert _has_state_files(spark, uri)
    assert sorted(r["_id"] for r in matched_state(spark, uri).collect()) == [
        "a1",
        "a2",
    ]


def test_stream_dedup_corpus_state_carries_across_batches(spark):
    """A text whose copies arrive in DIFFERENT micro-batches must still
    aggregate to one state row with the global min keeper and total count —
    the cross-batch state-store merge, not just within-batch grouping."""
    from pyspark.sql import functions as F

    from mongo_polars_reconciliation_spark.streaming.corpus import (
        dedup_state,
        read_documents_stream,
    )
    from mongo_polars_reconciliation_spark.streaming.events import run_to_table

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "only once")],
        "doc_id long, text string",
    )
    # doc 1 and 3 in batch 0; doc 2 (the duplicate) in batch 1
    stream = read_documents_stream(
        spark,
        docs,
        name="dedup_carry",
        split_expr=F.when(F.col("doc_id") == 2, F.lit(1)).otherwise(F.lit(0)),
    )
    out = run_to_table(
        dedup_state(stream), "mem_dedup_carry", output_mode="complete"
    )
    got = {r["keeper_id"]: r["n_copies"] for r in out.collect()}
    assert got == {1: 2, 3: 1}


# family: (its crawl-loop query, that query's state dir, {face: bucket key})
_COMPACT_CASES = {
    "neardup": (
        "stream_ingest_neardup",
        "neardup_state",
        {"digests": "text_hash", "bands": "bband", "docs": "doc_id"},
    ),
    "semantic": (
        "stream_ingest_semantic",
        "sem_ingest_state",
        {"vecs": "vec_id", "assign": "blk"},
    ),
    "payload": (
        "stream_ingest_payloads",
        "payload_ingest_state",
        {"digests": "payload_hash", "blocks": "bblock"},
    ),
}


@pytest.mark.parametrize("name", sorted(_COMPACT_CASES))
def test_compact_state_closes_the_loop(spark, name):
    """After a crawl loop drains, compacting its append-only state dirs
    into bucketed tables preserves the admission horizon: re-delivering
    the SAME batch against seeds + compacted tables admits nothing
    (idempotence survives the rewrite), a compacted digest ledger holds
    one row per admission, and every face carries the bucket spec on its
    join key (a bare scan won't USE buckets — the join-side exploitation
    is what the test_bucketing.py plan pins verify; here we pin the
    catalog spec)."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        load_centroids,
    )
    from mongo_polars_reconciliation_spark.harness import fixtures
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        compact_state,
    )

    query, state_dir, keys = _COMPACT_CASES[name]
    sf_dir = "/root/testdata/sf0.001"
    admitted = QUERIES[query](spark, sf_dir)
    assert admitted.count() > 0
    family = {
        "neardup": NeardupFamily,
        "payload": lambda: PayloadFamily(block_bytes=64),
        "semantic": lambda: SemanticFamily(
            load_centroids(
                spark, scratch_path("sf0.001", "stream_ingest_centroids")
            )
        ),
    }[name]()
    tables = compact_state(
        spark,
        family,
        f"{scratch_path('sf0.001', state_dir)}/state",
        table_prefix=f"t_compact_{name}",
        buckets=4,
    )
    assert set(tables) == set(keys)

    hist, batch = getattr(fixtures, f"{name}_ingest_split")(spark, sf_dir)
    seeds = family.seed(hist)
    horizon = {
        f.name: f.union(seeds[f.name], spark.table(tables[f.name]))
        for f in family.faces
    }
    assert family.admit(batch, horizon, mis_max_iter=8).count() == 0
    for face in family.faces:
        if face.ledger_set:
            assert spark.table(tables[face.name]).count() == admitted.count()
        desc = {
            r["col_name"].strip(): r["data_type"].strip()
            for r in spark.sql(
                f"DESCRIBE FORMATTED {tables[face.name]}"
            ).collect()
        }
        assert desc.get("Num Buckets") == "4", (face.name, desc)
        assert keys[face.name] in desc.get("Bucket Columns", ""), (
            face.name,
            desc,
        )


def test_neardup_stream_state_matches_nondefault_geometry(spark):
    """The crawl loop must persist admitted docs' band state with the SAME
    MinHash geometry (n/num_hashes/bands) it admits with. With
    non-default bands, a near-dup of a batch-1 ADMISSION arriving in
    batch 2 collides only if the persisted bband keys were built with the
    matching rows-per-band — otherwise the probe silently misses."""
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        incremental_neardup_ingest,
    )

    toks = [f"w{i:02d}" for i in range(1, 13)]
    orig = " ".join(toks)            # doc 10, batch 0 (novel)
    near = " ".join(toks[1:])        # doc 20, batch 1: J = 9/10 near-dup
    docs = spark.createDataFrame(
        [(10, orig), (20, near)], "doc_id long, text string"
    )
    geometry = {"num_hashes": 12, "bands": 6}
    state = _drain(
        spark, "nondefault_geom", docs, NeardupFamily(),
        split_expr=(F.col("doc_id") >= 20).cast("int"),
        # through the public wrapper: its kwargs must bind the geometry
        ingest=lambda stream, seeds, state, ckpt: incremental_neardup_ingest(
            stream, seeds["digests"], seeds["bands"], seeds["docs"],
            state, ckpt, **geometry,
        ),
    )
    # doc 20 must be rejected THROUGH the persisted band state: with
    # mismatched geometry its probe keys never equal the stored keys and
    # it slips in (admitted == [10, 20])
    assert _ids(spark, f"{state}/admitted") == [10]
    # sanity: the pair really collides under this geometry (otherwise the
    # rejection above proves nothing)
    def bands_of(doc_id):
        one = docs.where(F.col("doc_id") == doc_id)
        bands = NeardupFamily(**geometry).seed(one)["bands"]
        return {r["bband"] for r in bands.collect()}

    assert bands_of(10) & bands_of(20), "fixture lost its band collision"


def test_compact_ingest_state_refuses_remote_warehouse(spark):
    """The compaction's stale-location cleanup shells out
    to the local filesystem; a non-file: warehouse URI must fail loudly
    BEFORE any table drop, not rmtree a stripped-scheme path."""
    import pytest as _pytest

    from mongo_polars_reconciliation_spark.streaming.corpus import (
        compact_state,
    )

    class _Conf:
        def get(self, key):
            assert key == "spark.sql.warehouse.dir"
            return "s3a://bucket/warehouse"

    class _FakeSpark:
        conf = _Conf()

        def sql(self, *_a, **_k):  # pragma: no cover - must not be reached
            raise AssertionError("guard must fire before any catalog op")

    with _pytest.raises(ValueError, match="local .file:. warehouse"):
        compact_state(_FakeSpark(), NeardupFamily(), "/tmp/nowhere", "t")


def _drain(spark, name, docs, family, split_expr=None, ghosts=False,
           ingest=None, **admit_kwargs):
    """Drain ``docs`` through ``family``'s crawl loop from empty seeds,
    under a fresh scratch root, as the two triggers ``split_expr`` (a 0/1
    Column) gives or as one; return the state dir. ``ghosts`` first
    writes every pre-ledger face's rows for all of ``docs``, as a first
    trigger that crashed before its ledger append leaves them.
    ``ingest(stream, seeds, state_dir, checkpoint_dir)`` replaces the
    loop call."""
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        _crawl_loop,
        read_documents_stream,
    )

    root = scratch_path("unit", f"{name}_state")
    shutil.rmtree(root, ignore_errors=True)
    if ghosts:
        rows = family.seed(docs)
        for face in family.faces[:-1]:
            rows[face.name].write.parquet(f"{root}/state/{face.path}")
    stream = read_documents_stream(
        spark,
        docs.coalesce(1),
        name=name,
        n_files=1 if split_expr is None else 2,
        id_col=family.id_col,
        split_expr=F.lit(0) if split_expr is None else split_expr,
    )
    seeds = family.seed(docs.limit(0))
    if ingest is None:
        _crawl_loop(
            stream, family, seeds, f"{root}/state", f"{root}/ckpt",
            **admit_kwargs,
        )
    else:
        ingest(stream, seeds, f"{root}/state", f"{root}/ckpt")
    return f"{root}/state"


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _ids(spark, path):
    return [r[0] for r in _rows(spark, path)]


def test_semantic_stream_rejects_cross_trigger_dup(spark):
    """The embedding-space crawl loop must reject a trigger-2 exact
    re-upload of a trigger-1 ADMISSION through the persisted (assign,
    vecs) state — the cross-trigger face of the cos-1.0 ledger. The
    drained vecs/ face is the admitted set."""
    vecs = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0]),
            (20, [1.0, 0.0, 0.0]),   # batch 1: exact copy of admitted 10
            (21, [0.0, 0.0, 1.0]),   # batch 1: genuinely novel
        ],
        "vec_id long, embedding array<float>",
    )
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    state = _drain(
        spark,
        "sem_cross_trigger",
        vecs,
        SemanticFamily(cents, nprobe=2),
        split_expr=(F.col("vec_id") >= 20).cast("int"),
        threshold=0.9,
    )
    assert _ids(spark, f"{state}/vecs") == [10, 21]
    # the assign face carries nprobe rows per admitted vector
    assign = spark.read.parquet(f"{state}/assign")
    assert assign.count() == 4 and sorted(
        {r["vec_id"] for r in assign.collect()}
    ) == [10, 21]


def test_payload_stream_rejects_cross_trigger_dups(spark):
    """The payload crawl loop must reject, through the persisted state,
    BOTH a trigger-2 byte-exact re-upload of a trigger-1 admission (digest
    ledger) and a trigger-2 chunked-block near-dup of it (block face,
    shared fraction 3/4 >= 0.5)."""
    p = b"AAAABBBBCCCCDDDD"            # 4 blocks of 4 bytes
    near = b"AAAABBBBCCCCEEEE"         # shares 3/4 aligned blocks
    novel = b"WWWWXXXXYYYYZZZZ"
    mm = spark.createDataFrame(
        [(10, p), (20, p), (21, near), (22, novel)],
        "doc_id long, payload binary",
    )
    state = _drain(
        spark, "payload_cross_trigger", mm, PayloadFamily(block_bytes=4),
        split_expr=(F.col("doc_id") >= 20).cast("int"), threshold=0.5,
    )
    assert _ids(spark, f"{state}/admitted") == [10, 22]


def test_neardup_loop_replays_crash_window_ghosts(spark):
    """A first trigger that crashed after its bands/ and docs/ appends but
    before the admitted/ ledger leaves ghost rows that the replay reads
    (each face is read as soon as its own dir holds files). The replay
    must still write the clean drain's ledger. The pair is the trap of
    test_neardup_ingest_crash_window_replay_idempotent: true J = 7/13 is
    below 0.6, but ghost shingles counted twice would verify it."""
    toks = [f"w{i:02d}" for i in range(1, 16)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks[0:12])), (2, " ".join(toks[3:15]))],
        "doc_id long, text string",
    )
    family = NeardupFamily(num_hashes=12, bands=12)
    clean = _drain(spark, "ghost_neardup_clean", docs, family, mis_max_iter=8)
    replay = _drain(
        spark, "ghost_neardup_replay", docs, family, ghosts=True,
        mis_max_iter=8,
    )
    assert _ids(spark, f"{clean}/admitted") == [1, 2]
    assert _rows(spark, f"{replay}/admitted") == _rows(spark, f"{clean}/admitted")


def test_payload_loop_replays_crash_window_ghosts(spark):
    """The payload face of the loop-level crash window: ghost blocks/ rows
    and no admitted/ ledger. Without the self-pair filter each payload
    meets its own ghost blocks at shared fraction 1.0 and is dropped."""
    mm = spark.createDataFrame(
        [(10, b"AAAABBBBCCCCDDDD"), (22, b"WWWWXXXXYYYYZZZZ")],
        "doc_id long, payload binary",
    )
    family = PayloadFamily(block_bytes=4)
    clean = _drain(spark, "ghost_payload_clean", mm, family, threshold=0.5)
    replay = _drain(
        spark, "ghost_payload_replay", mm, family, ghosts=True, threshold=0.5
    )
    assert _ids(spark, f"{clean}/admitted") == [10, 22]
    assert _rows(spark, f"{replay}/admitted") == _rows(spark, f"{clean}/admitted")


def test_read_documents_stream_orders_parts_by_mtime(spark):
    """The file source orders triggers by modification time, so every file
    of part i must be older than every file of part i+1: trigger order is
    part order, whatever order the overlapped part writes finished in."""
    import glob

    from mongo_polars_reconciliation_spark.streaming.corpus import (
        read_documents_stream,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(24)], "doc_id long, text string"
    ).repartition(4)
    read_documents_stream(spark, docs, name="part_order", n_files=3)
    feed = scratch_path("corpus", "part_order", "feed")
    mtimes = [
        [os.path.getmtime(f) for f in glob.glob(f"{feed}/part{i}/*.parquet")]
        for i in range(3)
    ]
    assert all(mtimes), mtimes
    for i in range(2):
        assert max(mtimes[i]) < min(mtimes[i + 1]), (i, mtimes)


def test_stream_cms_equals_batch_counters(spark):
    """Carrying pin for the RETIRED registry face stream_cms_counters
   : the drained complete-mode CMS state equals the batch
    sketch's (j, b) counters bit-for-bit — counter increments are plain
    sums, so they commute with micro-batching. The counter MATH itself
    stays independently oracle-checked through text_heavy_hitters_cms and
    text_cms_merge (same hashes, DuckDB-recomputed); this pin carries the
    one thing the retired face added — stream ≡ batch."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        cms_merge_check,
    )
    from mongo_polars_reconciliation_spark.harness.queries import (
        stream_cms_counters,
    )

    sf_dir = "/root/testdata/sf0.001"
    streamed = sorted(
        tuple(r) for r in stream_cms_counters(spark, sf_dir).collect()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = sorted(
        (r["j"], r["b"], r["cnt_global"])
        for r in cms_merge_check(docs).collect()
    )
    assert streamed == batch
