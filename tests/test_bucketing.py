"""Bucketed state-table joins: the stored side of the remanent lookup /
upsert must join with NO shuffle (SURVEY.md §4 — co-located joins via
bucketing). The bucket layout replaces the exchange that a plain parquet
state table would need on every incremental run."""

import shutil

from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.sources.state import (
    remanent_lookup,
    write_bucketed_state,
)


def test_bucketed_state_joins_without_exchange_on_stored_side(spark):
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/recon_state_bucketed", ignore_errors=True)
    state = spark.range(0, 2000).select(
        F.col("id").cast("string").alias("_id"),
        F.when(F.col("id") % 3 == 0, "REMANENT").otherwise("DONE").alias(
            "conciliation_status"
        ),
    )
    write_bucketed_state(state, "recon_state_bucketed", buckets=4)

    tx = spark.range(0, 5000).select(
        F.col("id").cast("string").alias("_id"),
        (F.col("id") * 2).cast("double").alias("amount"),
    )
    stored = spark.table("recon_state_bucketed")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # forbid broadcast so the join must exploit the bucket layout
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = remanent_lookup(stored, tx)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # correctness: only REMANENT ids survive, joined to tx
    assert out.count() == state.where(
        F.col("conciliation_status") == "REMANENT"
    ).count()
    # the stored side reads its buckets directly — exactly ONE exchange in
    # the final plan (the incoming tx side), and the scan advertises buckets
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final
    assert "Bucketed: true" in final, final
    assert "SelectedBucketsCount" in final, final


def test_bucketed_digest_state_anti_join_shuffle_free_on_stored_side(spark):
    """ingest_novel scale claim, pinned: with the accumulated digest
    state stored bucketed by text_hash, the incremental-ingest anti-join
    reads the (huge) state side with NO exchange — only the arriving
    batch shuffles to the bucket count."""
    from mongo_polars_reconciliation_spark.extensions.dedup import ingest_novel

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/corpus_digest_state", ignore_errors=True)
    history = spark.range(0, 3000).select(
        F.md5(F.col("id").cast("string").cast("binary")).alias("text_hash")
    )
    write_bucketed_state(history, "corpus_digest_state", buckets=4,
                         key="text_hash")
    batch = spark.range(1500, 4500).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("id").cast("string").alias("text"),
    )
    stored = spark.table("corpus_digest_state")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = ingest_novel(batch, stored)
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # correctness: exactly the ids whose digest is not in history
    assert sorted(r["doc_id"] for r in rows) == list(range(3000, 4500))
    final = plan.split("== Initial Plan ==")[0]
    # one exchange: the batch aggregate/join side; the stored scan is
    # bucket-pruned and exchange-free
    assert "Bucketed: true" in final, final
    scan_side = final[final.index("corpus_digest_state"):]
    assert final.count("Exchange") <= 2, final  # batch agg + batch join side
    # no Exchange between the bucketed scan and the join: the scan segment
    # of the plan tree carries none
    assert "Exchange" not in scan_side, scan_side


def test_bucketed_band_state_join_shuffle_free_on_stored_side(spark):
    """ingest_novel_neardup scale claim, pinned: the accumulated
    MinHash band-key state, stored bucketed by the composite bband key,
    feeds the batch-vs-history collision join with NO exchange on the
    stored side — only the arriving batch's band keys shuffle."""
    from mongo_polars_reconciliation_spark.extensions.dedup import band_state

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/corpus_band_state", ignore_errors=True)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hist = docs.where(F.col("doc_id") % 3 < 2).select("doc_id", "text")
    batch = docs.where(F.col("doc_id") % 3 == 2).select("doc_id", "text")
    write_bucketed_state(
        band_state(hist), "corpus_band_state", buckets=4, key="bband"
    )
    stored = spark.table("corpus_band_state").withColumnRenamed(
        "doc_id", "hist_id"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = band_state(batch).join(stored, "bband").select(
            "doc_id", "hist_id"
        ).distinct()
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    final = plan.split("== Initial Plan ==")[0]
    assert "Bucketed: true" in final, final
    scan_side = final[final.index("corpus_band_state"):]
    assert "Exchange" not in scan_side, scan_side


def test_bucketed_assignment_state_join_shuffle_free_on_stored_side(spark):
    """ingest_novel_semantic scale claim, pinned: the accumulated
    probe-assignment state, stored bucketed by blk, feeds the
    batch-vs-history block-collision join with NO exchange on the stored
    side — only the arriving batch's assignment rows shuffle."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        assignment_state,
        kmeans_fit,
    )

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/corpus_assign_state", ignore_errors=True)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    hist = emb.where(F.col("vec_id") % 3 < 2)
    batch = emb.where(F.col("vec_id") % 3 == 2)
    cents = kmeans_fit(hist, k=8, n_iter=1)
    write_bucketed_state(
        assignment_state(hist, cents, nprobe=2),
        "corpus_assign_state",
        buckets=4,
        key="blk",
    )
    stored = spark.table("corpus_assign_state").withColumnRenamed(
        "vec_id", "hist_id"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = (
            assignment_state(batch, cents, nprobe=2)
            .join(stored, "blk")
            .select("vec_id", "hist_id")
            .distinct()
        )
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    final = plan.split("== Initial Plan ==")[0]
    assert "Bucketed: true" in final, final
    scan_side = final[final.index("corpus_assign_state"):]
    assert "Exchange" not in scan_side, scan_side


def test_waves_compacted_faces_join_shuffle_free_on_stored_side(spark):
    """dedup_ingest_waves scale claim, pinned: after the between-waves
    compaction, each of the three state faces feeds its admission join
    with NO exchange on the stored side. The faces are pinned as the
    three sub-joins ingest_novel_neardup actually builds — the operator
    localCheckpoints each phase, so the final output plan legitimately
    shows checkpoint leaves, not the table scans; the sub-join plans ARE
    the wave-2 scans."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel,
    )
    from mongo_polars_reconciliation_spark.harness.queries import (
        QUERIES,
    )

    sf_dir = "/root/testdata/sf0.001"
    QUERIES["dedup_ingest_waves"](spark, sf_dir).collect()  # builds tables
    pfx = "ingest_waves_sf0_001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    batch = docs.where(F.col("doc_id") % 10 == 6).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )

    def scan_side_clean(df, table):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "Bucketed: true" in final, (table, final)
        scan_side = final[final.index(table):]
        assert "Exchange" not in scan_side, (table, scan_side)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # phase 1: digest anti-join against the compacted ledger
        scan_side_clean(
            ingest_novel(batch, spark.table(f"{pfx}_digests")),
            f"{pfx}_digests",
        )
        # phase 2: band-collision join against the compacted band state
        scan_side_clean(
            band_state(batch)
            .join(
                spark.table(f"{pfx}_bands").withColumnRenamed(
                    "doc_id", "hist_id"
                ),
                "bband",
            )
            .select("doc_id", "hist_id")
            .distinct(),
            f"{pfx}_bands",
        )
        # phase 2b: colliding-history fetch against the compacted docs
        # (candidate side on the left so the stored scan prints last and
        # the slice below contains only its own subtree)
        cand = spark.range(0, 500).select(F.col("id").alias("doc_id"))
        scan_side_clean(
            cand.join(spark.table(f"{pfx}_docs"), "doc_id"),
            f"{pfx}_docs",
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_payload_block_state_join_shuffle_free_on_stored_side(spark):
    """ingest_novel_payloads scale claim, pinned: the accumulated
    composite block-key state, stored bucketed by bblock, feeds the
    batch-vs-history collision join with NO exchange on the stored side."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
        payload_block_state,
    )

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/corpus_payload_state", ignore_errors=True)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    hist = attach_payload(docs.where(F.col("doc_id") % 3 < 2))
    batch = attach_payload(docs.where(F.col("doc_id") % 3 == 2))
    write_bucketed_state(
        payload_block_state(hist, block_bytes=64),
        "corpus_payload_state",
        buckets=4,
        key="bblock",
    )
    stored = spark.table("corpus_payload_state").withColumnRenamed(
        "doc_id", "hist_id"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = (
            payload_block_state(batch, block_bytes=64)
            .join(stored.select("bblock", "hist_id"), "bblock")
            .select("doc_id", "hist_id")
            .distinct()
        )
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    final = plan.split("== Initial Plan ==")[0]
    assert "Bucketed: true" in final, final
    scan_side = final[final.index("corpus_payload_state"):]
    assert "Exchange" not in scan_side, scan_side
