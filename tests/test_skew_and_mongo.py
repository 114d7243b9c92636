"""Mongo-module gating."""

import pytest


def test_mongo_module_gates_without_connector(spark):
    from mongo_polars_reconciliation_spark.sources.mongo import (
        connector_available,
        mongo_scan,
    )

    assert connector_available(spark) is False
    with pytest.raises(RuntimeError, match="connector not on the classpath"):
        mongo_scan(spark, "mongodb://x", "db", "coll")


def test_mongo_option_assembly():
    """Reader/writer option dicts — the part of the connector path that can
    be pinned without a cluster: URI/database/collection plumbing and the
    replace-with-upsert write shape ($merge equivalent)."""
    from mongo_polars_reconciliation_spark.sources.mongo import (
        reader_options,
        writer_options,
    )

    r = reader_options("mongodb://h:27017", "odl", "card_transaction")
    assert r == {
        "connection.uri": "mongodb://h:27017",
        "database": "odl",
        "collection": "card_transaction",
    }
    w = writer_options("mongodb://h:27017", "odl", "recon_tx", id_field="_id")
    assert w["idFieldList"] == "_id"
    assert w["operationType"] == "update"
    assert w["upsertDocument"] == "true"
    assert w["database"] == "odl" and w["collection"] == "recon_tx"
    # composite business key — the connector takes a comma list where the
    # reference's $merge takes on=[...]
    w2 = writer_options("mongodb://h:27017", "odl", "recon_tx",
                        id_field="code,amount")
    assert w2["idFieldList"] == "code,amount"


def test_mongo_upsert_gates_without_connector(spark):
    """The write path must fail with the clear classpath error BEFORE
    touching df.write (not an opaque ClassNotFound from the JVM)."""
    from mongo_polars_reconciliation_spark.sources.mongo import mongo_upsert

    df = spark.range(3).withColumnRenamed("id", "_id")
    with pytest.raises(RuntimeError, match="connector not on the classpath"):
        mongo_upsert(df, "mongodb://x", "db", "coll")


def test_mongo_scan_filter_fields_compose(spark):
    """mongo_scan's filter+projection assembly (the $match → $project
    shape, src/data_extractor.py:30-48) — exercised against a stand-in
    frame through the same apply_source_filter + select path the connector
    read would flow through."""
    from mongo_polars_reconciliation_spark.config import SourceFilter
    from mongo_polars_reconciliation_spark.sources.scan import (
        apply_source_filter,
    )

    df = spark.createDataFrame(
        [(1, "A", 5.0, "x"), (2, "B", 6.0, "y"), (3, "A", 7.0, "z")],
        "id long, status string, amount double, extra string",
    )
    flt = SourceFilter(equals={"status": "A"})
    out = apply_source_filter(df, flt).select("id", "amount")
    assert out.columns == ["id", "amount"]
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_merge_into_sql_shape():
    from mongo_polars_reconciliation_spark.sources.state import merge_into_sql

    sql = merge_into_sql("state_tbl", "src_view", "_id")
    assert sql == (
        "MERGE INTO state_tbl t USING src_view s ON t._id = s._id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )


def test_upsert_state_table_transactional_merge(spark):
    """The Delta/Iceberg MERGE INTO branch of upsert_state_table, run for
    real whenever a transactional format is on the classpath. This
    container has no Delta/Iceberg jar and no network to vendor one, so
    here it records an explicit skip — the branch's statement shape is
    still pinned by test_merge_into_sql_shape and the misconfiguration
    gate by test_upsert_state_table_fallback_path."""
    from mongo_polars_reconciliation_spark.sources.state import (
        transactional_format_available,
        upsert_state_table,
    )

    fmt = transactional_format_available(spark)
    if fmt is None:
        pytest.skip(
            "no Delta/Iceberg jar on the classpath — MERGE INTO branch "
            "covered by statement pin + capability-gate tests. Vendoring "
            "re-attempted 2026-08-16 (round 16): `pip download delta-spark` "
            "fails DNS resolution (no network in container), no delta/"
            "iceberg jar anywhere on the filesystem (`find / -name "
            "'*delta*.jar'` empty)"
        )
    spark.sql("DROP TABLE IF EXISTS t_upsert_txn")
    spark.createDataFrame(
        [("a", "OLD"), ("b", "OLD")], ["_id", "status"]
    ).write.format(fmt).saveAsTable("t_upsert_txn")
    src = spark.createDataFrame([("b", "NEW"), ("c", "NEW")], ["_id", "status"])
    upsert_state_table(spark, "t_upsert_txn", src, on="_id")
    got = sorted(map(tuple, spark.table("t_upsert_txn").collect()))
    assert got == [("a", "OLD"), ("b", "NEW"), ("c", "NEW")]
    spark.sql("DROP TABLE IF EXISTS t_upsert_txn")


def test_upsert_state_table_fallback_path(spark):
    """Without Delta/Iceberg on the classpath (this container), the named-
    table upsert takes the read-merge-rewrite fallback and must produce
    $merge(on=_id, whenMatched='merge') semantics in place."""
    from mongo_polars_reconciliation_spark.sources.state import (
        transactional_format_available,
        upsert_state_table,
    )

    assert transactional_format_available(spark) is None
    spark.sql("DROP TABLE IF EXISTS t_upsert_fallback")
    spark.createDataFrame(
        [("a", "OLD"), ("b", "OLD")], ["_id", "status"]
    ).write.saveAsTable("t_upsert_fallback")
    src = spark.createDataFrame([("b", "NEW"), ("c", "NEW")], ["_id", "status"])
    # the full-rewrite fallback is opt-in: without the flag it must refuse
    import pytest as _pytest

    with _pytest.raises(ValueError, match="allow_full_rewrite"):
        upsert_state_table(spark, "t_upsert_fallback", src, on="_id")
    upsert_state_table(
        spark, "t_upsert_fallback", src, on="_id", allow_full_rewrite=True
    )
    got = sorted(map(tuple, spark.table("t_upsert_fallback").collect()))
    assert got == [("a", "OLD"), ("b", "NEW"), ("c", "NEW")]
    # no swap debris left behind
    tbls = {t.name for t in spark.catalog.listTables()}
    assert "t_upsert_fallback__merge_tmp" not in tbls
    assert "t_upsert_fallback__merge_old" not in tbls
    # idempotent: re-applying the same source changes nothing
    upsert_state_table(
        spark, "t_upsert_fallback", src, on="_id", allow_full_rewrite=True
    )
    got2 = sorted(map(tuple, spark.table("t_upsert_fallback").collect()))
    assert got2 == got
    spark.sql("DROP TABLE IF EXISTS t_upsert_fallback")
