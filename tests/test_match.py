import pytest
from conftest import rows

from mongo_polars_reconciliation_spark.config import KeyPair, ReconConfig
from mongo_polars_reconciliation_spark.operators.match import match_records
from mongo_polars_reconciliation_spark.operators.residuals import (
    residual_external,
    residual_internal,
)
from mongo_polars_reconciliation_spark.sources.external import prepare_external

CFG = ReconConfig(
    keys=[
        KeyPair("transaction_code", "codigo", None),
        KeyPair("approved_transaction_amount", "importe", "double"),
    ]
)


@pytest.fixture(scope="module")
def ab(spark):
    a = spark.createDataFrame(
        [
            ("a1", "T1", 10.0),  # 1:1 match
            ("a2", "T2", 20.0),  # matches 2 B candidates
            ("a3", "T3", 30.0),  # matches 3 B candidates (middle-drop case)
            ("a4", "T4", 40.0),  # A residual
        ],
        ["_id", "transaction_code", "approved_transaction_amount"],
    )
    b_raw = spark.createDataFrame(
        [
            (1, "T1", "10.0", "x1"),
            (2, "T2", "20.0", "x2"),   # winner for a2 (lowest row number)
            (3, "T2", "20.0", "x3"),   # loser
            (4, "T3", "30.0", "x4"),   # winner for a3
            (5, "T3", "30.0", "x5"),   # middle candidate
            (6, "T3", "30.0", "x6"),   # last candidate
            (7, "T9", "99.0", "x7"),   # B residual
        ],
        ["ord", "codigo", "importe", "payload"],
    )
    b = prepare_external(b_raw, CFG, order_by=["ord"]).drop("ext_ord")
    return a, b


def test_prepare_external_schema(ab):
    _, b = ab
    assert set(b.columns) == {
        "ext_file_row_number", "ext_codigo", "ext_importe", "ext_payload",
        "exd_codigo", "exd_importe",
    }
    dt = dict(b.dtypes)
    assert dt["ext_importe"] == "double" and dt["exd_importe"] == "double"
    assert dt["ext_file_row_number"] == "bigint"


def test_match_winners(ab):
    a, b = ab
    matched, losers = match_records(a, b, CFG)
    got = rows(matched, "_id", "ext_payload")
    assert got == [("a1", "x1"), ("a2", "x2"), ("a3", "x4")]
    # matched keeps exd_ copies, drops consumed ext_ key columns
    assert "exd_codigo" in matched.columns
    assert "ext_codigo" not in matched.columns


def test_losers_default_returns_all(ab):
    a, b = ab
    _, losers = match_records(a, b, CFG)
    # fixed semantics: every losing candidate goes back (x3, x5, x6)
    assert rows(losers, "ext_payload") == [("x3",), ("x5",), ("x6",)]
    # reconstructed to prepared-B schema: ext_ keys restored from exd_
    assert set(losers.columns) == set(b.columns)
    assert rows(losers, "ext_codigo") == [("T2",), ("T3",), ("T3",)]


def test_losers_strict_compat_drops_middles(ab):
    a, b = ab
    cfg = ReconConfig(keys=CFG.keys, strict_compat=True)
    _, losers = match_records(a, b, cfg)
    # faithful bug: only the LAST candidate per group returns (x3, x6); x5 vanishes
    assert rows(losers, "ext_payload") == [("x3",), ("x6",)]


def test_residuals(ab):
    a, b = ab
    assert rows(residual_internal(a, b, CFG), "_id") == [("a4",)]
    assert rows(residual_external(b, a, CFG), "ext_payload") == [("x7",)]


def test_null_keys_never_match(spark):
    a = spark.createDataFrame(
        [("a1", None, 1.0)],
        "`_id` string, transaction_code string, approved_transaction_amount double",
    )
    b = prepare_external(
        spark.createDataFrame(
            [(1, None, "1.0")], "ord int, codigo string, importe string"
        ),
        CFG, order_by=["ord"],
    ).drop("ext_ord")
    matched, _ = match_records(a, b, CFG)
    assert matched.count() == 0
    assert residual_internal(a, b, CFG).count() == 1
    assert residual_external(b, a, CFG).count() == 1


# --- a hot key ---------------------------------------------------------------


@pytest.fixture(scope="module")
def skewed_ab(spark):
    """Deliberately skewed fixture: key ("HOT", 7.0) carries half of A
    (a0..a199) and 3 candidates on B (x0, x1, x2); the long tail is unique
    1:1 keys that overlap on T203..T399, plus residuals on both sides."""
    from pyspark.sql import functions as F

    a = spark.range(0, 400).select(
        F.concat(F.lit("a"), F.col("id")).alias("_id"),
        F.when(F.col("id") < 200, F.lit("HOT"))
        .otherwise(F.concat(F.lit("T"), F.col("id")))
        .alias("transaction_code"),
        F.when(F.col("id") < 200, F.lit(7.0))
        .otherwise(F.col("id").cast("double"))
        .alias("approved_transaction_amount"),
    )
    b_raw = spark.range(0, 380).select(
        F.col("id").alias("ord"),
        F.when(F.col("id") < 3, F.lit("HOT"))
        .otherwise(F.concat(F.lit("T"), F.col("id") + 200))
        .alias("codigo"),
        F.when(F.col("id") < 3, F.lit("7.0"))
        .otherwise((F.col("id") + 200).cast("string"))
        .alias("importe"),
        F.concat(F.lit("x"), F.col("id")).alias("payload"),
    )
    b = prepare_external(b_raw, CFG, order_by=["ord"]).drop("ext_ord")
    return a.localCheckpoint(), b.localCheckpoint()


def test_match_hot_key_winners_and_losers(skewed_ab):
    """One join arbitrates a hot key like any other: each of the 200 hot A
    rows wins the first B candidate in file order and returns the other
    two, and the tail matches 1:1."""
    a, b = skewed_ab
    matched, losers = match_records(a, b, CFG)
    hot = [f"a{i}" for i in range(200)]
    tail = [f"a{i}" for i in range(203, 400)]
    assert rows(matched, "_id", "ext_payload") == sorted(
        [(i, "x0") for i in hot] + [(i, f"x{int(i[1:]) - 200}") for i in tail]
    )
    assert rows(losers, "ext_payload") == sorted([("x1",), ("x2",)] * 200)
    assert set(losers.columns) == set(b.columns)


def test_match_hot_key_strict_compat(skewed_ab):
    """strict_compat on a hot key: only the LAST of the three candidates
    returns per A row, the middle one vanishes, and the winners are the
    same as without it."""
    a, b = skewed_ab
    cfg = ReconConfig(keys=CFG.keys, strict_compat=True)
    matched_s, losers_s = match_records(a, b, cfg)
    matched, _ = match_records(a, b, CFG)
    assert rows(matched_s) == rows(matched)
    assert rows(losers_s, "ext_payload") == [("x2",)] * 200
