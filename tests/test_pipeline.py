from conftest import rows

from mongo_polars_reconciliation_spark.config import (
    KeyPair,
    ReconConfig,
    ToleranceRule,
    ZeroEffectRule,
)
from mongo_polars_reconciliation_spark.plans.pipeline import (
    ExactPass,
    Reconciliation,
    TolerancePass,
)
from mongo_polars_reconciliation_spark.sources.external import prepare_external

CFG = ReconConfig(
    keys=[
        KeyPair("transaction_code", "codigo", None),
        KeyPair("approved_transaction_amount", "importe", "double"),
    ]
)

A_COLS = [
    "_id", "transaction_code", "approved_transaction_amount",
    "transaction_type", "ticket_code", "sale_ticket_code",
]

ZE = ZeroEffectRule(
    field="transaction_type",
    values=("SALE", "VOID"),
    b1_cols=("ticket_code", "approved_transaction_amount"),
    b2_cols=("sale_ticket_code", "approved_transaction_amount"),
)


def build(spark):
    a = spark.createDataFrame(
        [
            ("a1", "T1", 10.0, "SALE", "K1", None),   # exact match
            ("a2", "T2", 20.0, "SALE", "K2", None),   # tolerance match (20.4)
            ("a3", "T3", 30.0, "SALE", "K3", None),   # residual to the end
            ("zs", "T4", 40.0, "SALE", "K4", None),   # zero-effect pair ...
            ("zv", "T5", 40.0, "VOID", "K5", "K4"),   # ... cancels with zs
        ],
        A_COLS,
    )
    b_raw = spark.createDataFrame(
        [
            (1, "T1", "10.0"),
            (2, "T2", "20.4"),
            (3, "T8", "88.0"),  # external residual
        ],
        ["ord", "codigo", "importe"],
    )
    b = prepare_external(b_raw, CFG, order_by=["ord"]).drop("ext_ord")
    return a, b


def build_skewed(spark):
    """Cascade-shaped skewed fixture: key ("HOT", 7.0) carries 60 A rows and
    3 B candidates (duplicate arbitration on a hot key), a 1:1
    tail, residuals on both sides, and one zero-effect pair — every bucket
    is non-trivial."""
    from pyspark.sql import functions as F

    a = (
        spark.range(0, 120)
        .select(
            F.concat(F.lit("a"), F.col("id")).alias("_id"),
            F.when(F.col("id") < 60, F.lit("HOT"))
            .otherwise(F.concat(F.lit("T"), F.col("id")))
            .alias("transaction_code"),
            F.when(F.col("id") < 60, F.lit(7.0))
            .otherwise(F.col("id").cast("double"))
            .alias("approved_transaction_amount"),
            F.lit("SALE").alias("transaction_type"),
            F.concat(F.lit("K"), F.col("id")).alias("ticket_code"),
            F.lit(None).cast("string").alias("sale_ticket_code"),
        )
    )
    ze_rows = spark.createDataFrame(
        [
            ("zs", "Z1", 40.0, "SALE", "KZ", None),
            ("zv", "Z2", 40.0, "VOID", "KV", "KZ"),
        ],
        A_COLS,
    )
    a = a.unionByName(ze_rows).localCheckpoint()
    b_raw = spark.range(0, 100).select(
        F.col("id").alias("ord"),
        F.when(F.col("id") < 3, F.lit("HOT"))
        .otherwise(F.concat(F.lit("T"), F.col("id") + 60))
        .alias("codigo"),
        F.when(F.col("id") < 3, F.lit("7.0"))
        .otherwise((F.col("id") + 60).cast("string"))
        .alias("importe"),
    )
    b = (
        prepare_external(b_raw, CFG, order_by=["ord"])
        .drop("ext_ord")
        .localCheckpoint()
    )
    return a, b


def test_cascade_on_a_hot_key(spark, monkeypatch):
    """A full-key exact pass, then a reduced-key one, over a hot key: the
    60 hot A rows each win the first of their 3 candidates, the 2 losing
    candidates per row return to ``b_to_a_nmt``, the second pass matches
    on its replaced cfg, and every bucket keeps its columns."""
    import mongo_polars_reconciliation_spark.plans.pipeline as pipeline

    code_only = (KeyPair("transaction_code", "codigo", None),)
    seen = []
    real = pipeline.match_candidates

    def spy(a, b, cfg, cache=None):
        seen.append(tuple(cfg.keys))
        return real(a, b, cfg, cache=cache)

    monkeypatch.setattr(pipeline, "match_candidates", spy)
    a, b = build_skewed(spark)
    rc = Reconciliation(CFG, a, b)
    buckets = rc.run(
        [ExactPass(), ExactPass(keys=code_only)], zero_effect_rules=[ZE]
    )
    assert seen == [tuple(CFG.keys), code_only]
    assert rc.cfg is CFG

    rn = CFG.ext_row_number_col
    hot_rn = sorted(r[rn] for r in b.where("ext_codigo = 'HOT'").collect())
    mt = rows(buckets["a_to_b_mt"], "_id", rn)
    hot = [(i, n) for i, n in mt if int(i[1:]) < 60]
    assert hot == sorted((f"a{i}", hot_rn[0]) for i in range(60))
    assert len(mt) == 60 + 57  # the 1:1 tail overlaps on T63..T119
    back = rows(buckets["b_to_a_nmt"].where("ext_codigo = 'HOT'"), rn)
    assert back == sorted([(hot_rn[1],), (hot_rn[2],)] * 60)
    assert buckets["b_to_a_nmt"].count() == 120 + 40  # losers + T120..T159
    assert rows(buckets["a_to_b_nmt"], "_id") == [("a60",), ("a61",), ("a62",)]

    # the code-only pass consumes only B's code column, so its matches
    # would carry ext_importe; the bucket keeps it beside the exd_ copies
    assert set(buckets["a_to_b_mt"].columns) == {
        *A_COLS, rn, "ext_importe", "exd_codigo", "exd_importe"
    }
    assert set(buckets["a_to_b_nmt"].columns) == set(A_COLS)
    assert set(buckets["b_to_a_nmt"].columns) == set(b.columns)
    assert set(buckets["z_eff_a"].columns) == {
        *A_COLS, *(f"{c}_right" for c in A_COLS if c not in ZE.b2_cols)
    }
    rc.unpersist()


def test_not_match_records_needs_a_prior_match(spark):
    """Residuals derive from the current pass's candidate frame only."""
    import pytest

    a, b = build(spark)
    rc = Reconciliation(CFG, a, b)
    with pytest.raises(ValueError, match="prior match_records"):
        rc.not_match_records()


def test_cascade_exact_then_tolerance(spark):
    a, b = build(spark)
    rc = Reconciliation(CFG, a, b)
    buckets = rc.run(
        [ExactPass(), TolerancePass((ToleranceRule("importe", 1.0),))],
        zero_effect_rules=[ZE],
    )
    assert rows(buckets["z_eff_a"], "_id", "_id_right") == [("zs", "zv")]
    # pass 1 matches a1 exactly; pass 2 re-matches a2 within tolerance
    assert rows(buckets["a_to_b_mt"], "_id") == [("a1",), ("a2",)]
    assert rows(buckets["a_to_b_nmt"], "_id") == [("a3",)]
    assert rows(buckets["b_to_a_nmt"], "ext_file_row_number") == [(3,)]
    summary = rc.summary(amount_col="approved_transaction_amount")
    got = {r["bucket"]: (r["n"], r["amount_sum"]) for r in summary.collect()}
    assert got["a_to_b_mt"] == (2, 30.0)
    assert got["a_to_b_nmt"] == (1, 30.0)
    assert got["z_eff_a"] == (1, 40.0)
    rc.unpersist()
