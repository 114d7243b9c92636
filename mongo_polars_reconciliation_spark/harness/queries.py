"""Driver-contract queries: one per implemented operator (SURVEY.md §2).

Each callable takes ``(spark, sf_dir)`` and returns a DataFrame whose column
names and types match its oracle in harness/oracles.py exactly (the driver
sorts columns by name before value-hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.harness.fixtures import (
    TOLERANCE_RULES,
    ZE_RULE,
    build_external,
    build_internal,
    build_state,
    load_base,
    recon_cfg,
)
from mongo_polars_reconciliation_spark.operators.match import (
    hot_match_keys,
    match_records,
)
from mongo_polars_reconciliation_spark.operators.residuals import (
    residual_external,
    residual_internal,
)
from mongo_polars_reconciliation_spark.operators.tolerance import apply_tolerance
from mongo_polars_reconciliation_spark.operators.zero_effect import apply_zero_effect
from mongo_polars_reconciliation_spark.plans.pipeline import (
    ExactPass,
    Reconciliation,
    TolerancePass,
)
from mongo_polars_reconciliation_spark.scratch import scratch_path
from mongo_polars_reconciliation_spark.sources.state import (
    merge_keep_existing,
    remanent_lookup,
    union_window_and_remanent,
)

ROW_NUM = "ext_file_row_number"


_AB_CACHE: dict[tuple[str, str], tuple] = {}


def _ab(spark: SparkSession, sf_dir: str):
    """Shared A/B inputs, materialized ONCE per (session, sf_dir) via eager
    ``localCheckpoint``: every downstream recon query then plans against two
    small leaf scans instead of re-analyzing the whole fixture-synthesis
    tree (unions + void join + row-number index) at every AQE stage — that
    re-analysis dominated wall time, not compute."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir)
    if key not in _AB_CACHE:
        # drop entries from stopped sessions so their checkpoint RDD
        # references become collectable (the dict would otherwise pin
        # them for process lifetime)
        for stale in [k for k in _AB_CACHE if k[0] != app]:
            del _AB_CACHE[stale]
        cfg = recon_cfg()
        a = build_internal(spark, sf_dir).localCheckpoint(eager=True)
        b = build_external(spark, sf_dir, cfg).localCheckpoint(eager=True)
        _AB_CACHE[key] = (cfg, a, b)
    return _AB_CACHE[key]


# --- reconciliation core (SURVEY.md §2.3/§2.4) ---------------------------------


def recon_match_exact(spark, sf_dir) -> DataFrame:
    cfg, a, b = _ab(spark, sf_dir)
    matched, _ = match_records(a, b, cfg)
    return matched.select(
        "_id", F.col(ROW_NUM).alias("row_num"), "amount", "trx_date"
    )


def recon_match_skewed(spark, sf_dir) -> DataFrame:
    """Exact match through the hot-key split plan: key tuples with a
    combined A+B count ≥ 4 join via a broadcast of B's hot slice, the rest
    sort-merges. The output is bit-identical to ``match_records``, so the
    face shares ``recon_match_exact``'s oracle SQL. The threshold is
    fixture-low (the synthetic B's densest key carries 3 candidate rows
    against 1 A row — 16 hot keys at sf0.001, 165 at sf0.01) so the check
    exercises BOTH branches."""
    cfg, a, b = _ab(spark, sf_dir)
    matched, _ = match_records(a, b, cfg, hot_keys=hot_match_keys(a, b, cfg, 4))
    return matched.select(
        "_id", F.col(ROW_NUM).alias("row_num"), "amount", "trx_date"
    )


def recon_duplicate_losers(spark, sf_dir) -> DataFrame:
    cfg, a, b = _ab(spark, sf_dir)
    _, losers = match_records(a, b, cfg)
    return losers.select(
        F.col(ROW_NUM).alias("row_num"),
        F.col("ext_codigo").alias("codigo"),
        F.col("ext_importe").alias("importe"),
    )


def recon_residual_internal(spark, sf_dir) -> DataFrame:
    cfg, a, b = _ab(spark, sf_dir)
    return residual_internal(a, b, cfg).select("_id", "transaction_code", "amount")


def recon_residual_external(spark, sf_dir) -> DataFrame:
    cfg, a, b = _ab(spark, sf_dir)
    return residual_external(b, a, cfg).select(
        F.col(ROW_NUM).alias("row_num"),
        F.col("ext_codigo").alias("codigo"),
        F.col("ext_importe").alias("importe"),
    )


def recon_zero_effect_pairs(spark, sf_dir) -> DataFrame:
    a = build_internal(spark, sf_dir)
    _, pairs = apply_zero_effect(a, [ZE_RULE])
    return pairs.select(
        F.col("_id").alias("sale_id"), F.col("_id_right").alias("void_id")
    )


def recon_zero_effect_clean(spark, sf_dir) -> DataFrame:
    a = build_internal(spark, sf_dir)
    clean, _ = apply_zero_effect(a, [ZE_RULE])
    return clean.select("_id")


def recon_tolerance_match(spark, sf_dir) -> DataFrame:
    cfg, a, b = _ab(spark, sf_dir)
    matched, _, _ = apply_tolerance(a, b, cfg, list(TOLERANCE_RULES))
    return matched.select(
        "_id",
        F.col(ROW_NUM).alias("row_num"),
        F.round(F.abs(F.col("exd_importe") - F.col("amount")), 2).alias("diff"),
    )


def recon_cascade_summary(spark, sf_dir) -> DataFrame:
    """Flagship: zero-effect → exact pass → tolerance pass → money summary."""
    cfg, a, b = _ab(spark, sf_dir)
    rc = Reconciliation(cfg, a, b)
    rc.run(
        [ExactPass(), TolerancePass(TOLERANCE_RULES)],
        zero_effect_rules=[ZE_RULE],
    )
    return rc.summary(amount_col="amount")


def recon_cascade_skewed(spark, sf_dir) -> DataFrame:
    """The flagship cascade with its exact pass on the hot-key split plan
    (``ExactPass(hot_threshold=4)``). The buckets are bit-identical to
    ``recon_cascade_summary`` — the split changes only the physical join
    strategy — so the face shares its oracle SQL and the check IS the
    pipeline-level bit-identity check. The threshold matches
    ``recon_match_skewed`` so BOTH branches engage at both gate scales."""
    cfg, a, b = _ab(spark, sf_dir)
    rc = Reconciliation(cfg, a, b)
    rc.run(
        [ExactPass(hot_threshold=4), TolerancePass(TOLERANCE_RULES)],
        zero_effect_rules=[ZE_RULE],
    )
    return rc.summary(amount_col="amount")


def recon_duplicate_losers_strict(spark, sf_dir) -> DataFrame:
    """strict_compat arbitration (SURVEY.md §2.4 faithful-bug): with k>=3
    duplicate candidates only the LAST goes back to the residual bucket —
    middle candidates vanish (unique(keep='last'), reconciliatior.py:24-26)."""
    cfg = recon_cfg(strict_compat=True)
    a = build_internal(spark, sf_dir)
    b = build_external(spark, sf_dir, cfg)
    _, losers = match_records(a, b, cfg)
    return losers.select(
        F.col(ROW_NUM).alias("row_num"), "ext_codigo", "ext_importe"
    ).withColumnsRenamed({"ext_codigo": "codigo", "ext_importe": "importe"})


def recon_state_merge_upsert(spark, sf_dir) -> DataFrame:
    """$merge(on=_id, whenMatched='merge') upsert semantics — source wins on
    collision, everything else kept (second_conciliate.py:431-439)."""
    from mongo_polars_reconciliation_spark.sources.state import merge_upsert

    a = build_internal(spark, sf_dir)
    target = a.where(F.col("k") % 4 == 0).select("_id", F.lit("OLD").alias("status"))
    source = a.where(F.col("k") % 3 == 0).select("_id", F.lit("NEW").alias("status"))
    return merge_upsert(target, source, "_id").select("_id", "status")


def recon_match_on_names(spark, sf_dir) -> DataFrame:
    """Entry-point-#2 naming policy (SURVEY.md §3.2): external columns are
    renamed to the internal names and the join runs on shared names, with
    run-metadata literal columns attached (P5/P15); no arbitration — every
    candidate pair is a row (second_conciliate.py:282-322)."""
    cfg = recon_cfg()
    a = build_internal(spark, sf_dir)
    b = build_external(spark, sf_dir, cfg)
    names = {"ext_codigo": "transaction_code", "ext_importe": "amount",
             "ext_fecha": "trx_date"}
    b_named = b.select(
        *[F.col(src).alias(dst) for src, dst in names.items()],
        F.col(ROW_NUM).alias("row_num"),
    )
    keys = list(names.values())
    return (
        a.select("_id", *keys)
        .join(b_named, on=keys, how="inner")
        .select(
            "_id",
            "row_num",
            "amount",
            F.lit("CONCILIATED").alias("conciliation_status"),
            F.lit(",".join(keys)).alias("key_code"),
        )
    )


def recon_cascade_three_pass(spark, sf_dir) -> DataFrame:
    """Reference's intended cascade shape (src/reconciliation.py:66-73):
    exact on full keys → tolerance(importe ±1) on reduced keys → exact again
    on a further-reduced key set (codigo+fecha), catching the rows whose
    amounts differ beyond tolerance."""
    from mongo_polars_reconciliation_spark.config import KeyPair

    cfg, a, b = _ab(spark, sf_dir)
    rc = Reconciliation(cfg, a, b)
    rc.run(
        [
            ExactPass(),
            TolerancePass(TOLERANCE_RULES),
            ExactPass(keys=(KeyPair("transaction_code", "codigo"),
                            KeyPair("trx_date", "fecha"))),
        ],
        zero_effect_rules=[ZE_RULE],
    )
    return rc.summary(amount_col="amount")


def recon_amount_quantiles(spark, sf_dir) -> DataFrame:
    """Exact nearest-rank p50/p90/p99 of amount per transaction type —
    money-distribution summary beyond the reference's sum/count (A1+)."""
    from mongo_polars_reconciliation_spark.operators.summary import bucket_quantiles

    a = build_internal(spark, sf_dir)
    return bucket_quantiles(a, "transaction_type", "amount")


def recon_subset_dedup_keep_last(spark, sf_dir) -> DataFrame:
    """U4 subset dedup, keep-LAST by explicit order: one B row per codigo,
    the highest file_row_number wins (Polars unique(keep='last') with the
    order made explicit — SURVEY.md §2.5)."""
    from mongo_polars_reconciliation_spark.functions.windows import keep_last

    _, _, b = _ab(spark, sf_dir)
    out = keep_last(b, ["ext_codigo"], [ROW_NUM])
    return out.select(
        F.col("ext_codigo").alias("codigo"),
        F.col(ROW_NUM).alias("row_num"),
        F.col("ext_importe").alias("importe"),
    )


def recon_summary_doc(spark, sf_dir) -> DataFrame:
    """The reference's aggregated-results document (S10 full shape,
    second_conciliate.py:465-478): run-metadata literals + matched/remanent
    counts and amounts in ONE row."""
    from mongo_polars_reconciliation_spark.operators.summary import summary_document

    cfg, a, b = _ab(spark, sf_dir)
    matched, _ = match_records(a, b, cfg)
    unmatched = residual_internal(a, b, cfg)
    return summary_document(
        matched,
        unmatched,
        meta={
            "execution_id": "exec-0001",
            "execution_type": "on_demand",
            "execution_date": "2024-01-01",
            "processor_name": "processor-a",
            "conciliation_currency": "MXN",
        },
        amount_col="amount",
        id_col="_id",
    )


def recon_persist_roundtrip(spark, sf_dir) -> DataFrame:
    """Reference's end-of-run persistence loop END-TO-END
    (``persist_results``, second_conciliate.py:486-503): cascade → each
    bucket staged then moved time-partitioned into its final dir → the
    aggregated-results doc computed FROM the re-read final buckets and
    persisted too. Every returned row is derived from what actually landed
    on disk, so the oracle checks the whole write→read path, not the
    in-memory frames."""
    from mongo_polars_reconciliation_spark.operators.summary import summary_document
    from mongo_polars_reconciliation_spark.sources.sinks import persist_results

    cfg, a, b = _ab(spark, sf_dir)
    rc = Reconciliation(cfg, a, b)
    rc.run(
        [ExactPass(), TolerancePass(TOLERANCE_RULES)],
        zero_effect_rules=[ZE_RULE],
    )
    bk = rc.buckets()
    mt = bk["a_to_b_mt"].select("_id", "amount", "trx_date")
    a_nmt = bk["a_to_b_nmt"].select("_id", "amount", "trx_date")
    b_nmt = bk["b_to_a_nmt"].select(
        F.col(ROW_NUM).alias("row_num"),
        F.col("ext_codigo").alias("codigo"),
        F.col("ext_importe").alias("importe"),
        F.col("ext_fecha").alias("fecha"),
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    root = scratch_path(tag, "persist_roundtrip")
    paths = persist_results(
        {
            "a_to_b_mt": (mt, "trx_date"),
            "a_to_b_nmt": (a_nmt, "trx_date"),
            "b_to_a_nmt": (b_nmt, "fecha"),
        },
        root,
    )
    mt_r = spark.read.parquet(paths["a_to_b_mt"])
    a_nmt_r = spark.read.parquet(paths["a_to_b_nmt"])
    b_nmt_r = spark.read.parquet(paths["b_to_a_nmt"])
    doc = summary_document(
        mt_r,
        a_nmt_r,
        meta={
            "execution_id": "exec-0001",
            "execution_type": "on_demand",
            "execution_date": "2024-01-01",
            "processor_name": "processor-a",
            "conciliation_currency": "MXN",
        },
        amount_col="amount",
        id_col="_id",
    )
    doc_path = persist_results({}, root, summary=doc)["aggregated_results"]
    doc_r = spark.read.parquet(doc_path)

    def agg_row(df: DataFrame, name: str, amt_col: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(
                F.sum(F.col(amt_col).cast("decimal(18,2)")).cast("double"),
                F.lit(0.0),
            ).alias("amount_sum"),
        ).select(F.lit(name).alias("bucket"), "n", "amount_sum")

    doc_rows = doc_r.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("doc_conciliated").alias("bucket"),
                    F.col("conciliated_transactions_number")
                    .cast("long")
                    .alias("n"),
                    F.col("conciliated_amount").alias("amount_sum"),
                ),
                F.struct(
                    F.lit("doc_remanent").alias("bucket"),
                    F.col("remanent_transactions_number").cast("long").alias("n"),
                    F.col("remanent_amount").alias("amount_sum"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return (
        agg_row(mt_r, "a_to_b_mt", "amount")
        .unionByName(agg_row(a_nmt_r, "a_to_b_nmt", "amount"))
        .unionByName(agg_row(b_nmt_r, "b_to_a_nmt", "importe"))
        .unionByName(doc_rows)
    )


# --- state-table semantics (SURVEY.md §2.1 S2/S8/S9) ---------------------------


def recon_csv_sink_roundtrip(spark, sf_dir) -> DataFrame:
    """S6 end-to-end on a REAL file: write the internal-residual bucket
    through the iteration-numbered single-file CSV sink
    (``a_to_b_nmt(2).csv``, src/reconciliatior.py:61-64), read it back
    all-string, cast — the sink emits a faithful, reloadable file."""
    from mongo_polars_reconciliation_spark.sources.scan import read_csv_all_string
    from mongo_polars_reconciliation_spark.sources.sinks import save_buckets_csv

    cfg, a, b = _ab(spark, sf_dir)
    bucket = residual_internal(a, b, cfg).select("_id", "transaction_code", "amount")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    paths = save_buckets_csv(
        {"a_to_b_nmt": bucket}, scratch_path(tag, "csv_sink"), iteration=2
    )
    raw = read_csv_all_string(spark, paths["a_to_b_nmt"])
    return raw.select(
        "_id", "transaction_code", F.col("amount").cast("double").alias("amount")
    )


def recon_mongo_json_scan(spark, sf_dir) -> DataFrame:
    """Mongoexport extended-JSON ingestion end-to-end on a REAL json file:
    write the internal fixture as wrapped documents ($oid ids, $numberLong
    longs, a nested metadata sub-document), read it back through the
    unwrap/flatten/coerce projection (src/expression_builder.py:29-43
    semantics on export files) and keep SALEs only."""
    from mongo_polars_reconciliation_spark.harness.fixtures import build_internal
    from mongo_polars_reconciliation_spark.sources.mongo_json import (
        read_mongo_extended_json,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = scratch_path(tag, "mongo_json")
    a = build_internal(spark, sf_dir)
    a.select(
        F.struct(F.col("_id").alias("$oid")).alias("_id"),
        F.struct(F.col("k").cast("string").alias("$numberLong")).alias("k"),
        F.col("transaction_code"),
        F.col("amount"),
        F.col("trx_date"),
        F.col("transaction_type"),
        F.struct(F.col("ticket_code"), F.col("sale_ticket_code")).alias(
            "metadata_object"
        ),
    ).write.mode("overwrite").json(path)
    doc = read_mongo_extended_json(
        spark,
        path,
        fields={
            "_id": "_id",
            "k": "k:long",
            "transaction_code": "transaction_code",
            "amount": "amount:double",
            "trx_date": "trx_date",
            "transaction_type": "transaction_type",
            "ticket_code": "metadata_object.ticket_code",
        },
    )
    return doc.where(F.col("transaction_type") == "SALE")


def recon_orc_roundtrip(spark, sf_dir) -> DataFrame:
    """Data-lake format breadth end-to-end on a REAL ORC file: write the
    internal fixture as ORC (built into Spark — columnar like parquet but
    the other mainstream lake format), read it back, keep SALEs — the same
    write→read contract the CSV and mongoexport-JSON round-trips pin, so a
    pipeline landing ORC can feed the identical reconciliation path. ORC
    preserves doubles/strings exactly; the oracle checks the disk round
    trip, not the in-memory frame."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = scratch_path(tag, "orc_roundtrip")
    a = build_internal(spark, sf_dir)
    a.write.mode("overwrite").orc(path)
    return (
        spark.read.orc(path)
        .where(F.col("transaction_type") == "SALE")
        .select("_id", "transaction_code", "amount", "trx_date")
    )


def recon_state_merge_keep_existing(spark, sf_dir) -> DataFrame:
    a = build_internal(spark, sf_dir)
    target = a.where(F.col("k") % 4 == 0).select("_id", F.lit("OLD").alias("status"))
    source = a.select("_id", F.lit("PENDING").alias("status"))
    return merge_keep_existing(target, source, "_id").select("_id", "status")


def recon_remanent_lookup(spark, sf_dir) -> DataFrame:
    a = build_internal(spark, sf_dir)
    state = build_state(spark, sf_dir)
    return remanent_lookup(state, a).select("_id", "amount")


def recon_union_remanent_dedup(spark, sf_dir) -> DataFrame:
    a = build_internal(spark, sf_dir)
    w = a.where(F.col("k") < 700).select("_id", F.lit("W").alias("src"))
    r = a.where(F.col("k") % 5 == 2).select("_id", F.lit("R").alias("src"))
    return union_window_and_remanent(w, r).select("_id", "src")


# --- source scans (SURVEY.md §2.1 S1/S3/S4) ------------------------------------


def recon_source_scan_filtered(spark, sf_dir) -> DataFrame:
    """S1 semantics on parquet: eq + isin + half-open-range filter block next
    to the read (Catalyst pushes all three into the scan) then the config-
    driven string-default/typed projection ($match → $project+$toString)."""
    from mongo_polars_reconciliation_spark.config import SourceFilter
    from mongo_polars_reconciliation_spark.sources.scan import scan_internal

    flt = SourceFilter(
        equals={"o_orderpriority": "1-URGENT"},
        isin={"o_orderstatus": ["F", "P"]},
        ranges={"o_totalprice": (1000.0, 150000.0)},
    )
    return scan_internal(
        spark,
        f"{sf_dir}/orders.parquet",
        fields=["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
        flt=flt,
        long_fields=("o_orderkey",),
        double_fields=("o_totalprice",),
    )


def recon_csv_roundtrip(spark, sf_dir) -> DataFrame:
    """S3/S4 semantics end-to-end on a REAL csv file: write the raw external
    table as CSV, read it back all-string (infer off), cast the numeric keys
    per config, and row-number by the explicit file-order stand-in — the
    reference's settlement-file ingestion (src/data_extractor.py:95-116)."""
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_external_raw,
        recon_cfg,
    )
    from mongo_polars_reconciliation_spark.sources.external import prepare_external
    from mongo_polars_reconciliation_spark.sources.scan import read_csv_all_string

    cfg = recon_cfg()
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = scratch_path(tag, "external_csv")
    build_external_raw(spark, sf_dir).write.mode("overwrite").option(
        "header", True
    ).csv(path)
    raw = read_csv_all_string(spark, path).withColumn("k", F.col("k").cast("long"))
    prepared = prepare_external(raw, cfg, order_by=["k", "codigo", "cpy"])
    return prepared.select(
        F.col("ext_file_row_number").alias("row_num"),
        F.col("ext_codigo").alias("codigo"),
        F.col("ext_importe").alias("importe"),
        F.col("ext_fecha").alias("fecha"),
    )


# --- streaming-shaped batch ops over events ------------------------------------


def _read_events(spark, sf_dir) -> DataFrame:
    """Events scan with the ``ts`` column normalized to the engine's epoch-
    nanos BIGINT convention, whatever the parquet physical type is: the
    testdata has shipped both TIMESTAMP(NANOS) (readable only via
    nanos-as-long) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Normalize
    ONCE here (see functions/timenorm.py) so every downstream query keeps
    exact integer nanosecond arithmetic and any future drift fails loudly
    in one place."""
    from mongo_polars_reconciliation_spark.functions.timenorm import (
        ensure_epoch_nanos,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return ensure_epoch_nanos(spark.read.parquet(f"{sf_dir}/events.parquet"))


def events_funnel(spark, sf_dir) -> DataFrame:
    """Ordered funnel (view → click → purchase): users whose FIRST
    occurrence of each step happens in step order. One groupBy(user) with
    conditional-min aggregates — a single shuffle whatever the step count,
    then a broadcast-sized count row."""
    e = _read_events(spark, sf_dir)
    steps = ["view", "click", "purchase"]
    per_user = e.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t{i}")
            for i, s in enumerate(steps)
        ]
    )
    c0 = F.col("t0").isNotNull()
    c1 = c0 & F.col("t1").isNotNull() & (F.col("t1") >= F.col("t0"))
    c2 = c1 & F.col("t2").isNotNull() & (F.col("t2") >= F.col("t1"))
    return per_user.agg(
        F.count(F.when(c0, 1)).alias("n_view"),
        F.count(F.when(c1, 1)).alias("n_view_click"),
        F.count(F.when(c2, 1)).alias("n_view_click_purchase"),
    )


def events_funnel_windowed(spark, sf_dir) -> DataFrame:
    """Time-bounded conversion funnel: first view → first click within 1h of
    that view → first purchase within 24h of that click. Unlike the
    unbounded ordered funnel (events_funnel), each step must land inside a
    per-step window — the realistic attribution rule. Because each step's
    threshold depends on the PREVIOUS step's min, the plan is a chain of
    three per-step groupBy(user) aggregations stitched by user_id joins
    (not one fused pass): every shuffle is keyed on user_id, the per-step
    frames shrink monotonically (filtered event subsets), and the final
    count row is broadcast-sized — so the 100 TB cost is a handful of
    same-key shuffles over per-user rows, never a global sort or window."""
    e = _read_events(spark, sf_dir)
    hour_ns, day_ns = 3_600_000_000_000, 86_400_000_000_000
    t0 = e.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t0")
    )
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts")
    t1 = (
        clicks.join(t0, "user_id")
        .where((F.col("ts") >= F.col("t0")) & (F.col("ts") <= F.col("t0") + hour_ns))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select("user_id", "ts")
    t2 = (
        purchases.join(t1, "user_id")
        .where((F.col("ts") >= F.col("t1")) & (F.col("ts") <= F.col("t1") + day_ns))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        t0.join(t1, "user_id", "left")
        .join(t2, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_view"),
            F.count("t1").alias("n_click_1h"),
            F.count("t2").alias("n_purchase_24h"),
        )
    )


def events_retention(spark, sf_dir) -> DataFrame:
    """Cohort retention: users are cohorted by their FIRST active day;
    for each (cohort_day, day_offset) count distinct users active again
    offset days later. Two hash-aggregates and one broadcast-sized join —
    the classic retention-matrix shape, no window over raw events."""
    e = _read_events(spark, sf_dir)
    days = e.select(
        "user_id", F.expr("ts DIV 86400000000000").cast("long").alias("day")
    ).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(first, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def events_daily_type_pivot(spark, sf_dir) -> DataFrame:
    """Relational pivot: one row per day, one count column per event type.
    Explicit value list keeps the output schema static (no extra pass to
    discover values) and the plan a single hash-aggregate."""
    e = _read_events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        e.select(
            F.expr("ts DIV 86400000000000").cast("long").alias("day"),
            "event_type",
        )
        .groupBy("day")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


def events_props_extract(spark, sf_dir) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of the JSON
    ``props`` column (get_json_object — JVM-side JSON path, no Python) and
    aggregate on it; the schemaless-column pattern every event pipeline
    needs."""
    e = _read_events(spark, sf_dir)
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("k").isNotNull(), 1)).alias("n_with_k"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
    )


def events_rollup(spark, sf_dir) -> DataFrame:
    """ROLLUP aggregation: per (day, event_type) counts plus per-day and
    grand totals in one pass — multi-level aggregates without re-scanning."""
    e = _read_events(spark, sf_dir)
    return (
        e.select(
            F.expr("ts DIV 86400000000000").cast("long").alias("day"),
            "event_type",
        )
        .rollup("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        # sentinel the NULL subtotal keys: -1 / 'ALL' never occur in data,
        # and typed non-null keys survive any engine's row ordering
        .select(
            F.coalesce(F.col("day"), F.lit(-1)).alias("day"),
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            "n",
        )
    )


def events_user_running_value(spark, sf_dir) -> DataFrame:
    """Per-user running value sum and event index, ordered by (ts,
    event_id) — the keyed cumulative-window shape (partitioned by user, so
    no global window; DECIMAL-routed so the running sum is exact and
    order-stable across engines)."""
    e = _read_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .cast("long")
        .alias("seq"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
    )


def events_asof_last_view(spark, sf_dir) -> DataFrame:
    """As-of join: every purchase attached to the user's most recent view
    at-or-before it (union + carry-forward window: one shuffle on the key,
    no O(pairs) range explosion). Unmatched purchases carry sentinel -1 so
    the output stays typed and orderable."""
    from mongo_polars_reconciliation_spark.functions.asof import asof_join_backward

    e = _read_events(spark, sf_dir)
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id")
    )
    out = asof_join_backward(
        purchases,
        views,
        on=["user_id"],
        ts_col="ts",
        payload_cols=["view_event_id"],
        tiebreak_col="view_event_id",
    )
    return out.select(
        "purchase_event_id",
        "user_id",
        F.coalesce(F.col("view_event_id"), F.lit(-1)).alias("view_event_id"),
    )


def events_user_kmv(spark, sf_dir) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, k=64: hash every key
    with the cross-engine polynomial hash, keep the k smallest distinct
    hash values (TakeOrderedAndProject — k rows to the driver), estimate
    |distinct| ≈ (k-1)·P/kth_min. Unlike HyperLogLog this sketch is fully
    deterministic and integer-exact, so the oracle reproduces it
    bit-for-bit; the exact distinct count rides along for the error
    check. At scale the k-min pass is one scan with per-partition local
    top-k — no shuffle of raw keys. The MIXED hash matters here more than
    anywhere: the estimator (k-1)·P/kth_min assumes hv ~ Uniform[0, P),
    and raw poly-hash values of numeric user ids sit in narrow bands."""
    from mongo_polars_reconciliation_spark.functions.hashing import (
        POLY_P31,
        poly_hash_mixed_col,
    )

    e = _read_events(spark, sf_dir)
    p = POLY_P31
    k = 64
    # NULL keys are excluded on BOTH engines (Spark orderBy puts NULLs first
    # while DuckDB's ORDER BY ... LIMIT puts them last — a null user_id would
    # skew k_actual/kth_min differently); countDistinct ignores NULLs too, so
    # the sketch and the exact count agree on the key universe.
    hashed = (
        e.select(poly_hash_mixed_col("user_id").alias("hv"))
        .where(F.col("hv").isNotNull())
        .distinct()
    )
    kth = hashed.orderBy(F.col("hv").asc()).limit(k)
    est = kth.agg(
        F.max("hv").alias("kth_min"), F.count(F.lit(1)).alias("k_actual")
    )
    exact = e.agg(F.countDistinct("user_id").alias("n_exact"))
    return (
        est.crossJoin(exact)
        .select(
            "k_actual",
            "kth_min",
            "n_exact",
            F.when(
                F.col("kth_min") > 0,
                F.floor(
                    (F.col("k_actual") - 1) * F.lit(float(p)) / F.col("kth_min")
                ).cast("long"),
            ).alias("n_estimate"),
        )
    )


def events_kmv_merge(spark, sf_dir) -> DataFrame:
    """Mergeable-sketch pattern: per-event-type KMV sketches (the k
    smallest distinct key hashes of each type) merged into the global
    distinct-count estimate — the partial-aggregation shape that lets a
    100 TB table be sketched per partition/day/source and combined without
    rescanning. Merging k-min sets and re-taking the k smallest
    reproduces the full-scan sketch EXACTLY (any global k-minimum is a
    within-type k-minimum), so this row equals events_user_kmv
    bit-for-bit — which is precisely the mergeability property the oracle
    pins."""
    from mongo_polars_reconciliation_spark.functions.hashing import (
        POLY_P31,
        poly_hash_mixed_col,
    )

    e = _read_events(spark, sf_dir)
    p, k = POLY_P31, 64
    hashed = (
        e.select("event_type", poly_hash_mixed_col("user_id").alias("hv"))
        .where(F.col("hv").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy(F.col("hv").asc())
    sketches = hashed.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    )
    merged = sketches.select("hv").distinct().orderBy(F.col("hv").asc()).limit(k)
    est = merged.agg(
        F.max("hv").alias("kth_min"), F.count(F.lit(1)).alias("k_actual")
    )
    exact = e.agg(F.countDistinct("user_id").alias("n_exact"))
    return est.crossJoin(exact).select(
        "k_actual",
        "kth_min",
        "n_exact",
        F.when(
            F.col("kth_min") > 0,
            F.floor(
                (F.col("k_actual") - 1) * F.lit(float(p)) / F.col("kth_min")
            ).cast("long"),
        ).alias("n_estimate"),
    )


def events_hourly_from_daily_rollup(spark, sf_dir) -> DataFrame:
    """Hypertable-style hierarchical rollup: the DAY aggregate is computed
    FROM the hourly aggregate, not from raw events — the
    continuous-aggregate reuse pattern (coarser resolutions re-aggregate
    ~24× fewer rows instead of rescanning the table)."""
    hourly = events_hourly(spark, sf_dir)
    return (
        hourly.groupBy(
            F.expr("hour_bucket DIV 24").cast("long").alias("day_bucket"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum(F.col("value_sum").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
    )


def events_top_users_per_type(spark, sf_dir) -> DataFrame:
    """Per-group top-k: the 3 highest-value users per event type. One
    hash-aggregate then a rank window PARTITIONED BY the group key — per-
    group sort only, never a global sort; DECIMAL-routed totals keep the
    ranking order-stable across engines."""
    e = _read_events(spark, sf_dir)
    totals = e.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total_value").desc(), F.col("user_id").asc()
    )
    return (
        totals.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("event_type", "rnk", "user_id", "total_value")
    )


def events_hourly(spark, sf_dir) -> DataFrame:
    """Tumbling 1h window aggregation (batch form; streaming skin reuses the
    same expressions over readStream + watermark)."""
    e = _read_events(spark, sf_dir)
    return (
        e.withColumn("hour_bucket", F.expr("ts DIV 3600000000000").cast("long"))
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
    )


def events_sessionize(spark, sf_dir) -> DataFrame:
    """30-min-gap sessionization via lag + running conditional sum."""
    from pyspark.sql import Window

    e = _read_events(spark, sf_dir)
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        e.withColumn("prev_tn", F.lag("ts").over(w_lag))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_tn").isNull()
                | (F.col("ts") - F.col("prev_tn") > 1800000000000),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .select(
            "event_id",
            "user_id",
            F.sum("is_new").over(w_run).cast("long").alias("session_seq"),
        )
    )


# --- scan/agg path benchmark (TPC-H Q1 shape) -----------------------------------


def q1_pricing_summary(spark, sf_dir) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate").cast("date") <= F.lit("1999-12-31").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- training-data-pipeline extensions (SURVEY.md §2.9) ------------------------


def dedup_exact(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.dedup import exact_dedup_groups
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    return exact_dedup_groups(build_documents_aug(spark, sf_dir))


def dedup_minhash_lsh(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.dedup import minhash_near_dups
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    return minhash_near_dups(build_documents_aug(spark, sf_dir), hash_mode="poly")


# dedup_minhash_lsh_capped RETIRED r13 (VERDICT r12 #5, registry
# consolidation): the face was dedup_minhash_lsh plus the hot-bucket
# guard at 1000, sharing the uncapped oracle — its entire check is
# carried verbatim by
# tests/test_lsh_cap.py::test_minhash_capped_equals_uncapped_on_fixture;
# cap-ENGAGED behavior stays pinned by the hot-bucket tests there.


def dedup_simhash(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.dedup import simhash_near_dups
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    return simhash_near_dups(build_documents_aug(spark, sf_dir), hash_mode="poly")


def dedup_clusters_cc(spark, sf_dir) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-verified
    near-dup pairs (min-id label per component) — turns pairwise matches
    into keep-one-per-cluster decisions for the whole corpus."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        dedup_clusters,
        minhash_near_dups,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    docs = build_documents_aug(spark, sf_dir)
    pairs = minhash_near_dups(docs, hash_mode="poly")
    return dedup_clusters(pairs, docs.select("doc_id"))


def dedup_clusters_star_cc(spark, sf_dir) -> DataFrame:
    """Same clustering contract computed by alternating large-star /
    small-star rounds (O(log n) rounds vs diameter) — the production CC
    path for deep graphs; shares the propagation variant's oracle since
    the fixpoint is identical."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        dedup_clusters_star,
        minhash_near_dups,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    docs = build_documents_aug(spark, sf_dir)
    pairs = minhash_near_dups(docs, hash_mode="poly")
    return dedup_clusters_star(pairs, docs.select("doc_id"))


def dedup_clusters_quality(spark, sf_dir) -> DataFrame:
    """Quality-keeper arbitration over near-dup clusters: the star-CC
    cluster labels joined to the fused single-pass quality scores, each
    cluster collapsed to its argmax-quality member (MIN-id tie-break) —
    the curation decision production pipelines make (keep the BEST copy,
    not the first), and the corpus face of the reference's deterministic
    duplicate-winner arbitration (src/reconciliatior.py:141-160).

    Scale shape: the cluster labels cost the O(log n) star rounds the
    cluster queries already pay; the arbitration itself is one id-key
    equi-join plus one partial-aggregable struct-max on cluster_id — no
    window sort, no member-list shuffle. NULL text scores as '' (the
    shared null-content rule)."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        cluster_keepers_by_quality,
        dedup_clusters_star,
        minhash_near_dups,
    )
    from mongo_polars_reconciliation_spark.extensions.text import fused_doc_scores
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    docs = build_documents_aug(spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    pairs = minhash_near_dups(docs, hash_mode="poly")
    clusters = dedup_clusters_star(pairs, docs.select("doc_id"))
    scores = fused_doc_scores(docs)
    return cluster_keepers_by_quality(clusters, scores)


def dedup_ngram_jaccard(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.dedup import ngram_jaccard_pairs
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    return ngram_jaccard_pairs(build_documents_aug(spark, sf_dir))


def dedup_embedding_cosine(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        embedding_near_dups,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import build_embeddings_aug

    return embedding_near_dups(build_embeddings_aug(spark, sf_dir), threshold=0.8)


def sim_topk_bruteforce(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.similarity import topk_bruteforce
    from mongo_polars_reconciliation_spark.harness.fixtures import query_vector

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return topk_bruteforce(emb, query_vector(spark, sf_dir), k=10)


def sim_topk_ivf(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.similarity import topk_ivf
    from mongo_polars_reconciliation_spark.harness.fixtures import query_vector

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return topk_ivf(emb, query_vector(spark, sf_dir), k=10, nprobe=2)


def sim_topk_pq(spark, sf_dir) -> DataFrame:
    """Product-quantization ANN (r10): fit per-subspace codebooks once,
    persist them to parquet and reload (the model-artifact pattern —
    bit-exact doubles, so fit→save→load→probe equals fit-then-probe),
    then answer the top-10 query via ADC candidate scoring over the m
    small codes per row plus an exact-cosine re-rank of the 50
    survivors. The compressed-scan + re-rank split is the 100 TB ANN
    memory trade: the candidate cut reads m ints per row, exact vectors
    are touched only for the survivors."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        load_pq_codebooks,
        pq_fit,
        pq_topk_adc,
        save_pq_codebooks,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import query_vector
    from mongo_polars_reconciliation_spark.harness.oracles import (
        PQ_ORACLE_KSUB,
        PQ_ORACLE_M,
        PQ_ORACLE_N_ITER,
        PQ_ORACLE_RERANK,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = pq_fit(
        emb, m=PQ_ORACLE_M, ksub=PQ_ORACLE_KSUB, n_iter=PQ_ORACLE_N_ITER
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = scratch_path(tag, "pq_codebooks")
    save_pq_codebooks(spark, books, path)
    return pq_topk_adc(
        emb,
        query_vector(spark, sf_dir),
        load_pq_codebooks(spark, path),
        k=10,
        rerank=PQ_ORACLE_RERANK,
    )


def sim_topk_ivfpq(spark, sf_dir) -> DataFrame:
    """IVF-PQ ANN (r10): the composition of the two persisted artifacts —
    a coarse centroid table pruning the scan to nprobe cells and residual
    product codebooks scoring the survivors by ADC, exact-cosine re-rank
    on the originals (FAISS IVFPQ; Jégou et al. 2011). Both artifacts are
    written to parquet and RELOADED before the probe (fit once, probe
    many — the model-artifact pattern), so the query pins the whole
    build→persist→serve path end to end."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ivf_residuals,
        ivfpq_topk,
        kmeans_fit,
        load_centroids,
        load_pq_codebooks,
        pq_fit,
        save_centroids,
        save_pq_codebooks,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import query_vector
    from mongo_polars_reconciliation_spark.harness.oracles import (
        IVFPQ_ORACLE_N_ITER,
        IVFPQ_ORACLE_NLIST,
        IVFPQ_ORACLE_NPROBE,
        PQ_ORACLE_KSUB,
        PQ_ORACLE_M,
        PQ_ORACLE_N_ITER,
        PQ_ORACLE_RERANK,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    coarse = kmeans_fit(
        emb, k=IVFPQ_ORACLE_NLIST, n_iter=IVFPQ_ORACLE_N_ITER
    )
    # checkpoint: the m subspace fits and the head probe would otherwise
    # each re-run the assignment kernel + broadcast join behind the slices
    res = ivf_residuals(emb, coarse).localCheckpoint(eager=False)
    books = pq_fit(
        res, m=PQ_ORACLE_M, ksub=PQ_ORACLE_KSUB, n_iter=PQ_ORACLE_N_ITER
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    cpath = scratch_path(tag, "ivfpq_coarse")
    bpath = scratch_path(tag, "ivfpq_books")
    # the two artifact writes (and the two reloads) are independent jobs
    # on disjoint dirs — overlap them on a 2-thread driver pool (r16,
    # guide §2.6; the persist_results treatment). Byte-identical
    # artifacts; measured 0.81 → 0.44 s min for the save+load pair.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fc = pool.submit(save_centroids, spark, coarse, cpath)
        fb = pool.submit(save_pq_codebooks, spark, books, bpath)
        fc.result()
        fb.result()
    with ThreadPoolExecutor(max_workers=2) as pool:
        lc = pool.submit(load_centroids, spark, cpath)
        lb = pool.submit(load_pq_codebooks, spark, bpath)
        coarse_loaded, books_loaded = lc.result(), lb.result()
    return ivfpq_topk(
        emb,
        query_vector(spark, sf_dir),
        coarse_loaded,
        books_loaded,
        nprobe=IVFPQ_ORACLE_NPROBE,
        k=10,
        rerank=PQ_ORACLE_RERANK,
    )


def sim_knn_join_ivfpq(spark, sf_dir) -> DataFrame:
    """IVF-PQ k-NN graph (r10): every vector probes its nprobe nearest
    coarse cells, blocked candidate pairs are scored by ADC — m code
    lookups per pair instead of a 64-dim fold — and only each query's
    rerank survivors pay the exact cosine. The corpus-scale ANN-graph
    build (the dedup/SemDeDup front end) under the compressed-scan
    trade."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ivf_residuals,
        kmeans_fit,
        knn_join_ivfpq,
        pq_fit,
    )
    from mongo_polars_reconciliation_spark.harness.oracles import (
        IVFPQ_ORACLE_KJOIN,
        IVFPQ_ORACLE_N_ITER,
        IVFPQ_ORACLE_NLIST,
        IVFPQ_ORACLE_NPROBE,
        IVFPQ_ORACLE_RERANK_JOIN,
        PQ_ORACLE_KSUB,
        PQ_ORACLE_M,
        PQ_ORACLE_N_ITER,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    coarse = kmeans_fit(
        emb, k=IVFPQ_ORACLE_NLIST, n_iter=IVFPQ_ORACLE_N_ITER
    )
    res = ivf_residuals(emb, coarse).localCheckpoint(eager=False)
    books = pq_fit(
        res, m=PQ_ORACLE_M, ksub=PQ_ORACLE_KSUB, n_iter=PQ_ORACLE_N_ITER
    )
    return knn_join_ivfpq(
        emb,
        coarse,
        books,
        k=IVFPQ_ORACLE_KJOIN,
        nprobe=IVFPQ_ORACLE_NPROBE,
        rerank=IVFPQ_ORACLE_RERANK_JOIN,
        # the code side derives from the SAME checkpointed residual frame
        # the books were fitted on — no second assignment-kernel pass
        res=res,
    )


def sim_knn_join_ivfpq_served(spark, sf_dir) -> DataFrame:
    """IVF-PQ k-NN graph from PERSISTED artifacts (r11, VERDICT r10 #4):
    the recurring SERVE cost of an ANN-graph build wave — the coarse
    centroid table and residual codebooks are fitted/saved at most once
    per process (first call), and the graph is built from the LOADED
    artifacts with the residual encode re-run under them (the real
    rebuild-wave path: the fit is amortized across waves, the encode is
    not). Bit-equal to the fit-inclusive sim_knn_join_ivfpq (the
    artifact round-trip property, pinned), so it shares that oracle;
    bench-wise this face tracks serve cost while the fit-inclusive face
    keeps tracking the artifact-production path (5 in-session Lloyd
    fits, the suite's most ambient-sensitive number)."""
    import os

    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ivf_residuals,
        kmeans_fit,
        knn_join_ivfpq,
        load_centroids,
        load_pq_codebooks,
        pq_fit,
        save_centroids,
        save_pq_codebooks,
    )
    from mongo_polars_reconciliation_spark.harness.oracles import (
        IVFPQ_ORACLE_KJOIN,
        IVFPQ_ORACLE_N_ITER,
        IVFPQ_ORACLE_NLIST,
        IVFPQ_ORACLE_NPROBE,
        IVFPQ_ORACLE_RERANK_JOIN,
        PQ_ORACLE_KSUB,
        PQ_ORACLE_M,
        PQ_ORACLE_N_ITER,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    cpath = scratch_path(tag, "ivfpq_kj_coarse")
    bpath = scratch_path(tag, "ivfpq_kj_books")
    if not (os.path.exists(cpath) and os.path.exists(bpath)):
        coarse = kmeans_fit(
            emb, k=IVFPQ_ORACLE_NLIST, n_iter=IVFPQ_ORACLE_N_ITER
        )
        res = ivf_residuals(emb, coarse).localCheckpoint(eager=False)
        books = pq_fit(
            res, m=PQ_ORACLE_M, ksub=PQ_ORACLE_KSUB, n_iter=PQ_ORACLE_N_ITER
        )
        # independent writes, disjoint dirs — overlap (r16, guide §2.6)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fc = pool.submit(save_centroids, spark, coarse, cpath)
            fb = pool.submit(save_pq_codebooks, spark, books, bpath)
            fc.result()
            fb.result()
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        lc = pool.submit(load_centroids, spark, cpath)
        lb = pool.submit(load_pq_codebooks, spark, bpath)
        coarse_loaded, books_loaded = lc.result(), lb.result()
    return knn_join_ivfpq(
        emb,
        coarse_loaded,
        books_loaded,
        k=IVFPQ_ORACLE_KJOIN,
        nprobe=IVFPQ_ORACLE_NPROBE,
        rerank=IVFPQ_ORACLE_RERANK_JOIN,
    )


def sim_topk_ivf_fitted(spark, sf_dir) -> DataFrame:
    """IVF over FITTED partitions: deterministic DataFrame-native k-means
    (no label column), centroid probe, pruned exact scan — the real-corpus
    ANN path (labels don't exist at 100 TB)."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        topk_ivf_fitted,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import query_vector
    from mongo_polars_reconciliation_spark.harness.oracles import (
        KMEANS_ORACLE_K,
        KMEANS_ORACLE_N_ITER,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return topk_ivf_fitted(
        emb,
        query_vector(spark, sf_dir),
        k=10,
        nlist=KMEANS_ORACLE_K,
        n_iter=KMEANS_ORACLE_N_ITER,
        nprobe=2,
    )


def dedup_embedding_cosine_fitted(spark, sf_dir) -> DataFrame:
    """Embedding near-dup pairs blocked by the fitted k-means assignment
    instead of an upstream label column."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        embedding_near_dups_fitted,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import build_embeddings_aug
    from mongo_polars_reconciliation_spark.harness.oracles import (
        KMEANS_ORACLE_K,
        KMEANS_ORACLE_N_ITER,
    )

    return embedding_near_dups_fitted(
        build_embeddings_aug(spark, sf_dir),
        threshold=0.8,
        nlist=KMEANS_ORACLE_K,
        n_iter=KMEANS_ORACLE_N_ITER,
    )


def sim_topk_lsh(spark, sf_dir) -> DataFrame:
    """LSH-bucketed ANN (random-hyperplane signatures, Hamming-1 multiprobe):
    the scale path where the signature is a pushable scan filter / partition
    key instead of a full scan."""
    from mongo_polars_reconciliation_spark.extensions.similarity import topk_lsh
    from mongo_polars_reconciliation_spark.harness.fixtures import query_vector

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return topk_lsh(emb, query_vector(spark, sf_dir), k=10)


def text_ngram_freq(spark, sf_dir) -> DataFrame:
    """Corpus bigram frequency table (count-thresholded) — vocabulary and
    stop-phrase statistics over the documents table."""
    from mongo_polars_reconciliation_spark.extensions.text import ngram_frequencies

    return ngram_frequencies(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n=2, min_count=5
    )


def curation_pipeline(spark, sf_dir) -> DataFrame:
    """Composition showcase: exact dedup → MinHash-LSH near-dup removal →
    quality gate → per-language corpus stats, all from the tested operator
    set (the 100 TB corpus-build shape). Runs with the production LSH
    hot-bucket cap engaged (max_bucket_size=1000 — no test-scale bucket
    approaches it, so the result equals exact mode and the oracle pins the
    capped code path)."""
    from mongo_polars_reconciliation_spark.extensions.curation import curate_corpus
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    return curate_corpus(build_documents_aug(spark, sf_dir), max_bucket_size=1000)


def curation_pipeline_v2(spark, sf_dir) -> DataFrame:
    """The FULL corpus build: exact dedup → LSH near-dup drop (capped) →
    Gopher repetition gate → 5-gram benchmark decontamination (eval slice =
    plain docs with doc_id % 10 == 7; eval members themselves are removed) →
    quality gate → per-language stats."""
    from mongo_polars_reconciliation_spark.extensions.curation import (
        curate_corpus_v2,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 10 == 7)
    return curate_corpus_v2(
        build_documents_aug(spark, sf_dir), bench, max_bucket_size=1000
    )


def curation_pipeline_v3(spark, sf_dir) -> DataFrame:
    """v2 plus the r8 bigram-LM typicality gate (threshold 32800 of 10^6,
    ~the corpus's bottom few percent): the full build — exact dedup →
    LSH near-dup → repetition gate → decontamination → LM gate →
    quality gate → per-language stats."""
    from mongo_polars_reconciliation_spark.extensions.curation import (
        curate_corpus_v2,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_documents_aug,
    )

    docs = build_documents_aug(spark, sf_dir)
    bench = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 10 == 7
    )
    return curate_corpus_v2(
        docs, bench, max_bucket_size=1000, lm_threshold_q=32800
    )


def text_lang_id(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.text import language_id

    return language_id(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_quality(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.text import quality_score

    return quality_score(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_token_count(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.text import token_counts

    return token_counts(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_fingerprint(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.text import fingerprint

    return fingerprint(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_contamination(spark, sf_dir) -> DataFrame:
    """Benchmark-decontamination probe: 5-gram overlap of every document
    against a benchmark slice (docs with id % 10 = 7 stand in for an eval
    set); returns contaminated docs with hit counts and fraction."""
    from mongo_polars_reconciliation_spark.extensions.text import contamination_probe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 10 == 7)
    return contamination_probe(docs, bench, n=5)


def text_split_assign(spark, sf_dir) -> DataFrame:
    """Deterministic train/val/test split: bucket = polynomial hash of the
    doc id mod 100 → 80/10/10. Hash-based assignment is the reproducible-
    sampling primitive every training-data pipeline needs — stable across
    runs, engines and cluster shapes (no rand(), no partition order
    dependence), and any stratum's rate is changeable without reshuffling
    other docs. Mixed hash: raw poly-hash bands of short numeric ids skew
    the 80/10/10 proportions."""
    from mongo_polars_reconciliation_spark.functions.hashing import (
        poly_hash_mixed_col,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = F.pmod(poly_hash_mixed_col("doc_id"), F.lit(100))
    return docs.select(
        "doc_id",
        h.alias("bucket"),
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test").alias("split"),
    )


def text_repetition(spark, sf_dir) -> DataFrame:
    """Gopher-style repetition quality signals over the documents table."""
    from mongo_polars_reconciliation_spark.extensions.text import repetition_signals

    return repetition_signals(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_scrub_terms(spark, sf_dir) -> DataFrame:
    """Sensitive-term scrubbing (PII-redaction shape): per-term hit counts +
    md5 of the globally-redacted text, all built-in expressions."""
    from mongo_polars_reconciliation_spark.extensions.text import scrub_terms

    return scrub_terms(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_chunk(spark, sf_dir) -> DataFrame:
    """Fixed-size token chunking (32-token windows) — the sequence-packing
    front half of a training pipeline; map-only, shuffle-free."""
    from mongo_polars_reconciliation_spark.extensions.text import chunk_documents

    return chunk_documents(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_tfidf_top_terms(spark, sf_dir) -> DataFrame:
    """Per-doc top-3 distinguishing terms by integer-exact tf·idf
    (score = tf·10^9 DIV doc_freq — BIGINT-exact cross-engine, monotone in
    float tf·idf for a fixed corpus)."""
    from mongo_polars_reconciliation_spark.extensions.text import tfidf_top_terms

    return tfidf_top_terms(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_pack_sequences(spark, sf_dir) -> DataFrame:
    """Token-budget batch packing via the scalable two-pass distributed
    prefix sum: global start offset + 512-token batch id per document."""
    from mongo_polars_reconciliation_spark.extensions.text import pack_sequences

    return pack_sequences(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def events_salted_agg(spark, sf_dir) -> DataFrame:
    """Skew-proof two-stage aggregation: per event_type counts + DECIMAL-
    routed value sums computed via (key, salt) partials then merged —
    bit-identical to the plain GROUP BY the oracle runs, pinning that
    salting is semantics-preserving."""
    from mongo_polars_reconciliation_spark.functions.skew import (
        salted_two_stage_agg,
    )

    e = _read_events(spark, sf_dir)
    return salted_two_stage_agg(
        e, ["event_type"], count_name="n", sum_cols={"value": "value_sum"}
    )


def events_anomaly_mad(spark, sf_dir) -> DataFrame:
    """Robust per-type anomaly summary: nearest-rank median, MAD, and the
    count of values deviating more than 3·MAD — the monitoring-grade
    outlier rule a mean/stddev z-score can't provide under heavy tails.
    Two keyed rank windows + one aggregate; exact (no interpolation)."""
    from mongo_polars_reconciliation_spark.operators.summary import mad_outliers

    return mad_outliers(_read_events(spark, sf_dir), "event_type", "value", k=3.0)


def events_hist_quantiles(spark, sf_dir) -> DataFrame:
    """Histogram quantile sketch over events.value: 1000 fixed bins, exact
    integer ranks, bin-edge estimates — the O(bins)-state scale path next to
    the exact nearest-rank quantiles, still hash-comparable because bin math
    is pure IEEE arithmetic."""
    from mongo_polars_reconciliation_spark.operators.summary import (
        histogram_quantiles,
    )

    return histogram_quantiles(_read_events(spark, sf_dir), "value")


def text_mix_epochs(spark, sf_dir) -> DataFrame:
    """Deterministic fractional-epoch corpus mixing: en 2.5 epochs, es 1.25,
    everything else 0.5 — the sampling-weights primitive of a pretraining
    data recipe, map-only and engine-reproducible."""
    from mongo_polars_reconciliation_spark.extensions.text import mix_epochs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mix_epochs(docs, "lang", {"en": 2.5, "es": 1.25}, default_weight=0.5)


def text_mix_temperature(spark, sf_dir) -> DataFrame:
    """Temperature-weighted corpus mixing at α=1/2 (r10): per-language
    sampling weights DERIVED from the corpus shares — w = sqrt(n_max/n),
    the largest language runs 1.0 epochs and smaller ones upsample by
    the square-root ratio — computed in pure integers (integer DIV +
    exact isqrt) so the realized copy set is bit-identical across
    engines, with the shared mixed-hash fractional threshold."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        mix_temperature,
    )

    return mix_temperature(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "lang"
    )


def text_mix_temperature_alpha(spark, sf_dir) -> DataFrame:
    """Temperature mixing at α=3/4 (r11): the generalized dyadic-α path —
    w = (n_max/n)^(3/4) in 1/denom units via the binary-expansion product
    isqrt(n_max·denom²/n) · isqrt(isqrt(n_max·denom⁴/n)) DIV denom, every
    step exact DECIMAL(38,0) arithmetic (the α=1/2 spec's machinery,
    upgraded past the BIGINT wrap bound), realized copies from the same
    mixed-hash threshold."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        mix_temperature,
    )

    return mix_temperature(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        "lang",
        alpha=(3, 4),
    )


def text_line_dedup(spark, sf_dir) -> DataFrame:
    """C4-style corpus-wide line dedup (r10): every repeated line (the
    injected boilerplate footers) survives only at its first global
    occurrence, documents reassembled from their surviving lines;
    whole-boilerplate docs empty out (NULL digest — the drop signal).
    Skew-safe: first occurrence is a map-combinable min(struct)
    aggregate + a hash join with a distinct-lines build side, never a
    row_number window over corpus-hot line partitions."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        line_dedup_corpus,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_documents_footers,
    )

    return line_dedup_corpus(build_documents_footers(spark, sf_dir))


def text_line_dedup_trim(spark, sf_dir) -> DataFrame:
    """The line-dedup TRIM face (r11): same first-global-occurrence
    semantics as text_line_dedup but the reassembled surviving TEXT is
    emitted — the cleaned corpus a downstream stage consumes (NULL text
    for emptied-out docs, the C4 drop signal). The oracle checks the
    full reassembled strings, not just digests."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        line_dedup_trim,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_documents_footers,
    )

    return line_dedup_trim(build_documents_footers(spark, sf_dir))


def curation_pipeline_v4(spark, sf_dir) -> DataFrame:
    """v3 plus the C4 corpus-wide LINE-dedup stage (r11): exact dedup →
    line dedup TRIM (corpus-repeated lines cut to their first global
    occurrence, emptied docs dropped, CLEANED text feeds every later
    stage) → LSH near-dup → repetition gate → decontamination → LM gate
    → quality gate → per-language stats, on the footer-injected corpus
    where the line stage is load-bearing (shared boilerplate footers
    would otherwise pollute MinHash shingles and quality signals)."""
    from mongo_polars_reconciliation_spark.extensions.curation import (
        curate_corpus_v2,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_documents_footers,
    )

    docs = build_documents_footers(spark, sf_dir)
    bench = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 10 == 7
    )
    return curate_corpus_v2(
        docs,
        bench,
        max_bucket_size=1000,
        lm_threshold_q=32800,
        line_dedup=True,
    )


def text_pii_scrub(spark, sf_dir) -> DataFrame:
    """PII redaction with real regexes (r11; r12 adds the Luhn-validated
    card stage and the null-text rule): emails, 16-digit card numbers
    passing the Luhn mod-10 check (an integer-arithmetic expression — a
    Luhn-INVALID 16-digit run in the fixture must survive un-redacted),
    phone numbers and IPv4s counted per class and globally replaced with
    placeholders on the PII-injected corpus — multi-class docs,
    multi-hit docs and a NULL-text doc (counts 0, text NULL) all
    exercised; the oracle checks the full scrubbed strings."""
    from mongo_polars_reconciliation_spark.extensions.text import pii_scrub
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_documents_pii,
    )

    return pii_scrub(build_documents_pii(spark, sf_dir))


def text_dup_spans(spark, sf_dir) -> DataFrame:
    """Cross-document duplicated-span fractions over 8-token windows (the
    exact-substring-dedup signal) on the duplicate-injected corpus: exact
    copies score 1.0, near-dup copies just below, organic docs near 0."""
    from mongo_polars_reconciliation_spark.extensions.text import duplicate_spans
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    return duplicate_spans(build_documents_aug(spark, sf_dir), n=8)


def text_dup_spans_trim(spark, sf_dir) -> DataFrame:
    """Span-level exact-substring trimming on the duplicate-injected
    corpus: tokens covered by any cross-document duplicated 8-token window
    are removed, survivors keep their order (md5-verified). Exact copies
    trim to nothing; partially-overlapping docs keep their unique
    remainder."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        trim_duplicate_spans,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    return trim_duplicate_spans(build_documents_aug(spark, sf_dir), n=8)


def sim_contamination(spark, sf_dir) -> DataFrame:
    """Embedding-space benchmark decontamination: max cosine of every corpus
    vector vs the benchmark slice (vec_id % 10 == 1 originals), flag ≥ 0.9.
    The injected near-dup copies of exactly that slice must flag."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        semantic_contamination,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import build_embeddings_aug

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bench = emb.where(F.col("vec_id") % 10 == 1)
    return semantic_contamination(
        build_embeddings_aug(spark, sf_dir), bench, threshold=0.9
    )


def sim_semantic_dedup(spark, sf_dir) -> DataFrame:
    """SemDeDup survivors on the duplicate-injected embeddings: drop every
    vector semantically dominated (cos ≥ 0.9) by a lower id in its block —
    the injected near-dup copies must vanish, organic vectors survive."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        semantic_dedup,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import build_embeddings_aug

    return semantic_dedup(build_embeddings_aug(spark, sf_dir), threshold=0.9)


def sim_knn_join(spark, sf_dir) -> DataFrame:
    """Batch k-NN graph: every vector's top-3 cosine neighbors within its
    label block — the SemDeDup/graph-clustering primitive (all-vs-all
    inside blocks, per-vector rank window, never n² across blocks)."""
    from mongo_polars_reconciliation_spark.extensions.similarity import knn_join

    return knn_join(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=3)


def sim_knn_join_multiprobe(spark, sf_dir) -> DataFrame:
    """Batch k-NN graph over FITTED multi-probe blocks (nprobe=2): every
    vector's top-3 cosine neighbors among vectors sharing either of its
    two nearest k-means clusters — the boundary-straddle-resistant form
    of sim_knn_join (candidate set provably ⊇ the single-probe set)."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        knn_join_multiprobe,
    )
    from mongo_polars_reconciliation_spark.harness.oracles import (
        MULTIPROBE_ORACLE_N_ITER,
        MULTIPROBE_ORACLE_NLIST,
    )

    return knn_join_multiprobe(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        k=3,
        nprobe=2,
        nlist=MULTIPROBE_ORACLE_NLIST,
        n_iter=MULTIPROBE_ORACLE_N_ITER,
    )


def sim_centroid_roundtrip(spark, sf_dir) -> DataFrame:
    """Centroid artifact round-trip (r10): fit the multiprobe k-means
    ONCE, persist the centroid table to parquet, load it back, and build
    the k-NN graph from the LOADED centroids — the fit-once/assign-many
    production shape (the vector-side mirror of
    ``text_bpe_vocab_roundtrip``). Parquet stores doubles bit-exactly,
    so the result is bit-identical to fit-then-use (property-pinned in
    tests/test_properties.py) and the query shares
    sim_knn_join_multiprobe's oracle."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        kmeans_fit,
        knn_join_multiprobe,
        load_centroids,
        save_centroids,
    )
    from mongo_polars_reconciliation_spark.harness.oracles import (
        MULTIPROBE_ORACLE_N_ITER,
        MULTIPROBE_ORACLE_NLIST,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_fit(
        emb, k=MULTIPROBE_ORACLE_NLIST, n_iter=MULTIPROBE_ORACLE_N_ITER
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = scratch_path(tag, "centroid_artifact")
    save_centroids(spark, cents, path)
    return knn_join_multiprobe(
        emb, k=3, nprobe=2, cents=load_centroids(spark, path)
    )


def sim_ingest_semantic(spark, sf_dir) -> DataFrame:
    """Incremental SEMANTIC ingest (r10): history (vec_id%3<2) fits the
    centroid artifact once (persisted + reloaded — probe keys must never
    drift between waves) and persists its probe-assignment state; the
    arriving batch (the %3==2 slice, plus exact re-uploads of the
    %10==1 slice under +100000 ids and zeroed-first-8-dims near-dup
    variants of the %10==4 slice under +200000 ids) is admitted only
    where no persisted or already-admitted vector shares a probe block
    with cosine >= 0.9 (the SemDeDup threshold). mis_max_iter=8 matches
    the oracle's unrolled greedy rounds."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        assignment_state,
        ingest_novel_semantic,
        kmeans_fit,
        load_centroids,
        save_centroids,
    )
    from mongo_polars_reconciliation_spark.harness.oracles import (
        MULTIPROBE_ORACLE_N_ITER,
        MULTIPROBE_ORACLE_NLIST,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    hist = emb.where(F.col("vec_id") % 3 < 2)
    batch = (
        emb.where(F.col("vec_id") % 3 == 2)
        .unionByName(
            emb.where(F.col("vec_id") % 10 == 1).select(
                (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            emb.where(F.col("vec_id") % 10 == 4).select(
                (F.col("vec_id") + 200000).alias("vec_id"),
                F.expr(
                    "transform(embedding, (x, i) -> CASE WHEN i < 8 "
                    "THEN CAST(0.0 AS FLOAT) ELSE x END)"
                ).alias("embedding"),
            )
        )
    )
    cents = kmeans_fit(
        hist, k=MULTIPROBE_ORACLE_NLIST, n_iter=MULTIPROBE_ORACLE_N_ITER
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = scratch_path(tag, "ingest_centroids")
    save_centroids(spark, cents, path)
    cents = load_centroids(spark, path)
    return ingest_novel_semantic(
        batch,
        assignment_state(hist, cents, nprobe=2),
        hist,
        cents,
        threshold=0.9,
        nprobe=2,
        mis_max_iter=8,
    )


def sim_recall_probe(spark, sf_dir) -> DataFrame:
    """ANN quality gate (r8): per-vector recall@10 of the fitted
    multi-probe k-NN graph (nprobe=2, the pinned IVF constants) against
    the exact all-pairs brute-force truth — n_true, n_hit, and the floor4
    recall ratio for every vector. The truth side's all-pairs join is a
    block-pair equi-join (no cartesian node); both sides share the 6-dp
    cosine and deterministic tie-break, so DuckDB replays the recall
    bit-for-bit. Aggregate recall = AVG(recall_r); README documents the
    measured recall/nprobe trade."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ann_recall_at_k,
    )
    from mongo_polars_reconciliation_spark.harness.oracles import (
        MULTIPROBE_ORACLE_N_ITER,
        MULTIPROBE_ORACLE_NLIST,
    )

    return ann_recall_at_k(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        k=10,
        nprobe=2,
        nlist=MULTIPROBE_ORACLE_NLIST,
        n_iter=MULTIPROBE_ORACLE_N_ITER,
    )


def sim_recall_probe_sampled(spark, sf_dir) -> DataFrame:
    """Sampled ANN recall probe (r9): a deterministic 5-per-label probe
    set (the fixed-k KMV sampler) gets exact ground truth built ONE-SIDED
    against the full corpus — O(sample·n), the shape that stays runnable
    at corpus scale — and is scored against the unchanged production
    multiprobe graph. Per-probe rows bit-match the full O(n²) probe's
    rows for the same ids (property-pinned); AVG(recall_r) per label is
    the per-stratum index-quality readout."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ann_recall_at_k_sampled,
    )
    from mongo_polars_reconciliation_spark.harness.oracles import (
        MULTIPROBE_ORACLE_N_ITER,
        MULTIPROBE_ORACLE_NLIST,
    )

    return ann_recall_at_k_sampled(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        strata_col="label",
        k_sample=5,
        k=10,
        nprobe=2,
        nlist=MULTIPROBE_ORACLE_NLIST,
        n_iter=MULTIPROBE_ORACLE_N_ITER,
    )


def sim_semantic_dedup_fitted(spark, sf_dir) -> DataFrame:
    """SemDeDup survivors over FITTED multi-probe blocks on the duplicate-
    injected embeddings: drop every vector dominated (cos ≥ 0.9) by a
    lower id sharing either of its two nearest fitted clusters."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        semantic_dedup_fitted,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import build_embeddings_aug
    from mongo_polars_reconciliation_spark.harness.oracles import (
        MULTIPROBE_ORACLE_N_ITER,
        MULTIPROBE_ORACLE_NLIST,
    )

    return semantic_dedup_fitted(
        build_embeddings_aug(spark, sf_dir),
        threshold=0.9,
        nprobe=2,
        nlist=MULTIPROBE_ORACLE_NLIST,
        n_iter=MULTIPROBE_ORACLE_N_ITER,
    )


def text_bpe_pairs(spark, sf_dir) -> DataFrame:
    """Adjacent char-pair frequencies within tokens (min 50 occurrences) —
    the first-merge-step statistics of BPE tokenizer vocab induction."""
    from mongo_polars_reconciliation_spark.extensions.text import bpe_pair_stats

    return bpe_pair_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_bpe_merges(spark, sf_dir) -> DataFrame:
    """Iterative BPE vocabulary induction (r8): the full merge LOOP — five
    rounds of corpus-wide weighted pair counting, each round's winner
    (count DESC, lhs, rhs tie-break) merged into every word before the
    next — returning the learned merge table. The DuckDB oracle replays
    all five rounds (unrolled CTEs, list_reduce fold) bit-for-bit."""
    from mongo_polars_reconciliation_spark.extensions.text import bpe_merge_fit

    return bpe_merge_fit(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n_merges=5
    )


def text_bpe_encode(spark, sf_dir) -> DataFrame:
    """BPE encode (r8): fit 5 merges, then apply them back to the corpus
    as a vocab-dimension join — per-doc whitespace tokens, chars, BPE
    symbol count and floor4 compression ratio. Oracle replays fit AND
    encode (the fitted CTE chain's final segmentation IS the encode
    vocabulary)."""
    from mongo_polars_reconciliation_spark.extensions.text import bpe_encode_stats

    return bpe_encode_stats(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n_merges=5
    )


def text_bpe_vocab_roundtrip(spark, sf_dir) -> DataFrame:
    """Tokenizer artifact round-trip (r9): fit 5 BPE merges, persist the
    merge table to parquet, read it back, and encode the corpus from the
    LOADED table — bit-equal to fit-then-encode in one session (the
    recon_orc_roundtrip write-read pattern applied to the trained
    artifact; a real pipeline trains once and encodes many corpora)."""
    import shutil

    from mongo_polars_reconciliation_spark.extensions.text import (
        bpe_encode_with_merges,
        bpe_merge_fit,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = scratch_path("bpe_vocab_roundtrip", "merges.parquet")
    shutil.rmtree(path, ignore_errors=True)
    bpe_merge_fit(docs, n_merges=5).write.mode("overwrite").parquet(path)
    return bpe_encode_with_merges(docs, spark.read.parquet(path))


def text_heavy_hitters_cms(spark, sf_dir) -> DataFrame:
    """Count-min-sketch heavy hitters over document tokens (d=3, w=64):
    top-20 exact tokens with their CMS estimates — the mergeable
    bounded-state frequency sketch; estimates can only overcount (the
    oracle pins every counter, a property test pins n_cms >= n_exact)."""
    from mongo_polars_reconciliation_spark.extensions.text import heavy_hitters_cms

    return heavy_hitters_cms(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_bloom_decontaminate(spark, sf_dir) -> DataFrame:
    """Bloom-filter decontamination (m=4096 bits, k=3 double hashes) of
    the corpus against the id%10==7 benchmark slice — the bounded-state,
    mergeable form of text_contamination with deterministic (oracle-
    replayed) false positives and zero false negatives."""
    from mongo_polars_reconciliation_spark.extensions.text import bloom_decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 10 == 7)
    return bloom_decontaminate(docs, bench, n=5)


def text_ngram_novelty(spark, sf_dir) -> DataFrame:
    """First-seen 3-gram novelty per document on the duplicate-injected
    corpus: exact copies score ~0 novel grams (everything was seen at the
    original's lower id), near-dup copies score ~0, originals carry the
    novelty — the incremental-value curation signal dedup can't express."""
    from mongo_polars_reconciliation_spark.extensions.text import ngram_novelty
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    return ngram_novelty(build_documents_aug(spark, sf_dir), n=3)


def text_split_leakage_safe(spark, sf_dir) -> DataFrame:
    """Leakage-safe 80/10/10 split on the duplicate-injected corpus: each
    exact-duplicate group hashes ONE representative id, so copies of a
    text can never straddle train/eval — the contamination bug the plain
    per-doc hash split (text_split_assign) has with probability ~20% per
    duplicated pair."""
    from mongo_polars_reconciliation_spark.extensions.text import leakage_safe_split
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    return leakage_safe_split(build_documents_aug(spark, sf_dir))


def text_split_cluster_safe(spark, sf_dir) -> DataFrame:
    """NEAR-dup-safe 80/10/10 split: minhash near-dup pairs → connected
    components → one hash per cluster id, so near-duplicates (not just
    exact copies) never straddle train/eval — the cluster-key
    generalization of text_split_leakage_safe, composed from the
    operators the pipeline already verifies."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        dedup_clusters,
        minhash_near_dups,
    )
    from mongo_polars_reconciliation_spark.extensions.text import cluster_safe_split
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug

    docs = build_documents_aug(spark, sf_dir)
    pairs = minhash_near_dups(docs, hash_mode="poly")
    return cluster_safe_split(dedup_clusters(pairs, docs.select("doc_id")))


def dedup_source_overlap(spark, sf_dir) -> DataFrame:
    """Inter-source exact-duplicate overlap matrix on the cross-source
    mirrored corpus: every (srcN, mirror-source) pair's shared distinct
    digest count — the corpus-composition data-card signal."""
    from mongo_polars_reconciliation_spark.extensions.dedup import source_overlap
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_documents_xsource,
    )

    return source_overlap(build_documents_xsource(spark, sf_dir))


def dedup_ingest_incremental(spark, sf_dir) -> DataFrame:
    """Two-phase incremental ingest (r8): batch 1 (doc_id%3<2) seeds the
    digest state; batch 2 (the rest, plus redelivered copies of the
    id%10==7 slice under shifted ids) is deduped against it — output is
    batch 2's novel keepers only: within-batch duplicates collapse to the
    min id, cross-batch duplicates (including every redelivered copy)
    are suppressed by the state anti-join."""
    from mongo_polars_reconciliation_spark.extensions.dedup import ingest_novel

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b1 = docs.where(F.col("doc_id") % 3 < 2)
    b2 = docs.where(F.col("doc_id") % 3 == 2).select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 10 == 7).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    empty_state = spark.createDataFrame([], "text_hash string")
    state1 = ingest_novel(b1, empty_state)
    return ingest_novel(b2, state1)


def dedup_ingest_neardup(spark, sf_dir) -> DataFrame:
    """Incremental NEAR-dup ingest (r9): history (doc_id%3<2) persists a
    digest set AND a MinHash band-key state; the arriving batch (the
    %3==2 slice, plus exact redeliveries of the %10==7 slice under
    +100000 ids and first-word-dropped near-dup variants of the %10==3
    slice under +200000 ids) is admitted only where it is neither an
    exact copy nor a verified near-dup (Jaccard >= 0.6) of history or of
    an already-admitted batch member (sequential-arrival greedy — the
    rule that makes batch splits and redeliveries idempotent).
    mis_max_iter=8 matches the oracle's unrolled greedy rounds."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel_neardup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hist = docs.where(F.col("doc_id") % 3 < 2)
    near_text = F.expr("substring(text, instr(text, ' ') + 1)")
    batch = (
        docs.where(F.col("doc_id") % 3 == 2)
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 7).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 3).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                near_text.alias("text"),
            )
        )
    )
    state_digests = hist.select(
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "text_hash"
        )
    ).distinct()
    return ingest_novel_neardup(
        batch, state_digests, band_state(hist), hist, mis_max_iter=8
    )


def dedup_ingest_waves(spark, sf_dir) -> DataFrame:
    """Multi-wave ingest ACROSS a state compaction (r10): wave 1 admits
    the %3==2 slice against the seeded history, all three state faces
    (digest ledger, band keys, docs) are folded into append-only dirs
    and COMPACTED into the bucketed tables the admission joins want
    (``compact_ingest_state``), then wave 2 admits the synthetic
    redeliveries/variants PLUS a genuinely novel slice (token-reversed
    %10==6 docs under +300000 ids — reversed word order shares no
    3-shingle with the original) reading ONLY the compacted tables — the
    between-waves maintenance job a perpetual crawl pipeline runs,
    driver-checked end to end. The union of both waves' admissions
    equals the ONE-batch admission of the concatenated stream (arrival
    respects id order → the greedy batch-split property), so the oracle
    is the one-batch replay; every dup class must be REJECTED through
    the compacted state (a lost digest/band/doc row admits a duplicate
    and hash-mismatches) and the novel slice must be ADMITTED through it
    (an over-eager compaction would drop it). Wave 2's plan is pinned
    exchange-free on all three compacted faces in
    tests/test_bucketing.py."""
    import shutil as _shutil

    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel_neardup,
    )
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        compact_ingest_state,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # hist feeds 4 consumers (seed bands, ledger, wave-1 corpus arg, docs
    # face write) and seed_ledger / seed_bands 2 each — checkpoint so the
    # shingle→signature seed pipeline runs once, not per consumer
    hist = docs.where(F.col("doc_id") % 3 < 2).localCheckpoint(eager=False)
    b1 = docs.where(F.col("doc_id") % 3 == 2)
    near_text = F.expr("substring(text, instr(text, ' ') + 1)")
    b2 = (
        docs.where(F.col("doc_id") % 10 == 7).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    ).unionByName(
        docs.where(F.col("doc_id") % 10 == 3).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            near_text.alias("text"),
        )
    ).unionByName(
        docs.where(F.col("doc_id") % 10 == 6).select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias(
                "text"
            ),
        )
    )
    seed_ledger = hist.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "text_hash"
        ),
    ).localCheckpoint(eager=False)
    seed_bands = band_state(hist).localCheckpoint(eager=False)
    a1 = ingest_novel_neardup(
        b1,
        seed_ledger.select("text_hash").distinct(),
        seed_bands,
        hist,
        mis_max_iter=8,
    ).localCheckpoint(eager=True)
    adm1 = b1.join(a1.select("doc_id"), "doc_id")

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    root = scratch_path(tag, "ingest_waves")
    _shutil.rmtree(root, ignore_errors=True)
    # the three face writes are independent (disjoint dirs; every shared
    # input — a1 eager, seed_ledger/seed_bands/hist already materialized
    # by wave 1) — overlap them on a driver pool (r16, guide §2.6); this
    # is the BATCH wave path, no crash-ordering contract (unlike the
    # streaming loop, whose ledger write must stay last)
    from concurrent.futures import ThreadPoolExecutor as _TPE

    with _TPE(max_workers=3) as _pool:
        for _f in [
            _pool.submit(
                lambda: seed_ledger.unionByName(a1).write.parquet(
                    f"{root}/state/admitted"
                )
            ),
            _pool.submit(
                lambda: seed_bands.unionByName(band_state(adm1)).write.parquet(
                    f"{root}/state/bands"
                )
            ),
            _pool.submit(
                lambda: hist.unionByName(adm1).write.parquet(
                    f"{root}/state/docs"
                )
            ),
        ]:
            _f.result()
    tables = compact_ingest_state(
        spark,
        f"{root}/state",
        table_prefix=f"ingest_waves_{tag.replace('.', '_')}",
        buckets=8,
    )
    a2 = ingest_novel_neardup(
        b2,
        spark.table(tables["digests"]),
        spark.table(tables["bands"]),
        spark.table(tables["docs"]),
        mis_max_iter=8,
    )
    return a1.unionByName(a2)


def text_lm_score(spark, sf_dir) -> DataFrame:
    """Corpus-bigram LM quality score per document (r8): mean conditional
    bigram probability, integer-exact at 10^-6 resolution — the
    typicality signal of CCNet-style quality filtering, with no float
    log-probs so the oracle replays every score bit-for-bit."""
    from mongo_polars_reconciliation_spark.extensions.text import bigram_lm_scores

    return bigram_lm_scores(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_lm_buckets(spark, sf_dir) -> DataFrame:
    """CCNet-style per-language head/middle/tail typicality terciles
    (r10) over the integer-exact bigram-LM score — cutoffs from the
    collapsed (lang, score) distribution, never a raw-corpus sort;
    bucketing is a broadcast join on lang."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        lm_typicality_buckets,
    )

    return lm_typicality_buckets(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def text_quality_gate(spark, sf_dir) -> DataFrame:
    """Adaptive percentile quality gate (r8): survivors after dropping
    the corpus's worst 5%% (permille = 50) by fused quality — the
    distribution-relative gate real pipelines use instead of a fixed
    threshold. The cutoff is a TakeOrderedAndProject order statistic,
    never a global sort; ties at the cutoff all survive."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        quality_gate_adaptive,
    )

    return quality_gate_adaptive(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), drop_permille=50
    )


def text_quality_c4(spark, sf_dir) -> DataFrame:
    """C4-residual quality signals (r9), fused into the single-projection
    scorer: sentence count, terminal-punctuation-per-sentence ratio
    (capped at 1), and mean words per sentence — over the punctuation-
    injected fixture (the natural texts carry no punctuation). Map-only:
    the signals share the scorer's one projection, zero shuffles."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        fused_doc_scores,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_documents_punct,
    )

    return fused_doc_scores(build_documents_punct(spark, sf_dir), c4=True).select(
        "doc_id", "quality_r", "n_sentences", "term_sent_ratio_r", "mwps_r"
    )


def text_quality_gopher(spark, sf_dir) -> DataFrame:
    """Gopher rule-filter signals (r10), fused into the single-projection
    scorer: line-structure fractions (bullet starts, '...' ends),
    alphabetic-word fraction, symbol-per-word ratio, mean word length and
    required-stop-word hits — over the line/symbol-injected fixture (the
    natural texts are single-line and symbol-free). Map-only: the signals
    share the scorer's one projection, zero shuffles."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        fused_doc_scores,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_documents_lines,
    )

    return fused_doc_scores(
        build_documents_lines(spark, sf_dir), gopher=True
    ).select(
        "doc_id",
        "n_lines",
        "bullet_line_frac_r",
        "ellipsis_line_frac_r",
        "alpha_word_frac_r",
        "symbol_word_ratio_r",
        "mean_word_len_r",
        "req_stop_hits",
    )


def text_cms_merge(spark, sf_dir) -> DataFrame:
    """Mergeability pin for the CMS sketch (mirror of events_kmv_merge):
    per-split partial sketches — each from its OWN filtered scan (r8:
    independently-constructed sides, so the pin can actually fail) —
    summed counter-by-counter next to the independently re-derived global
    full-scan sketch: every (j, b) pair of the d×w=3×64 state, with the
    oracle pinning cnt_merged == cnt_global bit-for-bit (a property test
    asserts the equality column-wise too)."""
    from mongo_polars_reconciliation_spark.extensions.text import cms_merge_check

    return cms_merge_check(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_lang_confusion(spark, sf_dir) -> DataFrame:
    """Classifier-evaluation shape: confusion matrix of the heuristic
    language ID against the table's gold ``lang`` label — (gold, predicted,
    n) per cell. One map-only scoring projection + one hash-aggregate."""
    from mongo_polars_reconciliation_spark.extensions.text import fused_doc_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = fused_doc_scores(docs, keep=("lang",))
    return scored.groupBy(
        F.col("lang").alias("gold_lang"), "pred_lang"
    ).agg(F.count(F.lit(1)).alias("n"))


def text_datacard(spark, sf_dir) -> DataFrame:
    """Per-(source, lang) corpus data card: doc count, total tokens, exact
    mean quality, nearest-rank p50/p90 document lengths — one scoring
    projection + one shuffle on the group key."""
    from mongo_polars_reconciliation_spark.extensions.text import corpus_datacard

    return corpus_datacard(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def text_datacard_merge(spark, sf_dir) -> DataFrame:
    """Mergeability pin for the corpus data card (r10, the cms/kmv/hist
    merge family): per-split exact states — (source, lang, ws_tokens)
    histogram + DECIMAL quality sums, each from its own filtered scan —
    folded and derived into a card next to the full-rescan card; every
    metric (counts, totals, mean quality, nearest-rank p50/p90) must
    match bit-for-bit. The shard-fold reporting shape of a 100 TB
    corpus: waves compute states, releases fold them, raw data is never
    rescanned."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        datacard_merge_check,
    )

    return datacard_merge_check(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def text_pack_shards_roundtrip(spark, sf_dir) -> DataFrame:
    """Training-shard writer round trip (r10, the persist_roundtrip
    treatment for the training sink): pack the corpus, write one parquet
    file per shard (whole batches co-located, round-robin over shards),
    RE-READ the shard files and return every doc's packing coordinates +
    shard + text digest from what actually landed on disk — the oracle
    recomputes the layout independently, so the write→read path is what
    is being checked."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        write_packed_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = scratch_path(tag, "pack_shards")
    write_packed_shards(docs, out, n_shards=8, token_budget=512)
    rr = spark.read.parquet(out)
    return rr.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        "batch_id",
        F.col("shard").cast("int").alias("shard"),
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
    )


def text_sample_stratified(spark, sf_dir) -> DataFrame:
    """Deterministic hash-based stratified downsample of documents by
    language (en 50%, es 25%, everything else 10%) — the reproducible
    corpus-mixing primitive."""
    from mongo_polars_reconciliation_spark.extensions.text import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(
        docs, "lang", {"en": 0.5, "es": 0.25}, default_rate=0.1
    ).select("doc_id", "lang")


def text_sample_fixed_k(spark, sf_dir) -> DataFrame:
    """Deterministic fixed-size per-stratum sample (r8): exactly 5 docs
    per source by the k-smallest-mixed-hash rule — the eval-set carving
    primitive; KMV-mergeable, so per-shard samples re-merge without
    rescans."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        sample_fixed_per_stratum,
    )

    return sample_fixed_per_stratum(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "source", k=5
    )


def mm_decode_features(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
        extract_features,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return extract_features(attach_payload(docs))


def mm_payload_dedup(spark, sf_dir) -> DataFrame:
    """Exact BINARY payload dedup (r9): md5 over the raw payload bytes of
    the duplicate-injected multimodal fixture — min-id keeper + copy
    count per distinct payload, the exact_dedup_groups contract applied
    to the binary column."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        payload_digest_dedup,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_mm_payload_aug,
    )

    return payload_digest_dedup(build_mm_payload_aug(spark, sf_dir))


def mm_payload_near_dup(spark, sf_dir) -> DataFrame:
    """Chunked-byte-signature near-dup probe (r9): 64-byte aligned block
    digests, pigeonhole bucket join, shared-block fraction >= 0.5 —
    catches byte-exact copies (sim 1.0) and appended-tail re-uploads
    (shared prefix blocks) without any decoder."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        payload_near_dups,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_mm_payload_aug,
    )

    return payload_near_dups(
        build_mm_payload_aug(spark, sf_dir), block_bytes=64, threshold=0.5
    )


# mm_payload_near_dup_capped RETIRED r13 (VERDICT r12 #5, registry
# consolidation): the face was the uncapped query plus the hot-bucket
# guard at 1000, sharing the uncapped oracle — its entire check (the
# guard is semantics-preserving on this fixture) is carried verbatim by
# tests/test_lsh_cap.py::test_payload_capped_equals_uncapped_on_fixture;
# cap-ENGAGED behavior stays pinned by the hot-block tests there.


def mm_payload_ingest(spark, sf_dir) -> DataFrame:
    """Incremental PAYLOAD ingest (r10): history (doc_id%3<2) persists a
    payload-digest set and a composite block-key state; the arriving
    batch (the %3==2 slice, plus byte-exact re-uploads of the %10==7
    slice under +100000 ids and appended-tail variants of the %10==5
    slice under +300000 ids) is admitted only where it is neither an
    exact copy nor a chunked-block near-dup (shared aligned-block
    fraction >= 0.5) of history or of an already-admitted batch member.
    mis_max_iter=8 matches the oracle's unrolled greedy rounds."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
        ingest_novel_payloads,
        payload_block_state,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        MM_PAYLOAD_TAIL,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hist = attach_payload(docs.where(F.col("doc_id") % 3 < 2))
    batch = attach_payload(
        docs.where(F.col("doc_id") % 3 == 2)
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 7).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 5).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(MM_PAYLOAD_TAIL)).alias(
                    "text"
                ),
            )
        )
    )
    state_digests = hist.select(
        F.md5(
            F.coalesce(F.col("payload"), F.lit("").cast("binary"))
        ).alias("payload_hash")
    ).distinct()
    return ingest_novel_payloads(
        batch,
        state_digests,
        payload_block_state(hist, block_bytes=64),
        block_bytes=64,
        threshold=0.5,
        mis_max_iter=8,
    )


def mm_frame_sample(spark, sf_dir) -> DataFrame:
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
        frame_sample_plan,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return frame_sample_plan(attach_payload(docs), every_n_bytes=256)


# --- structured streaming skins (streaming/) -----------------------------------


def stream_dedup_corpus(spark, sf_dir) -> DataFrame:
    """Streaming exact corpus dedup: the duplicate-injected documents table
    arrives as two micro-batches; the native streaming aggregation's state
    store maintains (text_hash, min keeper, copy count) incrementally and
    the drained complete-mode result equals batch dedup_exact bit-for-bit
    (min/count are commutative — arrival order cannot matter)."""
    from mongo_polars_reconciliation_spark.harness.fixtures import build_documents_aug
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        dedup_state,
        read_documents_stream,
    )
    from mongo_polars_reconciliation_spark.streaming.events import run_to_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    docs = build_documents_aug(spark, sf_dir)
    # batch 0 = originals + near-dups, batch 1 = the exact copies
    # (+100000 ids): every duplicated hash gets state updates in BOTH
    # micro-batches, so the cross-batch state merge is actually exercised
    stream = read_documents_stream(
        spark,
        docs,
        name=f"dedup_{tag}",
        split_expr=F.pmod(F.floor(F.col("doc_id") / 100000), F.lit(2)),
    )
    return run_to_table(
        dedup_state(stream), "mem_stream_dedup_corpus", output_mode="complete"
    )


def stream_ingest_novel(spark, sf_dir) -> DataFrame:
    """Streaming incremental ingest (r8): batch 1 (doc_id%3<2) digests
    form the STATIC state; batch 2 (the rest plus redelivered copies of
    the id%10==7 slice under +100000 ids) arrives as two micro-batches
    split by id parity — so duplicates of one text land in different
    triggers and the cross-batch keeper state is exercised. Stream-static
    LEFT ANTI join (no join state) + commutative (min, count) keeper
    aggregation: the drained result equals the batch ingest bit-for-bit,
    with n_copies counting batch-2 arrivals of each novel digest."""
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        ingest_novel_state,
        read_documents_stream,
    )
    from mongo_polars_reconciliation_spark.streaming.events import run_to_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = docs.where(F.col("doc_id") % 3 < 2).select(
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "text_hash"
        )
    ).distinct()
    b2 = docs.where(F.col("doc_id") % 3 == 2).select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 10 == 7).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    stream = read_documents_stream(spark, b2, name=f"ingest_{tag}")
    return run_to_table(
        ingest_novel_state(stream, state),
        "mem_stream_ingest",
        output_mode="complete",
    )


def _pin_feed_trigger_order(feed: str) -> None:
    """Pin micro-batch ORDER for an order-sensitive ingest stream: the file
    source orders triggers by modification time, and the drained-≡-one-
    batch contract of the ingest loops requires originals to precede the
    synthetic redeliveries. Same-millisecond part writes would leave the
    order to luck; a monotone utime per part makes it a fact."""
    import glob as _glob
    import os as _os
    import time as _time

    now = _time.time()
    for i, part in enumerate(sorted(_glob.glob(f"{feed}/part*"))):
        for f in _glob.glob(f"{part}/*.parquet"):
            _os.utime(f, (now + 10 * i, now + 10 * i))


def stream_ingest_neardup(spark, sf_dir) -> DataFrame:
    """Streaming crawl loop (r9): the dedup_ingest_neardup batch arrives
    as TWO micro-batches in id order (originals first, redelivered/
    variant synthetics second); each trigger runs the full near-dup
    admission against the seeded history state PLUS earlier triggers'
    admissions, appending all three state faces. Drained admitted set ==
    the one-batch answer (the greedy batch-split property), so this
    shares dedup_ingest_neardup's oracle."""
    import shutil

    from mongo_polars_reconciliation_spark.extensions.dedup import band_state
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        incremental_neardup_ingest,
        read_documents_stream,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hist = docs.where(F.col("doc_id") % 3 < 2)
    near_text = F.expr("substring(text, instr(text, ' ') + 1)")
    batch = (
        docs.where(F.col("doc_id") % 3 == 2)
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 7).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 3).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                near_text.alias("text"),
            )
        )
    )
    # Eager-checkpoint every seed face: each is consumed once PER TRIGGER
    # inside foreachBatch, and the band-key seed is itself a whole
    # shingle→signature pipeline — without materialization each trigger
    # re-derives it from the parquet scan (measured ~1 s/trigger at
    # sf0.1).
    hist = hist.localCheckpoint(eager=True)
    seed_digests = hist.select(
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "text_hash"
        )
    ).distinct().localCheckpoint(eager=True)
    seed_bands = band_state(hist).localCheckpoint(eager=True)
    # coalesce(1): the feed writer emits each id-range part as ONE file, so
    # maxFilesPerTrigger=1 yields exactly the two intended id-ordered
    # triggers — a multi-partition write split each part into several
    # micro-batches, each paying the full admission pipeline (measured 4
    # triggers / ~25 s at sf0.1; 2 triggers / ~14 s with the coalesce).
    # Harness-only: the production loop ingests real arrival batches.
    stream = read_documents_stream(
        spark,
        batch.coalesce(1),
        name=f"neardup_{tag}",
        split_expr=(F.col("doc_id") >= 100000).cast("int"),
    )
    _pin_feed_trigger_order(scratch_path("corpus", f"neardup_{tag}", "feed"))
    root = scratch_path(tag, "neardup_state")
    shutil.rmtree(root, ignore_errors=True)
    incremental_neardup_ingest(
        stream,
        seed_digests,
        seed_bands,
        hist,
        f"{root}/state",
        f"{root}/ckpt",
        mis_max_iter=8,
    )
    return spark.read.parquet(f"{root}/state/admitted")


def stream_ingest_semantic(spark, sf_dir) -> DataFrame:
    """Streaming embedding-space crawl loop (r10): the sim_ingest_semantic
    batch arrives as TWO micro-batches in id order (originals first,
    re-upload/variant synthetics second); each trigger runs the full
    semantic admission under the PERSISTED centroid artifact against the
    seeded history state PLUS earlier triggers' admissions, appending
    both state faces. Drained admitted set == the one-batch answer (the
    greedy batch-split property), so this shares sim_ingest_semantic's
    oracle."""
    import shutil

    from mongo_polars_reconciliation_spark.extensions.similarity import (
        assignment_state,
        kmeans_fit,
        load_centroids,
        save_centroids,
    )
    from mongo_polars_reconciliation_spark.harness.oracles import (
        MULTIPROBE_ORACLE_N_ITER,
        MULTIPROBE_ORACLE_NLIST,
    )
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        incremental_semantic_ingest,
        read_documents_stream,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    hist = emb.where(F.col("vec_id") % 3 < 2).localCheckpoint(eager=True)
    batch = (
        emb.where(F.col("vec_id") % 3 == 2)
        .unionByName(
            emb.where(F.col("vec_id") % 10 == 1).select(
                (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            emb.where(F.col("vec_id") % 10 == 4).select(
                (F.col("vec_id") + 200000).alias("vec_id"),
                F.expr(
                    "transform(embedding, (x, i) -> CASE WHEN i < 8 "
                    "THEN CAST(0.0 AS FLOAT) ELSE x END)"
                ).alias("embedding"),
            )
        )
    )
    cents = kmeans_fit(
        hist, k=MULTIPROBE_ORACLE_NLIST, n_iter=MULTIPROBE_ORACLE_N_ITER
    )
    path = scratch_path(tag, "stream_ingest_centroids")
    save_centroids(spark, cents, path)
    cents = load_centroids(spark, path)
    seed_assign = assignment_state(hist, cents, nprobe=2).localCheckpoint(
        eager=True
    )
    stream = read_documents_stream(
        spark,
        batch.coalesce(1),
        name=f"sem_ingest_{tag}",
        n_files=2,
        id_col="vec_id",
        split_expr=(F.col("vec_id") >= 100000).cast("int"),
    )
    _pin_feed_trigger_order(scratch_path("corpus", f"sem_ingest_{tag}", "feed"))
    root = scratch_path(tag, "sem_ingest_state")
    shutil.rmtree(root, ignore_errors=True)
    incremental_semantic_ingest(
        stream,
        seed_assign,
        hist,
        cents,
        f"{root}/state",
        f"{root}/ckpt",
        threshold=0.9,
        nprobe=2,
        mis_max_iter=8,
    )
    return spark.read.parquet(f"{root}/state/vecs").select("vec_id")


def stream_ingest_payloads(spark, sf_dir) -> DataFrame:
    """Streaming binary-payload crawl loop (r10): the mm_payload_ingest
    batch arrives as TWO micro-batches in id order (originals first,
    re-upload/appended-tail synthetics second); each trigger runs the
    full chunked-block admission against the seeded history state PLUS
    earlier triggers' admissions, appending the block face before the
    digest ledger. Drained admitted ledger == the one-batch answer (the
    greedy batch-split property), so this shares mm_payload_ingest's
    oracle."""
    import shutil

    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
        payload_block_state,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        MM_PAYLOAD_TAIL,
    )
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        incremental_payload_ingest,
        read_documents_stream,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hist = attach_payload(docs.where(F.col("doc_id") % 3 < 2)).localCheckpoint(
        eager=True
    )
    batch = attach_payload(
        docs.where(F.col("doc_id") % 3 == 2)
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 7).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 5).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(MM_PAYLOAD_TAIL)).alias(
                    "text"
                ),
            )
        )
    ).select("doc_id", "payload")
    seed_digests = hist.select(
        F.md5(
            F.coalesce(F.col("payload"), F.lit("").cast("binary"))
        ).alias("payload_hash")
    ).distinct().localCheckpoint(eager=True)
    seed_blocks = payload_block_state(hist, block_bytes=64).localCheckpoint(
        eager=True
    )
    stream = read_documents_stream(
        spark,
        batch.coalesce(1),
        name=f"payload_ingest_{tag}",
        n_files=2,
        split_expr=(F.col("doc_id") >= 100000).cast("int"),
    )
    _pin_feed_trigger_order(
        scratch_path("corpus", f"payload_ingest_{tag}", "feed")
    )
    root = scratch_path(tag, "payload_ingest_state")
    shutil.rmtree(root, ignore_errors=True)
    incremental_payload_ingest(
        stream,
        seed_digests,
        seed_blocks,
        f"{root}/state",
        f"{root}/ckpt",
        block_bytes=64,
        threshold=0.5,
        mis_max_iter=8,
    )
    return spark.read.parquet(f"{root}/state/admitted")


def stream_cms_counters(spark, sf_dir) -> DataFrame:
    """Streaming count-min sketch: documents arrive as two micro-batches
    (split by doc id parity so every batch touches most counters) and the
    native streaming aggregation maintains the d×w=3×64 counter rows
    incrementally; the drained complete-mode state equals the batch
    sketch's counters bit-for-bit (sums commute with micro-batching —
    the streaming face of the text_cms_merge mergeability pin)."""
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        cms_counter_state,
        read_documents_stream,
    )
    from mongo_polars_reconciliation_spark.streaming.events import run_to_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = read_documents_stream(spark, docs, name=f"cms_{tag}")
    return run_to_table(
        cms_counter_state(stream), "mem_stream_cms", output_mode="complete"
    )


def stream_datacard(spark, sf_dir) -> DataFrame:
    """Streaming corpus reporting (r10): documents arrive as micro-batches
    and a native streaming aggregation maintains the exact datacard STATE
    (the mergeable sufficient statistic of text_datacard_merge);
    deriving the card from the drained state is a batch epilogue over
    sketch-sized rows. Commutative counts + DECIMAL sums make the drained
    state — and therefore the card — bit-equal to the batch
    corpus_datacard whatever the arrival order, so the query shares
    text_datacard's oracle."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        datacard_from_state,
    )
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        datacard_stream_state,
        read_documents_stream,
    )
    from mongo_polars_reconciliation_spark.streaming.events import run_to_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = read_documents_stream(spark, docs, name=f"datacard_{tag}")
    state = run_to_table(
        datacard_stream_state(stream),
        "mem_stream_datacard",
        output_mode="complete",
    )
    return datacard_from_state(state)


def events_hist_merge(spark, sf_dir) -> DataFrame:
    """Mergeable-sketch pattern, histogram edition: per-split partial
    histograms of events.value (split on hashed event_type — each partial
    bins its own filtered scan, r8 independent-sides rework) over SHARED
    global bin edges, merged by elementwise count sum next to the
    independently re-binned full-scan counts — the third sketch-merge pin
    (KMV, CMS, histogram), all bit-exact."""
    from mongo_polars_reconciliation_spark.operators.summary import (
        histogram_merge_check,
    )

    return histogram_merge_check(
        _read_events(spark, sf_dir), "value", "event_type"
    )


def stream_dedup_events(spark, sf_dir) -> DataFrame:
    """Streaming exact dedup under at-least-once delivery: the events table
    arrives TWICE (two micro-batches); dropDuplicatesWithinWatermark state
    suppresses the redelivery, so the drained output is each event exactly
    once — identical to batch DISTINCT."""
    from mongo_polars_reconciliation_spark.streaming.events import (
        read_events_stream_duplicated,
        run_to_table,
        stream_dedup,
    )

    return run_to_table(
        stream_dedup(read_events_stream_duplicated(spark, sf_dir, name="dedup")),
        "mem_stream_dedup",
        output_mode="append",
    )


def stream_events_hourly(spark, sf_dir) -> DataFrame:
    """Streaming form of events_hourly: event-time tumbling window +
    watermark, drained to completion (availableNow) — same rows as batch."""
    from mongo_polars_reconciliation_spark.streaming.events import (
        hourly_agg,
        read_events_stream,
        run_to_table,
    )

    return run_to_table(
        hourly_agg(read_events_stream(spark, sf_dir, name="hourly")),
        "mem_stream_hourly",
    )


def stream_sessionize_agg(spark, sf_dir) -> DataFrame:
    """Gap-based sessions via the built-in session_window (30-min gap),
    aggregated per session. Session-window semantics: a gap of EXACTLY the
    threshold starts a new session (merge requires overlap), mirrored in the
    oracle's >= comparison."""
    from mongo_polars_reconciliation_spark.streaming.events import (
        SENTINEL_USER,
        read_events_stream,
        run_to_table,
        session_agg,
    )

    src = read_events_stream(spark, sf_dir, name="sessions", with_sentinel=True)
    out = run_to_table(
        session_agg(src), "mem_stream_sessions", output_mode="append"
    )
    return out.where(F.col("user_id") != SENTINEL_USER)


def stream_user_seq(spark, sf_dir) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    event sequence, carried across micro-batches."""
    from mongo_polars_reconciliation_spark.streaming.events import (
        read_events_stream,
        run_to_table,
        user_running_seq,
    )

    return run_to_table(
        user_running_seq(read_events_stream(spark, sf_dir, name="userseq")),
        "mem_stream_userseq",
        output_mode="append",
    )


def stream_view_attribution(spark, sf_dir) -> DataFrame:
    """Stream-stream interval join: purchases attributed to same-user views
    within the preceding 24 h, drained to convergence with the batch join."""
    from mongo_polars_reconciliation_spark.streaming.events import (
        read_events_stream,
        run_to_table,
        view_purchase_attribution,
    )

    return run_to_table(
        view_purchase_attribution(
            read_events_stream(spark, sf_dir, name="attrib")
        ),
        "mem_stream_attrib",
        output_mode="append",
    )


def stream_incremental_match(spark, sf_dir) -> DataFrame:
    """foreachBatch incremental reconciliation: B arrives as two files (two
    micro-batches); each batch matches against the still-open A rows and
    appends to a parquet state dir. Converges to the batch matched-A set."""
    import shutil

    from mongo_polars_reconciliation_spark.streaming.recon import (
        incremental_match,
        matched_state,
    )

    cfg, a, b = _ab(spark, sf_dir)
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    # query-private subdir: other queries park their backing files under the
    # shared {tag} root, and those frames are lazily re-collected later
    root = scratch_path(tag, "incr")
    shutil.rmtree(root, ignore_errors=True)
    feed, state, ckpt = f"{root}/feed", f"{root}/state", f"{root}/ckpt"
    rn = F.col(ROW_NUM)
    b.where(rn % 2 == 0).write.mode("overwrite").parquet(f"{feed}/half0")
    b.where(rn % 2 == 1).write.mode("overwrite").parquet(f"{feed}/half1")
    b_stream = (
        spark.readStream.schema(b.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{feed}/half*")
    )
    incremental_match(a, b_stream, cfg, state, ckpt)
    return matched_state(spark, state)


# The operator registry behind ``__spark_entry__.queries()``: face name →
# fn(spark, sf_dir) returning the face's DataFrame. Every face has a
# DuckDB oracle in harness/oracles.py that replays it bit-for-bit, and
# tests/test_oracle_parity.py sweeps all of them. The README's operator
# count must equal len(QUERIES) (pinned in tests/test_schema_guard.py).
# Names are the contract; dict order carries no semantics.
QUERIES = {
    "events_top_users_per_type": events_top_users_per_type,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "text_pack_sequences": text_pack_sequences,
    "events_salted_agg": events_salted_agg,
    "events_hist_quantiles": events_hist_quantiles,
    "text_scrub_terms": text_scrub_terms,
    "text_chunk": text_chunk,
    "text_repetition": text_repetition,
    "text_contamination": text_contamination,
    "text_fingerprint": text_fingerprint,
    "text_ngram_freq": text_ngram_freq,
    "recon_match_exact": recon_match_exact,
    "recon_duplicate_losers": recon_duplicate_losers,
    "sim_recall_probe_sampled": sim_recall_probe_sampled,
    "text_bpe_vocab_roundtrip": text_bpe_vocab_roundtrip,
    "mm_payload_dedup": mm_payload_dedup,
    "text_bpe_merges": text_bpe_merges,
    "text_bpe_encode": text_bpe_encode,
    "text_quality_gate": text_quality_gate,
    "text_datacard": text_datacard,
    "text_ngram_novelty": text_ngram_novelty,
    "text_split_cluster_safe": text_split_cluster_safe,
    "text_dup_spans": text_dup_spans,
    "text_dup_spans_trim": text_dup_spans_trim,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "sim_knn_join": sim_knn_join,
    "sim_semantic_dedup": sim_semantic_dedup,
    "recon_residual_internal": recon_residual_internal,
    "recon_residual_external": recon_residual_external,
    "text_line_dedup": text_line_dedup,
    "text_line_dedup_trim": text_line_dedup_trim,
    "curation_pipeline_v4": curation_pipeline_v4,
    "text_pii_scrub": text_pii_scrub,
    "text_pack_shards_roundtrip": text_pack_shards_roundtrip,
    "text_bloom_decontaminate": text_bloom_decontaminate,
    "events_hist_merge": events_hist_merge,
    "text_split_leakage_safe": text_split_leakage_safe,
    "dedup_source_overlap": dedup_source_overlap,
    "sim_topk_ivf_fitted": sim_topk_ivf_fitted,
    "dedup_embedding_cosine_fitted": dedup_embedding_cosine_fitted,
    "recon_persist_roundtrip": recon_persist_roundtrip,
    "recon_csv_roundtrip": recon_csv_roundtrip,
    "recon_csv_sink_roundtrip": recon_csv_sink_roundtrip,
    "recon_mongo_json_scan": recon_mongo_json_scan,
    "recon_orc_roundtrip": recon_orc_roundtrip,
    "stream_incremental_match": stream_incremental_match,
    "stream_dedup_corpus": stream_dedup_corpus,
    "stream_dedup": stream_dedup_events,
    "stream_events_hourly": stream_events_hourly,
    "stream_sessionize_agg": stream_sessionize_agg,
    "stream_user_seq": stream_user_seq,
    "stream_view_attribution": stream_view_attribution,
    "text_lang_id": text_lang_id,
    "text_quality": text_quality,
    "text_token_count": text_token_count,
    "recon_source_scan_filtered": recon_source_scan_filtered,
    "text_split_assign": text_split_assign,
    "text_sample_stratified": text_sample_stratified,
    "events_funnel_windowed": events_funnel_windowed,
    "dedup_exact": dedup_exact,
    "dedup_simhash": dedup_simhash,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_clusters": dedup_clusters_cc,
    "dedup_clusters_star": dedup_clusters_star_cc,
    "q1_pricing_summary": q1_pricing_summary,
    "sim_topk_bruteforce": sim_topk_bruteforce,
    "sim_topk_ivf": sim_topk_ivf,
    "sim_knn_join_ivfpq_served": sim_knn_join_ivfpq_served,
    "sim_topk_lsh": sim_topk_lsh,
    "recon_match_skewed": recon_match_skewed,
    "sim_contamination": sim_contamination,
    "events_hourly": events_hourly,
    "events_sessionize": events_sessionize,
    "mm_decode_features": mm_decode_features,
    "mm_frame_sample": mm_frame_sample,
    "text_mix_epochs": text_mix_epochs,
    "events_retention": events_retention,
    "events_daily_type_pivot": events_daily_type_pivot,
    "events_rollup": events_rollup,
    "events_user_running_value": events_user_running_value,
    "events_asof_last_view": events_asof_last_view,
    "events_daily_rollup2": events_hourly_from_daily_rollup,
    "recon_zero_effect_pairs": recon_zero_effect_pairs,
    "recon_zero_effect_clean": recon_zero_effect_clean,
    "recon_tolerance_match": recon_tolerance_match,
    "recon_cascade_summary": recon_cascade_summary,
    "recon_duplicate_losers_strict": recon_duplicate_losers_strict,
    "recon_state_merge_upsert": recon_state_merge_upsert,
    "recon_match_on_names": recon_match_on_names,
    "recon_cascade_three_pass": recon_cascade_three_pass,
    "recon_summary_doc": recon_summary_doc,
    "recon_subset_dedup_keep_last": recon_subset_dedup_keep_last,
    "recon_amount_quantiles": recon_amount_quantiles,
    "recon_state_merge_keep_existing": recon_state_merge_keep_existing,
    "recon_remanent_lookup": recon_remanent_lookup,
    "recon_union_remanent_dedup": recon_union_remanent_dedup,
    "events_funnel": events_funnel,
    "events_props_extract": events_props_extract,
    "events_anomaly_mad": events_anomaly_mad,
    "text_bpe_pairs": text_bpe_pairs,
    "text_lang_confusion": text_lang_confusion,
    "events_user_kmv": events_user_kmv,
    "events_kmv_merge": events_kmv_merge,
    "sim_centroid_roundtrip": sim_centroid_roundtrip,
    "sim_ingest_semantic": sim_ingest_semantic,
    "dedup_ingest_waves": dedup_ingest_waves,
    "mm_payload_ingest": mm_payload_ingest,
    "dedup_clusters_quality": dedup_clusters_quality,
    "stream_ingest_semantic": stream_ingest_semantic,
    "stream_ingest_payloads": stream_ingest_payloads,
    "sim_topk_pq": sim_topk_pq,
    "sim_topk_ivfpq": sim_topk_ivfpq,
    "sim_knn_join_ivfpq": sim_knn_join_ivfpq,
    "text_quality_gopher": text_quality_gopher,
    "text_lm_buckets": text_lm_buckets,
    "text_datacard_merge": text_datacard_merge,
    "dedup_ingest_neardup": dedup_ingest_neardup,
    "stream_ingest_neardup": stream_ingest_neardup,
    "mm_payload_near_dup": mm_payload_near_dup,
    "sim_knn_join_multiprobe": sim_knn_join_multiprobe,
    "sim_semantic_dedup_fitted": sim_semantic_dedup_fitted,
    "text_quality_c4": text_quality_c4,
    "sim_recall_probe": sim_recall_probe,
    "text_sample_fixed_k": text_sample_fixed_k,
    "dedup_ingest_incremental": dedup_ingest_incremental,
    "text_mix_temperature": text_mix_temperature,
    "text_mix_temperature_alpha": text_mix_temperature_alpha,
    "text_lm_score": text_lm_score,
    "stream_ingest_novel": stream_ingest_novel,
    "text_heavy_hitters_cms": text_heavy_hitters_cms,
    "text_cms_merge": text_cms_merge,
    "recon_cascade_skewed": recon_cascade_skewed,
}


