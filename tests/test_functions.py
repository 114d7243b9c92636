from conftest import rows

from mongo_polars_reconciliation_spark.functions import (
    duplicated_rows,
    keep_first,
    keep_last,
    with_file_row_number,
    with_prefix_sum,
)


def test_prefix_sum_scalable_matches_window(spark):
    df = spark.range(0, 500).selectExpr("id", "(id % 13) + 1 as v")
    scal = rows(
        with_prefix_sum(df, ["id"], "v", scalable=True, num_partitions=8),
        "id",
        "prefix_sum",
    )
    simple = rows(
        with_prefix_sum(df, ["id"], "v", scalable=False), "id", "prefix_sum"
    )
    assert scal == simple
    # exclusive semantics: first row is 0, each next adds the previous value
    assert scal[0] == (0, 0)
    assert scal[2] == (2, (0 % 13 + 1) + (1 % 13 + 1))


def test_salted_two_stage_agg_matches_plain(spark):
    from pyspark.sql import functions as F

    from mongo_polars_reconciliation_spark.functions.skew import (
        salted_two_stage_agg,
    )

    df = spark.range(0, 2000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 'hot' ELSE 'cold' END AS k",
        "CAST(id AS DOUBLE) / 7 AS value",
    )
    salted = rows(
        salted_two_stage_agg(df, ["k"], sum_cols={"value": "value_sum"}),
        "k",
        "n",
        "value_sum",
    )
    plain = rows(
        df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        ),
        "k",
        "n",
        "value_sum",
    )
    assert salted == plain


def test_file_row_number_contiguous(spark):
    df = spark.range(0, 1000).selectExpr("id", "id % 7 as grp")
    out = with_file_row_number(df, ["id"], num_partitions=8)
    got = rows(out, "id", "file_row_number")
    assert got == [(i, i + 1) for i in range(1000)]
    assert dict(out.dtypes)["file_row_number"] == "bigint"


def test_file_row_number_simple(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",)], ["k"])
    out = with_file_row_number(df, ["k"])
    assert rows(out) == [("a", 1), ("b", 2), ("c", 3)]


def test_prepare_external_leaves_no_cache_entry(spark):
    """The row index stores its range-partitioned frame as a local
    checkpoint, not a cached plan: a long-lived session that prepares one
    external file a day must not pile up CacheManager entries."""
    from mongo_polars_reconciliation_spark.config import KeyPair, ReconConfig
    from mongo_polars_reconciliation_spark.sources.external import (
        prepare_external,
    )

    cfg = ReconConfig(keys=[KeyPair("code", "codigo")])
    raw = spark.createDataFrame(
        [(i, f"c{i}") for i in range(20)], "linea int, codigo string"
    )
    spark.catalog.clearCache()
    b = prepare_external(raw, cfg, order_by=["linea"])
    assert rows(b, "ext_linea", "ext_file_row_number") == [
        (i, i + 1) for i in range(20)
    ]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_duplicated_rows_marks_all_members(spark):
    # Polars is_duplicated: every member of a >1 group, including the first
    df = spark.createDataFrame(
        [("x", 1), ("x", 2), ("y", 3), ("z", 4), ("z", 5), ("z", 6)], ["k", "v"]
    )
    assert rows(duplicated_rows(df, ["k"]), "v") == [(1,), (2,), (4,), (5,), (6,)]


def test_keep_first_and_last(spark):
    df = spark.createDataFrame(
        [("x", 2, "b"), ("x", 1, "a"), ("y", 9, "c")], ["k", "ord", "v"]
    )
    assert rows(keep_first(df, ["k"], ["ord"]), "k", "v") == [("x", "a"), ("y", "c")]
    assert rows(keep_last(df, ["k"], ["ord"]), "k", "v") == [("x", "b"), ("y", "c")]


def test_mongo_json_unwrap_and_absent_fields(spark, tmp_path):
    """Extended-JSON wrappers unwrap; fields absent from the export project
    as typed nulls (Mongo schemaless-read semantics)."""
    from mongo_polars_reconciliation_spark.sources.mongo_json import (
        read_mongo_extended_json,
    )

    p = str(tmp_path / "docs.json")
    with open(p, "w") as f:
        f.write(
            '{"_id": {"$oid": "abc"}, "n": {"$numberLong": "42"}, '
            '"meta": {"inner": "x"}, "amt": 1.5}\n'
            '{"_id": {"$oid": "def"}, "amt": 2.5}\n'
        )
    out = read_mongo_extended_json(
        spark,
        p,
        fields={
            "_id": "_id",
            "n": "n:long",
            "inner": "meta.inner",
            "amt": "amt:double",
            "missing": "not_there:double",
        },
    )
    rows = {r["_id"]: r for r in out.collect()}
    assert rows["abc"]["n"] == 42 and rows["abc"]["inner"] == "x"
    assert rows["def"]["n"] is None and rows["def"]["inner"] is None
    assert rows["abc"]["missing"] is None
    assert dict(out.dtypes)["n"] == "bigint"
    assert dict(out.dtypes)["missing"] == "double"


def test_frame_sample_empty_payload_emits_no_frames(spark):
    """sequence(0, -1) counts DOWN in Spark — a zero-length payload must
    yield zero frames, not the two bogus (0,0)/(1,-256) rows."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
        frame_sample_plan,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "x" * 300)], "doc_id long, text string"
    )
    out = frame_sample_plan(attach_payload(docs), every_n_bytes=256).collect()
    assert [(r["doc_id"], r["frame_no"], r["byte_offset"]) for r in out] == [
        (2, 0, 0),
        (2, 1, 256),
    ]


def test_fused_doc_scores_equals_separate_operators(spark):
    """fused_doc_scores (one map-only projection) must be value-identical to
    language_id + quality_score + token_counts (three scans + joins) on the
    real documents table — including the zero-hit tie-break (lang asc) and
    the floor4 quantizations. This pins the curation stage-3 fusion."""
    import os

    from pyspark.sql import functions as F

    from mongo_polars_reconciliation_spark.extensions.text import (
        fused_doc_scores,
        language_id,
        quality_score,
        token_counts,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # add an all-zero-hit doc and a tie-prone doc to exercise the argmax
    extra = spark.createDataFrame(
        [(900001, "zzz qqq xxx"), (900002, "de la le")],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(extra)

    fused = fused_doc_scores(docs)
    sep = (
        language_id(docs)
        .join(quality_score(docs).select("doc_id", "quality_r"), "doc_id")
        .join(token_counts(docs).select("doc_id", "ws_tokens"), "doc_id")
        .select("doc_id", "pred_lang", "score_r", "quality_r", "ws_tokens")
    )
    got = sorted(tuple(r) for r in fused.collect())
    want = sorted(tuple(r) for r in sep.collect())
    assert got == want


def test_new_operator_edge_cases(spark):
    """Empty and degenerate inputs through the round-5 operators: no crash,
    typed empty or minimal results."""
    from pyspark.sql import functions as F

    from mongo_polars_reconciliation_spark.extensions.similarity import (
        knn_join,
        semantic_dedup,
    )
    from mongo_polars_reconciliation_spark.extensions.text import (
        bpe_pair_stats,
        corpus_datacard,
        duplicate_spans,
        mix_epochs,
    )
    from mongo_polars_reconciliation_spark.operators.summary import mad_outliers

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, source string, lang string"
    )
    assert mix_epochs(empty_docs, "lang", {"en": 2.0}).count() == 0
    assert duplicate_spans(empty_docs).count() == 0
    assert bpe_pair_stats(empty_docs, min_count=1).count() == 0
    assert corpus_datacard(empty_docs).count() == 0

    # all docs shorter than the window: no rows, not spurious windows
    short = spark.createDataFrame(
        [(1, "a b c"), (2, "x y")], "doc_id long, text string"
    )
    assert duplicate_spans(short, n=8).count() == 0

    # k larger than any block: every other same-block vector is returned
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    knn = knn_join(emb, k=10)
    assert {(r["vec_id"], r["neighbor_id"]) for r in knn.collect()} == {(1, 2), (2, 1)}
    # single-vector block survives semantic dedup untouched
    surv = {r["vec_id"] for r in semantic_dedup(emb, threshold=0.99).collect()}
    assert 3 in surv and 1 in surv

    # single-row group: med = value, mad = 0, the row is not an outlier
    one = spark.createDataFrame([("a", 5.0)], "k string, v double")
    row = mad_outliers(one, "k", "v").collect()[0]
    assert (row["n"], row["med"], row["mad"], row["n_outliers"]) == (1, 5.0, 0.0, 0)


def test_r6_operator_edge_cases(spark):
    """Empty and degenerate inputs through the round-6 operators: typed
    empty results, and short docs survive trimming whole (no windows →
    nothing covered)."""
    import hashlib

    from mongo_polars_reconciliation_spark.extensions.text import (
        heavy_hitters_cms,
        trim_duplicate_spans,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert trim_duplicate_spans(empty).count() == 0
    assert heavy_hitters_cms(empty).count() == 0

    short = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    row = trim_duplicate_spans(short, n=8).collect()[0]
    assert (row["n_tokens"], row["n_kept"], row["kept_frac_r"]) == (2, 2, 1.0)
    assert row["trimmed_md5"] == hashlib.md5(b"a b").hexdigest()

    # exact copies trim to NOTHING (md5 of empty string), originals too —
    # the cross-doc rule is symmetric
    copies = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8"), (2, "w1 w2 w3 w4 w5 w6 w7 w8")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in trim_duplicate_spans(copies, n=8).collect()}
    for i in (1, 2):
        assert got[i]["n_kept"] == 0
        assert got[i]["trimmed_md5"] == hashlib.md5(b"").hexdigest()


def test_mix_epochs_rejects_bad_weights(spark):
    """A -0.5 typo must fail loudly, not silently emit zero copies; NaN the
    same (loud-failure posture mirroring _shingle_ids' hash_mode check)."""
    import pytest

    from mongo_polars_reconciliation_spark.extensions.text import mix_epochs

    docs = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with pytest.raises(ValueError, match="weight"):
        mix_epochs(docs, "lang", {"en": -0.5})
    with pytest.raises(ValueError, match="weight"):
        mix_epochs(docs, "lang", {"en": float("nan")})
    with pytest.raises(ValueError, match="weight"):
        mix_epochs(docs, "lang", {"en": 1.0}, default_weight=-1.0)


def test_semantic_contamination_reports_partnerless_rows(spark):
    """A corpus row whose ONLY benchmark partner is itself (self-pair
    excluded) must still appear: max_cos_r NULL, contaminated false —
    never silently absent. With exclude_self=False (external benchmark id
    namespace) the id collision is compared like any other pair."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        semantic_contamination,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    bench = emb.where("vec_id = 1")
    rows = {r["vec_id"]: r for r in semantic_contamination(emb, bench).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["max_cos_r"] is None and rows[1]["contaminated"] is False
    assert rows[2]["max_cos_r"] == 0.0 and rows[2]["contaminated"] is False
    # external-namespace mode: the shared id is a genuine comparison
    rows2 = {
        r["vec_id"]: r
        for r in semantic_contamination(emb, bench, exclude_self=False).collect()
    }
    assert rows2[1]["max_cos_r"] == 1.0 and rows2[1]["contaminated"] is True


def test_null_text_docs_get_split_and_overlap_rows(spark):
    """r8 regression (advice item): md5(NULL) is NULL, and NULL join keys
    never match — so null-text docs used to vanish from leakage_safe_split
    (no assignment at all) and from the source-overlap matrix. Both now
    digest NULL as '' — every doc gets exactly one split row, null-text and
    empty-text docs share a group, and overlap counts see the content."""
    from mongo_polars_reconciliation_spark.extensions.dedup import source_overlap
    from mongo_polars_reconciliation_spark.extensions.text import leakage_safe_split

    docs = spark.createDataFrame(
        [(1, "x y", "a"), (2, None, "a"), (3, "", "b"), (4, None, "b")],
        "doc_id long, text string, source string",
    )
    split = {r["doc_id"]: r for r in leakage_safe_split(docs).collect()}
    assert set(split) == {1, 2, 3, 4}  # nobody vanishes
    # null-text and empty-text docs form ONE digest group: shared rep/split
    assert {split[i]["rep_id"] for i in (2, 3, 4)} == {2}
    assert len({split[i]["split"] for i in (2, 3, 4)}) == 1

    ov = {(r["source_a"], r["source_b"]): r["n_shared"]
          for r in source_overlap(docs).collect()}
    assert ov == {("a", "b"): 1}  # the ''-digest content appears in both


def test_ingest_novel_suppresses_cross_batch_and_within_batch_dups(spark):
    """r8 ingest_novel contract: within-batch duplicates collapse to the
    min id; digests already in the state never re-admit (whatever id they
    arrive under); null text digests as '' and dedups against an
    empty-text state entry."""
    from mongo_polars_reconciliation_spark.extensions.dedup import ingest_novel

    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "")], "doc_id long, text string"
    )
    empty = spark.createDataFrame([], "text_hash string")
    state1 = ingest_novel(b1, empty)
    assert {r["doc_id"] for r in state1.collect()} == {1, 2, 3}

    b2 = spark.createDataFrame(
        [
            (10, "alpha"),   # cross-batch dup — suppressed
            (12, "gamma"),   # within-batch dup pair: keeper 11
            (11, "gamma"),
            (13, None),      # null == '' already in state via id 3
            (14, "delta"),   # genuinely novel
        ],
        "doc_id long, text string",
    )
    novel2 = {r["doc_id"] for r in ingest_novel(b2, state1).collect()}
    assert novel2 == {11, 14}
