"""Physical-plan audits: the properties that keep queries viable at 100 TB.

These assert on ``explain`` output, not timings — partition-count and data
size change per environment, but a filter that stops reaching the scan, a
join that degrades to nested-loop, or a Python UDF sneaking into a hot path
is a scale regression whatever the hardware.
"""

import contextlib
import io
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.harness.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_source_filter_pushes_into_scan(spark):
    plan = formatted_plan(QUERIES["recon_source_scan_filtered"](spark, SF_DIR))
    assert "PushedFilters" in plan
    # the eq, isin and range predicates must all reach the parquet scan
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan
    assert "In(o_orderstatus" in plan
    assert "GreaterThanOrEqual(o_totalprice,1000.0)" in plan


def test_scan_prunes_columns(spark):
    plan = formatted_plan(QUERIES["recon_source_scan_filtered"](spark, SF_DIR))
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # 9-column table, 4-column projection (+1 filter-only column): the scan
    # must not read what the query doesn't touch
    assert "o_comment" not in read_schema
    assert "o_orderdate" not in read_schema


def test_match_join_is_hash_or_merge(spark):
    plan = formatted_plan(QUERIES["recon_match_exact"](spark, SF_DIR))
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    ["recon_cascade_summary", "recon_match_exact", "q1_pricing_summary",
     "events_hourly", "events_sessionize"],
)
def test_headline_queries_stay_jvm_side(spark, name):
    """No row-at-a-time Python in the reconciliation/analytics hot paths
    (BatchEvalPython = per-row pickling; ArrowEvalPython would at least be
    vectorized, but the core engine needs neither)."""
    plan = formatted_plan(QUERIES[name](spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_headline_queries_use_codegen(spark):
    # AQE finalizes the physical plan only at execution — run the query,
    # then check the executed plan wraps the agg path in WholeStageCodegen
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark operators fused into a WholeStageCodegen stage;
    # both the scan-side partial agg and the final agg must carry them
    assert "*(1)" in plan and "*(2)" in plan


def test_arbitration_window_is_partitioned(spark):
    """The duplicate-arbitration window must partition by _id — a global
    (unpartitioned) window funnels every row through one task."""
    plan = formatted_plan(QUERIES["recon_match_exact"](spark, SF_DIR))
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert "_id" in line


def test_topk_is_distributed_take_ordered(spark):
    """Brute-force and LSH top-k must plan as TakeOrderedAndProject (local
    per-partition top-k merged at the driver), never a global row_number
    window over every scored row."""
    for name in ("sim_topk_bruteforce", "sim_topk_lsh"):
        df = QUERIES[name](spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_lsh_probe_filter_is_scan_side(spark):
    """The LSH bucket probe is a plain predicate on a computed signature —
    no join, no shuffle ahead of the top-k."""
    df = QUERIES["sim_topk_lsh"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Join" not in plan


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard"]
)
def test_dedup_pipelines_have_no_global_sort_or_python(spark, name):
    """The polynomial shingle hash removed the dictionary dense_rank — no
    dedup path may reintroduce a Window (global or otherwise), a global
    Sort outside SortMergeJoin, or Python evaluation."""
    plan = formatted_plan(QUERIES[name](spark, SF_DIR))
    assert "Window" not in plan, name
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_simhash_block_space_is_pigeonhole_scale(spark):
    """The 64-bit/4-block SimHash must (a) produce signatures spanning far
    more than 16 bits, (b) key the candidate join on (block, 16-bit value)
    — a 4 x 2^16 bucket space, not the old 256-bucket high-byte scheme —
    and (c) still pair every exact duplicate at hamming 0."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        SIMHASH_BLOCK_BITS,
        SIMHASH_BLOCKS,
        simhash_blocks,
        simhash_near_dups,
        simhash_signatures,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        build_documents_aug,
    )

    docs = build_documents_aug(spark, SF_DIR)
    sigs = simhash_signatures(docs).persist()
    rows = sigs.collect()
    # (a) 64-bit span: some signature must use the top 16 bits (negative
    # long or >= 2^48) — impossible under the old 16-bit scheme
    assert any(r["simhash"] < 0 or r["simhash"] >= 1 << 48 for r in rows)
    # (b) block values cover the 16-bit range sparsely but exceed 256
    # distinct buckets, and every block value fits in 16 bits
    blocks = simhash_blocks(sigs).collect()
    assert SIMHASH_BLOCKS == 4 and SIMHASH_BLOCK_BITS == 16
    bvals = {(r["b"], r["bval"]) for r in blocks}
    assert all(0 <= bv < (1 << 16) for _, bv in bvals)
    assert len(bvals) > 256
    # (c) the +100000 fixture docs are byte-identical copies: every one
    # must be found at hamming 0
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(docs).collect()
    }
    copies = [r["doc_id"] for r in docs.collect() if r["doc_id"] >= 100000 and r["doc_id"] < 200000]
    for cid in copies:
        assert pairs.get((cid - 100000, cid)) == 0, cid
    sigs.unpersist()


def test_ivf_fitted_prunes_without_join(spark):
    """The fitted-IVF probe must reach the big scan as a projection +
    filter on the assignment expression (centroids are literals) — no join
    in the final plan, and the top-k keeps the distributed
    TakeOrderedAndProject shape."""
    df = QUERIES["sim_topk_ivf_fitted"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """A centroid that attracts no vectors in an iteration must keep its
    previous position (both engines mirror this via COALESCE). Vector 3
    DUPLICATES vector 0, so at distance-0 ties the cid tie-break sends
    both to centroid 0 — centroid 3's cluster is genuinely EMPTY in
    round 1, while centroid 0's mean moves (id 4 pulls it right)."""
    from mongo_polars_reconciliation_spark.extensions.similarity import kmeans_fit

    rows = [
        (0, [0.2, 0.0]),
        (1, [10.0, 10.0]),
        (2, [20.0, 20.0]),
        (3, [0.2, 0.0]),   # duplicate of id 0 → ties to cid 0, empties c3
        (4, [0.4, 0.0]),   # joins c0, moving its mean off 0.2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(emb, k=4, n_iter=1)
    assert len(cents) == 4 and all(len(c) == 2 for c in cents)
    # the emptied centroid kept its init value exactly...
    assert cents[3] == [0.2, 0.0]
    # ...while the cluster that absorbed its duplicate moved
    assert cents[0] != [0.2, 0.0] and abs(cents[0][0] - 0.8 / 3) < 1e-9
    assert cents[1] == [10.0, 10.0] and cents[2] == [20.0, 20.0]


def test_kmeans_fewer_rows_than_k(spark):
    """k larger than the corpus: fit the clusters the data supports
    instead of crashing in the update loop."""
    from mongo_polars_reconciliation_spark.extensions.similarity import kmeans_fit

    emb = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [5.0, 5.0])], "vec_id long, embedding array<double>"
    )
    cents = kmeans_fit(emb, k=4, n_iter=2)
    assert cents == [[0.0, 1.0], [5.0, 5.0]]


def test_dedup_clusters_converges_on_long_chain(spark):
    """A 7-node path graph (diameter 6): min-label propagation must run to
    the true fixpoint — every node labeled 0 — not stop at a fixed round
    count."""
    from mongo_polars_reconciliation_spark.extensions.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs, ids).collect()}
    assert got == {i: 0 for i in range(7)}


def test_asof_join_null_payload_is_row_atomic(spark):
    """The carry-forward must track the last right ROW, not the last
    non-null VALUE: a newer right row with a NULL payload field shadows an
    older row's value instead of letting it leak through."""
    from mongo_polars_reconciliation_spark.functions.asof import asof_join_backward

    right = spark.createDataFrame(
        [(1, 3, 7, "old"), (1, 5, None, "new")],
        "user_id long, ts long, ref long, tag string",
    )
    left = spark.createDataFrame([(100, 1, 6)], "eid long, user_id long, ts long")
    out = asof_join_backward(
        left, right, on=["user_id"], ts_col="ts",
        payload_cols=["ref", "tag"], tiebreak_col="ref",
    ).collect()
    assert len(out) == 1
    # the ts=5 row is the as-of match: ref must be NULL (not 7 leaking
    # from ts=3), and tag must come from the SAME row ("new")
    assert out[0]["ref"] is None and out[0]["tag"] == "new"


def test_asof_join_is_union_window_not_range_join(spark):
    """The as-of join must plan as union + keyed carry-forward window —
    NO join operator at all (a range join would explode to O(pairs) per
    key before picking the max)."""
    plan = formatted_plan(QUERIES["events_asof_last_view"](spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_dedup_clusters_counts_every_k_rounds(spark):
    """Convergence is counted once per CLUSTER_CHECK_EVERY-round block,
    not per round: a diameter-6 chain with 3-round blocks must finish
    with ~1/3 the driver actions while still reaching the exact
    fixpoint."""
    from mongo_polars_reconciliation_spark.extensions import dedup as ddp

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    counts = {"n": 0}
    orig = ddp.DataFrame.count

    def counting(self):
        counts["n"] += 1
        return orig(self)

    ddp.DataFrame.count = counting
    try:
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in ddp.dedup_clusters(pairs, ids).collect()
        }
    finally:
        ddp.DataFrame.count = orig
    assert got == {i: 0 for i in range(7)}
    # chain converges by round 6 at the latest; checks fire at rounds 3, 6,
    # (9) — at most 3 convergence counts instead of one per round
    assert counts["n"] <= 3


def test_lsh_dim_guard(spark):
    """Embeddings with dim >= LSH_MIX would silently correlate hyperplanes
    (plane j's tail aliases plane j+1's head) — both signature builders
    must refuse instead."""
    import pytest as _pytest

    from mongo_polars_reconciliation_spark.extensions.similarity import (
        LSH_MIX,
        lsh_signature_col,
        lsh_signature_py,
    )

    with _pytest.raises(ValueError, match="dim"):
        lsh_signature_py([0.0] * LSH_MIX)
    with _pytest.raises(ValueError, match="dim"):
        lsh_signature_col("embedding", dim=LSH_MIX)
    # in-range dims still work
    assert isinstance(lsh_signature_py([1.0, -1.0]), int)


def test_mix_epochs_is_map_only(spark):
    """Epoch mixing must be a pure projection+explode: zero exchanges —
    at 100 TB it runs inside the scan stage, inheriting input partitioning."""
    plan = QUERIES["text_mix_epochs"](spark, SF_DIR)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange") == 0


def test_single_partition_key_survives_constant_folding(spark):
    """single_partition_key() must survive into the
    OPTIMIZED plan as a real partition key. A foldable literal
    (the `Window.partitionBy(F.lit(1))` mix_temperature carried) is
    constant-folded to an EMPTY window spec, and WindowExec then logs its
    'Moving all data to a single partition' warning on every run —
    polluting the bench stderr budget that exists to surface REAL
    global-window regressions. (mix_temperature's own window sits behind
    its lazy-checkpoint plan boundary, so this pins the helper shape the
    operator now uses.)"""
    import re

    from mongo_polars_reconciliation_spark.functions.windows import (
        single_partition_key,
    )

    good = spark.range(5).withColumn(
        "m", F.max("id").over(Window.partitionBy(single_partition_key()))
    )._jdf.queryExecution().optimizedPlan().toString()
    spec = re.search(r"windowspecdefinition\([^)]*", good).group(0)
    # a surviving key shows up before the frame clause; an empty spec
    # starts directly with specifiedwindowframe — the warning shape
    assert not spec.startswith("windowspecdefinition(specifiedwindowframe")
    bad = spark.range(5).withColumn(
        "m", F.max("id").over(Window.partitionBy(F.lit(1)))
    )._jdf.queryExecution().optimizedPlan().toString()
    bad_spec = re.search(r"windowspecdefinition\([^)]*", bad).group(0)
    assert bad_spec.startswith("windowspecdefinition(specifiedwindowframe")


def _n_data_shuffles(plan: str) -> int:
    """Data (hash/range) exchanges only — broadcast exchanges move tiny
    build sides, not the corpus. Upper-bound assertions on this count are
    robust to Spark/AQE plan-rendering drift, unlike exact counts."""
    return plan.count("Exchange") - plan.count("BroadcastExchange")


def test_sim_contamination_broadcasts_benchmark(spark):
    """The benchmark side must broadcast (eval sets are small); the data
    shuffles are at most the small-file widen + the per-vector max
    aggregate — never an all-pairs exchange or cartesian product. Upper
    bounds, not exact counts: plan rendering drifts across Spark/AQE
    versions, the scale claim is 'no MORE than this'."""
    plan = QUERIES["sim_contamination"](spark, SF_DIR)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("BroadcastExchange") >= 1
    assert _n_data_shuffles(plan) <= 2  # widen + hash agg
    assert "CartesianProduct" not in plan


def test_datacard_single_shuffle(spark):
    """The data card's rank window and final aggregate must share ONE
    shuffle on the (source, lang) key — a second data exchange would
    rescan the corpus at 100 TB (upper bound; see _n_data_shuffles)."""
    plan = QUERIES["text_datacard"](spark, SF_DIR)._jdf.queryExecution(
    ).executedPlan().toString()
    assert _n_data_shuffles(plan) <= 1


# Tiny-side broadcast cross joins that are BNLJ by DESIGN: one-row aggregate
# combiners, the 5-row language dictionary, the <=bins histogram table, and
# the non-equi broadcast benchmark join. Anything else showing BNLJ — or any
# cartesian product / row-Python UDF anywhere — is a scale regression.
BNLJ_BY_DESIGN = {
    "recon_summary_doc",
    "recon_persist_roundtrip",
    "events_user_kmv",
    "events_kmv_merge",
    "text_lang_id",
    "events_hist_quantiles",
    # the independent-sides rework bins each filtered scan against the
    # same one-row (lo, hi) broadcast, so the 1-row crossJoin now shows in
    # the plan n_splits+1 times (it was hidden behind a checkpoint before)
    "events_hist_merge",
    # adaptive gate joins the 1-row cutoff as a broadcast
    "text_quality_gate",
    "sim_contamination",
    "curation_pipeline",
    "curation_pipeline_v2",
}


def test_bloom_filter_is_plan_literal_or_broadcast(spark):
    """bloom_decontaminate's filter must never travel through a shuffle.
    Within BLOOM_LITERAL_MAX_WORDS the bitmap is a literal array<long> in
    the plan and the probe side has NO join at all — the strictly
    stronger form of "broadcast the bitmap". Past the size gate the
    relational form's position table (≤ m_bits rows) sits on the
    broadcast side of a hash join."""
    from mongo_polars_reconciliation_spark.extensions import text as text

    old_gate = text.BLOOM_LITERAL_MAX_WORDS
    try:
        plan = QUERIES["text_bloom_decontaminate"](
            spark, SF_DIR
        )._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan  # no join of any strategy
        assert "BatchEvalPython" not in plan
        text.BLOOM_LITERAL_MAX_WORDS = 0  # force the relational branch
        plan = QUERIES["text_bloom_decontaminate"](
            spark, SF_DIR
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan
    finally:
        text.BLOOM_LITERAL_MAX_WORDS = old_gate


# retired from the driver registry but still swept
# here — the harness functions remain (they back the DuckDB parity carrying
# pins in test_curation_parity.py and stay bench-timed), so their plans
# stay under the three-killer sweep too, exactly like the stream
# retirements below.
RETIRED_BATCH_FACES = {
    "curation_pipeline",
    "curation_pipeline_v2",
    "curation_pipeline_v3",
}


def test_every_batch_query_plan_is_scale_clean(spark):
    """Sweep EVERY declared batch query's physical plan — plus the retired
    batch faces — for the three unconditional scale killers: cartesian
    products, row-at-a-time Python UDFs, and unexpected
    broadcast-nested-loop joins."""
    from mongo_polars_reconciliation_spark.harness import queries as qmod

    assert not RETIRED_BATCH_FACES & set(QUERIES)
    swept = dict(QUERIES)
    swept.update({n: getattr(qmod, n) for n in RETIRED_BATCH_FACES})
    problems = []
    for name, fn in swept.items():
        if name.startswith("stream_"):
            continue  # drained plans swept by the streaming test below
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            problems.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            problems.append(f"{name}: row-Python UDF")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_BY_DESIGN:
            problems.append(f"{name}: unexpected BroadcastNestedLoopJoin")
    assert not problems, problems


# Memory-sink table (= streaming queryName) each stream_* harness query
# drains into; "incremental_match" is the foreachBatch drain whose per-batch
# MATCH plan is the batch engine's (already swept above) — the captured plan
# covers its stream side.
STREAM_TABLE_OF = {
    "stream_cms_counters": "mem_stream_cms",
    "stream_ingest_novel": "mem_stream_ingest",
    "stream_ingest_neardup": "incremental_neardup",
    "stream_dedup_corpus": "mem_stream_dedup_corpus",
    "stream_dedup": "mem_stream_dedup",
    "stream_events_hourly": "mem_stream_hourly",
    "stream_sessionize_agg": "mem_stream_sessions",
    "stream_user_seq": "mem_stream_userseq",
    "stream_view_attribution": "mem_stream_attrib",
    "stream_incremental_match": "incremental_match",
    "stream_ingest_semantic": "incremental_semantic",
    "stream_ingest_payloads": "incremental_payload",
    "stream_datacard": "mem_stream_datacard",
}

# retired from the driver registry but still swept
# here — the harness functions remain (they back the stream-≡-batch
# carrying pins in test_streaming.py / test_properties.py), so their
# drained plans stay under the three-killer sweep too.
RETIRED_STREAM_FACES = {"stream_cms_counters", "stream_datacard"}


def test_every_streaming_query_plan_is_scale_clean(spark):
    """Same three-killer sweep over every STREAMING query's last executed
    plan: run_to_table/incremental_match capture the terminated query's
    full explain (logical→physical), and no drained plan may contain a
    cartesian product, a row-Python UDF, or a broadcast-nested-loop join.
    (applyInPandasWithState shows as FlatMapGroupsInPandasWithState — the
    sanctioned Arrow-batched path, not BatchEvalPython.)"""
    from mongo_polars_reconciliation_spark.streaming.events import LAST_PLANS

    from mongo_polars_reconciliation_spark.harness import queries as qmod

    stream_queries = {n: f for n, f in QUERIES.items() if n.startswith("stream_")}
    assert set(stream_queries) | RETIRED_STREAM_FACES == set(STREAM_TABLE_OF), (
        "STREAM_TABLE_OF out of date with declared stream_* queries"
    )
    assert not RETIRED_STREAM_FACES & set(stream_queries)
    problems = []
    for name in STREAM_TABLE_OF:
        fn = stream_queries.get(name) or getattr(qmod, name)
        fn(spark, SF_DIR)
        plan = LAST_PLANS.get(STREAM_TABLE_OF[name])
        if not plan or "== Physical Plan ==" not in plan:
            problems.append(f"{name}: no captured plan")
            continue
        if "CartesianProduct" in plan:
            problems.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            problems.append(f"{name}: row-Python UDF")
        if "BroadcastNestedLoopJoin" in plan:
            problems.append(f"{name}: BroadcastNestedLoopJoin")
    assert not problems, problems
