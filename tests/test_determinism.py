"""Shuffle-order / partitioning invariance: the engine's declared results
must not depend on spark.sql.shuffle.partitions (a proxy for cluster shape).
A result that changes when the partition count changes would be
nondeterministic on a real cluster — exactly the failure mode the explicit
window orders and DECIMAL-routed sums exist to prevent."""

import os

import pytest

from mongo_polars_reconciliation_spark.harness.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize(
    "name",
    ["recon_cascade_summary", "recon_duplicate_losers", "recon_tolerance_match",
     "dedup_minhash_lsh", "sim_topk_lsh", "sim_topk_ivf_fitted",
     "recon_persist_roundtrip", "dedup_clusters_star",
     "text_pack_sequences", "events_salted_agg", "text_tfidf_top_terms",
     "events_hist_quantiles", "text_dup_spans", "sim_contamination",
     "text_datacard", "events_anomaly_mad",
     "sim_knn_join_multiprobe", "sim_semantic_dedup_fitted",
     "text_dup_spans_trim", "text_heavy_hitters_cms",
     "text_cms_merge", "text_bloom_decontaminate", "text_ngram_novelty",
     "text_split_leakage_safe", "dedup_source_overlap",
     "dedup_ngram_jaccard",
     "text_bpe_merges", "text_bpe_encode", "text_sample_fixed_k",
     "dedup_ingest_incremental", "text_lm_score", "sim_recall_probe",
     "text_quality_gate",
     "dedup_ingest_neardup", "sim_recall_probe_sampled",
     "text_bpe_vocab_roundtrip", "text_quality_c4",
     "mm_payload_dedup", "mm_payload_near_dup",
     "sim_centroid_roundtrip",
     "sim_ingest_semantic", "dedup_ingest_waves", "mm_payload_ingest",
     "dedup_clusters_quality", "sim_topk_pq", "sim_topk_ivfpq",
     "text_quality_gopher", "text_lm_buckets", "text_datacard_merge",
     "text_pack_shards_roundtrip", "sim_knn_join_ivfpq",
     "text_mix_temperature", "text_line_dedup",
     "text_line_dedup_trim", "curation_pipeline_v4",
     "text_mix_temperature_alpha", "sim_knn_join_ivfpq_served",
     "text_pii_scrub"],
)
def test_result_invariant_to_shuffle_partitions(spark, name):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        low = _sorted_rows(QUERIES[name](spark, SF_DIR))
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        high = _sorted_rows(QUERIES[name](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert low == high
