#!/usr/bin/env python
"""Benchmark headline queries; prints ONE JSON line.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the host core count),
     SPARK_GRAFT_REPS (default 2; clamped to >=1) — per-query repeat count;
     both mean and min are reported (compare MINs across rounds, the mean
     carries this machine's ambient-load noise).
Each query is executed fully via the noop sink (no driver collect cost).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mongo_polars_reconciliation_spark.harness import queries as _qmod
from mongo_polars_reconciliation_spark.harness.queries import QUERIES
from mongo_polars_reconciliation_spark.session import get_spark
from perfbench.tracing import SparkStatus

# curation_pipeline / _v2 / _v3 were RETIRED from the driver registry
# (carrying pins in tests/test_curation_parity.py at both
# gate scales) but STAY TIMED: curation_pipeline is a frozen HEADLINE
# member (cross-round total comparability) and v2/v3 keep their per-query
# secondary history. The harness functions remain; this map shadows the
# registry for bench lookups only.
BENCH_FNS = dict(QUERIES)
for _retired in ("curation_pipeline", "curation_pipeline_v2",
                 "curation_pipeline_v3"):
    BENCH_FNS[_retired] = getattr(_qmod, _retired)

HEADLINE = [
    "recon_cascade_summary",
    "recon_match_exact",
    "recon_residual_external",
    "q1_pricing_summary",
    "events_hourly",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "curation_pipeline",
    "sim_topk_lsh",
    "sim_topk_ivf_fitted",
]

# Heavy extension queries tracked round-over-round WITHOUT joining the
# headline metric (keeps the headline total comparable across rounds while
# making regressions in the tail visible). Timed identically; reported
# under "secondary". NOTE: this list GROWS as operators land —
# compare secondary numbers per-query across rounds, never
# as a sum; only the headline membership is frozen.
SECONDARY = [
    "dedup_simhash",
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_ngram_jaccard",
    "text_quality",
    "text_ngram_freq",
    "text_repetition",
    "text_contamination",
    "recon_persist_roundtrip",
    "text_tfidf_top_terms",
    "text_pack_sequences",
    "events_salted_agg",
    "events_hist_quantiles",
    # no declared surface stays bench-blind — multimodal plumbing and
    # one full streaming drain are timed in the tail too
    "mm_decode_features",
    "mm_frame_sample",
    "stream_events_hourly",
    "stream_dedup_corpus",
    "text_dup_spans",
    "sim_contamination",
    "text_mix_epochs",
    "text_datacard",
    "events_anomaly_mad",
    "text_bpe_pairs",
    "sim_knn_join",
    "sim_semantic_dedup",
    "curation_pipeline_v2",
    "sim_knn_join_multiprobe",
    "sim_semantic_dedup_fitted",
    "text_dup_spans_trim",
    "text_heavy_hitters_cms",
    "recon_orc_roundtrip",
    "text_cms_merge",
    "events_hist_merge",
    # stream_cms_counters is retired (carrying pin in tests/test_streaming.py)
    "text_bloom_decontaminate",
    "text_ngram_novelty",
    "text_split_leakage_safe",
    "text_split_cluster_safe",
    "dedup_source_overlap",
    "text_bpe_merges",
    "text_bpe_encode",
    "sim_recall_probe",
    "text_sample_fixed_k",
    "dedup_ingest_incremental",
    "text_lm_score",
    "curation_pipeline_v3",
    "text_quality_gate",
    "stream_ingest_novel",
    "dedup_ingest_neardup",
    "sim_recall_probe_sampled",
    "text_bpe_vocab_roundtrip",
    "text_quality_c4",
    "mm_payload_dedup",
    "mm_payload_near_dup",
    "stream_ingest_neardup",
    "sim_centroid_roundtrip",
    "sim_ingest_semantic",
    "dedup_ingest_waves",
    "mm_payload_ingest",
    "dedup_clusters_quality",
    "stream_ingest_semantic",
    "stream_ingest_payloads",
    "sim_topk_pq",
    "sim_topk_ivfpq",
    "text_quality_gopher",
    "text_lm_buckets",
    "text_datacard_merge",
    "text_pack_shards_roundtrip",
    # stream_datacard is retired (carrying pin in tests/test_properties.py)
    "sim_knn_join_ivfpq",
    "text_mix_temperature",
    "text_line_dedup",
    "text_line_dedup_trim",
    "curation_pipeline_v4",
    "text_mix_temperature_alpha",
    "sim_knn_join_ivfpq_served",
    "text_pii_scrub",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # Fail loudly on testdata schema drift BEFORE any query runs: round 3's
    # bench died mid-run with an opaque AnalysisException because events.ts
    # changed physical type; this names the drifted column up front.
    from mongo_polars_reconciliation_spark.harness.schema_guard import (
        assert_testdata_schema,
    )

    assert_testdata_schema(sf_dir)

    spark = get_spark("bench")
    spark.range(10).count()  # JVM/session warmup

    # Materialize the shared A/B fixture synthesis once (plan-equality cache
    # reuse makes every recon query read the same cached inputs — the engine
    # under test is the reconciliation operators, not the fixture generator).
    # Reported separately below, not hidden.
    from mongo_polars_reconciliation_spark.harness.queries import _ab

    t0 = time.perf_counter()
    _, a, b = _ab(spark, sf_dir)
    a.count()
    b.count()
    fixture_warm = round(time.perf_counter() - t0, 3)

    # Per-query repeats: the machine's ambient load adds ±40% noise to any
    # single timing, so each query runs `reps` times and we report BOTH the
    # mean (the headline metric, comparable to prior rounds) and the min
    # (the low-noise number round-over-round comparisons should use).
    # Clamp: 0/negative would divide-by-zero in mean() / ValueError in min().
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "2")))

    # sub-2 s tail
    # queries run last in the loop and inherit within-session JVM state
    # (GC pressure, code-cache churn), flapping 2-3x across sessions even
    # though their plans are map-only/broadcast. reps=2 mins don't wash
    # that out, so queries whose first-pass min lands under the threshold
    # get EXTRA timed reps — more samples drive the min toward the true
    # floor. Heavy queries (where reps are expensive) are unaffected, and
    # so is the CONTROL query: its min is the cross-round normalization
    # denominator, so its sampling definition must never change between
    # rounds (extra control samples would deflate control_min and
    # inflate every >2 s query's normalized ratio against older records).
    # The per-query MEANS are immune: mean() below slices ts[:reps], so
    # extra samples tighten the MIN only (see the note at mean()).
    extra_reps_below_sec = 2.0
    extra_reps = 2
    control = "q1_pricing_summary"

    # Each query's FIRST rep records its Spark job/stage/task counts into the
    # full-fidelity record as `job_profile`, so tasks-per-stage can be read
    # directly instead of inferred from wall-clock ratios. The job range is
    # taken from the scheduler's next job id around the rep; the status
    # store is read after the listener bus is drained, and a job missing
    # from it raises instead of undercounting. The stdout contract line is
    # unchanged.
    status = SparkStatus(spark)
    job_profile: dict[str, dict[str, int]] = {}

    def profile(lo: int, hi: int) -> dict[str, int]:
        jobs = status.jobs(lo, hi)
        return {
            "jobs": len(jobs),
            "stages": sum(len(j["stageIds"]) for j in jobs),
            "tasks": sum(j["numTasks"] for j in jobs),
        }

    def run(name: str) -> list[float]:
        ts = []
        for rep in range(reps):
            lo = status.next_job_id()
            t0 = time.perf_counter()
            BENCH_FNS[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(round(time.perf_counter() - t0, 3))
            if rep == 0:
                job_profile[name] = profile(lo, status.next_job_id())
        if name != control and min(ts) < extra_reps_below_sec:
            for _ in range(extra_reps):
                t0 = time.perf_counter()
                BENCH_FNS[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                ts.append(round(time.perf_counter() - t0, 3))
        return ts

    # the MEAN is computed over only the FIRST `reps`
    # samples — the fixed-sampling definition the oldest records were
    # measured under. Letting the adaptive extra reps (warmer samples)
    # into the mean gave every sub-2 s query a one-time downward step
    # that drift tooling would read as a phantom improvement. Extra
    # samples tighten the MIN only (their whole purpose); per-query
    # sample counts are recorded so tooling can see the policy.
    # Caveat: exactly one older committed record computed sub-2 s means
    # over all 4 adaptive samples (the adaptive reps landed one change
    # before the first-reps slice) — later means compared to it show a
    # one-time phantom UPWARD step on those queries. Compare MINs across
    # records, as warmup_policy advises.
    def mean(ts: list[float]) -> float:
        head = ts[:reps]
        return round(sum(head) / len(head), 3)

    head_runs = {name: run(name) for name in HEADLINE}
    sec_runs = {name: run(name) for name in SECONDARY}
    timings = {name: mean(ts) for name, ts in head_runs.items()}
    secondary = {name: mean(ts) for name, ts in sec_runs.items()}
    timings_min = {name: min(ts) for name, ts in head_runs.items()}
    secondary_min = {name: min(ts) for name, ts in sec_runs.items()}
    n_samples = {
        name: len(ts)
        for name, ts in list(head_runs.items()) + list(sec_runs.items())
    }

    # Control-normalized mins: q1_pricing_summary is
    # the long-standing code-unchanged control of tools/bench_recheck.py; its
    # min in THIS session measures the day's ambient handicap. Dividing every
    # query min by it makes cross-session comparisons self-adjudicating —
    # tools/bench_drift.py compares the normalized values when both records
    # carry them, so a uniformly-loaded machine no longer flags every query.
    control_min = timings_min[control]

    def norm(d: dict[str, float]) -> dict[str, float]:
        if control_min <= 0:
            return {}
        return {k: round(v / control_min, 3) for k, v in d.items()}

    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "headline_min_total_sec": round(sum(timings_min.values()), 3),
        "secondary": secondary,
        "secondary_min": secondary_min,
        "secondary_total_sec": round(sum(secondary.values()), 3),
        "secondary_min_total_sec": round(sum(secondary_min.values()), 3),
        "control_query": control,
        "control_min_sec": control_min,
        "queries_min_ctrl": norm(timings_min),
        "secondary_min_ctrl": norm(secondary_min),
        "reps": reps,
        "n_samples": n_samples,
        "warmup_policy": (
            f"adaptive: +{extra_reps} timed reps when the first-pass min is "
            f"< {extra_reps_below_sec} s (sub-2 s "
            "tail queries inherit JVM state; extra samples tighten the min); "
            "the control query is EXEMPT so its min keeps the fixed-reps "
            "definition older records were measured under; the "
            "MEAN too is computed over only the first `reps` samples "
            "(extra warm samples deflate sub-2 s means vs "
            "older records), so extra reps tighten the min ONLY; "
            "one older record's sub-2 s means used all 4 samples "
            "— compare MINs across records"
        ),
        "fixture_warm_sec": fixture_warm,
        "sf": float(sf),
        # per-query Spark job/stage/task counts from
        # the first timed rep — the scaling-evidence field. At sf0.1 most
        # queries run a handful of tasks per stage (AQE size-based
        # coalescing), which is WHY 8-vs-32-core wall ratios are ~1 there;
        # a query that is genuinely serial at scale would show tasks ≈
        # stages even on big inputs. Counts are deterministic per plan
        # (first rep; localCheckpoint materializations included).
        "job_profile": job_profile,
    }
    # Full-fidelity copy for round-over-round drift checks: the driver's
    # BENCH_r{N}.json records only a 2000-char stdout tail, which loses the
    # front of the JSON once the query list grew past ~35 entries. The
    # bench_last.json + tools/bench_drift.py replace the manual (and
    # twice-late, see dedup_clusters_star) per-query comparison.
    # the default landing spot is OUTSIDE the repo tree — an
    # ad-hoc bench run must not dirty the working tree or risk committing
    # machine-local timings as a side effect. (A stable tmpdir path, NOT the
    # per-process scratch root: that one is atexit-removed, which would
    # delete the record the drift check wants to read.) Closing a round
    # copies the adjudicated record in explicitly:
    #   SPARK_GRAFT_BENCH_OUT=/root/repo/bench_last.json python bench.py
    # the default name is uid-suffixed — a fixed world-shared
    # tmp name would collide (or clobber) across users on a shared machine,
    # and another user's symlink at that path could redirect the write.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(
            tempfile.gettempdir(), f"mpr_spark_bench_last.{os.getuid()}.json"
        ),
    )
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"bench: full-fidelity record written to {out_path}", file=sys.stderr)
    sys.stderr.flush()
    # the recorded bench output keeps only a ~2000-char stdout TAIL and
    # parses what it finds there — the full record (134 queries ≈ 8 kB)
    # outgrew that window, and such records read "parsed": null. stdout
    # now carries ONLY this COMPACT record (headline queries + the totals
    # — it fits the tail window); full per-query fidelity lives in the
    # file written above.
    compact = {
        "metric": "headline_queries_total",
        "value": out["value"],
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "headline_min_total_sec": out["headline_min_total_sec"],
        "secondary_total_sec": out["secondary_total_sec"],
        "secondary_min_total_sec": out["secondary_min_total_sec"],
        "control_query": control,
        "control_min_sec": control_min,
        "reps": reps,
        "sf": float(sf),
        "full_record": out_path,
    }
    print(json.dumps(compact))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
