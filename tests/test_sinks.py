"""Sink semantics (SURVEY.md §2.1 S6/S8) and engine partition invariants."""

import glob
import os
import shutil

from conftest import rows
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from mongo_polars_reconciliation_spark.harness.queries import _ab
from mongo_polars_reconciliation_spark.scratch import scratch_path
from mongo_polars_reconciliation_spark.operators.match import match_records
from mongo_polars_reconciliation_spark.operators.residuals import (
    residual_external,
    residual_internal,
)
from mongo_polars_reconciliation_spark.sources.sinks import (
    persist_results,
    save_buckets_csv,
    write_time_partitioned,
)

SF_DIR = "/root/testdata/sf0.001"
OUT = scratch_path("test_sinks")


def test_save_buckets_csv_single_file_roundtrip(spark):
    shutil.rmtree(OUT, ignore_errors=True)
    cfg, a, b = _ab(spark, SF_DIR)
    matched, _ = match_records(a, b, cfg)
    buckets = {"a_to_b_mt": matched.select("_id", "amount")}
    paths = save_buckets_csv(buckets, f"{OUT}/csv", iteration=2)
    assert paths["a_to_b_mt"].endswith("a_to_b_mt(2).csv")
    # single-file semantics: exactly one part file
    parts = glob.glob(f"{paths['a_to_b_mt']}/part-*")
    assert len(parts) == 1
    back = spark.read.csv(paths["a_to_b_mt"], header=True)
    assert back.count() == matched.count()


def _assert_disjoint_time_ranges(spark, path, ts_col):
    """Each part file under ``path`` covers its own time interval: sorted by
    start, no file's range overlaps the next one's. Returns the number of
    part files."""
    files = [f for f in glob.glob(f"{path}/part-*") if f.endswith(".parquet")]
    spans = []
    for f in files:
        r = spark.read.parquet(f).agg(F.min(ts_col), F.max(ts_col)).head()
        if r[0] is not None:
            spans.append((r[0], r[1]))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2
    return len(files)


def test_write_time_partitioned_ranges(spark):
    """S8 without the thread pool: files are range-partitioned on the time
    column, so each covers a contiguous interval (the reference's 5 equal
    $merge batches)."""
    shutil.rmtree(f"{OUT}/tp", ignore_errors=True)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    write_time_partitioned(ev, f"{OUT}/tp", "ts")
    back = spark.read.parquet(f"{OUT}/tp")
    assert back.count() == ev.count()
    assert _assert_disjoint_time_ranges(spark, f"{OUT}/tp", "ts") >= 2


def test_persist_results_writes_each_bucket_once(spark, monkeypatch):
    """``persist_results`` writes every bucket straight to its final dir:
    nothing is read back, no staging dir is left, the finals hold the
    input rows in disjoint time-range files, and a rerun replaces them."""
    root = f"{OUT}/persist"
    shutil.rmtree(root, ignore_errors=True)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").localCheckpoint()
    even = ev.where(F.col("event_id") % 2 == 0)
    buckets = {
        "even": (even, "ts"),
        "odd": (ev.where(F.col("event_id") % 2 == 1), "ts"),
        "empty": (ev.where(F.lit(False)), "ts"),
    }

    def no_read_back(self, *paths, **options):
        raise AssertionError(f"persist_results read back {paths}")

    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "parquet", no_read_back)
        paths = persist_results(buckets, root)
    assert paths == {name: f"{root}/{name}" for name in buckets}
    assert not glob.glob(f"{root}/__tmp_*")
    for name, (df, ts_col) in buckets.items():
        back = spark.read.parquet(paths[name])
        assert back.schema == df.schema
        assert rows(back) == rows(df)
        _assert_disjoint_time_ranges(spark, paths[name], ts_col)

    # a second run into the same root replaces each final dir in place
    rerun = {"even": (even.where(F.col("event_id") < 500), "ts")}
    assert persist_results(rerun, root) == {"even": f"{root}/even"}
    assert not [e for e in os.listdir(f"{root}/even") if os.path.isdir(f"{root}/even/{e}")]
    assert rows(spark.read.parquet(f"{root}/even")) == rows(rerun["even"][0])


def test_persist_results_jobs_carry_the_callers_description(spark):
    """Every job of one ``persist_results`` call, the bucket writes on its
    driver pool included, carries the job description set on the calling
    thread."""
    from perfbench.tracing import SparkStatus

    root = f"{OUT}/persist_labels"
    shutil.rmtree(root, ignore_errors=True)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").localCheckpoint()
    buckets = {
        name: (ev.where(F.col("event_id") % 3 == i), "ts")
        for i, name in enumerate(("r0", "r1", "r2"))
    }
    summary = ev.groupBy("event_type").count()
    status = SparkStatus(spark)
    sc = spark.sparkContext
    lo = status.next_job_id()
    sc.setJobDescription("x")
    try:
        persist_results(buckets, root, summary=summary)
    finally:
        sc.setJobDescription(None)
    jobs = status.jobs(lo, status.next_job_id())
    assert len(jobs) > len(buckets)
    assert [j["jobId"] for j in jobs if j.get("description") != "x"] == []


def test_match_and_residual_partition_a(spark):
    """Invariant (SURVEY.md §5 property 1): winners ∪ internal-residual
    partitions A by _id — nothing lost, nothing duplicated."""
    cfg, a, b = _ab(spark, SF_DIR)
    matched, _ = match_records(a, b, cfg)
    resid = residual_internal(a, b, cfg)
    n_a = a.count()
    assert matched.count() + resid.count() == n_a
    assert (
        matched.select("_id").union(resid.select("_id")).distinct().count() == n_a
    )


def test_b_winner_loser_residual_accounting(spark):
    """Invariant 2: every B row is exactly one of {winner, loser, residual}."""
    cfg, a, b = _ab(spark, SF_DIR)
    matched, losers = match_records(a, b, cfg)
    resid = residual_external(b, a, cfg)
    rn = cfg.ext_row_number_col
    n_b = b.count()
    assert matched.count() + losers.count() + resid.count() == n_b
    union = (
        matched.select(rn).union(losers.select(rn)).union(resid.select(rn))
    )
    assert union.distinct().count() == n_b
