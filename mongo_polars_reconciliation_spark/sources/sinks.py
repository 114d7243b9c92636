"""Result sinks (SURVEY.md §2.1 S6/S7/S8/S10).

Reference sinks: per-bucket CSV files with iteration-numbered names
(``Reconciliator.save_to_file``, src/reconciliatior.py:61-64) and idempotent
Mongo upserts done as 5 manually time-partitioned ``$merge`` batches on a
thread pool (second_conciliate.py:409-447).

Spark shape: every sink writes each frame once. ``repartitionByRange`` on
the time column reproduces the reference's interval alignment; Spark's
output committer stages task output under ``<dir>/_temporary`` and moves it
into place at job commit, so it is the publish point the reference's TMP
collection provided. That holds on filesystems with an atomic rename
(local, HDFS); object stores need a dedicated committer and are out of
scope. Upsert-into-table is ``MERGE INTO`` on Delta/Iceberg, or the
pure-DataFrame merges in sources/state.py when no transactional format is
present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mongo_polars_reconciliation_spark.session import overlap


def save_bucket_csv(df: DataFrame, path: str) -> None:
    """CSV sink with the reference's single-file semantics (S6): the
    reference writes one ``a_to_b_mt({i}).csv`` per bucket, which
    ``coalesce(1)`` reproduces."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def save_buckets_csv(
    buckets: dict[str, DataFrame], out_dir: str, iteration: int = 1
) -> dict[str, str]:
    """All result buckets, iteration-numbered like the reference
    (``a_to_b_mt({i}).csv``, src/reconciliatior.py:61-64)."""
    paths = {}
    for name, df in buckets.items():
        path = f"{out_dir}/{name}({iteration}).csv"
        save_bucket_csv(df, path)
        paths[name] = path
    return paths


def write_time_partitioned(df: DataFrame, path: str, ts_col: str) -> None:
    """The S8 write path without the manual thread pool: range-repartition on
    the timestamp column into the reference's 5 equal time intervals
    (second_conciliate.py:409-417) and let Spark's task parallelism do the
    concurrent writes. Each output file covers a contiguous time range."""
    df.repartitionByRange(5, ts_col).write.mode("overwrite").parquet(path)


def persist_results(
    buckets: dict[str, tuple[DataFrame, str]],
    out_root: str,
    summary: DataFrame | None = None,
) -> dict[str, str]:
    """The reference's end-of-run persistence loop (``persist_results``,
    second_conciliate.py:486-503; aggregated-results document at 450-483).

    Each bucket is written once, range-partitioned on its time column, to
    ``<out_root>/<name>`` (``write_time_partitioned``: one file per
    contiguous time interval, like ``move_tmp_data_to_final``). The
    reference's TMP collection is not reproduced: the output committer is
    the publish point (see the module docstring), and a rerun replaces the
    final dir. The summary document, when given, is written as one file to
    ``<out_root>/aggregated_results``.

    ``buckets``: name → (frame, time column). Returns name → final path
    (plus ``"aggregated_results"`` when ``summary`` is given).

    The bucket writes are independent (distinct source frames, disjoint
    target dirs), so they run on a 2-worker driver thread pool, as the
    reference's loop did (``session.overlap``): the next bucket's jobs fill
    executor slots left idle by the previous bucket's straggler tasks, and
    every job carries the caller's job description. On the perfbench
    ``recon_daily`` buckets (4 cores) a sequential loop measured a median
    of 1.26-1.43 s per call, the pool 0.91-0.99 s."""

    def _persist_one(item: tuple[str, tuple[DataFrame, str]]) -> tuple[str, str]:
        name, (df, ts_col) = item
        final = f"{out_root}/{name}"
        write_time_partitioned(df, final, ts_col)
        return name, final

    paths = dict(overlap(_persist_one, buckets.items()))
    if summary is not None:
        path = f"{out_root}/aggregated_results"
        summary.coalesce(1).write.mode("overwrite").parquet(path)
        paths["aggregated_results"] = path
    return paths
