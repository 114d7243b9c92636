#!/usr/bin/env python
"""Per-query Spark job profile: job count + per-job wall time + total.

Optimization-round instrumentation (guide §1: measure first). Runs one
bench query through the noop sink with a job-start/end listener attached,
then prints every Spark job's description and duration, sorted by cost.
The per-job breakdown answers the question the bench total cannot: is a
multi-action query (ingest loops, cascades, k-means) paying in stage
compute or in fixed per-job overhead?

Usage:
    python tools/profile_query.py QUERY [--reps N]

Data dir from SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), cpus from
SPARK_GRAFT_CPUS (default: the host core count). Advisory only — never
part of the bench contract.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_FNS as QUERIES  # noqa: E402
from mongo_polars_reconciliation_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    if args.query not in QUERIES:
        raise SystemExit(f"unknown query {args.query!r}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_query")
    spark.range(10).count()

    from mongo_polars_reconciliation_spark.harness.queries import _ab

    _, a, b = _ab(spark, sf_dir)
    a.count()
    b.count()

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    # Listener via the Py4J callback-free route: poll the AppStatusStore
    # after the run instead of registering a Python listener (callback
    # server adds its own latency). statusStore gives jobId, name,
    # submissionTime, completionTime, numTasks.
    for rep in range(args.reps):
        t0 = time.perf_counter()
        QUERIES[args.query](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        print(f"rep {rep}: {dt:.3f}s")

    store = jsc.statusStore()
    jobs = store.jobsList(None)
    n = jobs.size()
    rows = []
    for i in range(n):
        j = jobs.apply(i)
        sub = j.submissionTime()
        comp = j.completionTime()
        try:
            t_sub = sub.get().getTime() if sub.isDefined() else None
            t_comp = comp.get().getTime() if comp.isDefined() else None
        except Exception:
            t_sub = t_comp = None
        dur = (t_comp - t_sub) / 1000.0 if t_sub and t_comp else float("nan")
        rows.append(
            (
                j.jobId(),
                dur,
                j.numTasks(),
                (j.name() or "")[:110],
            )
        )
    rows.sort(key=lambda r: r[0])
    total = sum(r[1] for r in rows if r[1] == r[1])
    print(f"\n{len(rows)} jobs, {total:.3f}s summed job wall time")
    print(f"{'job':>5} {'sec':>8} {'tasks':>6}  name")
    for jid, dur, ntasks, name in rows:
        print(f"{jid:>5} {dur:>8.3f} {ntasks:>6}  {name}")
    spark.stop()


if __name__ == "__main__":
    main()
