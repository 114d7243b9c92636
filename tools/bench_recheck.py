#!/usr/bin/env python
"""Interleaved A/B re-measure for bench drift flags (the adjudication step).

Protocol (r9, VERDICT r8 ask #7): when ``tools/bench_drift.py`` flags a
query SLOWER whose code is unchanged since the old record (git-verifiable),
the flag is NOT committed as-is — for two rounds running a committed
artifact carried a pure-noise flag (dedup_clusters_star r7,
text_dup_spans_trim r8; both re-measured at the old level). This tool runs
the adjudication BEFORE the artifact is committed:

  * one Spark session, >= 3 reps (default 4);
  * the flagged queries INTERLEAVED with a control query rep-by-rep, so
    ambient machine load hits flagged and control alike — a real regression
    shows the flagged query slow while the control sits at its recorded
    level; ambient noise moves both;
  * per-query min is the number to compare (mean carries the noise).

Usage:
    python tools/bench_recheck.py QUERY [QUERY...] [--control NAME] [--reps N]

Defaults: control = q1_pricing_summary (small, stable, never rotated),
reps = 4, data dir from SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
cpus from SPARK_GRAFT_CPUS (default: the host core count). Exit code
always 0 (advisory) — the adjudication (ambient vs real, with these
numbers) goes in NOTES_r{N}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# r15: look up through bench.py's BENCH_FNS (registry + the retired-but-
# still-benched curation faces) so any benched query can be adjudicated.
from bench import BENCH_FNS as QUERIES
from mongo_polars_reconciliation_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+", help="flagged query names")
    ap.add_argument("--control", default="q1_pricing_summary")
    ap.add_argument("--reps", type=int, default=4)
    args = ap.parse_args()
    reps = max(3, args.reps)  # the protocol floor
    names = list(dict.fromkeys(args.queries + [args.control]))
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"bench_recheck: unknown queries {unknown}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench_recheck")
    spark.range(10).count()

    # warm the shared recon fixtures so a recon flagged query isn't charged
    # the one-off fixture synthesis the main bench also amortizes
    from mongo_polars_reconciliation_spark.harness.queries import _ab

    _, a, b = _ab(spark, sf_dir)
    a.count()
    b.count()

    times: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(reps):
        for n in names:  # interleaved: every rep covers every query once
            t0 = time.perf_counter()
            QUERIES[n](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            times[n].append(round(time.perf_counter() - t0, 3))
    spark.stop()

    out = {
        n: {"min": min(ts), "mean": round(sum(ts) / len(ts), 3), "all": ts}
        for n, ts in times.items()
    }
    print(json.dumps({"reps": reps, "control": args.control, "sf_dir": sf_dir,
                      "results": out}, indent=1))


if __name__ == "__main__":
    main()
