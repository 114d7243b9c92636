#!/usr/bin/env python
"""Capture .explain("formatted") for bench queries into plans/<round>/.

Optimization-round evidence (guide §1/§7.2): the judge checks plan-shape
claims (Exchange count, join strategy, PushedFilters, Python eval nodes)
against these committed files.

Usage:
    python tools/capture_plans.py OUTDIR SUFFIX [QUERY...]

With no queries listed, captures the full headline list. Data dir from
SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), cpus from
SPARK_GRAFT_CPUS (default: the host core count).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_FNS, HEADLINE  # noqa: E402
from mongo_polars_reconciliation_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or HEADLINE
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture_plans")

    from mongo_polars_reconciliation_spark.harness.queries import _ab

    _ab(spark, sf_dir)
    for name in names:
        df = BENCH_FNS[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
