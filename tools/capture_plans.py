#!/usr/bin/env python
"""Executed-plan node counts of harness faces, one JSON file per face.

Each face runs in its own Spark application (a fresh child process): AQE's
choices can depend on what ran earlier in the same session, so counts
taken inside one long session can differ between two trees for reasons
no code change made. A face's counts here depend only on the face.

Usage:
    python tools/capture_plans.py OUTDIR FACE [FACE...]

Writes ``OUTDIR/<face>.json``: the result row count, the
``perfbench.tracing.plan_nodes`` counts of the executed plan, and its
Generate and TakeOrderedAndProject node counts. Two capture dirs compare
with ``diff -r``. Data dir from SPARK_GRAFT_SF_DIR (required, e.g. the
sf0.001 testdata dir), cpus from SPARK_GRAFT_CPUS (default: the host core
count). A name that is not a registry face (``QUERIES``) stops the tool
before any application starts, naming every unknown face.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

EXTRA_NODES = ("Generate", "TakeOrderedAndProject")


def _capture(face: str, outdir: str) -> None:
    from mongo_polars_reconciliation_spark.harness.queries import QUERIES
    from mongo_polars_reconciliation_spark.session import get_spark
    from perfbench.tracing import _NODE, plan_nodes

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(f"capture_plans.{face}")
    try:
        df = QUERIES[face](spark, sf_dir)
        rows = len(df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    finally:
        spark.stop()
    names = [m.group(1) for m in map(_NODE.match, plan.splitlines()) if m]
    rec = {"face": face, "rows": rows, **plan_nodes(plan)}
    rec.update({n: names.count(n) for n in EXTRA_NODES})
    with open(os.path.join(outdir, f"{face}.json"), "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> None:
    if len(sys.argv) < 3 or "SPARK_GRAFT_SF_DIR" not in os.environ:
        raise SystemExit(__doc__)
    outdir, faces = sys.argv[1], sys.argv[2:]
    from mongo_polars_reconciliation_spark.harness.queries import QUERIES

    unknown = [f for f in faces if f not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown faces: {' '.join(unknown)}")
    os.makedirs(outdir, exist_ok=True)
    ctx = multiprocessing.get_context("spawn")
    failed = []
    for face in faces:
        p = ctx.Process(target=_capture, args=(face, outdir))
        p.start()
        p.join()
        print(f"{face}: {'ok' if p.exitcode == 0 else 'FAILED'}", flush=True)
        if p.exitcode != 0:
            failed.append(face)
    if failed:
        raise SystemExit(f"failed: {' '.join(failed)}")


if __name__ == "__main__":
    main()
