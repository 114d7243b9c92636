#!/usr/bin/env python
"""Measure recall@k of the IVF-PQ k-NN graph against the exact graph
across an (nprobe, rerank) grid — the deployment-tuning companion to
the README's multiprobe recall table.

Usage: python tools/ivfpq_recall.py [k]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01),
     SPARK_GRAFT_CPUS (default: the host core count).

Prints one JSON line per grid point:
  {"nprobe": 2, "rerank": 20, "k": 5, "avg_recall": ..., "min_recall": ...,
   "pairs_scanned_frac": ...}

``pairs_scanned_frac`` is the ADC candidate-pair count divided by the
all-pairs count — the cost axis of the trade (the exact-fold work is
additionally capped at n·rerank by the cut). Advisory tool: uses the
same fixed constants as the driver query (nlist=4, m=4, ksub=8, one
Lloyd round) so the numbers describe the shipped configuration.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mongo_polars_reconciliation_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    spark = get_spark("ivfpq_recall")
    spark.range(10).count()

    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ivf_residuals,
        kmeans_fit,
        knn_join_exact,
        knn_join_ivfpq,
        pq_fit,
        probe_assignments,
    )

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    n = emb.count()
    coarse = kmeans_fit(emb, k=4, n_iter=1)
    res = ivf_residuals(emb, coarse).localCheckpoint(eager=False)
    books = pq_fit(res, m=4, ksub=8, n_iter=1)

    truth: dict[int, set[int]] = {}
    for r in knn_join_exact(emb, k=k).collect():
        truth.setdefault(r["vec_id"], set()).add(r["neighbor_id"])

    cell_sizes = {
        r["blk"]: r["c"]
        for r in res.groupBy("blk").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    all_pairs = n * (n - 1)

    for nprobe in (1, 2, 3, 4):
        probes = probe_assignments(emb, coarse, nprobe)
        # candidate pairs = sum over probe rows of (home-cell size, minus
        # self when the probed cell is the vector's own)
        probe_rows = probes.groupBy("__blk").agg(
            F.count(F.lit(1)).alias("q")
        ).collect()
        cand_pairs = sum(
            r["q"] * cell_sizes.get(r["__blk"], 0) for r in probe_rows
        ) - n  # each vector meets itself exactly once (its home cell)
        for rerank in (k, 20, 50):
            got: dict[int, set[int]] = {}
            rows = knn_join_ivfpq(
                emb, coarse, books, k=k, nprobe=nprobe, rerank=rerank
            ).collect()
            for r in rows:
                got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
            recalls = [
                len(got.get(q, set()) & t) / len(t)
                for q, t in truth.items()
                if t
            ]
            print(
                json.dumps(
                    {
                        "nprobe": nprobe,
                        "rerank": rerank,
                        "k": k,
                        "avg_recall": round(sum(recalls) / len(recalls), 3),
                        "min_recall": round(min(recalls), 3),
                        "pairs_scanned_frac": round(cand_pairs / all_pairs, 4),
                    }
                ),
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
