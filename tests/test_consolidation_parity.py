"""Consolidation PRE-pins for the two retire-eligible registry faces.

``sim_topk_ivf`` is the only registry exerciser of ``label_centroids`` +
the broadcast-join centroid scoring path (extensions/similarity.py — the
centroid ranking stays DISTRIBUTED, joined against the query frame);
``events_daily_rollup2`` pins hierarchical re-aggregation OF a partial
aggregate (sum-of-sums with the DECIMAL routing — the continuous-aggregate
mergeability contract). Both were judged retire-eligible ONLY behind a
full-former-strength carrying pin. This file IS that pin, landed ahead of
the retirement so a future round's consolidation is a registry-only edit:
the same Spark-vs-DuckDB comparison (row count + column names +
order-insensitive values) the driver runs, against the same oracle SQL
(harness/oracles.py), at BOTH gate scales (sf0.001 AND sf0.01) on every
suite run.

While a face is still IN the registry it sits in ``CANDIDATE_FACES``
(this pin then simply adds the driver-gate-scale check the sweep's
sf0.001 pass doesn't give it); when a round retires it, MOVE the name to
``RETIRED_FACES`` — the pin's strength is identical in both lists, the
split exists only so the registry-consistency asserts stay truthful.
"""

import duckdb
import pytest

from mongo_polars_reconciliation_spark.harness import queries as qmod
from mongo_polars_reconciliation_spark.harness.oracles import ORACLES
from test_oracle_parity import TABLES, normalize

pytestmark = pytest.mark.parity

# Still in the registry; the sweep covers sf0.001, this pin adds sf0.01.
CANDIDATE_FACES = [
    "sim_topk_ivf",
    "events_daily_rollup2",
]

# Retired from the registry; this pin is their full former-strength check.
RETIRED_FACES: list[str] = []

# registry key -> harness function name, where the two differ
FACE_FN_NAMES = {"events_daily_rollup2": "events_hourly_from_daily_rollup"}

# Deliberately NOT honoring the sweep's env override: the pin's strength
# claim is "both scales, every run" (test_curation_parity.py discipline).
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.fixture(scope="module", params=SF_DIRS, ids=["sf0.001", "sf0.01"])
def duck_sf(request):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{request.param}/{t}.parquet')"
        )
    yield con, request.param
    con.close()


def _check_face(spark, duck, sf_dir, name):
    # registry lookup first; once retired the registry key is gone, so
    # fall back to the module attribute via the alias map (a face's
    # registry key may differ from its function name)
    fn = qmod.QUERIES.get(name) or getattr(qmod, FACE_FN_NAMES.get(name, name))
    sdf = fn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}@{sf_dir}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}@{sf_dir}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sn = normalize(spark_rows, spark_cols)
    dn = normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert not mismatches, f"{name}@{sf_dir}: first mismatches {mismatches[:5]}"


@pytest.mark.parametrize("name", CANDIDATE_FACES + RETIRED_FACES)
def test_consolidation_face_matches_oracle(spark, duck_sf, name):
    duck, sf_dir = duck_sf
    if name in CANDIDATE_FACES:
        assert name in qmod.QUERIES, (
            f"{name} left the registry — move it to RETIRED_FACES so the "
            "pin records its carrying role"
        )
    else:
        assert name not in qmod.QUERIES, (
            f"{name} is back in the registry — move it to CANDIDATE_FACES "
            "instead of double-listing it"
        )
    _check_face(spark, duck, sf_dir, name)
