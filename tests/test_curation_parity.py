"""Carrying pins for the RETIRED curation registry faces (registry
consolidation, the retired stream-face pattern).

curation_pipeline (v1), curation_pipeline_v2 and curation_pipeline_v3 are
strict rungs of the composition ladder whose top, curation_pipeline_v4,
stays a driver face, and whose every stage is an independently
driver-checked operator face (dedup_exact, dedup_minhash_lsh,
text_repetition, text_contamination, text_quality*, text_lm_score /
text_lm_buckets). Retiring the rungs from the registry therefore loses no
independently-checked MATH — but the rung COMPOSITIONS themselves stay
pinned here at FULL former-driver strength: the same Spark-vs-DuckDB
comparison (row count + column names + order-insensitive values) the
driver ran, against the same oracle SQL (kept in harness/oracles.py), at
BOTH gate scales (sf0.001, the suite's sweep scale, AND sf0.01, the
driver's gate scale) — so this pin is not weaker than the check it
replaces.
"""

import os

import duckdb
import pytest

from mongo_polars_reconciliation_spark.harness import queries as qmod
from mongo_polars_reconciliation_spark.harness.oracles import ORACLES
from test_oracle_parity import TABLES, normalize

pytestmark = pytest.mark.parity

RETIRED_CURATION_FACES = [
    "curation_pipeline",
    "curation_pipeline_v2",
    "curation_pipeline_v3",
]

# Both scales the retired faces were last driver-checked at: the pytest
# sweep scale and the driver gate scale. (The env override the main sweep
# honors is deliberately NOT honored here — the pin's strength claim is
# "both scales, every run".)
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


@pytest.mark.parametrize("name", RETIRED_CURATION_FACES)
def test_retired_curation_face_matches_oracle(spark, duck_sf, name):
    duck, sf_dir = duck_sf
    assert name not in qmod.QUERIES, (
        f"{name} is back in the registry — drop this carrying pin's "
        "retired-face list entry instead of double-checking it"
    )
    sdf = getattr(qmod, name)(spark, sf_dir)
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
