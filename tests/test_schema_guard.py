"""Testdata schema-drift tripwire: the MICROS-vs-NANOS
events.ts drift must surface as ONE loud failure here, never as silent
1000×-shrunk timestamps downstream."""

import os

import pytest

from mongo_polars_reconciliation_spark.harness.schema_guard import (
    EXPECTED,
    assert_testdata_schema,
    check_testdata_schema,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_current_testdata_is_clean():
    assert_testdata_schema(SF_DIR)
    # and the bench-scale dir, if present
    if os.path.exists("/root/testdata/sf0.01/events.parquet"):
        assert_testdata_schema("/root/testdata/sf0.01")


def test_drifted_type_fails_loudly_naming_the_column(tmp_path):
    """Write an events file whose ts is a type the engine does NOT handle
    (plain string): the guard must raise one error naming events.ts."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    fake = tmp_path / "sfX"
    fake.mkdir()
    for t in EXPECTED:
        src = f"{SF_DIR}/{t}.parquet"
        if t == "events":
            tbl = pq.read_table(src)
            drifted = tbl.set_column(
                tbl.schema.get_field_index("ts"),
                "ts",
                pa.array([str(v) for v in tbl.column("ts").to_pylist()]),
            )
            pq.write_table(drifted, str(fake / "events.parquet"))
        else:
            shutil.copy(src, str(fake / f"{t}.parquet"))
    problems = check_testdata_schema(str(fake))
    assert len(problems) == 1 and "events.ts" in problems[0]
    with pytest.raises(AssertionError, match="events.ts"):
        assert_testdata_schema(str(fake))


def test_missing_table_reported():
    problems = check_testdata_schema("/nonexistent/sf")
    assert len(problems) == len(EXPECTED)
    assert all("file missing" in p for p in problems)


def test_readme_operator_count_matches_queries():
    """Doc-drift tripwire: the README's advertised
    operator count must equal len(QUERIES) — it went stale twice when new
    queries landed after the README edit."""
    import re

    from mongo_polars_reconciliation_spark.harness.queries import QUERIES

    readme = os.path.join(os.path.dirname(__file__), "..", "README.md")
    with open(readme) as f:
        text = f.read()
    m = re.search(r"`queries\(\)` exposes (\d+) operators", text)
    assert m, "README no longer states the operator count"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} operators but QUERIES has {len(QUERIES)} — "
        "update README.md"
    )


def test_bench_lists_reference_declared_queries():
    """Every HEADLINE/SECONDARY name in bench.py must exist in QUERIES —
    a rename would otherwise surface only as a mid-bench crash in the
    driver's per-round run (rc!=0, a whole round's bench lost)."""
    import importlib.util
    import sys

    spec = importlib.util.spec_from_file_location(
        "bench_mod", "/root/repo/bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_mod"] = mod
    spec.loader.exec_module(mod)
    from mongo_polars_reconciliation_spark.harness.queries import QUERIES

    # bench resolves names through BENCH_FNS = QUERIES + the retired
    # curation faces it deliberately keeps timing (frozen headline
    # membership) — validate against the map bench actually uses, and pin
    # that the shadow map only ever ADDS the documented retirees.
    missing = [
        n for n in mod.HEADLINE + mod.SECONDARY if n not in mod.BENCH_FNS
    ]
    assert not missing, missing
    assert set(mod.BENCH_FNS) - set(QUERIES) == {
        "curation_pipeline", "curation_pipeline_v2", "curation_pipeline_v3",
    }
    # and no duplicates (a double-timed query skews the totals)
    names = mod.HEADLINE + mod.SECONDARY
    assert len(names) == len(set(names))
