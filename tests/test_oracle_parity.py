"""Mirror of the driver's correctness gate: run each declared query on Spark
AND its oracle SQL on DuckDB over the same parquet, compare row count, column
names, and order-insensitive values (exact — floats must be bit-identical by
construction, aggregates go through DECIMAL)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

# the parity sweep dominates the suite's wall time.
# It stays in the DEFAULT run (the round gate is unchanged; no test removed)
# but carries a marker so unit iterations can run `-m "not parity"` and
# finish in seconds, and a single query can be re-checked with
# `-m parity -k name`.
pytestmark = pytest.mark.parity

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize(rows, colnames):
    """Sort columns by name, then rows. Each value becomes a tagged key:
    NULL ``(0,)``, NaN ``(1,)``, any other value ``(2, v)`` (array
    elements likewise), so rows that mix NULL or NaN with numbers sort,
    and NULL still equals only NULL."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def canon(v):
        if v is None:
            return (0,)
        if isinstance(v, float) and math.isnan(v):
            return (1,)
        if isinstance(v, list):
            return (2, tuple(canon(e) for e in v))
        return (2, v)

    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert name in oracles, f"{name} has no oracle SQL (rows-only check)"
    sdf = qs[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.execute(oracles[name])
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sn, dn = normalize(spark_rows, spark_cols), normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_normalize_orders_null_apart_from_numbers():
    """Rows mixing NULL with floats and ints sort without a TypeError, and
    NULL equals only NULL: not 0, not NaN, not a value of another row."""
    nan = float("nan")
    spark_rows = [(2, None), (1, 0.5), (None, 3), (1, None), (nan, 1)]
    duck_rows = [(None, 3), (1, 0.5), (1, None), (2, None), (nan, 1)]
    sn = normalize(spark_rows, ["b", "a"])
    assert sn == normalize(duck_rows, ["b", "a"])
    assert sn == normalize(list(reversed(spark_rows)), ["b", "a"])
    assert normalize([(None,)], ["a"]) != normalize([(0,)], ["a"])
    assert normalize([(None,)], ["a"]) != normalize([(nan,)], ["a"])
    assert normalize([(1,)], ["a"]) == normalize([(1.0,)], ["a"])
    arrays = [([1.0, None],), ([1.0, 2.0],)]
    assert normalize(arrays, ["a"]) == normalize(arrays[::-1], ["a"])
    assert normalize([([None],)], ["a"]) != normalize([([0],)], ["a"])


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and df.columns == ["bucket", "n", "amount_sum"]
