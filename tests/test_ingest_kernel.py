"""Direct pins for the shared ingest admission kernel. The three
families' property suites exercise these paths transitively; these unit
pins hold the kernel's own contracts so a future family port (or a
kernel edit) fails HERE first, with a message naming the violated
invariant rather than a drifted ingest result."""

from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.extensions.ingest_kernel import (
    admit_sequential,
    combined_cap_keys,
    digest_novel_keepers,
    greedy_admit,
)


def _ids(df, col="doc_id"):
    return sorted(r[col] for r in df.collect())


def test_digest_novel_keepers_min_id_and_ledger_anti(spark):
    """Min-id keeper per digest (deterministic, not order-dependent) and
    ledger exclusion: a digest already in state admits nothing, however
    many fresh copies arrive."""
    batch = spark.createDataFrame(
        [(7, "a"), (3, "a"), (5, "b"), (9, "c"), (11, "c")],
        "doc_id long, __dg string",
    )
    state = spark.createDataFrame([("c",)], "text_hash string")
    got = {
        r["doc_id"]: r["__dg"]
        for r in digest_novel_keepers(batch, state, "doc_id", "text_hash")
        .collect()
    }
    assert got == {3: "a", 5: "b"}


def test_combined_cap_keys_counts_batch_plus_state_and_keeps_batch_only(
    spark,
):
    """The cap is over batch + touched-state population per key; a key
    with NO state rows counts state as 0 (left join), and the boundary
    is inclusive (== cap survives)."""
    batch = spark.createDataFrame(
        [("k1", 1), ("k1", 2), ("k2", 3), ("k3", 4), ("k3", 5)],
        "bkey string, doc_id long",
    )
    state = spark.createDataFrame(
        [("k1", 10), ("k1", 11), ("k3", 12)], "bkey string, doc_id long"
    )
    ok = sorted(
        r["bkey"]
        for r in combined_cap_keys(batch, state, "bkey", 3).collect()
    )
    # k1: 2+2=4 > 3 dropped; k2: 1+0=1 kept; k3: 2+1=3 == cap kept
    assert ok == ["k2", "k3"]


def test_greedy_admit_is_the_sequential_rule_not_per_pair_keep_lowest(
    spark,
):
    """The chain 1-2-3: sequential arrival admits 1, rejects 2 (its
    lower neighbor 1 is admitted), then ADMITS 3 (its only lower
    neighbor 2 was never admitted). Per-pair keep-lowest would drop 3 —
    the exact counter-example shape the kernel docstring cites."""
    cand = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "lo long, hi long")
    assert _ids(greedy_admit(cand, edges, "doc_id")) == [1, 3]


def test_greedy_admit_loud_on_exhausted_rounds(spark):
    """max_iter=1 cannot settle a 2-deep chain — the guard must raise,
    never return a partial admission set."""
    import pytest

    cand = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "lo long, hi long")
    with pytest.raises(RuntimeError, match="did not converge"):
        greedy_admit(cand, edges, "doc_id", max_iter=1)


def _count_local_checkpoints(monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    calls = []
    real = DataFrame.localCheckpoint

    def counting(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counting)
    return calls


def test_greedy_admit_reads_checkpoint_leaves_as_is(spark, monkeypatch):
    """The 1-2-3 chain settles in 3 rounds, one status checkpoint each.
    Inputs that already are checkpoint leaves (what admit_sequential
    passes) get no entry checkpoint; inputs with a plan above their leaf
    get one each."""
    cand = spark.createDataFrame(
        [(1,), (2,), (3,)], "doc_id long"
    ).localCheckpoint(eager=True)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "lo long, hi long"
    ).localCheckpoint(eager=True)
    calls = _count_local_checkpoints(monkeypatch)

    assert _ids(greedy_admit(cand, edges, "doc_id")) == [1, 3]
    assert len(calls) == 3
    calls.clear()
    raw_cand = cand.where(F.col("doc_id") > 0)
    raw_edges = edges.where(F.col("lo") > 0)
    assert _ids(greedy_admit(raw_cand, raw_edges, "doc_id")) == [1, 3]
    assert len(calls) == 3 + 2


def test_admit_sequential_unpaired_pass_and_union_shape(spark):
    """Unpaired survivors admit outright; paired ones go through the
    greedy rule; the result is their union with no duplicates."""
    kept = spark.createDataFrame([(1,), (2,), (3,), (10,)], "doc_id long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "lo long, hi long")
    out = admit_sequential(kept, edges, "doc_id")
    assert _ids(out) == [1, 3, 10]
    assert out.count() == out.distinct().count()


def test_admit_sequential_empty_edges_admits_everyone(spark):
    """No verified pairs → every history-clean survivor admits (the
    common case: a batch with no internal near-dups)."""
    kept = spark.createDataFrame([(4,), (8,)], "doc_id long")
    edges = spark.createDataFrame([], "lo long, hi long")
    assert _ids(admit_sequential(kept, edges, "doc_id")) == [4, 8]
