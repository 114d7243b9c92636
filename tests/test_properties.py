"""Property tests (SURVEY.md §5): randomized inputs, algebraic invariants.

- match ∪ internal-residual partitions A (every A row lands in exactly one
  bucket, by id);
- winner + losers accounts for every joined B candidate;
- re-running the exact pass on the residuals matches nothing (idempotence:
  residuals share no key tuples by construction);
- tolerance matches always satisfy |diff| ≤ ε.
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.config import (
    KeyPair,
    ReconConfig,
    ToleranceRule,
)
from mongo_polars_reconciliation_spark.operators.match import match_records
from mongo_polars_reconciliation_spark.operators.residuals import (
    residual_external,
    residual_internal,
)
from mongo_polars_reconciliation_spark.operators.tolerance import apply_tolerance
from mongo_polars_reconciliation_spark.sources.external import prepare_external

CFG = ReconConfig(
    keys=[KeyPair("code", "codigo"), KeyPair("amount", "importe", "double")]
)

# tiny alphabets force key collisions, duplicates and empty sides
_key = st.text(alphabet="ab", min_size=1, max_size=2)
_amt = st.sampled_from([1.0, 2.0, 2.5])
_rows = st.lists(st.tuples(_key, _amt), max_size=20)


def _frames(spark, ra, rb):
    a = spark.createDataFrame(
        [(str(i), k, v) for i, (k, v) in enumerate(ra)],
        "_id string, code string, amount double",
    )
    b_raw = spark.createDataFrame(
        [(i, k, str(v)) for i, (k, v) in enumerate(rb)],
        "k long, codigo string, importe string",
    )
    b = prepare_external(b_raw, CFG, row_number_col="k")
    return a, b


@settings(max_examples=6, deadline=None)
@given(ra=_rows, rb=_rows)
def test_match_residual_partition_and_idempotence(spark, ra, rb):
    a, b = _frames(spark, ra, rb)
    matched, losers = match_records(a, b, CFG)
    a_res = residual_internal(a, b, CFG)
    b_res = residual_external(b, a, CFG)

    ids_a = {r["_id"] for r in a.select("_id").collect()}
    ids_m = {r["_id"] for r in matched.select("_id").collect()}
    ids_r = {r["_id"] for r in a_res.select("_id").collect()}
    assert ids_m | ids_r == ids_a
    assert ids_m & ids_r == set()

    # every B candidate row the join consumed is either the winner of its A
    # row or returned as a loser; with the residual, all of B is accounted
    rn = CFG.ext_row_number_col
    won = {r[rn] for r in matched.select(rn).collect()}
    lost = {r[rn] for r in losers.select(rn).collect()}
    free = {r[rn] for r in b_res.select(rn).collect()}
    assert won | lost | free == {r[rn] for r in b.select(rn).collect()}

    # idempotence: the residuals share no key tuples, so a re-run matches 0
    matched2, _ = match_records(a_res, b_res, CFG)
    assert matched2.count() == 0


@settings(max_examples=4, deadline=None)
@given(ra=_rows, rb=_rows)
def test_tolerance_matches_within_epsilon(spark, ra, rb):
    a, b = _frames(spark, ra, rb)
    eps = 0.5
    matched, a_res, b_res = apply_tolerance(
        a, b, CFG, [ToleranceRule("importe", eps)]
    )
    bad = matched.where(
        F.abs(F.col("exd_importe") - F.col("amount")) > eps
    ).count()
    assert bad == 0


# --- extension-op properties -------------------------------------------------

_doc_tok = st.sampled_from(["alpha", "beta", "gamma", "delta", "x"])
_docs = st.lists(
    st.lists(_doc_tok, min_size=1, max_size=12), min_size=2, max_size=8
)


def _py_simhash(text: str) -> int:
    """Independent Python model of the engine's 64-bit SimHash (same
    constants, same fold) — two's-complement signed like Spark's long."""
    P, A1, A2 = 2147483647, 1103515245, 2654435761
    votes = [0] * 64
    for tok in text.split(" "):
        sid = 0
        for ch in tok:
            sid = (sid * 31 + (ord(ch) % P)) % P
        for k in range(64):
            h = ((sid * (A1 + k)) % P) * (A2 + k) % P
            votes[k] += 1 if h % 2 == 1 else -1
    sig = 0
    for k in range(64):
        if votes[k] > 0:
            sig |= 1 << k
    return sig - (1 << 64) if sig >= (1 << 63) else sig


@settings(max_examples=5, deadline=None)
@given(docs=_docs)
def test_simhash_blocking_finds_every_close_pair(spark, docs):
    """Engine output == brute-force all-pairs over the Python model: the
    4-block pigeonhole must lose NO pair within hamming 3 (completeness),
    and signatures must match the independent model bit-for-bit."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        simhash_near_dups,
        simhash_signatures,
    )

    texts = [" ".join(toks) for toks in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got_sigs = {
        r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()
    }
    assert got_sigs == {i: _py_simhash(t) for i, t in enumerate(texts)}

    expected = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            d = bin((got_sigs[i] ^ got_sigs[j]) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                expected[(i, j)] = d
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(df).collect()
    }
    assert got == expected


# --- as-of join vs brute force ------------------------------------------------

_uid = st.integers(min_value=1, max_value=2)
_ts = st.integers(min_value=0, max_value=4)
_ref = st.one_of(st.none(), st.integers(min_value=0, max_value=9))
_left_rows = st.lists(st.tuples(_uid, _ts), max_size=12)
_right_rows = st.lists(st.tuples(_uid, _ts, _ref), max_size=12)


@settings(max_examples=10, deadline=None)
@given(lrows=_left_rows, rrows=_right_rows)
def test_asof_join_matches_bruteforce(spark, lrows, rrows):
    """asof_join_backward vs a per-row brute-force oracle on random frames:
    equal-timestamp ties (greatest STRING tiebreak wins — pins the
    natural-type tiebreak fix), null payload fields, users with no
    candidate at all."""
    from mongo_polars_reconciliation_spark.functions.asof import asof_join_backward

    left = spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(lrows)],
        "lid long, user_id long, ts long",
    )
    right = spark.createDataFrame(
        [(u, t, r, f"t{i:02d}") for i, (u, t, r) in enumerate(rrows)],
        "user_id long, ts long, ref long, tag string",
    )
    out = asof_join_backward(
        left, right, on=["user_id"], ts_col="ts",
        payload_cols=["ref", "tag"], tiebreak_col="tag",
    )
    got = {r["lid"]: (r["ref"], r["tag"]) for r in out.collect()}

    expected = {}
    rseq = [(u, t, r, f"t{i:02d}") for i, (u, t, r) in enumerate(rrows)]
    for i, (u, t) in enumerate(lrows):
        cands = [(rt, tag, ref) for (ru, rt, ref, tag) in rseq
                 if ru == u and rt <= t]
        if cands:
            _, tag, ref = max(cands)
            expected[i] = (ref, tag)
        else:
            expected[i] = (None, None)

    assert len(got) == len(lrows)  # every left row survives exactly once
    assert got == expected


# --- connected components: star variant vs propagation ------------------------

_node = st.integers(min_value=0, max_value=9)
_edges = st.lists(st.tuples(_node, _node), max_size=15)


@settings(max_examples=8, deadline=None)
@given(edges=_edges)
def test_cc_star_equals_propagation(spark, edges):
    """dedup_clusters_star (large-star/small-star, O(log n) rounds) must
    produce the identical min-label fixpoint as the per-hop propagation
    variant on arbitrary graphs — self-loops, duplicate edges, singletons,
    multi-component."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    prop = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs, ids).collect()}
    star = {r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters_star(pairs, ids).collect()}
    assert star == prop


def test_cc_star_long_chain(spark):
    """A 12-node path (diameter 11): the star variant must reach the full
    fixpoint in far fewer than diameter rounds (O(log n))."""
    from mongo_polars_reconciliation_spark.extensions.dedup import dedup_clusters_star

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup_clusters_star(pairs, ids, max_iter=8).collect()}
    assert got == {i: 0 for i in range(12)}


# --- mix_epochs / duplicate_spans vs Python models ----------------------------


def _py_poly_hash_mixed(s: str, p: int = 2147483647, a: int = 2654435761) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + (ord(ch) % p)) % p
    return (h * a) % p


def test_mix_epochs_matches_python_model(spark):
    """Every document's copy count must equal the independent Python mirror
    of floor(w) + (mixed_hash % denom < frac(w)·denom), and the output is
    exactly 1..n_copies per doc."""
    from mongo_polars_reconciliation_spark.extensions.text import mix_epochs

    rows = [(i, ["en", "es", "zz"][i % 3]) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    weights = {"en": 2.5, "es": 1.25}
    out = mix_epochs(df, "lang", weights, default_weight=0.5).collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append(r["epoch"])
    for i, lang in rows:
        w = weights.get(lang, 0.5)
        extra = 1 if _py_poly_hash_mixed(str(i)) % 10000 < round((w - int(w)) * 10000) else 0
        n = int(w) + extra
        if n == 0:
            assert i not in got
        else:
            assert sorted(got[i]) == list(range(1, n + 1)), (i, lang, n)


def test_duplicate_spans_matches_bruteforce(spark):
    """dup-span fractions vs a brute-force Python model over distinct
    8-token windows (cross-document df >= 2 rule)."""
    from mongo_polars_reconciliation_spark.extensions.text import duplicate_spans

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = {
        1: base,                           # 3 windows, all shared with 2
        2: base,                           # exact copy
        3: "one two three four five six seven eight " + base,  # contains base
        4: "completely different words here so that nothing matches at all",
        5: "short doc",                    # < 8 tokens: absent from output
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    wins = {
        i: {" ".join(t.split()[j:j + 8]) for j in range(len(t.split()) - 7)}
        for i, t in texts.items() if len(t.split()) >= 8
    }
    expect = {}
    for i, ws in wins.items():
        dup = sum(
            1 for w in ws
            if any(w in ws2 for j, ws2 in wins.items() if j != i)
        )
        expect[i] = (len(ws), dup)
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
        for r in duplicate_spans(df, n=8).collect()
    }
    assert got == expect


def test_multiprobe_candidates_superset_of_single_probe(spark):
    """Multi-probe blocking must only ADD candidates: with k large enough
    to return every scored pair, the (id, neighbor) set at nprobe=2 is a
    superset of nprobe=1 (probe sets are nested — top-2 clusters contain
    the top-1), and the shared pairs carry identical scores. Clustered
    points with a deliberate boundary-straddler make the inclusion
    strict."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        knn_join_multiprobe,
    )

    rows = [
        (0, [0.2, 0.1]),
        (1, [0.1, 0.0]),
        (2, [10.0, 10.0]),
        (3, [10.1, 10.0]),
        (4, [5.2, 5.2]),   # straddler: nearest cluster differs from 2nd
        (5, [4.9, 4.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(nprobe):
        out = knn_join_multiprobe(emb, k=100, nprobe=nprobe, nlist=3, n_iter=2)
        return {
            (r["vec_id"], r["neighbor_id"]): r["cos_r"] for r in out.collect()
        }

    p1, p2 = pairs(1), pairs(2)
    assert set(p1) <= set(p2)
    assert set(p1) != set(p2)  # the straddler meets its cross-border kin
    for key in p1:
        assert p1[key] == p2[key]
    # symmetry: blocking by shared clusters is symmetric in the pair
    assert all((b, a) in p2 for (a, b) in p2)


def _py_fold_dot(a, b):
    """Driver-side left fold ``((0.0 + a0*b0) + a1*b1) + ...``."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _py_nearest(v, cents, nprobe):
    """Driver-side reference for the assignment kernel: left-fold squared
    distances (``_lut_sqdists``), then the ``nprobe`` smallest by
    (distance, cid)."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        _lut_sqdists,
    )

    dists = zip(_lut_sqdists(v, cents), range(len(cents)))
    return [cid for _, cid in sorted(dists)[:nprobe]]


@settings(max_examples=5, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False, width=64,
            ),
            min_size=4, max_size=4,
        ),
        min_size=2, max_size=8,
    )
)
def test_arrow_kernels_bit_identical_to_expression_path(spark, vecs):
    """The Arrow pair-dot and centroid-assignment kernels must produce the
    EXACT doubles of a driver-side pure-Python left fold (same IEEE op
    order) — ``repr``-exact on random vectors — and the (distance, cid)
    argmin of the same fold, for both single and multi-probe
    assignment."""
    import mongo_polars_reconciliation_spark.extensions.similarity as sim

    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    pairs = (
        emb.alias("a")
        .crossJoin(emb.alias("b"))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            F.col("a.embedding").alias("va"),
            F.col("b.embedding").alias("vb"),
        )
    )
    cents = [vecs[0], vecs[len(vecs) // 2], vecs[-1]]

    dots = {
        (r[0], r[1]): r[2]
        for r in pairs.select(
            "ia", "ib", sim._pair_dot(F.col("va"), F.col("vb"))
        ).collect()
    }
    want_dots = {
        (i, j): _py_fold_dot(a, b)
        for i, a in enumerate(vecs)
        for j, b in enumerate(vecs)
    }
    # exact, unrounded — repr distinguishes every double bit pattern
    assert {k: repr(v) for k, v in dots.items()} == {
        k: repr(v) for k, v in want_dots.items()
    }

    blocks = sorted(
        map(
            tuple,
            sim.probe_assignments(emb, cents, nprobe=2)
            .select("vec_id", "__blk")
            .collect(),
        )
    )
    assert blocks == sorted(
        (i, cid) for i, v in enumerate(vecs) for cid in _py_nearest(v, cents, 2)
    )
    assign = dict(
        emb.select(
            "vec_id", sim.cluster_assign(F.col("embedding"), cents)
        ).collect()
    )
    assert assign == {i: _py_nearest(v, cents, 1)[0] for i, v in enumerate(vecs)}


@settings(max_examples=5, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", "g3"]),
            st.floats(
                min_value=-1e3, max_value=1e3,
                allow_nan=False, allow_infinity=False, width=32,
            ),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_histogram_merge_equals_global_random(spark, rows):
    """Randomized histogram mergeability: per-group partials over shared
    global edges sum to the full-scan bin counts exactly, on every bin,
    for arbitrary group assignments and values (incl. all-equal values,
    the hi==lo degenerate bin)."""
    from mongo_polars_reconciliation_spark.operators.summary import (
        histogram_merge_check,
    )

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "grp string, val double"
    )
    got = histogram_merge_check(df, "val", "grp", bins=8).collect()
    assert got, "no bins produced"
    assert sum(r["cnt_global"] for r in got) == len(rows)
    for r in got:
        assert r["cnt_merged"] == r["cnt_global"], r


def test_ngram_novelty_credits_each_gram_once(spark):
    """Novelty bookkeeping: every distinct gram is credited to exactly one
    document (its min id), so sum(n_novel) == |distinct grams| and an
    exact copy of an earlier doc scores zero novel grams."""
    from mongo_polars_reconciliation_spark.extensions.text import ngram_novelty

    docs = [
        (1, "a b c d e"),
        (2, "c d e f g"),
        (3, "a b c d e"),   # exact copy of doc 1 → 0 novel
        (4, "x y z w v"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in ngram_novelty(df, n=3).collect()}
    distinct_grams = set()
    for _, text in docs:
        t = text.split(" ")
        distinct_grams |= {
            " ".join(t[i : i + 3]) for i in range(len(t) - 2)
        }
    assert sum(r["n_novel"] for r in got.values()) == len(distinct_grams)
    assert got[3]["n_novel"] == 0
    assert got[1]["n_novel"] == got[1]["n_grams"]  # first doc: all novel


def test_leakage_safe_split_never_straddles(spark):
    """The defining invariant: all docs sharing a text share a split, and
    the per-doc hash split DOES straddle on the same corpus (the bug this
    operator removes) — checked on a corpus sized so straddling occurs."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        leakage_safe_split,
    )
    from mongo_polars_reconciliation_spark.functions.hashing import (
        poly_hash_mixed_col,
    )

    # 200 texts, each duplicated under two ids far apart
    rows = [(i, f"text number {i % 200}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(df).collect()
    by_text = {}
    for r in out:
        by_text.setdefault(r["rep_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_text.values())
    # the naive per-doc split straddles at least one duplicate group
    h = F.pmod(poly_hash_mixed_col("doc_id"), F.lit(100))
    naive = df.select(
        (F.col("doc_id") % 200).alias("grp"),
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test").alias(
            "split"
        ),
    ).collect()
    naive_groups = {}
    for r in naive:
        naive_groups.setdefault(r["grp"], set()).add(r["split"])
    assert any(len(s) > 1 for s in naive_groups.values())


def test_cluster_safe_split_keeps_near_dups_together(spark):
    """Near-dup-safe split invariant: two documents in the same connected
    component (here: near-identical texts that minhash pairs up) always
    receive the same split, and every cluster member shares the cluster's
    bucket."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        dedup_clusters,
        minhash_near_dups,
    )
    from mongo_polars_reconciliation_spark.extensions.text import (
        cluster_safe_split,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base),
        (2, base + " lambda"),          # near-dup of 1
        (3, "one two three four five six seven eight nine ten"),
        (4, "completely different words about completely other things yes"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = minhash_near_dups(df, hash_mode="poly")
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    out = {
        r["doc_id"]: (r["cluster_id"], r["split"], r["bucket"])
        for r in cluster_safe_split(
            dedup_clusters(pairs, df.select("doc_id"))
        ).collect()
    }
    assert out[1] == out[2]  # same cluster -> same bucket and split
    by_cluster = {}
    for cid, split, bucket in out.values():
        by_cluster.setdefault(cid, set()).add((split, bucket))
    assert all(len(s) == 1 for s in by_cluster.values())


def test_source_overlap_merges_across_partitions(spark):
    """source_overlap mergeability: computing the matrix over the union of
    two corpus partitions equals recounting from scratch — distinct-union
    then recount, the partial-aggregation shape the docstring claims."""
    from mongo_polars_reconciliation_spark.extensions.dedup import source_overlap

    rows = [
        (1, "shared text one", "a"),
        (2, "shared text one", "b"),
        (3, "shared text two", "a"),
        (4, "shared text two", "c"),
        (5, "only in a", "a"),
        (6, "shared text one", "c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    whole = {
        (r["source_a"], r["source_b"]): r["n_shared"]
        for r in source_overlap(df).collect()
    }
    part = df.where(F.col("doc_id") <= 3).unionByName(
        df.where(F.col("doc_id") > 3)
    )
    merged = {
        (r["source_a"], r["source_b"]): r["n_shared"]
        for r in source_overlap(part).collect()
    }
    assert whole == merged == {("a", "b"): 1, ("a", "c"): 2, ("b", "c"): 1}


def test_bloom_decontaminate_no_false_negatives(spark):
    """Bloom decontamination's one-sided error: every gram the EXACT
    contamination probe counts is also flagged by the filter, per doc
    (n_flagged >= hit_ngrams, and every exactly-contaminated doc appears).
    A tiny m forces false positives, which must only ever ADD flags."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        bloom_decontaminate,
        contamination_probe,
    )

    docs = [
        (1, "a b c d e f g h"),
        (2, "a b c x y z q r"),
        (3, "m n o p q r s t"),
        (4, "zz yy xx ww vv uu tt ss"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bench = df.where(F.col("doc_id") == 1)
    exact = {
        r["doc_id"]: r["hit_ngrams"]
        for r in contamination_probe(df, bench, n=3).collect()
    }
    flagged = {
        r["doc_id"]: r["n_flagged"]
        for r in bloom_decontaminate(
            df, bench, n=3, m_bits=16, k_hashes=2
        ).collect()
    }
    assert set(exact) <= set(flagged)
    for d, hits in exact.items():
        assert flagged[d] >= hits, (d, flagged[d], hits)


def test_auto_nlist_preserves_nesting_and_scales(spark):
    """nlist="auto" (VERDICT r6 #3): the resolved value is
    ceil(n/target_block_rows), the fitted pipeline accepts it, and the
    candidate-nesting invariant (nprobe=2 ⊇ nprobe=1, shared scores
    identical) holds under auto-resolution exactly as with a pinned
    nlist."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        auto_nlist,
        knn_join_multiprobe,
        semantic_dedup_fitted,
    )

    rows = [
        (0, [0.2, 0.1]),
        (1, [0.1, 0.0]),
        (2, [10.0, 10.0]),
        (3, [10.1, 10.0]),
        (4, [5.2, 5.2]),
        (5, [4.9, 4.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # 6 rows / target 2 = 3 blocks; target 1024 degrades to 1 block
    assert auto_nlist(emb, target_block_rows=2) == 3
    assert auto_nlist(emb, target_block_rows=1024) == 1

    def pairs(nprobe):
        out = knn_join_multiprobe(
            emb, k=100, nprobe=nprobe, nlist="auto",
            target_block_rows=2, n_iter=2,
        )
        return {
            (r["vec_id"], r["neighbor_id"]): r["cos_r"] for r in out.collect()
        }

    p1, p2 = pairs(1), pairs(2)
    assert set(p1) <= set(p2)
    for key in p1:
        assert p1[key] == p2[key]
    # auto == pinned when the resolved value matches the pin
    pinned = knn_join_multiprobe(emb, k=100, nprobe=2, nlist=3, n_iter=2)
    assert p2 == {
        (r["vec_id"], r["neighbor_id"]): r["cos_r"] for r in pinned.collect()
    }
    # the dedup variant accepts auto too and returns a sane survivor set
    kept = {
        r["vec_id"]
        for r in semantic_dedup_fitted(
            emb, threshold=0.999, nprobe=2, nlist="auto",
            target_block_rows=2, n_iter=1,
        ).collect()
    }
    assert 0 in kept and kept <= {0, 1, 2, 3, 4, 5}


def test_trim_duplicate_spans_matches_bruteforce(spark):
    """Trimmed token sets vs a brute-force Python model: covered = any
    position inside a window occurring in >= 2 distinct docs; survivors
    keep original order (md5 of the joined remainder)."""
    import hashlib

    from mongo_polars_reconciliation_spark.extensions.text import (
        trim_duplicate_spans,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = {
        1: base,                                                   # fully covered
        2: base,                                                   # exact copy
        3: "one two three four five six seven eight nine " + base,  # tail covered
        4: "completely different words here so that nothing matches at all",
        5: "short doc",                                            # < 8 tokens
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    n = 8
    wins = {
        i: [" ".join(t.split()[j:j + n]) for j in range(len(t.split()) - n + 1)]
        for i, t in texts.items()
    }
    dup = {
        w
        for i, ws in wins.items()
        for w in ws
        if any(w in set(ws2) for j, ws2 in wins.items() if j != i)
    }
    expect = {}
    for i, t in texts.items():
        toks = t.split()
        covered = set()
        for j, w in enumerate(wins[i]):
            if w in dup:
                covered.update(range(j, j + n))
        kept = [tk for p, tk in enumerate(toks) if p not in covered]
        expect[i] = (
            len(toks),
            len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["trimmed_md5"])
        for r in trim_duplicate_spans(df, n=n).collect()
    }
    assert got == expect
    # and the measurement/removal contract: a doc loses tokens here iff
    # duplicate_spans scores it n_dup_windows > 0
    from mongo_polars_reconciliation_spark.extensions.text import duplicate_spans

    dsp = {
        r["doc_id"]: r["n_dup_windows"] for r in duplicate_spans(df, n=n).collect()
    }
    for i in dsp:
        assert (dsp[i] > 0) == (got[i][1] < got[i][0]), i


def test_cms_heavy_hitters_matches_python_model(spark):
    """CMS estimates vs an independent Python sketch (same mixed hash, same
    bucket derivation): exact equality per counter, plus the sketch's
    defining invariant — estimates NEVER undercount — and exactness for
    tokens with collision-free buckets in some row."""
    from collections import Counter

    from mongo_polars_reconciliation_spark.extensions.text import heavy_hitters_cms

    docs = [
        (1, "a a a b b c d e f g"),
        (2, "a b b b c c d h i j"),
        (3, "k l m n o p q r s t"),
        (4, "a a b c k k k l l m"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    d, w, k, p = 3, 8, 10, 2147483647  # tiny w forces collisions
    toks = [t for _, s in docs for t in s.split(" ")]
    exact = Counter(toks)

    def bucket(tok, j):
        # Kirsch-Mitzenmacher rows: h1 mod p, h2 the same fold mod a second
        # prime (functions/hashing.py:POLY_P31B — r8 fix: the reversed-token
        # h2 collapsed to h1 for palindromic/1-char tokens)
        return (
            (_py_poly_hash_mixed(tok) + j * _py_poly_hash_mixed(tok, p=2147483629)) % p
        ) % w

    counters = [Counter() for _ in range(d)]
    for t in toks:
        for j in range(d):
            counters[j][bucket(t, j)] += 1

    topk = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    expect = {
        tok: (n, min(counters[j][bucket(tok, j)] for j in range(d)))
        for tok, n in topk
    }
    got = {
        r["tok"]: (r["n_exact"], r["n_cms"])
        for r in heavy_hitters_cms(df, d=d, w=w, k=k).collect()
    }
    assert got == expect
    assert all(cms >= n for n, cms in got.values())  # never undercounts


@settings(max_examples=5, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc", "d", "ee"]), min_size=1, max_size=10),
        min_size=1, max_size=6,
    )
)
def test_cms_never_undercounts_random(spark, docs):
    """Randomized CMS invariant: for every reported heavy hitter the
    estimate is >= the exact count, and exact counts match a Python
    Counter. w=4 forces heavy collisions."""
    from collections import Counter

    from mongo_polars_reconciliation_spark.extensions.text import heavy_hitters_cms

    texts = [" ".join(toks) for toks in docs]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    exact = Counter(t for s in texts for t in s.split(" "))
    rows = heavy_hitters_cms(df, d=2, w=4, k=50).collect()
    assert {r["tok"]: r["n_exact"] for r in rows} == dict(
        sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    )
    for r in rows:
        assert r["n_cms"] >= r["n_exact"], r


@settings(max_examples=5, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.lists(
                st.sampled_from(["a", "bb", "ccc", "d", "ee"]),
                min_size=1,
                max_size=8,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_cms_merge_equals_global_random(spark, docs):
    """Randomized CMS mergeability: per-source partial sketches summed
    counter-by-counter equal the global full-scan sketch exactly, on every
    (j, b) cell, for arbitrary source assignments."""
    from mongo_polars_reconciliation_spark.extensions.text import cms_merge_check

    df = spark.createDataFrame(
        [(i, " ".join(toks), src) for i, (src, toks) in enumerate(docs)],
        "doc_id long, text string, source string",
    )
    rows = cms_merge_check(df, d=2, w=4).collect()
    assert rows, "sketch produced no counters"
    for r in rows:
        assert r["cnt_merged"] == r["cnt_global"], r


@settings(max_examples=5, deadline=None)
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
        ).filter(lambda v: v != (0, 0)),
        min_size=2, max_size=8,
    )
)
def test_multiprobe_superset_random(spark, vecs):
    """Randomized multiprobe nesting: for ANY corpus, the scored candidate
    pair set at nprobe=2 contains the nprobe=1 set with identical shared
    scores (k large enough to return every scored pair)."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        knn_join_multiprobe,
    )

    emb = spark.createDataFrame(
        [(i, [float(x), float(y)]) for i, (x, y) in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )

    def pairs(nprobe):
        out = knn_join_multiprobe(emb, k=100, nprobe=nprobe, nlist=3, n_iter=1)
        return {(r["vec_id"], r["neighbor_id"]): r["cos_r"] for r in out.collect()}

    p1, p2 = pairs(1), pairs(2)
    assert set(p1) <= set(p2)
    for key in p1:
        assert p1[key] == p2[key]


def test_assignment_kernel_chunk_merge_parity(spark):
    """The assignment kernel vectorizes across centroid CHUNKS and merges
    per-chunk top-nprobe candidates. With the chunk shrunk to 2, a
    7-centroid assignment exercises multiple merge rounds — results must
    be identical to the unchunked kernel AND the driver-side
    (distance, cid) reference, including tie-breaks (duplicate centroids
    force exact distance ties across chunk boundaries)."""
    import mongo_polars_reconciliation_spark.extensions.similarity as sim

    vecs = [
        [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.5, 0.5, 0.0, 0.0],
        [0.9, 0.1, 0.2, 0.0], [0.0, 0.0, 1.0, 0.0],
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    # duplicate centroids (cids 1 and 5 identical, 2 and 6 identical):
    # every vector ties exactly on them, and the ties straddle chunks
    cents = [vecs[0], vecs[1], vecs[2], vecs[3], vecs[4], vecs[1], vecs[2]]

    def probes(nprobe):
        return sorted(
            map(tuple,
                sim.probe_assignments(emb, cents, nprobe=nprobe)
                .select("vec_id", "__blk").collect())
        )

    saved_chunk = sim._ASSIGN_CHUNK
    try:
        sim._ASSIGN_CHUNK = 2
        chunked = [probes(1), probes(2), probes(3)]
        sim._ASSIGN_CHUNK = 1024
        unchunked = [probes(1), probes(2), probes(3)]
    finally:
        sim._ASSIGN_CHUNK = saved_chunk
    reference = [
        sorted(
            (i, cid)
            for i, v in enumerate(vecs)
            for cid in _py_nearest(v, cents, nprobe)
        )
        for nprobe in (1, 2, 3)
    ]
    assert chunked == unchunked == reference


def _py_bpe(word_counts, n_merges):
    """Independent Python BPE reference: weighted pair counts, best pair by
    (count DESC, lhs, rhs), leftmost-non-overlapping merge application."""
    from collections import Counter

    segs = {w: [tuple(w), c] for w, c in word_counts.items()}
    out = []
    for rank in range(1, n_merges + 1):
        stats = Counter()
        for syms, c in segs.values():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += c
        if not stats:
            break
        (l, r), cnt = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((rank, l, r, l + r, cnt))
        for w, (syms, c) in segs.items():
            acc = []
            for s in syms:
                if acc and acc[-1] == l and s == r:
                    acc[-1] = l + r
                else:
                    acc.append(s)
            segs[w] = [tuple(acc), c]
    return out


def test_bpe_merge_fit_matches_python_model(spark):
    """The distributed BPE loop must equal an independent Python trainer
    exactly — ranks, chosen pairs, merged symbols, and weighted counts —
    on a corpus engineered with repeats, ties (broken lexicographically),
    and multi-round chain merges ('aaaa' exercising leftmost
    non-overlapping application)."""
    from collections import Counter

    from mongo_polars_reconciliation_spark.extensions.text import bpe_merge_fit

    docs = [
        (1, "aaaa aaa banana bandana"),
        (2, "banana aaaa cab cab"),
        (3, "abc abc cab dada"),
    ]
    wc = Counter(t for _, s in docs for t in s.split(" ") if t)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [tuple(r) for r in bpe_merge_fit(df, n_merges=6).collect()]
    assert got == _py_bpe(wc, 6)
    # monotonicity: a merge can create new pairs occurring at most as
    # often as the pair just merged, so chosen counts never increase
    counts = [g[4] for g in got]
    assert counts == sorted(counts, reverse=True)


def test_bpe_merge_counts_monotone_on_corpus(spark):
    """Merge-monotonicity on the real documents table (sf0.001): round
    k+1's chosen pair count never exceeds round k's."""
    from mongo_polars_reconciliation_spark.extensions.text import bpe_merge_fit

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = bpe_merge_fit(df, n_merges=5).orderBy("merge_rank").collect()
    assert len(rows) == 5
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_bpe_encode_stats_consistent_with_fit(spark):
    """Encode-side invariants: every doc's bpe_tokens is between
    ws_tokens (full merge of every token to one symbol) and chars (no
    merges applied); a corpus whose best pairs were fully merged
    compresses accordingly vs an independent Python re-encode."""
    from collections import Counter

    from mongo_polars_reconciliation_spark.extensions.text import (
        bpe_encode_stats,
        bpe_merge_fit,
    )

    docs = [(1, "aaaa aaa banana"), (2, "banana aaaa cab"), (3, "abc cab dada")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = [(r["lhs"], r["rhs"]) for r in bpe_merge_fit(df, 4).collect()]

    def py_encode(tok):
        syms = list(tok)
        for l, r in merges:
            acc = []
            for s in syms:
                if acc and acc[-1] == l and s == r:
                    acc[-1] = l + r
                else:
                    acc.append(s)
            syms = acc
        return len(syms)

    got = {r["doc_id"]: r for r in bpe_encode_stats(df, 4).collect()}
    for did, text in docs:
        toks = [t for t in text.split(" ") if t]
        r = got[did]
        assert r["ws_tokens"] == len(toks)
        assert r["chars"] == sum(len(t) for t in toks)
        assert r["bpe_tokens"] == sum(py_encode(t) for t in toks)
        assert r["ws_tokens"] <= r["bpe_tokens"] <= r["chars"]


def test_cms_rows_independent_for_palindromic_tokens(spark):
    """r8 h2 pin: with h2 derived from the reversed token (the r7 design),
    every palindromic token — including ALL 1-char tokens — had h1 == h2,
    so its d bucket rows were affine transforms of one hash (g_j =
    h1·(1+j) mod p mod w) and row-independence vanished for that key
    class. With the second-prime h2, a palindrome's d rows must NOT be
    the degenerate affine family, and two 1-char tokens colliding in one
    row must not collide in all rows (checked over the full single-char
    alphabet: at least one pair separates in some other row)."""
    from mongo_polars_reconciliation_spark.extensions.text import heavy_hitters_cms

    alphabet = [chr(c) for c in range(ord("a"), ord("z") + 1)]
    # each 1-char token appears a distinct number of times so exact counts
    # identify them; w small enough to force same-row collisions
    docs = [(i, " ".join([t] * (i + 1))) for i, t in enumerate(alphabet)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    d, w = 3, 8
    rows = heavy_hitters_cms(df, d=d, w=w, k=len(alphabet)).collect()
    est = {r["tok"]: (r["n_exact"], r["n_cms"]) for r in rows}
    assert len(est) == len(alphabet)
    # invariant: never undercounts
    assert all(cms >= n for n, cms in est.values())
    # the discriminating check: under the old h1==h2 family, any two
    # tokens with h1 ≡ h1' (mod structure) collided in EVERY row, making
    # n_cms equal for colliding groups across all rows. Recompute the
    # bucket family in Python (second-prime h2) and assert some pair of
    # tokens shares a row-0 bucket but separates in another row — the
    # property the old family could not deliver for palindromes.
    p1, p2, a = 2147483647, 2147483629, 2654435761

    def h(tok, p):
        v = 0
        for ch in tok:
            v = (v * 31 + (ord(ch) % p)) % p
        return (v * a) % p

    def bucket(tok, j):
        return ((h(tok, p1) + j * h(tok, p2)) % p1) % w

    separated = False
    for i, t1 in enumerate(alphabet):
        for t2 in alphabet[i + 1:]:
            if bucket(t1, 0) == bucket(t2, 0) and any(
                bucket(t1, j) != bucket(t2, j) for j in range(1, d)
            ):
                separated = True
    assert separated, "no colliding pair separates — rows are not independent"
    # and the engine's estimates agree with this Python family exactly
    from collections import Counter

    counters = [Counter() for _ in range(d)]
    for i, t in enumerate(alphabet):
        for j in range(d):
            counters[j][bucket(t, j)] += i + 1
    for i, t in enumerate(alphabet):
        expect = min(counters[j][bucket(t, j)] for j in range(d))
        assert est[t] == (i + 1, expect), t


def test_fixed_k_sample_merge_and_prefilter(spark):
    """Fixed-size per-stratum sample invariants: (1) exactly k rows per
    stratum with ranks 1..k (fewer only for small strata); (2) KMV
    mergeability — the sample of the union equals the k-min re-merge of
    per-part samples; (3) the prefilter fast path returns the identical
    rows when the threshold keeps a superset of the winners."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        sample_fixed_per_stratum,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    k = 5
    full = sample_fixed_per_stratum(docs, "source", k)
    rows = full.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["sample_rank"])
    sizes = {r["source"]: r["n"] for r in
             docs.groupBy("source").agg(__import__("pyspark").sql.functions
                                        .count("*").alias("n")).collect()}
    for src, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, min(k, sizes[src]) + 1)), src

    # (2) mergeability: sample(part0) ∪ sample(part1) re-sampled == full
    p0 = docs.where("doc_id % 2 = 0")
    p1 = docs.where("doc_id % 2 = 1")
    partial = sample_fixed_per_stratum(p0, "source", k).unionByName(
        sample_fixed_per_stratum(p1, "source", k)
    )
    remerged = sample_fixed_per_stratum(
        docs.join(
            partial.select("doc_id"), "doc_id"
        ),
        "source", k,
    )
    want = sorted((r["source"], r["doc_id"], r["sample_rank"]) for r in rows)
    got = sorted((r["source"], r["doc_id"], r["sample_rank"])
                 for r in remerged.collect())
    assert got == want

    # (3) prefilter equivalence with a generous threshold
    pre = sample_fixed_per_stratum(docs, "source", k, prefilter_frac=0.5)
    got2 = sorted((r["source"], r["doc_id"], r["sample_rank"])
                  for r in pre.collect())
    assert got2 == want


def test_bigram_lm_score_matches_python_model(spark):
    """Integer-exact bigram-LM scores equal an independent Python mirror
    (corpus bigram counts -> floor-scaled conditional probabilities ->
    per-doc floor mean), including single-token docs being absent."""
    from collections import Counter

    from mongo_polars_reconciliation_spark.extensions.text import bigram_lm_scores

    docs = [(1, "a b a b c"), (2, "a b"), (3, "c c c"), (4, "solo")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    scale = 1_000_000
    bg, pre = Counter(), Counter()
    per_doc = {}
    for did, text in docs:
        toks = text.split(" ")
        pairs = list(zip(toks, toks[1:]))
        per_doc[did] = pairs
        for p in pairs:
            bg[p] += 1
            pre[p[0]] += 1
    expect = {}
    for did, pairs in per_doc.items():
        if not pairs:
            continue
        tot = sum(bg[p] * scale // pre[p[0]] for p in pairs)
        expect[did] = (len(pairs), tot // len(pairs))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["lm_score_q"])
        for r in bigram_lm_scores(df).collect()
    }
    assert got == expect
    assert 4 not in got  # no bigrams -> absent


def test_bpe_segmentation_is_lossless(spark):
    """Whatever merges are learned, every word's final symbol sequence
    must concatenate back to the word exactly (BPE is a segmentation,
    never a rewrite) — on the real corpus vocabulary."""
    from pyspark.sql import functions as F

    from mongo_polars_reconciliation_spark.extensions.text import _bpe_fit

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    _, vocab = _bpe_fit(df, 5, "text")
    bad = vocab.where(
        F.concat_ws("", F.col("syms")) != F.col("tok")
    ).count()
    assert bad == 0


@settings(max_examples=5, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["ab", "aba", "abab", "ba", "a", "bb"]),
                 min_size=1, max_size=6),
        min_size=1, max_size=6,
    )
)
def test_bpe_merge_fit_matches_python_model_random(spark, docs):
    """Randomized BPE: for ANY small corpus the distributed trainer's
    merge table equals the independent Python trainer exactly — including
    tie-heavy corpora (the token alphabet is built from a/b only, so
    equal pair counts and palindromes are the common case, exercising
    the lexicographic tie-break and leftmost-non-overlapping fold)."""
    from collections import Counter

    from mongo_polars_reconciliation_spark.extensions.text import bpe_merge_fit

    texts = [" ".join(toks) for toks in docs]
    wc = Counter(t for s in texts for t in s.split(" ") if t)
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = [tuple(r) for r in bpe_merge_fit(df, n_merges=4).collect()]
    assert got == _py_bpe(wc, 4)


@settings(max_examples=5, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 60), st.sampled_from(["s0", "s1", "s2"])),
        min_size=1, max_size=40, unique_by=lambda t: t[0],
    ),
    k=st.integers(1, 4),
)
def test_fixed_k_sample_matches_python_model_random(spark, rows, k):
    """Randomized fixed-k sampling: the selected ids per stratum are
    exactly the k smallest (mixed_hash(id), id) pairs of that stratum,
    per the independent Python mirror of the hash."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        sample_fixed_per_stratum,
    )

    df = spark.createDataFrame(
        [(i, s, "t") for i, s in rows], "doc_id long, source string, text string"
    )
    got = {}
    for r in sample_fixed_per_stratum(df, "source", k).collect():
        got.setdefault(r["source"], []).append((r["sample_rank"], r["doc_id"]))
    expect = {}
    for i, s in rows:
        expect.setdefault(s, []).append((_py_poly_hash_mixed(str(i)), i))
    for s, hs in expect.items():
        want_ids = [i for _, i in sorted(hs)[:k]]
        got_ids = [i for _, i in sorted(got.get(s, []))]
        assert got_ids == want_ids, s


@settings(max_examples=5, deadline=None)
@given(
    batch1=st.lists(st.sampled_from(["x", "y", "z", "w", ""]), min_size=0, max_size=6),
    batch2=st.lists(st.sampled_from(["x", "y", "z", "w", "", "v"]), min_size=1, max_size=8),
)
def test_ingest_novel_matches_python_set_model_random(spark, batch1, batch2):
    """Randomized incremental ingest: novel keepers of batch 2 are
    exactly {min id per batch-2 text} minus texts seen in batch 1, per a
    plain Python set/dict model."""
    from mongo_polars_reconciliation_spark.extensions.dedup import ingest_novel

    b1 = spark.createDataFrame(
        list(enumerate(batch1)) or [(0, None)],
        "doc_id long, text string",
    ) if batch1 else spark.createDataFrame([], "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(batch2)], "doc_id long, text string"
    )
    empty = spark.createDataFrame([], "text_hash string")
    state1 = ingest_novel(b1, empty) if batch1 else empty
    got = sorted(r["doc_id"] for r in ingest_novel(b2, state1).collect())
    seen = set(batch1)
    keeper = {}
    for i, t in enumerate(batch2):
        keeper.setdefault(t, 100 + i)
    expect = sorted(v for t, v in keeper.items() if t not in seen)
    assert got == expect


def test_quality_gate_adaptive_matches_python_model(spark):
    """Adaptive gate vs Python mirror on the real corpus: cutoff is the
    k-th smallest (quality_r, doc_id) with k = ceil(n*permille/1000) in
    integer arithmetic; survivors are exactly the docs at or above it,
    ties at the cutoff included."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        fused_doc_scores,
        quality_gate_adaptive,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = {r["doc_id"]: r["quality_r"]
         for r in fused_doc_scores(docs).select("doc_id", "quality_r").collect()}
    n = len(q)
    for permille in (10, 50, 500):
        k = max(1, (n * permille + 999) // 1000)
        cutoff = sorted(q.items(), key=lambda t: (t[1], t[0]))[k - 1][1]
        expect = {d for d, v in q.items() if v >= cutoff}
        rows = quality_gate_adaptive(docs, drop_permille=permille).collect()
        assert {r["doc_id"] for r in rows} == expect, permille
        assert all(r["cutoff_r"] == cutoff for r in rows), permille


def test_stream_ingest_drained_state_equals_batch_ingest(spark):
    """The streaming ingest face must equal the batch operator directly
    (not just both matching DuckDB): same novel keepers whatever the
    micro-batch split, with n_copies counting batch-2 arrivals."""
    from mongo_polars_reconciliation_spark.extensions.dedup import ingest_novel
    from mongo_polars_reconciliation_spark.harness.queries import (
        stream_ingest_novel,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    b1 = docs.where(F.col("doc_id") % 3 < 2)
    b2 = docs.where(F.col("doc_id") % 3 == 2).select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 10 == 7).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    empty = spark.createDataFrame([], "text_hash string")
    batch = {
        r["text_hash"]: r["doc_id"]
        for r in ingest_novel(b2, ingest_novel(b1, empty)).collect()
    }
    drained = {
        r["text_hash"]: r["keeper_id"]
        for r in stream_ingest_novel(spark, sf).collect()
    }
    assert drained == batch


def test_ingest_novel_is_idempotent_after_state_update(spark):
    """Admitting a batch and unioning its digests into the state must make
    re-ingesting the same batch yield nothing — the exactly-once admission
    contract of the crawl loop."""
    from mongo_polars_reconciliation_spark.extensions.dedup import ingest_novel

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b = docs.where(F.col("doc_id") % 3 == 2)
    empty = spark.createDataFrame([], "text_hash string")
    admitted = ingest_novel(b, empty)
    state = empty.unionByName(admitted.select("text_hash"))
    assert ingest_novel(b, state).count() == 0


def test_quality_gate_null_text_scored_as_empty(spark):
    """r9 advice: a NULL-text doc must not vanish from (or reorder) the
    adaptive gate — it scores as empty text, exactly as if text were ''."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        quality_gate_adaptive,
    )

    docs = [(1, None), (2, "the of a to and is in the"), (3, "solid content "
            "with reasonably long informative words throughout the body"),
            (4, "x"), (5, "another plainly useful document with words")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df_empty = spark.createDataFrame(
        [(i, t if t is not None else "") for i, t in docs],
        "doc_id long, text string",
    )
    got = sorted(tuple(r) for r in quality_gate_adaptive(df, 400).collect())
    want = sorted(
        tuple(r) for r in quality_gate_adaptive(df_empty, 400).collect()
    )
    assert got == want
    assert all(q is not None for _, q, _ in got)


def test_sample_shortfall_audit_flags_tight_prefilter(spark):
    """r9 advice: a too-tight prefilter_frac silently shrinks the sample;
    the audit frame must report exactly the per-stratum loss, and report
    zero when the prefilter is generous or absent."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        sample_fixed_per_stratum,
        sample_shortfall_audit,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    k = 40
    tight = 0.02  # frac*|stratum| << k for every source at sf0.001
    sampled = sample_fixed_per_stratum(docs, "source", k, prefilter_frac=tight)
    audit = {
        r["source"]: r
        for r in sample_shortfall_audit(
            docs, "source", k, prefilter_frac=tight
        ).collect()
    }
    got_counts = {
        r["source"]: r["n"]
        for r in sampled.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert audit, "no strata audited"
    flagged = 0
    for src, a in audit.items():
        assert a["n_sampled"] == got_counts.get(src, 0), src
        assert a["shortfall"] == min(k, a["n_rows"]) - a["n_sampled"], src
        flagged += a["shortfall"] > 0
    assert flagged > 0, "tight prefilter should cause a shortfall somewhere"
    # no-prefilter audit is all-zero shortfall with n_eligible == n_rows
    for r in sample_shortfall_audit(docs, "source", k).collect():
        assert r["shortfall"] == 0 and r["n_eligible"] == r["n_rows"]


def _neardup_fixture(spark, sf_dir="/root/testdata/sf0.001"):
    """The dedup_ingest_neardup query's (hist, batch, digest-state) shapes."""
    from mongo_polars_reconciliation_spark.extensions.dedup import band_state

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hist = docs.where(F.col("doc_id") % 3 < 2)
    near_text = F.expr("substring(text, instr(text, ' ') + 1)")
    batch = (
        docs.where(F.col("doc_id") % 3 == 2)
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 7).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 3).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                near_text.alias("text"),
            )
        )
    )
    digests = hist.select(
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "text_hash"
        )
    ).distinct()
    return hist, batch, digests, band_state(hist)


def test_neardup_ingest_greedy_not_pair_drop(spark):
    """Chain a~b~c with a!~c (ids a<b<c): sequential-arrival semantics
    admit {a, c} — b is blocked by a, but c is NOT blocked by the
    never-admitted b. Per-pair keep-lowest (drop every hi of a verified
    pair) would wrongly drop c; this pins the greedy rule."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel_neardup,
    )

    toks = [f"w{i:02d}" for i in range(1, 17)]
    a = " ".join(toks[0:12])   # shingle starts 1..10
    b = " ".join(toks[2:14])   # shares 8 of 12 distinct → J = 2/3
    c = " ".join(toks[4:16])   # J(b,c) = 2/3, J(a,c) = 6/14 < 0.6
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    empty_dg = spark.createDataFrame([], "text_hash string")
    empty_bands = spark.createDataFrame([], "bband string, doc_id long")
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    got = sorted(
        r["doc_id"]
        for r in ingest_novel_neardup(
            df, empty_dg, empty_bands, empty_docs,
            # 12 bands of 1 hash: a J=2/3 pair misses all 12 bands with
            # probability ~(1/3)^12 — and the fixture is deterministic,
            # so the collisions below are a checked fact, not luck
            num_hashes=12, bands=12,
        ).collect()
    )
    assert got == [1, 3], got
    # sanity: the chain structure really held (a~b and b~c verified,
    # a!~c unverified) — otherwise the admitted set above means nothing
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        jaccard_verify, shingle_sets,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    verified = sorted(
        (r["id_a"], r["id_b"])
        for r in jaccard_verify(pairs, shingle_sets(df), threshold=0.6).collect()
    )
    assert verified == [(1, 2), (2, 3)], verified


def test_neardup_ingest_batch_split_equals_one_batch(spark):
    """Sequential-arrival admission is indifferent to batch boundaries
    that respect id order: ingesting B1 (low ids) then B2 (high ids,
    against the updated state) admits exactly the docs that ingesting
    B1 ∪ B2 at once admits."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel_neardup,
    )

    hist, batch, digests, bands = _neardup_fixture(spark)
    one = ingest_novel_neardup(batch, digests, bands, hist, mis_max_iter=8)
    one_ids = sorted(r["doc_id"] for r in one.collect())

    median = 100000  # original-id slice first, synthetic redeliveries after
    b1 = batch.where(F.col("doc_id") < median).localCheckpoint(eager=True)
    b2 = batch.where(F.col("doc_id") >= median).localCheckpoint(eager=True)
    a1 = ingest_novel_neardup(b1, digests, bands, hist, mis_max_iter=8)
    a1 = a1.localCheckpoint(eager=True)
    admitted_docs1 = b1.join(a1.select("doc_id"), "doc_id")
    digests2 = digests.unionByName(a1.select("text_hash")).distinct()
    bands2 = bands.unionByName(band_state(admitted_docs1))
    docs2 = hist.unionByName(admitted_docs1)
    a2 = ingest_novel_neardup(b2, digests2, bands2, docs2, mis_max_iter=8)
    two_ids = sorted(
        [r["doc_id"] for r in a1.collect()]
        + [r["doc_id"] for r in a2.collect()]
    )
    assert two_ids == one_ids


def test_neardup_ingest_redelivery_admits_nothing(spark):
    """Extending the r8 exact-ingest pin: after admitting a batch and
    folding the admitted docs into all three state faces, re-delivering
    the SAME batch admits zero documents — every previously rejected doc
    is (by the greedy rule) an exact or near dup of something now in
    state."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel_neardup,
    )

    hist, batch, digests, bands = _neardup_fixture(spark)
    a1 = ingest_novel_neardup(
        batch, digests, bands, hist, mis_max_iter=8
    ).localCheckpoint(eager=True)
    admitted_docs = batch.join(a1.select("doc_id"), "doc_id")
    digests2 = digests.unionByName(a1.select("text_hash")).distinct()
    bands2 = bands.unionByName(band_state(admitted_docs))
    docs2 = hist.unionByName(admitted_docs)
    again = ingest_novel_neardup(batch, digests2, bands2, docs2, mis_max_iter=8)
    assert again.count() == 0


def test_sampled_recall_rows_bitmatch_full_probe(spark):
    """r9: the sampled recall probe's per-vector rows equal the full
    O(n²) probe's rows for the same ids, bit-for-bit — the one-sided
    exact graph runs the same IEEE fold on the same operands, so
    sampling changes COST, not answers."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ann_recall_at_k,
        ann_recall_at_k_sampled,
    )
    from mongo_polars_reconciliation_spark.harness.oracles import (
        MULTIPROBE_ORACLE_N_ITER,
        MULTIPROBE_ORACLE_NLIST,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sampled = ann_recall_at_k_sampled(
        emb, strata_col="label", k_sample=3, k=10, nprobe=2,
        nlist=MULTIPROBE_ORACLE_NLIST, n_iter=MULTIPROBE_ORACLE_N_ITER,
    ).collect()
    assert len(sampled) == 30  # 3 per label, 10 labels
    full = {
        r["vec_id"]: (r["n_true"], r["n_hit"], r["recall_r"])
        for r in ann_recall_at_k(
            emb, k=10, nprobe=2,
            nlist=MULTIPROBE_ORACLE_NLIST, n_iter=MULTIPROBE_ORACLE_N_ITER,
        ).collect()
    }
    for r in sampled:
        assert full[r["vec_id"]] == (r["n_true"], r["n_hit"], r["recall_r"]), (
            r["vec_id"]
        )


def test_bpe_encode_from_loaded_merges_bitmatches_fit_encode(spark):
    """r9 artifact round-trip: encoding from a parquet-persisted merge
    table equals fit-then-encode in one session, row for row — the BPE
    replay property (rank-ordered merges over raw characters reproduce
    the fit's final segmentation) survives the write/read."""
    import shutil

    from mongo_polars_reconciliation_spark.extensions.text import (
        bpe_encode_stats,
        bpe_encode_with_merges,
        bpe_merge_fit,
    )
    from mongo_polars_reconciliation_spark.scratch import scratch_path

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    direct = sorted(
        tuple(r) for r in bpe_encode_stats(docs, n_merges=4).collect()
    )
    path = scratch_path("test_bpe_roundtrip", "merges.parquet")
    shutil.rmtree(path, ignore_errors=True)
    bpe_merge_fit(docs, n_merges=4).write.mode("overwrite").parquet(path)
    loaded = sorted(
        tuple(r)
        for r in bpe_encode_with_merges(
            docs, spark.read.parquet(path)
        ).collect()
    )
    assert loaded == direct


def test_curation_v2_c4_gates(spark):
    """r9: the optional C4 gates drop exactly the docs whose fused c4
    signals fall below the floors — checked on a corpus where every other
    v2 stage is a no-op (all texts distinct, non-repetitive, benchmark
    unrelated), against the independently computed signal rows."""
    from mongo_polars_reconciliation_spark.extensions.curation import (
        curate_corpus_v2,
    )
    from mongo_polars_reconciliation_spark.extensions.text import (
        fused_doc_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma. delta epsilon zeta. eta theta iota."),
            (2, "alpha bravo charlie delta echo foxtrot golf hotel"),
            (3, "one two. three four five six seven eight nine ten"),
            (4, "red green blue! yellow purple orange! cyan magenta!"),
            (5, "north south east west up down left right center middle."),
            (6, "cat dog bird fish horse cow sheep goat pig duck hen"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(999, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp")],
        "doc_id long, text string",
    )
    floors = dict(min_term_sent_ratio=0.9, min_mwps=3.5)
    base = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(docs, bench, min_quality=0.0).collect()
    }
    gated = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(
            docs, bench, min_quality=0.0, **floors
        ).collect()
    }
    c4 = fused_doc_scores(docs, c4=True).collect()
    keep = [
        r for r in c4
        if r["term_sent_ratio_r"] >= 0.9 and r["mwps_r"] >= 3.5
    ]
    assert 0 < len(keep) < docs.count(), "floors must bite, not annihilate"
    expect = {}
    for r in keep:
        n, t = expect.get(r["pred_lang"], (0, 0))
        expect[r["pred_lang"]] = (n + 1, t + r["ws_tokens"])
    assert gated == expect
    # zero floors == baseline (n_sent=0 docs score 0.0, never below 0.0)
    zeroed = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(
            docs, bench, min_quality=0.0,
            min_term_sent_ratio=0.0, min_mwps=0.0,
        ).collect()
    }
    assert zeroed == base


def test_gopher_signals_match_python_model(spark):
    """r10: the fused gopher signals equal a doc-at-a-time Python replay
    (same counts, same floor4'd divisions) on handcrafted texts covering
    bullet/ellipsis lines, '#' and '...' symbols, numeric words, and the
    required-stop-word list."""
    import math

    from mongo_polars_reconciliation_spark.extensions.text import (
        fused_doc_scores,
    )

    texts = [
        (1, "- first\n- second\nplain tail"),
        (2, "cut off here...\nand again...\nfinal"),
        (3, "num 123 456 mix7 #tag #x the of and"),
        (4, "the be to of and that have with extras"),
        (5, "no structure at all just words"),
        (6, "dots... inline #one more..."),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_lines"], r["bullet_line_frac_r"], r["ellipsis_line_frac_r"],
            r["alpha_word_frac_r"], r["symbol_word_ratio_r"],
            r["mean_word_len_r"], r["req_stop_hits"],
        )
        for r in fused_doc_scores(df, gopher=True).collect()
    }

    def floor4(x):
        return math.floor(x * 10000) / 10000

    want = {}
    for did, t in texts:
        lines = t.split("\n")
        toks = t.split(" ")
        n_lines, n_tok, n_chars = len(lines), len(toks), len(t)
        n_bullet = sum(
            1 for ln in lines if ln.startswith("- ") or ln.startswith("* ")
        )
        n_ellip_line = sum(1 for ln in lines if ln.endswith("..."))
        n_alpha = sum(1 for w in toks if any(c.isalpha() and ord(c) < 128 for c in w))
        n_hash = t.count("#")
        n_ellip_sym = (n_chars - len(t.replace("...", ""))) / 3
        req = ["the", "be", "to", "of", "and", "that", "have", "with"]
        want[did] = (
            n_lines,
            floor4(n_bullet / n_lines),
            floor4(n_ellip_line / n_lines),
            floor4(n_alpha / n_tok),
            floor4((n_hash + n_ellip_sym) / n_tok),
            floor4((n_chars - (n_tok - 1)) / n_tok),
            sum(1 for w in req if w in toks),
        )
    assert got == want


def test_curation_v2_gopher_gates(spark):
    """r10: the optional Gopher gates drop exactly the docs whose fused
    gopher signals violate the cap/floor — same harness as the C4 gate
    test (every other v2 stage a no-op), against independently computed
    signal rows."""
    from mongo_polars_reconciliation_spark.extensions.curation import (
        curate_corpus_v2,
    )
    from mongo_polars_reconciliation_spark.extensions.text import (
        fused_doc_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (2, "symbol heavy #a #b #c ... ... tail word"),
            (3, "numbers 111 222 333 444 555 666 777 888 999 000"),
            (4, "red green blue yellow purple orange cyan magenta pink"),
            (5, "north south east west up down left right center"),
            (6, "trailing dots everywhere... yes... more... words here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(999, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp")],
        "doc_id long, text string",
    )
    gates = dict(max_symbol_word_ratio=0.2, min_alpha_word_frac=0.5)
    base = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(docs, bench, min_quality=0.0).collect()
    }
    gated = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(
            docs, bench, min_quality=0.0, **gates
        ).collect()
    }
    sig = fused_doc_scores(docs, gopher=True).collect()
    keep = [
        r for r in sig
        if r["symbol_word_ratio_r"] <= 0.2 and r["alpha_word_frac_r"] >= 0.5
    ]
    assert 0 < len(keep) < docs.count(), "gates must bite, not annihilate"
    expect = {}
    for r in keep:
        n, t = expect.get(r["pred_lang"], (0, 0))
        expect[r["pred_lang"]] = (n + 1, t + r["ws_tokens"])
    assert gated == expect
    # vacuous gates == baseline
    vac = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(
            docs, bench, min_quality=0.0,
            max_symbol_word_ratio=1e9, min_alpha_word_frac=0.0,
        ).collect()
    }
    assert vac == base


def test_line_dedup_edge_corpora(spark):
    """r11 edge pins: both line-dedup faces are graceful on an EMPTY
    corpus (no crash, empty output) and on a corpus that is one empty
    document (one empty line — kept, text_kept '').

    r12 (the r11 verdict's defect): NULL-text docs must SURFACE, scored
    as empty text per the repo-wide null-text rule — the old
    posexplode(split(NULL)) path silently dropped them from the output
    entirely, violating the operator's own n_kept contract. A NULL doc
    behaves exactly like an empty-text doc: one '' line competing for
    the corpus-wide slot by (id, line_no) first-occurrence order."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        line_dedup_corpus,
        line_dedup_trim,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert line_dedup_corpus(empty).count() == 0
    assert line_dedup_trim(empty).count() == 0
    one = spark.createDataFrame([(1, "")], "doc_id long, text string")
    got = line_dedup_trim(one).collect()[0]
    assert (got["n_lines"], got["n_kept"], got["text_kept"]) == (1, 1, "")
    # NULL-text docs surface; first (by id) NULL/empty doc claims the ''
    # line, later ones empty out with n_kept=0 — never vanish
    mixed = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    got_m = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["text_kept"])
        for r in line_dedup_trim(mixed).collect()
    }
    assert got_m == {
        1: (1, 1, "alpha"),
        2: (1, 1, ""),
        3: (1, 0, None),
        4: (1, 0, None),
    }
    audit = {
        r["doc_id"]: r["n_kept"] for r in line_dedup_corpus(mixed).collect()
    }
    assert audit == {1: 1, 2: 1, 3: 0, 4: 0}


def test_mix_temperature_quarter_alpha_matches_python(spark):
    """r11: the α=1/4 branch (single nested-isqrt chain, not the 3/4
    product) equals the Python integer replay — the one dyadic path the
    driver queries don't exercise directly."""
    import math

    from mongo_polars_reconciliation_spark.extensions.text import (
        mix_temperature,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    counts = {
        r["lang"]: r["c"]
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    n_max = max(counts.values())
    out = mix_temperature(docs, "lang", alpha=(1, 4)).collect()
    w_by_lang: dict = {}
    for r in out:
        w_by_lang.setdefault(r["lang"], set()).add(r["w_q"])
    for lang, n in counts.items():
        w_q = math.isqrt(math.isqrt((n_max * 10_000**4) // n))
        assert w_by_lang[lang] == {w_q}, lang


def test_curation_fused_gates_match_sequential_replay(spark):
    """r11 (advice): with BOTH gate families engaged, the single fused
    projection + union-of-flags left_anti equals the r10 sequential
    per-family gating replayed in Python (flag C4 on the frame, shrink,
    flag Gopher on the shrunken frame) — the signals are row-local, so
    the two compositions must coincide doc-for-doc."""
    from mongo_polars_reconciliation_spark.extensions.curation import (
        curate_corpus_v2,
    )
    from mongo_polars_reconciliation_spark.extensions.text import (
        fused_doc_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma. delta epsilon zeta. eta theta iota."),
            (2, "symbol heavy #a #b #c ... ... tail word"),
            (3, "numbers 111 222 333 444 555 666 777 888 999 000"),
            (4, "red green blue! yellow purple orange! cyan magenta!"),
            (5, "north south east west up down left right center middle."),
            (6, "trailing dots everywhere... yes... more... words here"),
            (7, "no terminal punctuation short"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(999, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp")],
        "doc_id long, text string",
    )
    gates = dict(
        min_term_sent_ratio=0.9,
        min_mwps=3.5,
        max_symbol_word_ratio=0.2,
        min_alpha_word_frac=0.5,
    )
    got = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(
            docs, bench, min_quality=0.0, **gates
        ).collect()
    }
    # sequential replay: C4 family first, Gopher family on the survivors
    sig = fused_doc_scores(docs, c4=True, gopher=True).collect()
    after_c4 = [
        r for r in sig
        if r["term_sent_ratio_r"] >= 0.9 and r["mwps_r"] >= 3.5
    ]
    keep = [
        r for r in after_c4
        if r["symbol_word_ratio_r"] <= 0.2 and r["alpha_word_frac_r"] >= 0.5
    ]
    assert 0 < len(keep) < docs.count(), "gates must bite, not annihilate"
    expect = {}
    for r in keep:
        n, t = expect.get(r["pred_lang"], (0, 0))
        expect[r["pred_lang"]] = (n + 1, t + r["ws_tokens"])
    assert got == expect


def test_curation_v4_line_stage(spark):
    """r11: curate_corpus_v2(line_dedup=True) trims corpus-repeated
    lines BEFORE any downstream stage — the shared footer survives only
    in its first-occurrence doc, whole-footer docs empty out and are
    dropped, and the surviving stats equal the pipeline replayed on the
    pre-trimmed corpus (the stage composes, it doesn't special-case).
    line_dedup=False stays byte-identical to the r10 behavior."""
    from mongo_polars_reconciliation_spark.extensions.curation import (
        curate_corpus_v2,
    )
    from mongo_polars_reconciliation_spark.extensions.text import (
        line_dedup_trim,
    )

    footer = "shared boilerplate footer"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta\n" + footer),
            (2, footer),  # empties out → must vanish from the stats
            (3, "one two three four five six seven eight nine\n" + footer),
            (4, "red green blue yellow purple orange cyan magenta pink"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(999, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp")],
        "doc_id long, text string",
    )
    got = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(
            docs, bench, min_quality=0.0, line_dedup=True
        ).collect()
    }
    # compose: pre-trim the corpus with the standalone operator, then run
    # the UNFLAGGED pipeline on the cleaned text
    trimmed = (
        line_dedup_trim(docs)
        .where(F.col("n_kept") > 0)
        .select("doc_id", F.col("text_kept").alias("text"))
    )
    want = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(
            trimmed, bench, min_quality=0.0
        ).collect()
    }
    assert got == want
    # doc 1 keeps the footer (first occurrence), docs 2/3 lose it; doc 2
    # contributes nothing anywhere
    total_docs = sum(n for n, _ in got.values())
    assert total_docs == 3
    off = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(
            docs, bench, min_quality=0.0, line_dedup=False
        ).collect()
    }
    base = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(docs, bench, min_quality=0.0).collect()
    }
    assert off == base


def test_curation_v4_null_text_docs_compose(spark):
    """r12: NULL-text docs through the full v4 composition. With the
    NULL-text line-dedup fix a NULL doc now REACHES the downstream
    stages (as empty text) instead of vanishing at the line stage —
    this pins that (a) the flagship neither crashes nor double-counts
    on NULL/empty input docs, (b) the stage≡standalone-pre-trim
    composition law still holds on corpora containing them, and (c)
    the gated output equals the line_dedup=False run (NULL/empty docs
    carry no tokens, so every gate treats them identically either
    way)."""
    from mongo_polars_reconciliation_spark.extensions.curation import (
        curate_corpus_v2,
    )
    from mongo_polars_reconciliation_spark.extensions.text import (
        line_dedup_trim,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota the"
                " be to of and that have with more words for quality."),
            (2, None),
            (3, ""),
            (4, "north south east west up down left right center middle"
                " the be to of and that have with extra gate words."),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(999, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp")],
        "doc_id long, text string",
    )
    got = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(
            docs, bench, min_quality=0.0, line_dedup=True
        ).collect()
    }
    trimmed = (
        line_dedup_trim(docs)
        .where(F.col("n_kept") > 0)
        .select("doc_id", F.col("text_kept").alias("text"))
    )
    want = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(trimmed, bench, min_quality=0.0).collect()
    }
    assert got == want
    off = {
        r["pred_lang"]: (r["n_docs"], r["total_ws_tokens"])
        for r in curate_corpus_v2(
            docs, bench, min_quality=0.0, line_dedup=False
        ).collect()
    }
    assert got == off
    assert sum(n for n, _ in got.values()) == 2  # the two real docs


_pii_frag = st.sampled_from(
    ["plain words here", "a.b@x.org", "john.doe@example.com", "555-123-4567",
     "192.168.1.77", "10.0.0.5", "not-a-phone 55-123-4567", "v1.2.3.4x",
     "semi@invalid@double", "trailing dot 1.2.3.", "", "x@y.zz",
     # r12 card fragments: Luhn-valid plain + separated, Luhn-INVALID
     # (must survive), 15/17-digit near-misses, repeated valid card
     "4532015112830366", "4532-0151-1283-0366", "4532 0151 1283 0366",
     "1234-5678-9012-3456", "123456789012345", "12345678901234567",
     "4532015112830366 4532015112830366",
     # r13 (advice): cross-class boundary — a phone followed by a digit
     # run lets the CARD candidate scan match across the phone's tail:
     # '4567 8901 2345 6783' IS Luhn-valid and redacts, mangling the
     # phone (the documented intended over-redaction direction), while
     # the '…6789' variant is Luhn-INVALID so the phone must survive
     # the card stage untouched and still count as a phone
     "call 555-123-4567 8901 2345 6783",
     "call 555-123-4567 8901 2345 6789"]
)
# r12: NULL texts — the null-text rule (counts 0, scrubbed text NULL)
_pii_text = st.one_of(
    st.none(), st.lists(_pii_frag, min_size=1, max_size=6).map(" ".join)
)


def _pii_python_replay(t):
    """Python `re` replay of the staged EMAIL → CARD(Luhn) → PHONE → IP
    count-then-replace spec — the engine-independent reference model."""
    import re as _re

    from mongo_polars_reconciliation_spark.extensions.text import (
        PII_CARD_PATTERN,
        PII_PATTERNS,
    )

    if t is None:
        return (0, 0, 0, 0, None)
    pat, repl = PII_PATTERNS[0]
    n_emails = len(_re.findall(pat, t))
    t = _re.sub(pat, repl, t)

    def luhn_ok(c):
        digits = _re.sub(r"[- ]", "", c)
        s = 0
        for i, ch in enumerate(digits):  # 0-based even == 1-based odd
            x = int(ch)
            if i % 2 == 0:
                x *= 2
                if x > 9:
                    x -= 9
            s += x
        return s % 10 == 0

    valid = [c for c in _re.findall(PII_CARD_PATTERN, t) if luhn_ok(c)]
    n_cards = len(valid)
    for c in valid:  # fold in match order, \b-anchored, global
        t = _re.sub(r"\b" + _re.escape(c) + r"\b", "<CARD>", t)
    counts = [n_emails, n_cards]
    for pat, repl in PII_PATTERNS[1:]:
        counts.append(len(_re.findall(pat, t)))
        t = _re.sub(pat, repl, t)
    return (*counts, t)


@settings(max_examples=10, deadline=None)
@given(texts=st.lists(_pii_text, min_size=1, max_size=6))
def test_pii_scrub_random_texts_match_python_re(spark, texts):
    """r11 randomized pin (r12: + the Luhn card stage and NULL texts):
    pii_scrub equals a Python `re` replay of the staged
    count-then-replace spec on corpora drawn from adversarial fragments
    — doubled '@', near-miss phones, version strings that look like IPs,
    trailing dots, empty strings, Luhn-valid/invalid cards, 15/17-digit
    near-misses, NULL texts. Python re and Java regex agree on the
    dialect-portable subset the patterns use, so the replay is
    engine-independent."""
    from mongo_polars_reconciliation_spark.extensions.text import pii_scrub

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_emails"], r["n_cards"], r["n_phones"], r["n_ips"],
            r["text_scrubbed"],
        )
        for r in pii_scrub(df).collect()
    }
    want = {did: _pii_python_replay(t) for did, t in rows}
    assert got == want


def test_pii_card_stage_duckdb_matches_python_re():
    """r12: the THIRD side of the card stage's engine triangle. The
    fixture-driven parity sweep pins Spark≡DuckDB on the three injected
    card shapes only, and the hypothesis replay pins Spark≡Python on
    adversarial strings — this closes DuckDB≡Python on those same
    adversarial strings, so a dialect drift in the oracle's
    list_filter/list_reduce Luhn fragment can't hide behind benign
    fixtures. Drives the ORACLE's actual SQL fragment
    (harness.oracles.PII_CARD_STAGE_SQL), not a copy."""
    import re as _re

    import duckdb

    from mongo_polars_reconciliation_spark.extensions.text import (
        PII_CARD_PATTERN,
    )
    from mongo_polars_reconciliation_spark.harness.oracles import (
        PII_CARD_STAGE_SQL,
    )

    texts = [
        "pay 4532015112830366 today",
        "card 4532-0151-1283-0366 on file",
        "or 4532 0151 1283 0366 spaced",
        "ref 1234-5678-9012-3456 code",
        "run 12345678901234567 long",               # 17 digits — no \b split
        "short 123456789012345 run",                # 15 digits
        "two 4532015112830366 and 4532015112830366",  # repeated valid card
        "mixed 4532-0151 1283-0366 separators",
        "overlap 1111-2222-3333-4444-5555 tail",
        "adjacent x4532015112830366 no boundary",
        "digits4532015112830366",                    # leading word char
        "valid then invalid 4532015112830366 1234567890123456",
        "",
        "just words no digits at all",
        "4532015112830366",                          # the whole text IS a card
    ]

    def luhn_ok(c):
        digits = _re.sub(r"[- ]", "", c)
        s = 0
        for i, ch in enumerate(digits):
            x = int(ch)
            if i % 2 == 0:
                x *= 2
                if x > 9:
                    x -= 9
            s += x
        return s % 10 == 0

    want = {}
    for did, t in enumerate(texts):
        valid = [c for c in _re.findall(PII_CARD_PATTERN, t) if luhn_ok(c)]
        out = t
        for c in valid:
            out = _re.sub(r"\b" + _re.escape(c) + r"\b", "<CARD>", out)
        want[did] = (len(valid), out)

    con = duckdb.connect()
    rows = con.execute(
        "WITH s1 AS (SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + " ) t(doc_id, text)),\n"
        + PII_CARD_STAGE_SQL
        + "\nSELECT doc_id, n_cards, text FROM sC",
        texts,
    ).fetchall()
    con.close()
    got = {r[0]: (r[1], r[2]) for r in rows}
    assert got == want


def test_pii_scrub_luhn_edge_pins(spark):
    """r12 handcrafted pins for the card stage: a Luhn-valid plain card,
    the same card hyphen- and space-separated, a Luhn-INVALID run that
    must survive to the output INTACT (and not half-match the later
    phone/IP stages), a 17-digit run no \\b can split, and the NULL-text
    doc (all counts 0, text NULL — the doc survives)."""
    from mongo_polars_reconciliation_spark.extensions.text import pii_scrub

    docs = [
        (1, "pay 4532015112830366 today"),
        (2, "card 4532-0151-1283-0366 on file"),
        (3, "or 4532 0151 1283 0366 spaced"),
        (4, "ref 1234-5678-9012-3456 code"),
        (5, "run 12345678901234567 long"),
        (6, None),
        (7, "mixed a@b.co then 4532015112830366 then 555-123-4567"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_emails"], r["n_cards"], r["n_phones"], r["n_ips"],
            r["text_scrubbed"],
        )
        for r in pii_scrub(df).collect()
    }
    assert got[1] == (0, 1, 0, 0, "pay <CARD> today")
    assert got[2] == (0, 1, 0, 0, "card <CARD> on file")
    assert got[3] == (0, 1, 0, 0, "or <CARD> spaced")
    assert got[4] == (0, 0, 0, 0, "ref 1234-5678-9012-3456 code")
    assert got[5] == (0, 0, 0, 0, "run 12345678901234567 long")
    assert got[6] == (0, 0, 0, 0, None)
    assert got[7] == (1, 1, 1, 0, "mixed <EMAIL> then <CARD> then <PHONE>")


_gopher_word = st.sampled_from(
    ["the", "of", "and", "cat", "dog", "#tag", "...", "x#y", "a...b",
     "12345", "7", "", "-", "*", "mix3d"]
)
_gopher_line = st.lists(_gopher_word, min_size=1, max_size=6).map(" ".join)
_gopher_text = st.lists(_gopher_line, min_size=1, max_size=4).map("\n".join)


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(_gopher_text, min_size=1, max_size=6))
def test_gopher_signals_random_texts_match_model(spark, texts):
    """r10 randomized pin: the fused gopher signals equal the Python
    replay on hypothesis-generated texts mixing bullets, '...'-runs,
    '#'-words, numerics, empty tokens and multi-line structure — the
    edge classes the handcrafted pin can't enumerate."""
    import math

    from mongo_polars_reconciliation_spark.extensions.text import (
        fused_doc_scores,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_lines"], r["bullet_line_frac_r"], r["ellipsis_line_frac_r"],
            r["alpha_word_frac_r"], r["symbol_word_ratio_r"],
            r["req_stop_hits"],
        )
        for r in fused_doc_scores(df, gopher=True).collect()
    }

    def floor4(x):
        return math.floor(x * 10000) / 10000

    req = ["the", "be", "to", "of", "and", "that", "have", "with"]
    for did, t in rows:
        lines, toks = t.split("\n"), t.split(" ")
        n_lines, n_tok, n_chars = len(lines), len(toks), len(t)
        want = (
            n_lines,
            floor4(sum(1 for ln in lines
                       if ln.startswith("- ") or ln.startswith("* "))
                   / n_lines),
            floor4(sum(1 for ln in lines if ln.endswith("...")) / n_lines),
            floor4(sum(1 for w in toks
                       if any(c.isalpha() and ord(c) < 128 for c in w))
                   / n_tok),
            floor4((t.count("#")
                    + (n_chars - len(t.replace("...", ""))) / 3) / n_tok),
            sum(1 for w in req if w in toks),
        )
        assert got[did] == want, (did, t, got[did], want)


_lmb_text = st.lists(
    st.sampled_from(["x", "y", "z", "q"]), min_size=0, max_size=6
).map(" ".join)


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.tuples(_lmb_text, st.sampled_from(["a", "b"])),
        min_size=2,
        max_size=10,
    )
)
def test_lm_buckets_random_corpora_match_model(spark, docs):
    """r10 randomized pin: per-language tercile bucketing equals the
    Python nearest-rank replay on hypothesis corpora dense with tied
    scores, single-doc languages and unscored (<2-token) docs."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        bigram_lm_scores,
        lm_typicality_buckets,
    )

    rows = [(i, t, lg) for i, (t, lg) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: (r["lang"], r["lm_score_q"], r["bucket"])
        for r in lm_typicality_buckets(df).collect()
    }
    scores = {
        r["doc_id"]: r["lm_score_q"] for r in bigram_lm_scores(df).collect()
    }
    langs = {i: lg for i, _, lg in rows}
    want = {}
    for lg in {lg for _, _, lg in rows}:
        members = [d for d in scores if langs[d] == lg]
        if not members:
            continue
        vals = sorted((scores[d] for d in members), reverse=True)
        n = len(vals)
        cut1 = vals[(n + 2) // 3 - 1]
        cut2 = vals[(2 * n + 2) // 3 - 1]
        for d in members:
            s = scores[d]
            b = "head" if s >= cut1 else ("middle" if s >= cut2 else "tail")
            want[d] = (lg, s, b)
    assert got == want


_ivfpq_vec = st.lists(
    st.floats(min_value=-1.0, max_value=1.0,
              allow_nan=False, allow_infinity=False, width=32),
    min_size=8, max_size=8,
)


@settings(max_examples=5, deadline=None)
@given(vecs=st.lists(_ivfpq_vec, min_size=6, max_size=14, unique_by=tuple))
def test_ivfpq_knn_degenerate_equals_exact_on_random_vectors(spark, vecs):
    """r10 randomized pin of the degenerate-parameter law on tiny random
    corpora (dim 8, m=2): probe-all + unbounded rerank must reproduce the
    exact graph even with near-ties and duplicate-direction vectors —
    the regimes where a tie-break slip would first show."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ivf_residuals,
        kmeans_fit,
        knn_join_exact,
        knn_join_ivfpq,
        pq_fit,
    )

    # drop all-zero vectors: cosine is undefined (0/0 -> NULL) and both
    # sides would carry engine-specific NULL orderings
    rows = [
        (i, v) for i, v in enumerate(vecs) if any(x != 0.0 for x in v)
    ]
    if len(rows) < 4:
        return
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    nlist = 2
    coarse = kmeans_fit(emb, k=nlist, n_iter=1)
    books = pq_fit(ivf_residuals(emb, coarse), m=2, ksub=2, n_iter=1)
    got = sorted(
        tuple(r)
        for r in knn_join_ivfpq(
            emb, coarse, books, k=2, nprobe=len(coarse), rerank=10**9
        )
        .select("vec_id", "rank", "neighbor_id", "cos_r")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in knn_join_exact(emb, k=2)
        .select("vec_id", "rank", "neighbor_id", "cos_r")
        .collect()
    )
    assert got == want


def test_ivfpq_knn_degenerates_to_exact_graph(spark):
    """r10: with nprobe = nlist (every cell probed) and an unbounded
    rerank, the IVF-PQ k-NN graph's candidate set is ALL non-self pairs
    and the exact re-rank orders them — so the output must equal
    knn_join_exact's ground-truth graph row-for-row (same neighbors,
    same rounded cosines, same ranks). Pins both the pair-generation
    completeness and the survivor scores' exactness in one shot;
    production (small nprobe/rerank) only SHRINKS the candidate set."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ivf_residuals,
        kmeans_fit,
        knn_join_exact,
        knn_join_ivfpq,
        pq_fit,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    coarse = kmeans_fit(emb, k=4, n_iter=1)
    books = pq_fit(ivf_residuals(emb, coarse), m=4, ksub=8, n_iter=1)
    got = sorted(
        tuple(r)
        for r in knn_join_ivfpq(
            emb, coarse, books, k=3, nprobe=4, rerank=10**9
        )
        .select("vec_id", "rank", "neighbor_id", "cos_r")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in knn_join_exact(emb, k=3)
        .select("vec_id", "rank", "neighbor_id", "cos_r")
        .collect()
    )
    assert got == want


def test_stream_datacard_equals_batch_card(spark):
    """r10: the drained streaming datacard equals the batch
    corpus_datacard row-for-row — counts and DECIMAL sums commute with
    micro-batching, and the card derivation runs on the drained state.
    r14: this is now the CARRYING pin for the RETIRED registry face
    stream_datacard (VERDICT r13 #5) — the card math stays oracle-checked
    through text_datacard/text_datacard_merge; stream ≡ batch lives here."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        corpus_datacard,
    )
    from mongo_polars_reconciliation_spark.harness.queries import (
        stream_datacard,
    )

    sf_dir = "/root/testdata/sf0.001"
    streamed = sorted(
        tuple(r) for r in stream_datacard(spark, sf_dir).collect()
    )
    batch = sorted(
        tuple(r)
        for r in corpus_datacard(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ).collect()
    )
    assert streamed == batch


_ld_line = st.sampled_from(
    ["footer", "header", "alpha beta", "x", "", "shared line", "unique-ish"]
)
# r12: NULL texts in the generator — the r11 verdict's defect (NULL-text
# docs silently vanishing) lived exactly in the input class these pins
# never generated. NULL scores as empty text (the repo-wide rule).
_ld_text = st.one_of(
    st.none(), st.lists(_ld_line, min_size=1, max_size=5).map("\n".join)
)


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(_ld_text, min_size=1, max_size=7))
def test_line_dedup_random_corpora_match_model(spark, texts):
    """r10 randomized pin: corpus-wide line dedup equals the Python
    first-occurrence replay on hypothesis corpora drawn from a tiny line
    alphabet — maximal repetition pressure, empty lines, whole-duplicate
    docs, NULL-text docs (r12), and many docs that empty out entirely."""
    import hashlib

    from mongo_polars_reconciliation_spark.extensions.text import (
        line_dedup_corpus,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept_md5"])
        for r in line_dedup_corpus(df).collect()
    }
    seen = set()
    want = {}
    for did, t in rows:
        lines = (t or "").split("\n")
        kept = [ln for ln in lines if ln not in seen and not seen.add(ln)]
        md5 = (
            hashlib.md5("\n".join(kept).encode()).hexdigest() if kept else None
        )
        want[did] = (len(lines), len(kept), md5)
    assert got == want


def test_line_dedup_matches_python_model(spark):
    """r10: corpus-wide line dedup equals a doc-at-a-time Python replay
    (first global occurrence by (id, line_no), per-doc reassembly) on a
    corpus with cross-doc repeats, WITHIN-doc repeats, position
    variation and a doc that empties out entirely — and the global
    invariant holds: total kept lines == distinct lines."""
    import hashlib

    from mongo_polars_reconciliation_spark.extensions.text import (
        line_dedup_corpus,
    )

    docs = [
        (1, "alpha\nfooter\nbeta"),
        (2, "footer\ngamma\nfooter"),   # cross-doc repeat + within-doc repeat
        (3, "footer"),                   # empties out entirely
        (4, "delta\nalpha"),             # repeat of doc 1's first line
        (5, "epsilon"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept_md5"])
        for r in line_dedup_corpus(df).collect()
    }
    seen = set()
    want = {}
    for did, t in docs:  # ids ascending == first-occurrence order
        lines = t.split("\n")
        kept = []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                kept.append(ln)
        md5 = (
            hashlib.md5("\n".join(kept).encode()).hexdigest() if kept else None
        )
        want[did] = (len(lines), len(kept), md5)
    assert got == want
    assert got[3] == (1, 0, None)  # the emptied-out doc, C4's drop signal
    assert sum(v[1] for v in got.values()) == len(seen)


def test_line_dedup_trim_emits_cleaned_text(spark):
    """r11 (VERDICT r10 #2): the trimming face returns the reassembled
    surviving TEXT itself — equal line-for-line to the Python
    first-occurrence replay — with NULL text for emptied-out docs, and
    its digest agrees exactly with line_dedup_corpus's audit face on the
    same corpus (the two faces are one semantic)."""
    import hashlib

    from mongo_polars_reconciliation_spark.extensions.text import (
        line_dedup_corpus,
        line_dedup_trim,
    )

    docs = [
        (1, "alpha\nfooter\nbeta"),
        (2, "footer\ngamma\nfooter"),
        (3, "footer"),
        (4, "delta\nalpha"),
        (5, "epsilon\n\nzeta"),   # empty line is a corpus line too
        (6, "\nomega"),           # later empty line must be trimmed
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["text_kept"])
        for r in line_dedup_trim(df).collect()
    }
    seen: set[str] = set()
    want = {}
    for did, t in docs:
        lines = t.split("\n")
        kept = []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                kept.append(ln)
        want[did] = (len(lines), len(kept), "\n".join(kept) if kept else None)
    assert got == want
    assert got[3] == (1, 0, None)
    assert got[6] == (2, 1, "omega")  # doc 5 claimed the empty line
    # digest face ≡ md5(trim face) on every surviving doc
    audit = {
        r["doc_id"]: r["kept_md5"] for r in line_dedup_corpus(df).collect()
    }
    for did, (_, n_kept, text) in got.items():
        if n_kept:
            assert audit[did] == hashlib.md5(text.encode()).hexdigest()
        else:
            assert audit[did] is None


def test_new_operators_handle_empty_and_null_strata(spark):
    """r10 edge pins: the round's derived-weight/reporting operators are
    graceful on EMPTY corpora (no crash, empty output) and treat a NULL
    stratum as its own stratum instead of silently dropping those rows
    (the null-safe-join contract — silent corpus loss is the worst
    failure mode a sampling/reporting operator can have)."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        datacard_from_state,
        datacard_state,
        lm_typicality_buckets,
        mix_temperature,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string"
    )
    assert mix_temperature(empty, "lang").count() == 0
    assert lm_typicality_buckets(empty).count() == 0
    assert datacard_from_state(datacard_state(empty)).count() == 0

    nulls = spark.createDataFrame(
        [
            (1, "a b c d", None),
            (2, "a b c d", "en"),
            (3, "x y z w", None),
            (4, "a b x y", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    mixed = mix_temperature(nulls, "lang").collect()
    assert {r["doc_id"] for r in mixed} == {1, 2, 3, 4}
    # NULL stratum (2 docs) == en stratum (2 docs): both run 1.0 epochs
    assert all(r["w_q"] == 10_000 for r in mixed)
    bucketed = lm_typicality_buckets(nulls).collect()
    assert {r["doc_id"] for r in bucketed} == {1, 2, 3, 4}
    assert all(r["bucket"] in ("head", "middle", "tail") for r in bucketed)


def test_isqrt_dec_null_propagates_to_loud_guard(spark):
    """r11 (review finding): a NULL isqrt input — a decimal overflow
    under NON-ANSI mode — must propagate as NULL (greatest/least skip
    null operands, so without the explicit branch it surfaced as the
    smax clamp: a silently wrong huge weight), reaching mix_temperature's
    raise_error guard instead of corrupting the mix."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        _isqrt_dec_steps,
    )

    df = spark.createDataFrame(
        [("1",), (None,), ("4",)], "qs string"
    ).withColumn("q", F.col("qs").cast("decimal(38,0)"))
    got = {
        r["qs"]: r["s"]
        for r in _isqrt_dec_steps(df, "q", "isq")
        .select("qs", F.col("isq").cast("string").alias("s"))
        .collect()
    }
    assert got == {"1": "1", None: None, "4": "2"}


def test_isqrt_dec_and_div_exact_match_python(spark):
    """r11: the DECIMAL(38,0) exact-arithmetic kernels match Python int
    math across the FULL range — including past 2^63 where the r10
    BIGINT pipeline silently wrapped (the advice finding) and
    adversarial near-squares at 10^37..10^38 where the float seed is up
    to ~1.2e3 off and the Newton chain + ±2 ladder must recover
    exactly. Values ride as strings (a long would overflow)."""
    import math
    import random

    from mongo_polars_reconciliation_spark.extensions.text import (
        _div_exact,
        _isqrt_dec_steps,
    )

    rng = random.Random(11)
    vals = [0, 1, 2, 3, 4, 2**53 - 1, 2**53, 2**63 - 1, 2**63,
            2**63 + 1, 10**38 - 1]
    for k in (3037000499, 10**15 + 37, 4_611_686_018_427_387_847,
              9_999_999_999_999_999_999):
        vals += [k * k - 1, k * k, k * k + 1]
    vals += [rng.randrange(10**37, 10**38) for _ in range(24)]
    vals += [rng.randrange(1, 10**exp) for exp in range(1, 38)
             for _ in (0,)]
    df = spark.createDataFrame(
        [(str(v),) for v in vals], "qs string"
    ).withColumn("q", F.col("qs").cast("decimal(38,0)"))
    got = {
        r["qs"]: r["s"]
        for r in _isqrt_dec_steps(df, "q", "isq")
        .select("qs", F.col("isq").cast("string").alias("s"))
        .collect()
    }
    assert got == {str(v): str(math.isqrt(v)) for v in set(vals)}
    # floor division: quotient-first generation keeps every case inside
    # the documented exactness domain (quotient < 10^32)
    pairs = []
    for _ in range(30):
        b = rng.randrange(1, 10**8)
        q0 = rng.randrange(0, 10**30)
        a = q0 * b + rng.randrange(0, b)
        pairs.append((a, b))
    pdf = spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "a string, b string"
    )
    gotd = {
        (r["a"], r["b"]): r["d"]
        for r in pdf.select(
            "a",
            "b",
            _div_exact(
                F.col("a").cast("decimal(38,0)"),
                F.col("b").cast("decimal(38,0)"),
            )
            .cast("string")
            .alias("d"),
        ).collect()
    }
    assert gotd == {(str(a), str(b)): str(a // b) for a, b in pairs}


def test_isqrt_unscale_matches_python(spark):
    """r13 (VERDICT r12 #3, the α=3/4 fusion): recovering w_{1/2} from
    the q4 chain's first root — c = r4 DIV d, ±1 ladder against q2 —
    is bit-identical to math.isqrt(q2) across the contract domain,
    including x just above/below perfect squares (where c = w+1 and the
    down-correction MUST fire), huge quotients near the decimal
    ceiling, tiny x < 1 (q2 = 0), and a NULL seed (non-ANSI overflow),
    which must propagate as NULL — never the smax clamp."""
    import math
    import random

    from mongo_polars_reconciliation_spark.extensions.text import (
        _isqrt_unscale_steps,
    )

    rng = random.Random(13)
    cases = []  # (q2, q4, d) with q2=floor(x), q4=floor(x·d²), x=N/n
    for d in (10_000, 7, 2):
        dmax = (10**38 - 1) // (d * d)
        seeds = [1, 2, 3, d * d - 1, d * d, d * d + 1]
        for k in (3, 10**9 + 7, 3037000499):
            if k * k <= dmax:
                # near-squares of x: the c = w+1 shapes
                seeds += [k * k - 1, k * k, k * k + 1]
        seeds += [rng.randrange(1, dmax) for _ in range(20)]
        seeds += [dmax - 1, dmax]
        for N in seeds:
            for n in (1, 3, rng.randrange(1, 10**6)):
                if N * d * d // n >= 1 or True:
                    cases.append((N * d * d // n, N * d**4 // n, d))
        # tiny x < 1: q2 = 0 while the finer scale still has mass
        cases += [(0, d * d // 2, d), (0, 1, d)]
    rows = [
        (str(q2), str(math.isqrt(q4)), d, str(math.isqrt(q2)))
        for q2, q4, d in cases
    ]
    df = spark.createDataFrame(
        rows, "q2s string, r4s string, d int, want string"
    ).withColumn("q2", F.col("q2s").cast("decimal(38,0)")).withColumn(
        "r4", F.col("r4s").cast("decimal(38,0)")
    )
    for d in (10_000, 7, 2):
        part = _isqrt_unscale_steps(
            df.where(F.col("d") == d), "r4", "q2", d, "wh"
        )
        bad = part.where(
            F.col("wh").cast("string") != F.col("want")
        ).count()
        assert bad == 0, f"denom={d}"
    # NULL seed or NULL quotient → NULL out (not the smax clamp)
    ndf = spark.createDataFrame(
        [("4", None), (None, "2"), (None, None)],
        "q2s string, r4s string",
    ).withColumn("q2", F.col("q2s").cast("decimal(38,0)")).withColumn(
        "r4", F.col("r4s").cast("decimal(38,0)")
    )
    out = _isqrt_unscale_steps(ndf, "r4", "q2", 2, "wh").collect()
    assert all(r["wh"] is None for r in out)


def test_mix_temperature_alpha_weights_and_rates(spark):
    """r11: α=3/4 weights equal the Python integer replay of the
    binary-expansion spec — w = (isqrt(n_max·denom² DIV n) ·
    isqrt(isqrt(n_max·denom⁴ DIV n))) DIV denom — the largest stratum
    still runs exactly 1.0 epochs, each stratum's realized copy count
    matches the independently computed hash threshold (the realized-rate
    audit), α=(2,4) reduces to α=(1,2) row-for-row, α=1 is the pure
    inverse-frequency ratio, and an unsupported alpha raises."""
    import math

    import pytest as _pytest

    from mongo_polars_reconciliation_spark.extensions.text import (
        mix_temperature,
    )
    from mongo_polars_reconciliation_spark.functions.hashing import (
        poly_hash_mixed_col,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    counts = {
        r["lang"]: r["c"]
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    n_max = max(counts.values())
    out = mix_temperature(docs, "lang", alpha=(3, 4)).collect()
    w_by_lang: dict = {}
    n_rows: dict = {}
    for r in out:
        w_by_lang.setdefault(r["lang"], set()).add(r["w_q"])
        n_rows[r["lang"]] = n_rows.get(r["lang"], 0) + 1
    hmod = docs.select(
        "doc_id", "lang",
        F.pmod(poly_hash_mixed_col("doc_id"), F.lit(10_000)).alias("h"),
    ).collect()
    for lang, n in counts.items():
        wh = math.isqrt((n_max * 10_000 * 10_000) // n)
        wq4 = math.isqrt(math.isqrt((n_max * 10_000**4) // n))
        w_q = (wh * wq4) // 10_000
        assert w_by_lang[lang] == {w_q}, lang
        base, frac = w_q // 10_000, w_q % 10_000
        extra = sum(1 for r in hmod if r["lang"] == lang and r["h"] < frac)
        assert n_rows[lang] == base * n + extra, lang
        if n == n_max:
            assert w_q == 10_000  # exactly 1.0 epochs at every alpha
    # dyadic normalization: (2,4) is the same fraction as (1,2)
    a = sorted(map(tuple, mix_temperature(docs, "lang", alpha=(2, 4)).collect()))
    b = sorted(map(tuple, mix_temperature(docs, "lang", alpha=(1, 2)).collect()))
    assert a == b
    # α=1: pure inverse-frequency ratio, no sqrt involved
    one = mix_temperature(docs, "lang", alpha=(1, 1)).collect()
    for r in one:
        assert r["w_q"] == (n_max * 10_000) // counts[r["lang"]]
    for bad in ((3, 8), (0, 2), (5, 4), (1, 3)):
        with _pytest.raises(ValueError):
            mix_temperature(docs, "lang", alpha=bad)


def test_mix_temperature_weights_and_rates(spark):
    """r10: the derived weights realize the α=1/2 law — the largest
    stratum's weight is EXACTLY 1.0 epochs (one copy per doc, no hash
    dependence), every stratum's weight equals the integer-exact
    sqrt((n_max·denom²) DIV n), and each stratum's realized copy count
    equals base·n + |{ids: h < frac}| computed independently."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        mix_temperature,
    )
    from mongo_polars_reconciliation_spark.functions.hashing import (
        poly_hash_mixed_col,
    )
    import math

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    counts = {
        r["lang"]: r["c"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n_max = max(counts.values())
    out = mix_temperature(docs, "lang").collect()
    w_by_lang = {}
    copies = {}
    for r in out:
        w_by_lang.setdefault(r["lang"], set()).add(r["w_q"])
        if r["epoch"] == 1:
            copies[r["lang"]] = copies.get(r["lang"], 0)
        copies[r["lang"]] = copies.get(r["lang"], 0)
    n_rows = {}
    for r in out:
        n_rows[r["lang"]] = n_rows.get(r["lang"], 0) + 1
    hmod = docs.select(
        "doc_id", "lang",
        F.pmod(poly_hash_mixed_col("doc_id"), F.lit(10_000)).alias("h"),
    ).collect()
    for lang, n in counts.items():
        w_q = math.isqrt((n_max * 10_000 * 10_000) // n)
        assert w_by_lang[lang] == {w_q}, lang
        base, frac = w_q // 10_000, w_q % 10_000
        extra = sum(1 for r in hmod if r["lang"] == lang and r["h"] < frac)
        assert n_rows[lang] == base * n + extra, lang
        if n == n_max:
            assert w_q == 10_000  # exactly 1.0 epochs, no fractional copies
            assert n_rows[lang] == n


@pytest.mark.parametrize("qname", ["text_line_dedup", "text_line_dedup_trim"])
def test_line_dedup_plan_has_no_window(spark, qname):
    """r10 plan pin of the skew-safe claim (extended to the r11 trim
    face): first occurrence is an aggregate + hash join, reassembly a
    per-doc collect — the physical plan must contain NO window operator
    at all (a row_number over partitionBy(line) would stall on
    corpus-hot boilerplate lines) and no sort-merge join on the hot
    line key."""
    from mongo_polars_reconciliation_spark.harness.queries import QUERIES

    plan = (
        QUERIES[qname](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_lm_buckets_plan_never_sorts_raw_rows(spark):
    """r10 plan pin: the tercile cutoffs come from the collapsed
    (lang, score) histogram and bucketing is a broadcast join — the
    physical plan must contain NO sort-merge join (the raw corpus is
    never sorted into skewed language partitions for a rank; the only
    windows run over the sketch-sized aggregate)."""
    from mongo_polars_reconciliation_spark.harness.queries import QUERIES

    plan = (
        QUERIES["text_lm_buckets"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_packed_shards_rewrite_is_idempotent(spark, tmp_path):
    """r10: re-running the shard writer over the same corpus and output
    dir (mode overwrite) yields byte-identical content rows and keeps
    the one-file-per-shard contract — the rerun-a-failed-job story."""
    import glob as _glob

    from mongo_polars_reconciliation_spark.extensions.text import (
        write_packed_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "shards")
    write_packed_shards(docs, out, n_shards=4, token_budget=256)
    first = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    write_packed_shards(docs, out, n_shards=4, token_budget=256)
    second = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert first == second
    for d in sorted(_glob.glob(f"{out}/shard=*")):
        files = [f for f in _glob.glob(f"{d}/*") if f.endswith(".parquet")]
        assert len(files) == 1, d


def test_packed_shards_one_file_per_shard_and_balanced(spark, tmp_path):
    """r10: the shard writer's loader contract — exactly one parquet data
    file per shard directory, every batch wholly inside one shard, and
    round-robin balance (shard batch counts differ by at most 1)."""
    import glob as _glob

    from mongo_polars_reconciliation_spark.extensions.text import (
        write_packed_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "shards")
    write_packed_shards(docs, out, n_shards=4, token_budget=256)
    dirs = sorted(_glob.glob(f"{out}/shard=*"))
    assert [d.rsplit("=", 1)[1] for d in dirs] == ["0", "1", "2", "3"]
    for d in dirs:
        files = [f for f in _glob.glob(f"{d}/*") if f.endswith(".parquet")]
        assert len(files) == 1, d
    rr = spark.read.parquet(out).select("batch_id", "shard").collect()
    by_batch = {}
    for r in rr:
        by_batch.setdefault(r["batch_id"], set()).add(r["shard"])
    assert all(len(s) == 1 for s in by_batch.values()), "batch split across shards"
    per_shard = {}
    for b, s in by_batch.items():
        sh = next(iter(s))
        per_shard[sh] = per_shard.get(sh, 0) + 1
        assert sh == b % 4
    assert max(per_shard.values()) - min(per_shard.values()) <= 1


def test_packed_shards_validation_catches_split_files(spark, tmp_path):
    """r11 (advice): the one-file-per-shard contract silently breaks
    when spark.sql.files.maxRecordsPerFile splits a task's output — the
    writer must now CATCH that at write time (loud RuntimeError naming
    the shards) instead of returning with a violated loader contract,
    and validate=False must preserve the old fire-and-forget path."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        write_packed_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "shards_split")
    prev = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    try:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "3")
        with pytest.raises(RuntimeError, match="one-file-per-shard"):
            write_packed_shards(docs, out, n_shards=4, token_budget=256)
        # the old behavior is still reachable, eyes open
        write_packed_shards(
            docs, out, n_shards=4, token_budget=256, validate=False
        )
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)
    # with the poison config removed, the default validating write passes
    write_packed_shards(docs, out, n_shards=4, token_budget=256)
    # r11 (review finding): an EMPTY corpus writes only _SUCCESS — the
    # validation read can't infer a schema there and must no-op, not
    # crash (the pre-validation write path always accepted empty input)
    empty = spark.createDataFrame([], "doc_id long, text string")
    write_packed_shards(empty, str(tmp_path / "shards_empty"), n_shards=4)


def test_datacard_state_fold_equals_full_rescan(spark):
    """r10: the datacard state is an exact sufficient statistic — folding
    per-split states (any split count) and deriving the card equals
    corpus_datacard's full rescan on every metric, column-wise, and the
    merge-check query's merged_*/global_* pairs are equal row-wise."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        corpus_datacard,
        datacard_from_state,
        datacard_merge_check,
        datacard_state,
        merge_datacard_states,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {
        (r["source"], r["lang"]): tuple(r)[2:]
        for r in corpus_datacard(docs).collect()
    }
    for n_splits in (2, 3):
        states = [
            datacard_state(docs.filter(F.pmod(F.col("doc_id"), F.lit(n_splits)) == k))
            for k in range(n_splits)
        ]
        merged = {
            (r["source"], r["lang"]): tuple(r)[2:]
            for r in datacard_from_state(
                merge_datacard_states(states)
            ).collect()
        }
        assert merged == full, f"n_splits={n_splits}"
    for r in datacard_merge_check(docs).collect():
        for m in ("n_docs", "total_ws_tokens", "avg_quality_r",
                  "p50_tokens", "p90_tokens"):
            assert r[f"merged_{m}"] == r[f"global_{m}"], (r["source"], r["lang"], m)


def test_lm_buckets_match_python_model(spark):
    """r10: the per-language tercile bucketing equals a Python replay of
    the nearest-rank cutoff rule on the engine's own scores — including
    tied scores (which must share a bucket) and a language whose docs
    all tie (everything lands in head: cut1 == cut2 == the one score)."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        bigram_lm_scores,
        lm_typicality_buckets,
    )

    docs = spark.createDataFrame(
        [
            # lang a: 6 scored docs with a designed score spread + a tie
            (1, "x y x y x y", "a"),
            (2, "x y x y z q", "a"),
            (3, "z q z q z q", "a"),
            (4, "x y x y x y", "a"),  # exact tie with doc 1
            (5, "q z q z q z", "a"),
            (6, "x z y q x z", "a"),
            # lang b: all docs identical -> single score, all head
            (7, "m n m n", "b"),
            (8, "m n m n", "b"),
            (9, "m n m n", "b"),
            # unscored: single token, must be absent
            (10, "solo", "a"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {
        r["doc_id"]: (r["lang"], r["lm_score_q"], r["bucket"])
        for r in lm_typicality_buckets(docs).collect()
    }
    scores = {
        r["doc_id"]: r["lm_score_q"]
        for r in bigram_lm_scores(docs).collect()
    }
    langs = {r["doc_id"]: r["lang"] for r in docs.collect()}
    want = {}
    for lg in ("a", "b"):
        members = [d for d in scores if langs[d] == lg]
        vals = sorted((scores[d] for d in members), reverse=True)
        n = len(vals)
        cut1 = vals[(n + 2) // 3 - 1]
        cut2 = vals[(2 * n + 2) // 3 - 1]
        for d in members:
            s = scores[d]
            b = "head" if s >= cut1 else ("middle" if s >= cut2 else "tail")
            want[d] = (lg, s, b)
    assert 10 not in got and 10 not in want  # no bigrams -> absent
    assert got == want
    # ties share a bucket; the all-tied language is entirely head
    assert got[1][2] == got[4][2]
    assert {got[d][2] for d in (7, 8, 9)} == {"head"}


def test_neardup_ingest_short_docs_exact_only(spark):
    """Docs shorter than the shingle width carry no band keys, so they are
    exact-dedup-only by construction: distinct short texts all admit
    (even near-identical ones), exact copies collapse, and redelivery
    still admits nothing (digest state suffices)."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel_neardup,
    )

    batch = spark.createDataFrame(
        [(1, "ab"), (2, "ab cd"), (3, "ab ce"), (4, "ab cd"), (5, "")],
        "doc_id long, text string",
    )
    empty_dg = spark.createDataFrame([], "text_hash string")
    empty_bands = spark.createDataFrame([], "bband string, doc_id long")
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    a1 = ingest_novel_neardup(batch, empty_dg, empty_bands, empty_docs)
    got = sorted(r["doc_id"] for r in a1.collect())
    assert got == [1, 2, 3, 5]  # 4 is an exact copy of 2; all else distinct
    admitted_docs = batch.join(a1.select("doc_id"), "doc_id")
    again = ingest_novel_neardup(
        batch,
        a1.select("text_hash"),
        band_state(admitted_docs),
        admitted_docs,
    )
    assert again.count() == 0


def test_payload_block_near_dup_matches_python_model(spark):
    """Chunked-block near-dup rows equal an independent Python mirror
    (hashlib md5 per aligned block, shared-count join, floor4 fraction)
    on payloads engineered for prefix sharing, tail growth, truncation,
    and byte shift."""
    import hashlib
    import math

    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
        payload_near_dups,
    )

    B = 8
    texts = {
        1: "abcdefghXYZWVUTS12345678",          # 3 full blocks
        2: "abcdefghXYZWVUTS12345678",          # exact copy of 1
        3: "abcdefghXYZWVUTS12345678extra",     # appended tail
        4: "abcdefghXYZWVUTS",                  # truncation of 1
        5: "zabcdefghXYZWVUTS1234567",          # byte-shifted: no aligned block
        6: "totally-different-payload-bytes",
    }
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["n_shared"], r["n_blocks_a"],
         r["n_blocks_b"], r["block_sim_r"])
        for r in payload_near_dups(
            attach_payload(df), block_bytes=B, threshold=0.25
        ).collect()
    )

    def blocks(t):
        bs = t.encode()
        return [
            hashlib.md5(bs[i * B:(i + 1) * B]).hexdigest()
            for i in range(math.ceil(len(bs) / B))
        ]

    expect = []
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ba, bb = blocks(texts[a]), blocks(texts[b])
            shared = sum(
                1 for k in range(min(len(ba), len(bb))) if ba[k] == bb[k]
            )
            if not shared:
                continue
            sim = math.floor(shared / max(len(ba), len(bb)) * 10000) / 10000
            if sim >= 0.25:
                expect.append((a, b, shared, len(ba), len(bb), sim))
    assert got == sorted(expect)
    got_pairs = {(a, b) for a, b, *_ in got}
    assert (1, 2) in got_pairs and (1, 3) in got_pairs and (1, 4) in got_pairs
    assert not any(5 in (a, b) or 6 in (a, b) for a, b in got_pairs)


@settings(max_examples=15, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=0,
        max_size=14,
    )
)
def test_greedy_admit_matches_python_sequential_model(spark, edges):
    """Randomized pin of the sequential-arrival admission: on arbitrary
    near-dup graphs, _greedy_admit equals the doc-at-a-time Python
    greedy (admit v iff no ADMITTED lower neighbor) — the property the
    ingest's batch-split and redelivery contracts rest on."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        _greedy_admit,
    )

    norm = sorted({(min(a, b), max(a, b)) for a, b in edges})
    nodes = sorted({n for e in norm for n in e})
    if not nodes:
        return
    e_df = spark.createDataFrame(norm, "lo long, hi long")
    c_df = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    got = sorted(
        r["doc_id"] for r in _greedy_admit(c_df, e_df, "doc_id", 25).collect()
    )
    admitted = set()
    for v in nodes:  # id order == arrival order
        if not any((u, v) in set(norm) for u in admitted if u < v):
            admitted.add(v)
    assert got == sorted(admitted), (norm, got, sorted(admitted))


def test_centroid_artifact_roundtrip_bitmatches_fit_use(spark):
    """r10 artifact round-trip (the BPE pin's vector-side mirror): a
    centroid table written to parquet and loaded back is the EXACT float
    list the fit returned (parquet doubles are bit-exact), and the k-NN
    graph built from the loaded centroids equals fit-then-use row for
    row — including every 6-dp cosine."""
    import shutil

    from mongo_polars_reconciliation_spark.extensions.similarity import (
        kmeans_fit,
        knn_join_multiprobe,
        load_centroids,
        save_centroids,
    )
    from mongo_polars_reconciliation_spark.scratch import scratch_path

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_fit(emb, k=8, n_iter=1)
    path = scratch_path("test_centroid_roundtrip", "centroids.parquet")
    shutil.rmtree(path, ignore_errors=True)
    save_centroids(spark, cents, path)
    loaded = load_centroids(spark, path)
    assert loaded == cents  # exact float equality, not approx
    direct = sorted(
        tuple(r)
        for r in knn_join_multiprobe(emb, k=3, nprobe=2, cents=cents).collect()
    )
    via_artifact = sorted(
        tuple(r)
        for r in knn_join_multiprobe(
            emb, k=3, nprobe=2, cents=loaded
        ).collect()
    )
    # and the cents=None in-session fit with the same constants agrees
    fit_inline = sorted(
        tuple(r)
        for r in knn_join_multiprobe(
            emb, k=3, nprobe=2, nlist=8, n_iter=1
        ).collect()
    )
    assert via_artifact == direct == fit_inline


def test_load_centroids_rejects_corrupt_artifact(spark):
    import shutil

    import pytest as _pytest

    from mongo_polars_reconciliation_spark.extensions.similarity import (
        load_centroids,
        save_centroids,
    )
    from mongo_polars_reconciliation_spark.scratch import scratch_path

    path = scratch_path("test_centroid_roundtrip", "gappy.parquet")
    shutil.rmtree(path, ignore_errors=True)
    save_centroids(spark, [[1.0, 2.0], [3.0, 4.0]], path)
    spark.read.parquet(path).where("cid = 1").write.mode(
        "overwrite"
    ).parquet(path + "_gap")
    with _pytest.raises(ValueError, match="non-contiguous"):
        load_centroids(spark, path + "_gap")


def _semantic_fixture(spark, sf_dir="/root/testdata/sf0.001"):
    """History + arriving batch + persisted centroid/assignment state for
    the embedding-space ingest properties — the sim_ingest_semantic
    fixture shapes (exact re-uploads + zeroed-dim near-dup variants)."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        assignment_state,
        kmeans_fit,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    hist = emb.where(F.col("vec_id") % 3 < 2)
    batch = (
        emb.where(F.col("vec_id") % 3 == 2)
        .unionByName(
            emb.where(F.col("vec_id") % 10 == 1).select(
                (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            emb.where(F.col("vec_id") % 10 == 4).select(
                (F.col("vec_id") + 200000).alias("vec_id"),
                F.expr(
                    "transform(embedding, (x, i) -> CASE WHEN i < 8 "
                    "THEN CAST(0.0 AS FLOAT) ELSE x END)"
                ).alias("embedding"),
            )
        )
    )
    cents = kmeans_fit(hist, k=32, n_iter=1)
    return hist, batch, cents, assignment_state(hist, cents, nprobe=2)


def test_semantic_ingest_batch_split_equals_one_batch(spark):
    """r10: the embedding-space ingest inherits the greedy family's
    batch-split property — B1 (low ids) then B2 against the updated
    state admits exactly what one concatenated batch admits."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        assignment_state,
        ingest_novel_semantic,
    )

    hist, batch, cents, assign = _semantic_fixture(spark)
    one = ingest_novel_semantic(
        batch, assign, hist, cents, mis_max_iter=8
    )
    one_ids = sorted(r["vec_id"] for r in one.collect())

    median = 100000
    b1 = batch.where(F.col("vec_id") < median).localCheckpoint(eager=True)
    b2 = batch.where(F.col("vec_id") >= median).localCheckpoint(eager=True)
    a1 = ingest_novel_semantic(
        b1, assign, hist, cents, mis_max_iter=8
    ).localCheckpoint(eager=True)
    adm1 = b1.join(a1, "vec_id")
    assign2 = assign.unionByName(assignment_state(adm1, cents, nprobe=2))
    vecs2 = hist.unionByName(adm1)
    a2 = ingest_novel_semantic(b2, assign2, vecs2, cents, mis_max_iter=8)
    two_ids = sorted(
        [r["vec_id"] for r in a1.collect()]
        + [r["vec_id"] for r in a2.collect()]
    )
    assert two_ids == one_ids and len(one_ids) > 0


def test_semantic_ingest_redelivery_admits_nothing(spark):
    """r10: after folding an admitted batch into the assignment state and
    the vector store, re-delivering the SAME batch admits zero vectors —
    every rejected vector is (by the greedy rule) a semantic dup of
    something now in state, and every admitted one now matches itself at
    cos 1.0."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        assignment_state,
        ingest_novel_semantic,
    )

    hist, batch, cents, assign = _semantic_fixture(spark)
    a1 = ingest_novel_semantic(
        batch, assign, hist, cents, mis_max_iter=8
    ).localCheckpoint(eager=True)
    assert a1.count() > 0
    adm = batch.join(a1, "vec_id")
    assign2 = assign.unionByName(assignment_state(adm, cents, nprobe=2))
    vecs2 = hist.unionByName(adm)
    again = ingest_novel_semantic(batch, assign2, vecs2, cents, mis_max_iter=8)
    assert again.count() == 0


def test_semantic_ingest_tolerates_duplicate_state_rows(spark):
    """r10: duplicated assignment/vector state rows (a crash-replayed
    append) change nothing — the vector store is deduped after the
    collision semi-join, mirroring the text ingest's contract."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ingest_novel_semantic,
    )

    hist, batch, cents, assign = _semantic_fixture(spark)
    clean = sorted(
        r["vec_id"]
        for r in ingest_novel_semantic(
            batch, assign, hist, cents, mis_max_iter=8
        ).collect()
    )
    dup = sorted(
        r["vec_id"]
        for r in ingest_novel_semantic(
            batch,
            assign.unionAll(assign),
            hist.unionAll(hist),
            cents,
            mis_max_iter=8,
        ).collect()
    )
    assert clean == dup and len(clean) > 0


def _payload_fixture(spark, sf_dir="/root/testdata/sf0.001"):
    """History + arriving batch + persisted digest/block state for the
    payload ingest properties — the mm_payload_ingest fixture shapes
    (byte-exact re-uploads + appended-tail variants, 64-byte blocks)."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
        payload_block_state,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        MM_PAYLOAD_TAIL,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hist = attach_payload(docs.where(F.col("doc_id") % 3 < 2))
    batch = attach_payload(
        docs.where(F.col("doc_id") % 3 == 2)
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 7).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 5).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(MM_PAYLOAD_TAIL)).alias(
                    "text"
                ),
            )
        )
    )
    digests = hist.select(
        F.md5(F.col("payload")).alias("payload_hash")
    ).distinct()
    return hist, batch, digests, payload_block_state(hist, block_bytes=64)


def test_payload_ingest_batch_split_equals_one_batch(spark):
    """r10: the payload ingest inherits the greedy family's batch-split
    property — B1 (low ids) then B2 against the updated state admits
    exactly what one concatenated batch admits."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        ingest_novel_payloads,
        payload_block_state,
    )

    hist, batch, digests, blocks = _payload_fixture(spark)
    one = ingest_novel_payloads(
        batch, digests, blocks, block_bytes=64, mis_max_iter=8
    )
    one_ids = sorted(r["doc_id"] for r in one.collect())

    median = 100000
    b1 = batch.where(F.col("doc_id") < median).localCheckpoint(eager=True)
    b2 = batch.where(F.col("doc_id") >= median).localCheckpoint(eager=True)
    a1 = ingest_novel_payloads(
        b1, digests, blocks, block_bytes=64, mis_max_iter=8
    ).localCheckpoint(eager=True)
    adm1 = b1.join(a1.select("doc_id"), "doc_id")
    digests2 = digests.unionByName(
        a1.select(F.col("payload_hash"))
    ).distinct()
    blocks2 = blocks.unionByName(payload_block_state(adm1, block_bytes=64))
    a2 = ingest_novel_payloads(
        b2, digests2, blocks2, block_bytes=64, mis_max_iter=8
    )
    two_ids = sorted(
        [r["doc_id"] for r in a1.collect()]
        + [r["doc_id"] for r in a2.collect()]
    )
    assert two_ids == one_ids and len(one_ids) > 0


def test_payload_ingest_redelivery_admits_nothing(spark):
    """r10: after folding an admitted batch into both state faces,
    re-delivering the SAME batch admits zero payloads."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        ingest_novel_payloads,
        payload_block_state,
    )

    hist, batch, digests, blocks = _payload_fixture(spark)
    a1 = ingest_novel_payloads(
        batch, digests, blocks, block_bytes=64, mis_max_iter=8
    ).localCheckpoint(eager=True)
    assert a1.count() > 0
    adm = batch.join(a1.select("doc_id"), "doc_id")
    digests2 = digests.unionByName(a1.select("payload_hash")).distinct()
    blocks2 = blocks.unionByName(payload_block_state(adm, block_bytes=64))
    again = ingest_novel_payloads(
        batch, digests2, blocks2, block_bytes=64, mis_max_iter=8
    )
    assert again.count() == 0


def test_payload_ingest_capped_equals_uncapped_on_fixture(spark):
    """r10: with no degenerate block bucket on the fixture, the combined
    batch+state hot-bucket cap changes nothing — and the state-side count
    it pays touches only the buckets the batch's keys hit (the bucketed
    semi-join), never full history."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        ingest_novel_payloads,
    )

    hist, batch, digests, blocks = _payload_fixture(spark)
    exact = sorted(
        tuple(r)
        for r in ingest_novel_payloads(
            batch, digests, blocks, block_bytes=64, mis_max_iter=8
        ).collect()
    )
    capped = sorted(
        tuple(r)
        for r in ingest_novel_payloads(
            batch,
            digests,
            blocks,
            block_bytes=64,
            max_bucket_size=1000,
            mis_max_iter=8,
        ).collect()
    )
    assert exact == capped and len(exact) > 0


def test_semantic_ingest_cold_start_empty_state(spark):
    """r10: a first-wave ingest against EMPTY state reduces to pure
    within-batch greedy admission — exact copies collapse to the lower
    id, unrelated vectors all admit."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ingest_novel_semantic,
        kmeans_fit,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") < 40)
    copies = base.where(F.col("vec_id") % 4 == 1).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    batch = base.unionByName(copies)
    cents = kmeans_fit(base, k=4, n_iter=1)
    empty_assign = spark.createDataFrame([], "blk int, vec_id long")
    empty_vecs = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    got = sorted(
        r["vec_id"]
        for r in ingest_novel_semantic(
            batch, empty_assign, empty_vecs, cents, mis_max_iter=8
        ).collect()
    )
    n_base = base.count()
    # every original admits (natural vectors are far apart), every exact
    # copy rejects against its lower-id original
    assert got == sorted(r["vec_id"] for r in base.collect()), got
    assert len(got) == n_base


def test_payload_ingest_cold_start_and_zero_length(spark):
    """r10: cold start against empty state + zero-length payloads, which
    emit no blocks and are exact-dedup-only by construction — two empty
    payloads are exact copies of each other (one admits), and a
    zero-length payload can never be a block near-dup of anything."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
        ingest_novel_payloads,
    )

    batch = attach_payload(
        spark.createDataFrame(
            [
                (1, "a" * 200),
                (2, ""),          # zero-length
                (3, ""),          # exact copy of 2 → rejected
                (4, "a" * 200),   # exact copy of 1 → rejected
                (5, "b" * 200),
            ],
            "doc_id long, text string",
        )
    )
    empty_dg = spark.createDataFrame([], "payload_hash string")
    empty_blocks = spark.createDataFrame(
        [], "bblock string, doc_id long, n_blocks long"
    )
    got = sorted(
        r["doc_id"]
        for r in ingest_novel_payloads(
            batch, empty_dg, empty_blocks, block_bytes=64, mis_max_iter=8
        ).collect()
    )
    assert got == [1, 2, 5], got


# Payload-ingest randomized model: texts composed from a small pool of
# block-sized chunks so shared aligned blocks (and exact copies) occur
# often. The pure-Python model replays the whole admission — digest
# keeper/anti-join, shared-block fraction vs history, doc-at-a-time
# sequential greedy — with the engine's exact floor4 arithmetic.
_CHUNKS = [c * 64 for c in "abcdefgh"]
_doc_strategy = st.lists(st.integers(0, 7), min_size=0, max_size=4).map(
    lambda idx: "".join(_CHUNKS[i] for i in idx)
)


def _payload_model(hist, batch, block_bytes=64, threshold=0.5):
    import hashlib
    import math

    def md5(t):
        return hashlib.md5(t.encode()).hexdigest()

    def blocks(t):
        return [
            (i // block_bytes, md5(t[i : i + block_bytes]))
            for i in range(0, len(t), block_bytes)
        ]

    def sim(ta, tb):
        ba, bb = set(blocks(ta)), set(blocks(tb))
        if not ba or not bb:
            return 0.0
        nsh = len(ba & bb)
        return math.floor(
            nsh / max(len(ba), len(bb)) * 10000
        ) / 10000

    hist_dg = {md5(t) for t in hist.values()}
    # phase 1: min-id keeper per digest, digest not in history
    keeper: dict[str, int] = {}
    texts = dict(batch)
    for i in sorted(texts):
        keeper.setdefault(md5(texts[i]), i)
    kept = [i for h, i in keeper.items() if h not in hist_dg]
    # phase 2: block near-dup vs history
    kept2 = [
        i
        for i in sorted(kept)
        if not any(sim(texts[i], ht) >= threshold for ht in hist.values())
    ]
    # phase 3: sequential greedy within batch
    admitted: list[int] = []
    for i in kept2:  # ascending id = arrival order
        if not any(sim(texts[i], texts[j]) >= threshold for j in admitted):
            admitted.append(i)
    return sorted(admitted)


@settings(max_examples=10, deadline=None)
@given(
    hist_docs=st.lists(_doc_strategy, min_size=0, max_size=3),
    batch_docs=st.lists(_doc_strategy, min_size=1, max_size=6),
)
def test_payload_ingest_matches_python_model(spark, hist_docs, batch_docs):
    """r10 randomized end-to-end pin, independent of the DuckDB oracle:
    on arbitrary chunk-composed corpora the engine's payload admission
    equals the doc-at-a-time Python model."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
        ingest_novel_payloads,
        payload_block_state,
    )
    from pyspark.sql import functions as SF

    hist = {i: t for i, t in enumerate(hist_docs)}
    batch = {100 + i: t for i, t in enumerate(batch_docs)}
    expected = _payload_model(hist, batch)

    hist_df = attach_payload(
        spark.createDataFrame(
            list(hist.items()) or [(None, None)], "doc_id long, text string"
        ).where(SF.col("doc_id").isNotNull())
    )
    batch_df = attach_payload(
        spark.createDataFrame(list(batch.items()), "doc_id long, text string")
    )
    digests = hist_df.select(
        SF.md5(SF.col("payload")).alias("payload_hash")
    ).distinct()
    got = sorted(
        r["doc_id"]
        for r in ingest_novel_payloads(
            batch_df,
            digests,
            payload_block_state(hist_df, block_bytes=64),
            block_bytes=64,
            mis_max_iter=10,
        ).collect()
    )
    assert got == expected, (hist, batch, got, expected)


# Semantic-ingest randomized model: vectors drawn from 4 axis-aligned
# prototypes (cross-prototype cosine ≈ 0, far below threshold) plus
# optional perturbed variants (cos ≈ 0.9487, above it) and exact copies
# (cos 1.0) — decisions sit far from the 0.9 boundary, so the model's
# Python floats and the engine's doubles can never disagree through the
# 6-dp rounding. Centroids are the prototypes themselves, passed
# explicitly (the persisted-artifact contract), so the model needs no
# Lloyd replay — just the same left-fold distance/probe/cosine math.
_PROTOS = [
    [3.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    [0.0, 3.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    [0.0, 0.0, 3.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    [0.0, 0.0, 0.0, 3.0, 0.0, 0.0, 0.0, 0.0],
]


def _vec_of(proto: int, variant: int) -> list:
    v = list(_PROTOS[proto])
    if variant:
        v[4 + proto] = 1.0  # cos(v, proto) = 9/(3*sqrt(10)) ≈ 0.9487
    return v


def _semantic_model(hist, batch, cents, threshold=0.9, nprobe=2):
    import math

    def probes(v):
        ds = []
        for cid, c in enumerate(cents):
            acc = 0.0
            for x, y in zip(v, c):
                acc = acc + (x - y) * (x - y)
            ds.append((acc, cid))
        ds.sort()
        return {cid for _, cid in ds[:nprobe]}

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot = dot + x * y
        for x in a:
            na = na + x * x
        for y in b:
            nb = nb + y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    hp = {i: probes(v) for i, v in hist.items()}
    bp = {i: probes(v) for i, v in batch.items()}
    kept = [
        i
        for i in sorted(batch)
        if not any(
            bp[i] & hp[h] and cos(batch[i], hv) >= threshold
            for h, hv in hist.items()
        )
    ]
    admitted = []
    for i in kept:
        if not any(
            bp[i] & bp[j] and cos(batch[i], batch[j]) >= threshold
            for j in admitted
        ):
            admitted.append(i)
    return sorted(admitted)


@settings(max_examples=10, deadline=None)
@given(
    hist_spec=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1)),
        min_size=0,
        max_size=3,
    ),
    batch_spec=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1)),
        min_size=1,
        max_size=6,
    ),
)
def test_semantic_ingest_matches_python_model(spark, hist_spec, batch_spec):
    """r10 randomized end-to-end pin, independent of the DuckDB oracle:
    on prototype-composed corpora the engine's semantic admission under
    explicit centroids equals the doc-at-a-time Python model (same
    left-fold IEEE arithmetic, same probe blocking, same greedy)."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        assignment_state,
        ingest_novel_semantic,
    )

    hist = {i: _vec_of(p, f) for i, (p, f) in enumerate(hist_spec)}
    batch = {100 + i: _vec_of(p, f) for i, (p, f) in enumerate(batch_spec)}
    expected = _semantic_model(hist, batch, _PROTOS)

    hist_df = spark.createDataFrame(
        [(i, v) for i, v in hist.items()] or [(-1, _PROTOS[0])],
        "vec_id long, embedding array<double>",
    ).where(F.col("vec_id") >= 0)
    batch_df = spark.createDataFrame(
        [(i, v) for i, v in batch.items()],
        "vec_id long, embedding array<double>",
    )
    got = sorted(
        r["vec_id"]
        for r in ingest_novel_semantic(
            batch_df,
            assignment_state(hist_df, _PROTOS, nprobe=2),
            hist_df,
            _PROTOS,
            threshold=0.9,
            nprobe=2,
            mis_max_iter=10,
        ).collect()
    )
    assert got == expected, (hist_spec, batch_spec, got, expected)


def test_payload_ingest_null_payload_redelivery_idempotent(spark):
    """r10: a NULL payload digests as the EMPTY payload — without the
    coalesce its NULL digest would never match the state anti-join
    (NULL <> NULL) and the doc would re-admit on EVERY redelivery (the
    r8 null-text lesson). First delivery admits it once (as empty
    content); folding the digest into state makes the redelivery admit
    zero, and an explicit empty payload is its exact copy."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        ingest_novel_payloads,
    )

    batch = spark.createDataFrame(
        [(1, bytearray(b"real content here")), (2, None), (3, bytearray(b""))],
        "doc_id long, payload binary",
    )
    empty_dg = spark.createDataFrame([], "payload_hash string")
    empty_blocks = spark.createDataFrame(
        [], "bblock string, doc_id long, n_blocks long"
    )
    a1 = ingest_novel_payloads(
        batch, empty_dg, empty_blocks, block_bytes=64, mis_max_iter=8
    ).localCheckpoint(eager=True)
    # doc 3 (explicit empty) is an exact copy of doc 2 (NULL → '') —
    # keeper min-id rule admits 1 and 2 only
    assert sorted(r["doc_id"] for r in a1.collect()) == [1, 2]
    again = ingest_novel_payloads(
        batch,
        a1.select("payload_hash").distinct(),
        empty_blocks,
        block_bytes=64,
        mis_max_iter=8,
    )
    assert again.count() == 0


def test_payload_ingest_tolerates_duplicate_state_rows(spark):
    """r10: duplicated block-state rows (a crash-replayed append) change
    nothing — without the post-semi-join distinct, a duplicated history
    row doubles its pair's n_shared and inflates the similarity past
    the threshold, over-dropping near-threshold batch payloads."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        ingest_novel_payloads,
    )

    hist, batch, digests, blocks = _payload_fixture(spark)
    clean = sorted(
        tuple(r)
        for r in ingest_novel_payloads(
            batch, digests, blocks, block_bytes=64, mis_max_iter=8
        ).collect()
    )
    dup = sorted(
        tuple(r)
        for r in ingest_novel_payloads(
            batch,
            digests,
            blocks.unionAll(blocks),
            block_bytes=64,
            mis_max_iter=8,
        ).collect()
    )
    assert clean == dup and len(clean) > 0


def test_cluster_keepers_by_quality_argmax_and_ties(spark):
    """r10: the struct-max arbitration equals the obvious per-cluster
    Python argmax, including the MIN-id tie-break on equal quality and
    singleton clusters keeping themselves."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        cluster_keepers_by_quality,
    )

    rows = [
        # cluster 1: clear winner 11
        (10, 1, 0.5), (11, 1, 0.75), (12, 1, 0.7),
        # cluster 2: quality tie -> min id 20 wins
        (20, 2, 0.6), (21, 2, 0.6),
        # singleton
        (30, 30, 0.1),
        # tie at 0.0 and negative-ish ids ordering
        (40, 4, 0.0), (41, 4, 0.0), (42, 4, 0.0),
    ]
    clusters = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "doc_id long, cluster_id long"
    )
    scores = spark.createDataFrame(
        [(r[0], r[2]) for r in rows], "doc_id long, quality_r double"
    )
    got = sorted(
        tuple(r)
        for r in cluster_keepers_by_quality(clusters, scores).collect()
    )

    by_cluster = {}
    for did, cid, q in rows:
        by_cluster.setdefault(cid, []).append((did, q))
    want = sorted(
        (
            cid,
            max(members, key=lambda m: (m[1], -m[0]))[0],
            max(members, key=lambda m: (m[1], -m[0]))[1],
            len(members),
        )
        for cid, members in by_cluster.items()
    )
    assert got == want


def test_neardup_ingest_crash_window_replay_idempotent(spark):
    """r10 hardening: the crash window BETWEEN the bands/docs state writes
    and the digest-ledger write must replay to exactly the original
    admitted set. The trap is a replayed batch doc meeting its own ghost
    state rows: unfiltered self-pairs drop it outright, and a ghost doc's
    shingles counted twice next to its batch-side copy would distort
    jacc_r for its neighbors — this fixture puts two admitted docs at
    true J = 7/13 (< 0.6, no edge, both admitted) whose doubled-count
    distortion 2*7/(2*10+10-2*7) = 0.875 would cross the threshold and
    silently drop BOTH on replay."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel_neardup,
        jaccard_verify,
        shingle_sets,
    )

    toks = [f"w{i:02d}" for i in range(1, 16)]
    b_text = " ".join(toks[0:12])   # 10 shingles (starts 0..9)
    c_text = " ".join(toks[3:15])   # 10 shingles (starts 3..12) -> 7 shared
    df = spark.createDataFrame(
        [(1, b_text), (2, c_text)], "doc_id long, text string"
    )
    # fixture sanity: true J = 7/13 < 0.6 -> the pair must NOT verify
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    assert jaccard_verify(pairs, shingle_sets(df), threshold=0.6).count() == 0
    # ... but the pair DOES collide in at least one 1-hash band, so the
    # replay actually reaches the verification stage (a checked fact)
    bs = band_state(df, num_hashes=12, bands=12)
    b_bands = {r["bband"] for r in bs.where("doc_id = 1").collect()}
    c_bands = {r["bband"] for r in bs.where("doc_id = 2").collect()}
    assert b_bands & c_bands, "fixture lost its band collision"

    empty_dg = spark.createDataFrame([], "text_hash string")
    empty_bands = spark.createDataFrame([], "bband string, doc_id long")
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    original = sorted(
        r["doc_id"]
        for r in ingest_novel_neardup(
            df, empty_dg, empty_bands, empty_docs,
            num_hashes=12, bands=12, mis_max_iter=8,
        ).collect()
    )
    assert original == [1, 2], original
    # crash window: bands/ and docs/ hold the admitted ghosts, the digest
    # ledger was never written -> the replayed trigger must re-derive the
    # SAME admissions (and would re-append, which the duplicate-state-row
    # contract absorbs)
    replay = sorted(
        r["doc_id"]
        for r in ingest_novel_neardup(
            df,
            empty_dg,
            band_state(df, num_hashes=12, bands=12),
            df,
            num_hashes=12, bands=12, mis_max_iter=8,
        ).collect()
    )
    assert replay == original, (replay, original)


def test_neardup_ingest_crash_window_replay_on_fixture(spark):
    """The crash-window replay pin over the real driver fixture: fold the
    admitted docs into bands/ and docs/ but NOT the digest ledger, replay
    the full batch, and require the original admitted set back."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        band_state,
        ingest_novel_neardup,
    )

    hist, batch, digests, bands = _neardup_fixture(spark)
    a1 = ingest_novel_neardup(
        batch, digests, bands, hist, mis_max_iter=8
    ).localCheckpoint(eager=True)
    original = sorted(r["doc_id"] for r in a1.collect())
    assert len(original) > 0
    adm_docs = batch.join(a1.select("doc_id"), "doc_id")
    bands2 = bands.unionByName(band_state(adm_docs))
    docs2 = hist.unionByName(adm_docs)
    replay = ingest_novel_neardup(
        batch, digests, bands2, docs2, mis_max_iter=8
    )
    assert sorted(r["doc_id"] for r in replay.collect()) == original


def test_payload_ingest_crash_window_replay_idempotent(spark):
    """r10 hardening, payload face: blocks/ written, digest ledger not —
    without the self-pair filter every admitted payload meets its own
    ghost blocks at shared fraction 1.0 and is silently dropped, so the
    ledger is never backfilled. Replay must admit the original set."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        ingest_novel_payloads,
        payload_block_state,
    )

    hist, batch, digests, blocks = _payload_fixture(spark)
    a1 = ingest_novel_payloads(
        batch, digests, blocks, block_bytes=64, mis_max_iter=8
    ).localCheckpoint(eager=True)
    original = sorted(r["doc_id"] for r in a1.collect())
    assert len(original) > 0
    adm = batch.join(a1.select("doc_id"), "doc_id")
    blocks2 = blocks.unionByName(payload_block_state(adm, block_bytes=64))
    replay = ingest_novel_payloads(
        batch, digests, blocks2, block_bytes=64, mis_max_iter=8
    )
    assert sorted(r["doc_id"] for r in replay.collect()) == original


def test_semantic_ingest_crash_window_replay_idempotent(spark):
    """r10 hardening, vector face: vecs/ written, assign/ not (the skin's
    write order) — the ghost vectors are unreachable without assignment
    rows (the store is only read through the collision semi-join), so the
    replay re-derives the original admissions. The other window (both
    faces written) is the redelivery-admits-nothing pin: cos-1.0
    self-match IS the semantic family's ledger."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ingest_novel_semantic,
    )

    hist, batch, cents, assign = _semantic_fixture(spark)
    a1 = ingest_novel_semantic(
        batch, assign, hist, cents, mis_max_iter=8
    ).localCheckpoint(eager=True)
    original = sorted(r["vec_id"] for r in a1.collect())
    assert len(original) > 0
    adm = batch.join(a1, "vec_id")
    vecs2 = hist.unionByName(adm)
    replay = ingest_novel_semantic(
        batch, assign, vecs2, cents, mis_max_iter=8
    )
    assert sorted(r["vec_id"] for r in replay.collect()) == original


def test_pq_codebooks_roundtrip_bit_exact(spark):
    """r10: the PQ codebook artifact round-trips bit-exactly through
    parquet (the save_centroids contract, grid edition), and a torn
    artifact (a missing (sub, cid) cell) fails loudly on load."""
    import shutil

    import pytest as _pytest

    from mongo_polars_reconciliation_spark.extensions.similarity import (
        load_pq_codebooks,
        pq_fit,
        save_pq_codebooks,
    )
    from mongo_polars_reconciliation_spark.scratch import scratch_path

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    books = pq_fit(emb, m=4, ksub=8, n_iter=1)
    path = scratch_path("test_pq_roundtrip", "books.parquet")
    shutil.rmtree(path, ignore_errors=True)
    save_pq_codebooks(spark, books, path)
    loaded = load_pq_codebooks(spark, path)
    assert loaded == books  # exact float equality, not approx
    spark.read.parquet(path).where(
        "NOT (sub = 2 AND cid = 5)"
    ).write.mode("overwrite").parquet(path + "_torn")
    with _pytest.raises(ValueError, match="non-contiguous"):
        load_pq_codebooks(spark, path + "_torn")


def test_pq_encode_matches_python_model(spark):
    """r10: PQ codes equal a doc-at-a-time Python replay (argmin of the
    left-fold squared distance per subspace, min-cid tie-break) on
    handcrafted vectors including an exact tie."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        pq_encode,
    )

    books = [
        [[0.0, 0.0], [1.0, 1.0]],
        [[2.0, 2.0], [2.0, 2.0]],  # identical sub-centroids: tie -> cid 0
    ]
    vecs = [
        (1, [0.1, 0.2, 2.0, 2.0]),
        (2, [0.9, 0.8, 0.0, 0.0]),
        (3, [0.5, 0.5, 5.0, -1.0]),  # equidistant in sub 0: tie -> cid 0
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

    def model(v):
        code = []
        for s, book in enumerate(books):
            sub = [float(np_x) for np_x in v[2 * s : 2 * s + 2]]
            best = None
            for cid, c in enumerate(book):
                acc = 0.0
                for x, y in zip(sub, c):
                    t = x - y
                    acc = acc + t * t
                if best is None or acc < best[0]:
                    best = (acc, cid)
            code.append(best[1])
        return code

    got = {
        r["vec_id"]: list(r["code"]) for r in pq_encode(df, books).collect()
    }
    # float32 storage: the model must see the same float32-rounded values
    import struct as _struct

    def f32(x):
        return _struct.unpack("f", _struct.pack("f", x))[0]

    want = {vid: model([f32(x) for x in v]) for vid, v in vecs}
    assert got == want


def test_pq_topk_survivors_carry_bruteforce_scores(spark):
    """r10: every row pq_topk_adc returns carries the SAME exact cos_r
    the brute-force scan computes for that id (identical fold on
    identical operands) — the re-rank stage changes the candidate SET,
    never a survivor's score."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        pq_fit,
        pq_topk_adc,
        topk_bruteforce,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        query_vector,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = query_vector(spark, sf_dir)
    books = pq_fit(emb, m=4, ksub=8, n_iter=1)
    pq_rows = {
        r["vec_id"]: r["cos_r"]
        for r in pq_topk_adc(emb, q, books, k=10, rerank=50).collect()
    }
    bf_rows = {
        r["vec_id"]: r["cos_r"]
        for r in topk_bruteforce(emb, q, k=500).collect()
    }
    assert len(pq_rows) == 10
    for vid, cos_r in pq_rows.items():
        assert bf_rows[vid] == cos_r, (vid, cos_r, bf_rows[vid])


def test_ivf_residuals_match_python_model(spark):
    """r10: ivf_residuals equals a doc-at-a-time Python replay — nearest
    coarse centroid by left-fold squared distance (min-cid tie-break),
    residual = v − centroid — on handcrafted vectors including a tie."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ivf_residuals,
    )

    coarse = [[0.0, 0.0], [1.0, 1.0], [1.0, 1.0]]  # 1 and 2 tie -> cid 1
    vecs = [(1, [0.25, 0.25]), (2, [0.9, 0.7]), (3, [0.5, 0.5])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: (r["blk"], list(r["embedding"]))
        for r in ivf_residuals(df, coarse).collect()
    }
    import struct as _struct

    def f32(x):
        return _struct.unpack("f", _struct.pack("f", x))[0]

    want = {}
    for vid, v in vecs:
        v = [f32(x) for x in v]
        best = None
        for cid, c in enumerate(coarse):
            acc = 0.0
            for x, y in zip(v, c):
                t = x - y
                acc = acc + t * t
            if best is None or acc < best[0]:
                best = (acc, cid)
        cent = coarse[best[1]]
        want[vid] = (best[1], [x - y for x, y in zip(v, cent)])
    assert got == want


def test_ivfpq_loaded_artifacts_probe_bit_equal(spark, tmp_path):
    """r10: ivfpq_topk under SAVED-then-LOADED artifacts returns rows
    bit-identical to the in-memory fit — the coarse table and the
    residual codebooks both survive the parquet round trip exactly
    (fit once, probe many)."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ivf_residuals,
        ivfpq_topk,
        kmeans_fit,
        load_centroids,
        load_pq_codebooks,
        pq_fit,
        save_centroids,
        save_pq_codebooks,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        query_vector,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = query_vector(spark, sf_dir)
    coarse = kmeans_fit(emb, k=4, n_iter=1)
    books = pq_fit(ivf_residuals(emb, coarse), m=4, ksub=8, n_iter=1)
    cpath, bpath = str(tmp_path / "coarse"), str(tmp_path / "books")
    save_centroids(spark, coarse, cpath)
    save_pq_codebooks(spark, books, bpath)
    lc, lb = load_centroids(spark, cpath), load_pq_codebooks(spark, bpath)
    assert lc == coarse and lb == books
    mem = ivfpq_topk(emb, q, coarse, books, nprobe=2).collect()
    loaded = ivfpq_topk(emb, q, lc, lb, nprobe=2).collect()
    assert [tuple(r) for r in mem] == [tuple(r) for r in loaded]


def test_ivfpq_knn_served_graph_bit_equal(spark):
    """r11 (VERDICT r10 #4): the SERVED k-NN graph face — built from
    persisted artifacts with the residual encode re-run under them —
    returns rows bit-identical to the fit-inclusive sim_knn_join_ivfpq
    build (same geometry constants, same corpus), which is why the two
    driver queries share one oracle."""
    from mongo_polars_reconciliation_spark.harness.queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    fit = sorted(
        tuple(r) for r in QUERIES["sim_knn_join_ivfpq"](spark, sf_dir).collect()
    )
    served = sorted(
        tuple(r)
        for r in QUERIES["sim_knn_join_ivfpq_served"](spark, sf_dir).collect()
    )
    assert fit == served


def test_ivfpq_rows_come_from_probed_cells_and_rerank_is_exact(spark):
    """r10: every returned row's blk is one of the nprobe nearest coarse
    cells to the query (the pruning contract — unprobed cells are never
    scanned), the exact-hit query vector wins rank 1 with cos_r 1.0, and
    every survivor's cos_r equals the brute-force score for that id."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ivf_residuals,
        ivfpq_topk,
        kmeans_fit,
        pq_fit,
        topk_bruteforce,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        query_vector,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = query_vector(spark, sf_dir)
    coarse = kmeans_fit(emb, k=4, n_iter=1)
    books = pq_fit(ivf_residuals(emb, coarse), m=4, ksub=8, n_iter=1)
    dists = []
    for cid, c in enumerate(coarse):
        acc = 0.0
        for x, y in zip(q, c):
            t = x - y
            acc = acc + t * t
        dists.append((acc, cid))
    probed = {cid for _, cid in sorted(dists)[:2]}
    rows = ivfpq_topk(emb, q, coarse, books, nprobe=2, k=10).collect()
    assert len(rows) == 10
    assert all(r["blk"] in probed for r in rows)
    assert rows[0]["vec_id"] == 0 and rows[0]["cos_r"] == 1.0
    bf = {
        r["vec_id"]: r["cos_r"]
        for r in topk_bruteforce(emb, q, k=2000).collect()
    }
    for r in rows:
        assert bf[r["vec_id"]] == r["cos_r"], r


# nullable key variant: exercises the auto rule's NULL-cluster filter
_nrows = st.lists(
    st.tuples(st.one_of(st.none(), _key), _amt), max_size=20
)


@settings(max_examples=8, deadline=None)
@given(
    ra=_nrows,
    rb=_nrows,
    budget=st.sampled_from([1, 3, 6, 100]),
    min_fanout=st.sampled_from([1, 2, 4]),
)
def test_hot_match_keys_auto_matches_python_model(
    spark, ra, rb, budget, min_fanout
):
    """r16: the hardened budget rule (`hot_match_keys_auto`) equals a
    sequential Python replay for ANY workload, budget and fanout floor —
    eligibility filters (nk >= min_fanout, non-NULL components, 1 <= nb
    <= budget), deterministic (-nk, key) ranking, the budget//min_fanout
    top-K cap, and maximal-prefix admission under the cumulative B-side
    budget. Because nb >= 1 for every candidate, the cumulative sum is
    strictly increasing and the <=-budget filter IS a prefix — the
    replay's early break is exact."""
    from collections import Counter

    from mongo_polars_reconciliation_spark.operators.match import (
        hot_match_keys_auto,
    )

    a, b = _frames(spark, ra, rb)
    got = sorted(
        map(
            tuple,
            hot_match_keys_auto(
                a, b, CFG,
                broadcast_budget_rows=budget, min_fanout=min_fanout,
            ).collect(),
        )
    )
    na, nb = Counter(tuple(r) for r in ra), Counter(tuple(r) for r in rb)
    elig = [
        t for t in set(na) | set(nb)
        if na[t] + nb[t] >= min_fanout
        and 1 <= nb[t] <= budget
        and t[0] is not None
    ]
    elig.sort(key=lambda t: (-(na[t] + nb[t]), t))
    cap = max(1, budget // max(min_fanout, 1))
    picked, cum = [], 0
    for t in elig[:cap]:
        cum += nb[t]
        if cum > budget:
            break
        picked.append(t)
    assert got == sorted(picked)


@settings(max_examples=8, deadline=None)
@given(
    ra=_rows,
    rb=_rows,
    thr=st.sampled_from([1, 2, 4, 50]),
    strict=st.booleans(),
)
def test_match_skewed_equals_plain_property(spark, ra, rb, thr, strict):
    """The hot-key split is bit-identical to the plain match for ANY
    key distribution and ANY threshold — including the degenerate splits
    (thr=1: everything hot, the sort-merge branch is empty; thr=50: nothing
    hot, the broadcast branch is empty) and both arbitration modes. The
    tiny alphabet forces key collisions, k>=3 duplicate groups (the strict
    middle-drop shape), and empty sides."""
    from mongo_polars_reconciliation_spark.operators.match import (
        hot_match_keys,
    )

    cfg = ReconConfig(keys=CFG.keys, strict_compat=strict)
    a, b = _frames(spark, ra, rb)
    matched_p, losers_p = match_records(a, b, cfg)
    matched_s, losers_s = match_records(
        a, b, cfg, hot_keys=hot_match_keys(a, b, cfg, thr)
    )
    assert matched_s.columns == matched_p.columns
    assert losers_s.columns == losers_p.columns
    assert sorted(map(tuple, matched_s.collect())) == sorted(
        map(tuple, matched_p.collect())
    )
    assert sorted(map(tuple, losers_s.collect())) == sorted(
        map(tuple, losers_p.collect())
    )


def test_pq_fit_fused_equals_sequential_kmeans_per_subspace(spark):
    """r16 (optimization round): pq_fit's fused single-loop Lloyd fit must
    be BIT-identical to the original sequential form — m independent
    kmeans_fit calls over sliced projections — on the real embeddings
    fixture, including through the residual path (the sim_topk_ivfpq
    shape) and at a ksub that exceeds some cluster populations (empty
    clusters keep the previous centroid per subspace)."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ivf_residuals,
        kmeans_fit,
        pq_fit,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    coarse = kmeans_fit(emb, k=4, n_iter=1)
    res = ivf_residuals(emb, coarse).localCheckpoint(eager=False)
    for m, ksub, n_iter in ((4, 8, 1), (2, 3, 2)):
        fused = pq_fit(res, m=m, ksub=ksub, n_iter=n_iter)
        head = res.select("embedding").head()
        dim = len(head[0])
        dsub = dim // m
        sequential = []
        for s in range(m):
            sub = res.select(
                F.col("vec_id"),
                F.slice(F.col("embedding"), s * dsub + 1, dsub).alias(
                    "embedding"
                ),
            )
            sequential.append(
                kmeans_fit(sub, k=ksub, n_iter=n_iter)
            )
        assert fused == sequential, f"fused pq_fit diverged at m={m}"


def test_shingle_sets_explode_equals_shingles(spark):
    """The array-form shingle frame must explode to exactly the rows of
    shingles(), and its row-local size must equal the per-doc shingle
    count — on the real documents fixture plus the short-doc edge shapes
    (< n tokens → no row either way)."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        shingle_sets,
        shingles,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edge = spark.createDataFrame(
        [(900001, "one two"), (900002, ""), (900003, None),
         (900004, "a b c"), (900005, "x x x x x")],
        "doc_id long, text string",
    )
    df = docs.unionByName(edge)
    sets = shingle_sets(df, "doc_id", "text", 3)
    got = sorted(
        tuple(r)
        for r in sets.select(
            "doc_id", F.explode("__shset").alias("shingle")
        ).collect()
    )
    want = sorted(tuple(r) for r in shingles(df, "doc_id", "text", 3).collect())
    assert got == want
    got_sz = sorted(
        tuple(r)
        for r in sets.select("doc_id", F.size("__shset").alias("sz")).collect()
    )
    want_sz = sorted(
        tuple(r)
        for r in shingles(df, "doc_id", "text", 3)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .collect()
    )
    assert got_sz == want_sz


def test_knn_join_ivfpq_lut_kernel_equals_fold_path(spark):
    """The Arrow LUT kernel inside knn_join_ivfpq must be BIT-identical to
    the driver-side left fold: for every probe row, each of the m tables
    equals :func:`_lut_sqdists` of that row's residual against its probed
    cell, on the real embeddings fixture at the pinned geometry."""
    from mongo_polars_reconciliation_spark.extensions import similarity as sim

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    coarse = sim.kmeans_fit(emb, k=4, n_iter=1)
    res = sim.ivf_residuals(emb, coarse).localCheckpoint(eager=False)
    books = sim.pq_fit(res, m=4, ksub=8, n_iter=1)
    dsub = len(books[0][0])

    rows = (
        sim.probe_assignments(emb, coarse, nprobe=2)
        .select(
            "__blk",
            "__v",
            sim._pq_luts_udf(coarse, books)(F.col("__blk"), F.col("__v")),
        )
        .collect()
    )
    assert len(rows) > 0
    for blk, v, luts in rows:
        r = [x - c for x, c in zip(v, coarse[blk])]
        want = [
            sim._lut_sqdists(r[s * dsub : (s + 1) * dsub], book)
            for s, book in enumerate(books)
        ]
        assert [list(t) for t in luts] == want


def test_artifact_local_plan_equals_python_rdd_path(spark):
    """Fitted IVF-PQ artifacts survive save → load bit-exactly: the
    centroid table and the PQ codebooks load back equal to the fitted
    lists (the size-gate test below pins the probe built on them)."""
    import shutil

    from mongo_polars_reconciliation_spark.extensions import similarity as sim
    from mongo_polars_reconciliation_spark.scratch import scratch_path

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    coarse = sim.kmeans_fit(emb, k=4, n_iter=1)
    res = sim.ivf_residuals(emb, coarse).localCheckpoint(eager=False)
    books = sim.pq_fit(res, m=4, ksub=8, n_iter=1)

    cpath = scratch_path("test_artifact_local_plan", "c")
    bpath = scratch_path("test_artifact_local_plan", "b")
    shutil.rmtree(cpath, ignore_errors=True)
    shutil.rmtree(bpath, ignore_errors=True)
    sim.save_centroids(spark, coarse, cpath)
    sim.save_pq_codebooks(spark, books, bpath)
    loaded = (
        sim.load_centroids(spark, cpath),
        sim.load_pq_codebooks(spark, bpath),
    )
    assert loaded == (coarse, books)


def test_bloom_literal_size_gate_routes_large_m_to_relational(spark):
    """The literal bitmap is an O(m_bits) expression string, so
    bloom_decontaminate must route itself to the relational form past
    BLOOM_LITERAL_MAX_WORDS. Two pins: (a) a genuinely large geometry
    picks the JOIN form (visible in the plan; construction stays lazy —
    the literal path would have collected eagerly), and (b) the gate is
    performance-only — forcing it returns rows identical to the literal
    path, at the bench geometry and at one small enough (m_bits=64) to
    force plenty of false-positive collisions through both forms."""
    from mongo_polars_reconciliation_spark.extensions import text as text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where("doc_id % 7 = 3").selectExpr(
        "doc_id + 100000 as doc_id", "text"
    )

    big_m = (text.BLOOM_LITERAL_MAX_WORDS + 1) * 64
    big = text.bloom_decontaminate(docs, bench, n=5, m_bits=big_m)
    plan = big._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    assert "Join" in plan, plan  # relational form chosen, not the literal

    def run(m_bits):
        return sorted(
            tuple(r)
            for r in text.bloom_decontaminate(
                docs, bench, n=5, m_bits=m_bits
            ).collect()
        )

    old_gate = text.BLOOM_LITERAL_MAX_WORDS
    try:
        for m_bits in (64, 4096):
            text.BLOOM_LITERAL_MAX_WORDS = old_gate
            literal = run(m_bits)
            text.BLOOM_LITERAL_MAX_WORDS = 0  # force the relational branch
            relational = run(m_bits)
            assert literal == relational and len(literal) > 0, m_bits
    finally:
        text.BLOOM_LITERAL_MAX_WORDS = old_gate


def test_ivfpq_lut_size_gate_routes_large_geometry_to_broadcast(spark):
    """ivfpq_topk's per-cell LUT CASE folds
    nprobe × m × ksub double literals into the plan — past
    IVFPQ_LUT_LITERAL_MAX_DOUBLES it must fall back to the broadcast
    lut_df form. Forcing the gate at the pinned geometry must (a) show
    the broadcast LUT columns in the plan and (b) return the literal
    path's rows exactly."""
    from mongo_polars_reconciliation_spark.extensions import similarity as sim

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    coarse = sim.kmeans_fit(emb, k=4, n_iter=1)
    res = sim.ivf_residuals(emb, coarse).localCheckpoint(eager=False)
    books = sim.pq_fit(res, m=4, ksub=8, n_iter=1)
    q = [float(x) for x in emb.orderBy("vec_id").head()["embedding"]]

    def probe():
        return sim.ivfpq_topk(emb, q, coarse, books, nprobe=2, k=10, rerank=20)

    old_gate = sim.IVFPQ_LUT_LITERAL_MAX_DOUBLES
    try:
        literal = sorted(tuple(r) for r in probe().collect())
        sim.IVFPQ_LUT_LITERAL_MAX_DOUBLES = 1  # force the broadcast branch
        gated_df = probe()
        plan = gated_df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
        assert "_lut0" in plan, plan  # broadcast lut_df columns present
        gated = sorted(tuple(r) for r in gated_df.collect())
    finally:
        sim.IVFPQ_LUT_LITERAL_MAX_DOUBLES = old_gate
    assert literal == gated and len(literal) == 10


def test_topk_ivf_rejects_query_dim_mismatch(spark):
    """topk_ivf must fail loudly when the query vector is SHORTER than the
    embedding dimension (a partial dot product would rank the centroids)
    and when it is LONGER (``cosine``'s zip_with would NULL every score
    and return the top-k in id order) — and must not fire on a
    well-formed query."""
    from mongo_polars_reconciliation_spark.extensions.similarity import topk_ivf

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [0.9, 0.1, 0.0, 0.0], 0),
            (3, [0.0, 1.0, 0.0, 0.0], 1),
            (4, [0.0, 0.0, 1.0, 0.5], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    ok = topk_ivf(emb, [1.0, 0.0, 0.0, 0.0], k=2, nprobe=1).collect()
    assert [r["vec_id"] for r in ok] == [1, 2]
    for q in ([1.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0, 0.0]):
        with pytest.raises(Exception, match="dim mismatch"):
            topk_ivf(emb, q, k=2, nprobe=1).collect()


def test_bpe_merge_fit_empty_merge_table_keeps_schema(spark):
    """A corpus of single-character words has no adjacent symbol pair, so
    no merge is learned: bpe_merge_fit returns zero rows with the full
    typed merge-table schema."""
    from mongo_polars_reconciliation_spark.extensions.text import bpe_merge_fit

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e a")], "doc_id long, text string"
    )
    out = bpe_merge_fit(df, n_merges=3)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("merge_rank", "bigint"),
        ("lhs", "string"),
        ("rhs", "string"),
        ("merged", "string"),
        ("pair_count", "bigint"),
    ]
    assert out.collect() == []
