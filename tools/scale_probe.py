#!/usr/bin/env python
"""Empirical scale probe: run a flagship operator at 1x and Nx synthetic
corpus size and report the wall-clock ratio vs the ideal.

The point is evidence, not benchmarking: a plan that "should" scale
linearly at 100 TB ought to demonstrate ~linear behavior across a 10x
blow-up on this machine (modulo the fixed driver/stage-latency floor that
dominates small inputs — so the measured ratio is typically BELOW the
data ratio). Superlinear growth is the red flag this probe exists to
catch: it means some join or aggregate is quadratic in corpus size after
all.

Synthetic blow-up rules keep the WORKLOAD shape honest:
- documents: every copy k prefixes each token with "x{k}", so copies
  share no shingles — the near-dup structure per copy is independent and
  total near-dup work grows linearly by construction (a naive id-shifted
  copy would either collapse in exact dedup or create cross-copy
  near-dup cliques, both of which change the workload's complexity
  class, not just its size).
- embeddings: every copy k gets vec_id + 100000*k and a deterministic
  per-copy nudge on the first dimension, keeping vectors distinct while
  preserving the label strata.

Usage:
    python tools/scale_probe.py [factor] [probe,...]   # default 4, all probes

Prints one JSON line per probe: {probe, factor, t_base_sec, t_scaled_sec,
ratio, ideal}. Advisory: the exit code is 0 unless a probe name is
unknown.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def docs_at(spark, factor: int):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    parts = []
    for k in range(factor):
        prefixed = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda t, _k=k: F.concat(F.lit(f"x{_k}"), t),
            ),
            " ",
        )
        parts.append(
            base.select(
                (F.col("doc_id") + 1_000_000 * k).alias("doc_id"),
                prefixed.alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def emb_at(spark, factor: int):
    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    parts = []
    for k in range(factor):
        nudged = F.concat(
            F.array(
                (F.element_at("embedding", 1) + F.lit(k * 0.001)).cast(
                    "float"
                )
            ),
            F.slice("embedding", 2, 10_000),
        )
        parts.append(
            base.select(
                (F.col("vec_id") + 100_000 * k).alias("vec_id"),
                nudged.alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def probe_neardup_ingest(spark, docs):
    """The flagship ingest: full near-dup admission of a batch vs history."""
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        NeardupFamily,
    )

    docs = docs.localCheckpoint(eager=True)  # exclude synthesis from timing
    hist = docs.where(F.col("doc_id") % 3 < 2)
    batch = docs.where(F.col("doc_id") % 3 == 2)
    family = NeardupFamily()
    t0 = time.perf_counter()
    family.admit(batch, family.seed(hist)).write.format(
        "noop"
    ).mode("overwrite").save()
    return time.perf_counter() - t0


def probe_minhash(spark, docs):
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        minhash_near_dups,
    )

    docs = docs.localCheckpoint(eager=True)
    t0 = time.perf_counter()
    minhash_near_dups(docs, max_bucket_size=1000).write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0


def _probe_recall(nlist):
    def run(spark, emb):
        from mongo_polars_reconciliation_spark.extensions.similarity import (
            ann_recall_at_k_sampled,
        )

        emb = emb.localCheckpoint(eager=True)
        t0 = time.perf_counter()
        ann_recall_at_k_sampled(
            emb, strata_col="label", k_sample=5, k=10, nprobe=2,
            nlist=nlist, n_iter=1,
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    return run


def probe_ivfpq(spark, emb):
    """The IVF-PQ serve path: fit coarse + residual codebooks once
    per corpus size, then time ONLY the probe (assign → residual-encode
    probed cells → ADC → exact re-rank). Probe work is (n/nlist)·nprobe
    rows of m-lookup scoring — with fixed nlist=4 it grows linearly in n
    (the scan is the assignment kernel over all rows; the ADC/LUT side
    is cell-bounded), which is what the ratio should show."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        ivf_residuals,
        ivfpq_topk,
        kmeans_fit,
        pq_fit,
    )
    from mongo_polars_reconciliation_spark.harness.fixtures import (
        query_vector,
    )

    emb = emb.select("vec_id", "embedding").localCheckpoint(eager=True)
    q = query_vector(spark, SF_DIR)
    coarse = kmeans_fit(emb, k=4, n_iter=1)
    res = ivf_residuals(emb, coarse).localCheckpoint(eager=False)
    books = pq_fit(res, m=4, ksub=8, n_iter=1)
    t0 = time.perf_counter()
    ivfpq_topk(emb, q, coarse, books, nprobe=2, k=10).write.format(
        "noop"
    ).mode("overwrite").save()
    return time.perf_counter() - t0


def probe_semantic_ingest(spark, emb):
    """The vector-side ingest: probe assignment under persisted
    centroids + block-collision admission. nlist scales with the corpus
    (auto) so block sizes — and the collision join's pair work — stay
    bounded as the blow-up grows.

    Measured curve (sf0.1 embeddings, hist 1334 → 5334 → 10667 vectors,
    one session): 8.1 s → 62.1 s → 97.9 s. The 1×→4× ratio (7.7×, ideal
    4×) looks superlinear but is the small-corpus BLOCK-FLOOR transition:
    auto_nlist keeps blocks ≥ target_block_rows, so below n ≈ nlist·1024
    the block size itself grows with n (667 → 890 → 970 here; nlist
    2 → 6 → 11) and pair work ∝ n·block compounds both. Past saturation
    the 4×→8× ratio is 1.58× (ideal 2×) — LINEAR at bounded 1024-row
    blocks, the FAISS-style brute-scan cell the auto_nlist docstring
    promises. The same transition-artifact-vs-asymptote distinction the
    recall probes established, now measured on the ingest path."""
    from mongo_polars_reconciliation_spark.extensions.similarity import (
        auto_nlist,
        kmeans_fit,
    )
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        SemanticFamily,
    )

    emb = emb.localCheckpoint(eager=True)
    hist = emb.where(F.col("vec_id") % 3 < 2)
    batch = emb.where(F.col("vec_id") % 3 == 2)
    family = SemanticFamily(kmeans_fit(hist, k=auto_nlist(hist), n_iter=1))
    seeds = family.seed(hist)
    seeds["assign"] = seeds["assign"].localCheckpoint(eager=True)
    t0 = time.perf_counter()
    family.admit(batch, seeds).write.format(
        "noop"
    ).mode("overwrite").save()
    return time.perf_counter() - t0


def probe_payload_ingest(spark, docs):
    """The payload ingest: digest anti-join + block-key collision
    admission. Block buckets hold copies of identical aligned blocks —
    the prefix-salted blow-up keeps them constant-size, so the probe
    should track the data ratio, not square it."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
    )
    from mongo_polars_reconciliation_spark.streaming.corpus import (
        PayloadFamily,
    )

    mm = attach_payload(docs).localCheckpoint(eager=True)
    hist = mm.where(F.col("doc_id") % 3 < 2)
    batch = mm.where(F.col("doc_id") % 3 == 2)
    family = PayloadFamily(block_bytes=64)
    seeds = family.seed(hist)
    seeds["blocks"] = seeds["blocks"].localCheckpoint(eager=True)
    t0 = time.perf_counter()
    family.admit(batch, seeds, max_bucket_size=1000).write.format(
        "noop"
    ).mode("overwrite").save()
    return time.perf_counter() - t0


# The recall probe runs twice on purpose — the contrast IS the finding
# (measured at factor 4 on sf0.1 embeddings, 2k -> 8k vectors):
#   fixed nlist=32 (the oracle-pinned test constant): 3.5 -> 22.6 s,
#     ratio 6.4x of ideal 4x — block sizes grow with n, the blocked
#     self-join's n^2/nlist pair count is QUADRATIC, the documented
#     fixed-nlist trap caught red-handed;
#   nlist="auto": 23.5 -> 60 s, ratio 2.55x — auto floors the block
#     size at ~1024 rows on small corpora (nlist = n/1024), making pair
#     work 1024*n, LINEAR in n (later ~n^1.5 once sqrt(n) takes over
#     past n ~ 1M); the higher small-n absolute cost is the price of a
#     bounded block (the FAISS-style brute-scan cell), which is what
#     survives the next 100x — exactly the auto_nlist docstring's claim,
#     now measured.
# The one-sided exact-truth side is O(sample*n) in both runs.


def probe_line_dedup(spark, docs):
    """Corpus line dedup, trim face. The blow-up keeps organic lines
    distinct (prefixed tokens) but injects the SAME footer lines into
    every copy, so hot-key multiplicity on the first-occurrence
    aggregate grows with the factor — exactly the skew face the
    map-combinable min-struct design absorbs — while the survivor join
    moves the corpus text through its one shuffle."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        line_dedup_trim,
    )

    footer = "shared boilerplate footer"
    t = F.col("text")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(t, F.lit("\n" + footer))
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(
                t, F.lit("\n" + footer + "\nsecond shared footer")
            ),
        )
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit(footer + "\n"), t))
        .otherwise(t)
        .alias("text"),
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    line_dedup_trim(injected).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def probe_clusters_star(spark, docs):
    """Star-contraction connected components over the MinHash
    near-dup pair graph. The prefixed-token blow-up makes each copy's
    pair graph independent of the others', so edges grow linearly with
    the factor while component structure (and hence the O(log n) round
    count) stays fixed — the measured ratio should be ~linear, with the
    constant per-round driver latency (one fingerprint action per
    star round) pulling it BELOW the data ratio at this scale. A
    superlinear ratio would mean a round's groupBy/join stopped
    partitioning by node id. Pairs are materialized before the clock so
    only the clustering is timed."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        dedup_clusters_star,
        minhash_near_dups,
    )

    docs = docs.localCheckpoint(eager=True)
    pairs = minhash_near_dups(docs).localCheckpoint(
        eager=True
    )
    ids = docs.select("doc_id").localCheckpoint(eager=True)
    t0 = time.perf_counter()
    dedup_clusters_star(pairs, ids).write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0


def probe_simhash(spark, docs):
    """SimHash pigeonhole near-dup — completes the near-dup trio
    (minhash and ngram_jaccard above). Signature work is map-linear; the
    block self-join's candidate set grows with real near-dup structure
    (linear under the disjoint-token blow-up) PLUS random block
    collisions: a random pair collides on any given block with
    probability 2^-BLOCK_BITS, so the expected colliding candidate
    pairs are ~BLOCKS·C(n,2)/2^BLOCK_BITS = 4·C(n,2)/2^16 ≈ n²/2^15 —
    negligible at probe scale but a real asymptote (the
    earlier ~n²/(4·2^16) figure undercounted by ~8×). Collision-safe
    scaling needs a LARGER per-block bucket space, i.e. MORE bits per
    block — which, with the pigeonhole constraint BLOCKS > max_hamming
    and BLOCKS·BLOCK_BITS ≤ signature width, requires a longer
    signature (e.g. 128-bit with 4×32-bit blocks). Merely raising
    SIMHASH_BLOCK_BITS past 16 under the 64-bit signature would shift
    blocks past bit 63 (degenerate bvals), and LOWERING it (more,
    smaller blocks) shrinks the bucket space and INCREASES random
    collisions."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        simhash_near_dups,
    )

    docs = docs.localCheckpoint(eager=True)
    t0 = time.perf_counter()
    simhash_near_dups(docs).write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0


def probe_ngram_jaccard(spark, docs):
    """Exact n-gram Jaccard via the stop-shingle-capped inverted
    index. The within-shingle self-join is the one place a quadratic
    could hide (≤ max_df² pairs per shared shingle); the prefixed-token
    blow-up keeps copies' shingles disjoint, so every shingle's document
    frequency — and hence the self-join's per-key fanout — is unchanged
    while the index grows linearly. A superlinear ratio would mean the
    df cap or the df≥2 joinable cut stopped doing its job."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        ngram_jaccard_pairs,
    )

    docs = docs.localCheckpoint(eager=True)
    t0 = time.perf_counter()
    ngram_jaccard_pairs(docs).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def probe_bloom_decontaminate(spark, docs):
    """Batch 2: bloom_decontaminate after the literal-bitmap rewrite
    (the broadcast-joined position table and the per-gram
    groupBy(doc, h1, h2) became a row-local bit test + ONE groupBy(doc)).
    The filter side is FIXED (≤ m_bits positions regardless of corpus or
    benchmark size), so the probe side must scale linearly in the gram
    count; the benchmark stays the 1x slice so the filter contents —
    and the false-positive rate — are identical across factors. A
    superlinear ratio would mean the single-aggregate shape regressed."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        bloom_decontaminate,
    )

    docs = docs.localCheckpoint(eager=True)
    bench = docs.where("doc_id % 7 = 3 and doc_id < 1000000").select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    t0 = time.perf_counter()
    bloom_decontaminate(docs, bench, n=5).write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0


def probe_lsh_hot_bucket(spark, docs):
    """CAPPED LSH pair generation with a
    deliberately degenerate band bucket far past the cap — 20% of the
    corpus carries the SAME text, so every one of its band buckets holds
    1000 rows at 1x (100x the cap of 10) and 4000 at 4x, while the rest
    of the corpus is organically unique. An earlier window form co-located
    the monster bucket on ONE window task before the cap filter could
    drop it (AQE cannot split a window partition); the current form counts
    it with a map-side partial aggregate and anti-joins the over-cap
    keys via broadcast, so nothing ever gathers the bucket. Linear wall
    growth here is the skew-safety evidence; superlinear growth (or a
    straggler-dominated base) would mean a co-locating operator crept
    back into the capped path. Semantics: a bucket that hot is dropped
    (the cap's documented behavior), so hot docs simply produce no
    candidate pairs — the organic near-dup structure still scales
    linearly by the prefix argument."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        minhash_near_dups,
    )

    boiler = " ".join(f"tok{i}" for i in range(20))
    injected = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.lit(boiler))
        .otherwise(F.col("text"))
        .alias("text"),
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    minhash_near_dups(injected, max_bucket_size=10).write.format(
        "noop"
    ).mode("overwrite").save()
    return time.perf_counter() - t0


def probe_curation_v4(spark, docs):
    """The FLAGSHIP composition — exact dedup →
    line-dedup TRIM → LSH near-dup → repetition → decontamination → LM
    gate → quality gate → per-language stats — probed end-to-end. Each
    stage has linear posture individually (line dedup and pii carry
    their own probes); this probe exists to catch a superlinear STAGE
    INTERACTION — e.g. the line stage's cleaned text feeding the
    shingle stage with corpus-shaped blow-up — which per-stage probes
    cannot see. Same footer injection as the line-dedup probe (hot
    shared lines scale with the factor); the bench side stays at its
    natural size (decontamination cost is driven by the corpus side).
    Output is the per-language stats frame — sketch-sized — so noop
    write time is pipeline time."""
    from mongo_polars_reconciliation_spark.extensions.curation import (
        curate_corpus_v2,
    )

    footer = "shared boilerplate footer"
    t = F.col("text")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(t, F.lit("\n" + footer))
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(t, F.lit("\n" + footer + "\nsecond shared footer")),
        )
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit(footer + "\n"), t))
        .otherwise(t)
        .alias("text"),
    ).withColumn(
        "lang",
        F.when(F.col("doc_id") % 3 == 0, F.lit("en"))
        .when(F.col("doc_id") % 3 == 1, F.lit("de"))
        .otherwise(F.lit("fr")),
    ).localCheckpoint(eager=True)
    bench = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") % 10 == 7)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    t0 = time.perf_counter()
    curate_corpus_v2(
        injected,
        bench,
        max_bucket_size=1000,
        lm_threshold_q=32800,
        line_dedup=True,
    ).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def probe_pii_scrub(spark, docs):
    """PII scrub including the Luhn card stage — a zero-exchange
    map projection whose cost must scale with scanned bytes and nothing
    else. The blow-up injects a fixed doc_id-keyed FRACTION of
    card/email/phone/IP hits (including a Luhn-invalid run the filter
    must reject), so per-doc regex work is constant and total work
    grows linearly by construction — superlinear growth here would mean
    the candidate fold somehow became corpus-shaped."""
    from mongo_polars_reconciliation_spark.extensions.text import pii_scrub

    t = F.col("text")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                t, F.lit(" pay 4532-0151-1283-0366 or a@b.co at 10.0.0.5")
            ),
        )
        .when(
            F.col("doc_id") % 7 == 3,
            F.concat(
                t, F.lit(" ref 1234-5678-9012-3456 call 555-123-4567")
            ),
        )
        .otherwise(t)
        .alias("text"),
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    pii_scrub(injected).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def probe_admit_depth(spark) -> None:
    """Bound the ONE driver-side loop the ingest
    family keeps — ``greedy_admit``'s round count — against graph depth,
    empirically. Rounds needed = longest dependency chain in the pair DAG
    (each round finalizes the next node of the deepest chain: a node is
    admitted only once ALL its lower neighbors are rejected, and the
    deepest chain alternates A/R down its spine one hop per round).

    Worst case: a PATH graph 0–1–…–d, where the chain is the whole graph
    — measured rounds = d+1 (node k finalizes in round k+1; the round
    count is found by bisecting the smallest ``max_iter`` that converges,
    leaning on the kernel's loud convergence error so the kernel itself
    stays untouched — max_iter=25 therefore tolerates dependency chains
    up to depth 24). Real case: the verified MinHash
    near-dup pair graph of the SF corpus — duplicate clusters are
    star-shaped (one early id paired with its copies), so chains are
    short and rounds stay far under the ``max_iter=25`` default. The
    emitted line records both; if real-graph rounds ever approach the
    default, raise ``mis_max_iter`` (and the oracles' unrolled round
    count with it) per the kernel's convergence error message."""
    from mongo_polars_reconciliation_spark.extensions.dedup import (
        minhash_near_dups,
    )
    from mongo_polars_reconciliation_spark.extensions.ingest_kernel import (
        greedy_admit,
    )

    def rounds_needed(nodes, edges, cap, want_admitted=None):
        lo_b, hi_b = 1, cap
        while lo_b < hi_b:
            mid = (lo_b + hi_b) // 2
            try:
                n = greedy_admit(nodes, edges, "doc_id", max_iter=mid).count()
                if want_admitted is not None:
                    assert n == want_admitted, (n, want_admitted)
                hi_b = mid
            except RuntimeError:
                lo_b = mid + 1
        # the bisection never tests `cap` itself — if every
        # midpoint fails, lo_b drifts up to cap and would be reported as
        # the measured round count for a graph that actually needs MORE
        # than cap rounds. One verification run at the reported bound
        # closes that hole: the kernel's loud convergence error propagates
        # if lo_b does not in fact converge.
        n = greedy_admit(nodes, edges, "doc_id", max_iter=lo_b).count()
        if want_admitted is not None:
            assert n == want_admitted, (n, want_admitted)
        return lo_b

    out = {"probe": "admit_depth", "max_iter_default": 25, "path_rounds": {}}
    for depth in (8, 16, 24):
        nodes = spark.range(0, depth + 1).select(F.col("id").alias("doc_id"))
        edges = spark.range(0, depth).select(
            F.col("id").alias("lo"), (F.col("id") + 1).alias("hi")
        )
        # id-order greedy MIS on a path admits exactly the even nodes
        out["path_rounds"][str(depth)] = rounds_needed(
            nodes, edges, depth + 2, want_admitted=depth // 2 + 1
        )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    edges = (
        minhash_near_dups(docs)
        .select(F.col("id_a").alias("lo"), F.col("id_b").alias("hi"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("lo").alias("doc_id"))
        .unionByName(edges.select(F.col("hi").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out["real_graph"] = {
        "nodes": nodes.count(),
        "edges": edges.count(),
        "rounds": rounds_needed(nodes, edges, 25),
    }
    print(json.dumps(out))


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    probes = [
        ("neardup_ingest", docs_at, probe_neardup_ingest),
        ("minhash_near_dups", docs_at, probe_minhash),
        ("recall_sampled_fixed_nlist", emb_at, _probe_recall(32)),
        ("recall_sampled_auto_nlist", emb_at, _probe_recall("auto")),
        # ingest family extensions
        ("semantic_ingest", emb_at, probe_semantic_ingest),
        ("payload_ingest", docs_at, probe_payload_ingest),
        ("ivfpq_probe", emb_at, probe_ivfpq),
        # line dedup with factor-hot shared footer lines
        ("line_dedup_trim", docs_at, probe_line_dedup),
        # the Luhn-staged PII scrub (map-only; linearity evidence)
        ("pii_scrub", docs_at, probe_pii_scrub),
        # the flagship composition — stage-interaction watchdog
        ("curation_v4", docs_at, probe_curation_v4),
        # star-CC round scaling over the near-dup pair graph
        ("clusters_star", docs_at, probe_clusters_star),
        # capped inverted-index self-join fanout
        ("ngram_jaccard", docs_at, probe_ngram_jaccard),
        # literal-bitmap Bloom probe side
        ("bloom_decontaminate", docs_at, probe_bloom_decontaminate),
        # capped LSH with a 100x-cap degenerate bucket (skew safety)
        ("lsh_hot_bucket", docs_at, probe_lsh_hot_bucket),
        # Hamming-LSH block collisions (near-dup trio complete)
        ("simhash", docs_at, probe_simhash),
    ]
    # special probes emit their own line shape (rounds, not the plain
    # 1x/Nx ratio)
    special = [("admit_depth", probe_admit_depth)]
    if only is not None:
        # checked before the session starts, so a typo costs no JVM
        known = {n for n, _, _ in probes} | {n for n, _ in special}
        unknown = only - known
        if unknown:
            raise SystemExit(f"scale_probe: unknown probe(s) {sorted(unknown)}")
        probes = [p for p in probes if p[0] in only]
        special = [p for p in special if p[0] in only]
    spark = get_spark("scale_probe")
    spark.range(10).count()
    for name, run in special:
        run(spark)
    for name, mk, run in probes:
        run(spark, mk(spark, 1))  # warm: JVM/codegen/scan caches
        t1 = run(spark, mk(spark, 1))
        tn = run(spark, mk(spark, factor))
        print(json.dumps({
            "probe": name,
            "factor": factor,
            "t_base_sec": round(t1, 2),
            "t_scaled_sec": round(tn, 2),
            "ratio": round(tn / t1, 2) if t1 > 0 else None,
            "ideal": factor,
        }))
    spark.stop()


if __name__ == "__main__":
    main()
