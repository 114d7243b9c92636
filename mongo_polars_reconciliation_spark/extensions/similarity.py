"""Similarity search over embedding columns (array<float>).

Invariants every score here keeps, so the DuckDB oracles replay each one
bit-for-bit:

- **Left-fold IEEE order.** Every dot product and squared distance is the
  accumulator sequence ``((0.0 + x0) + x1) + ...``, sequential in the
  dimension (DuckDB's ``list_reduce`` mirrors it exactly). Expressions use
  ``aggregate`` over ``zip_with``; the driver-side distances use
  ``_lut_sqdists``, the only Python copy of the fold; the Arrow kernels
  (``_pair_dot``, the assignment kernel, the IVF-PQ LUT kernel) vectorize
  ACROSS rows while keeping that per-row op sequence — never
  ``np.sum``/BLAS, which reorder additions.
- **Stable (distance, cid) tie-break.** Nearest-centroid assignment and
  multi-probe ranking order centroids by squared distance, ties to the
  lower cid.
- **Order-free averages.** Centroid means are ``_decimal_mean``: the
  per-dimension sums route through DECIMAL, so shuffle order cannot
  change a centroid bit.

One pair-scoring path serves every batch operator that compares vectors
with each other (``embedding_near_dups``, ``knn_join*``,
``semantic_dedup*``, ``ingest_novel_semantic``): ``_pair_side`` projects
``_with_norm`` rows into the ``__id{a,b}``/``v{a,b}``/``n{a,b}`` pair
columns, ``_block_self_join`` (or ``_bucket_pairs`` for the exact graphs)
pairs them, ``_cos_r`` scores them and ``_dominated_ids`` /
``_knn_rank`` threshold or rank the scores. Its invariants:

- norms are hoisted, computed once per vector, never per pair;
- the score is rounded to 6 decimals once, before any threshold or rank,
  and the Arrow ``_pair_dot`` kernel is its only dot product;
- k-NN ranks order by (cos_r DESC, neighbor ASC), so ties go to the lower
  neighbor id and graphs built by different operators compare row for row.

One search path serves every single-query operator (``topk_*``,
``pq_topk_adc``, ``ivfpq_topk``): the probe strategy only chooses the
rows, and ``_exact_topk`` ranks them. Its invariants:

- a non-NULL embedding whose length differs from the query's raises
  instead of scoring NULL (operators whose artifact fixes the dimension
  also check it on the driver, before any job);
- the cosine against the literal query is rounded to 6 decimals once, and
  rows rank by (cos_r DESC, id ASC): a TakeOrderedAndProject cut, then a
  ``row_number`` over the k survivors only;
- the PQ paths score candidates with ``_adc_r`` (``round(Σ_s
  lut_s[code[s]], 6)``, summed in subspace order) and keep the best
  ``rerank`` by (adc_r, id) in ``_adc_candidates`` before the exact tail.

One Lloyd loop, ``_lloyd``, fits both ``kmeans_fit`` (one subspace) and
``pq_fit`` (``m`` subspaces in one pass per round): init = the vectors of
the smallest ids, nearest centroid by the assignment kernel, empty
clusters keep their previous centroid.

Driver-known tables (centroids, query vectors, per-cell LUTs) enter plans
as literal arrays (see ``functions/localrel.py``), not joined frames; the
one size-gated exception is ``IVFPQ_LUT_LITERAL_MAX_DOUBLES``.

Scale paths:
- brute-force top-k: one broadcast of the query vector, one pass, one
  top-k cut — the 100 TB plan is a full scan, which is the correct
  baseline for exact search;
- IVF: probe the ``nprobe`` centroids closest to the query and score only
  the rows assigned to them — ``topk_ivf`` uses per-label mean centroids
  of an upstream ``label`` column, ``topk_ivf_fitted`` and the IVF-PQ
  paths fitted k-means centroids; the scan shrinks by ~nprobe/nlist.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.functions.localrel import (
    dbl_array_col,
    dbl_nested_array_col,
)
from mongo_polars_reconciliation_spark.functions.windows import single_partition_key
from mongo_polars_reconciliation_spark.session import widen


def _fold_sum(arr: Column) -> Column:
    """Left-fold sum: deterministic IEEE order (0.0 + x0 + x1 + ...)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _arrow_udf(kernel, return_type: str):
    """``kernel`` as a scalar pandas UDF over numpy arguments: an array
    column arrives ``np.stack``-ed into a (rows, dim) matrix, any
    other column as its 1-d array, and ``kernel``'s per-row results become
    the output Series. An empty batch returns an empty Series without
    calling ``kernel``. An array column holding a NULL row or rows of
    different lengths raises a ``ValueError`` naming which, diagnosed only
    when ``np.stack`` gives no numeric matrix. ``return_type`` is a DDL
    string, parsed through the active session, so kernels are built inside
    operator calls, never at import time."""

    def stack(i, rows):
        import numpy as np

        try:
            out = np.stack(rows)
            if out.dtype != object:  # NULL-only rows stack as objects
                return out
        except ValueError:
            pass
        null = any(r is None for r in rows)
        problem = "a NULL row" if null else "rows of different lengths"
        lengths = sorted({len(r) for r in rows if r is not None})
        raise ValueError(
            f"array argument {i} holds {problem} (row lengths seen: "
            f"{lengths}); every row must be a non-NULL array of one length"
        )

    def fn(*cols):
        import pandas as pd

        if len(cols[0]) == 0:
            return pd.Series([], dtype=object)
        args = [
            stack(i, c.to_numpy()) if c.dtype == object else c.to_numpy()
            for i, c in enumerate(cols)
        ]
        return pd.Series(kernel(*args))

    return F.pandas_udf(fn, return_type)


def _pair_dot_kernel(a, b):
    """Row-wise dot products of two (rows, dim) matrices in the left-fold
    IEEE order: the accumulator starts at 0.0 and adds one per-dimension
    product at a time — sequential in the dimension, vectorized ACROSS the
    batch (``acc += a[:,j]*b[:,j]``) — so every pair sees the scalar op
    sequence ``((0.0 + a0·b0) + a1·b1) + ...`` bit-for-bit.

    Why a Python-side kernel: the blocked self-joins score ~n·block_size
    pairs, and an interpreted Catalyst fold costs 2·dim expression-tree
    evaluations per pair; one Arrow batch per task replaces them. (An
    unrolled ``GetArrayItem`` codegen form measured slower.)"""
    import numpy as np

    if a.shape[1] != b.shape[1]:
        raise ValueError(f"pair vector dims differ: {a.shape[1]} != {b.shape[1]}")
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * b[:, j]
    return acc


def _sqdist_kernel(a, c):
    """(rows, centroids) squared distances between the rows of two
    (·, dim) matrices in the left-fold order ``((0.0 + t0²) + t1²) + ...``:
    sequential in the dimension, vectorized across rows and centroids, so
    every entry equals :func:`_lut_sqdists` bit-for-bit."""
    import numpy as np

    if a.shape[1] != c.shape[1]:
        raise ValueError(f"vector dim {a.shape[1]} != centroid dim {c.shape[1]}")
    D = np.zeros((a.shape[0], c.shape[0]), dtype=np.float64)
    for j in range(a.shape[1]):
        t = a[:, j][:, None] - c[:, j][None, :]
        D = D + t * t
    return D


def _pair_dot(va: Column, vb: Column) -> Column:
    """Dot product of two array<double> pair columns (left-fold order, see
    :func:`_pair_dot_kernel`)."""
    return _arrow_udf(_pair_dot_kernel, "double")(va, vb)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns via fold arithmetic."""
    dot = _fold_sum(F.zip_with(a, b, lambda x, y: x * y))
    na = F.sqrt(_fold_sum(F.zip_with(a, a, lambda x, y: x * y)))
    nb = F.sqrt(_fold_sum(F.zip_with(b, b, lambda x, y: x * y)))
    return dot / (na * nb)


def _as_double(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _check_query_dim(op: str, query_vec: list[float], dim: int) -> None:
    """Driver-side dimension check, for operators whose artifact (fitted
    centroids, PQ codebooks) fixes the embedding dimension."""
    if len(query_vec) != dim:
        raise ValueError(
            f"{op}: query_vec has {len(query_vec)} components but the "
            f"embedding dimension is {dim} — dim mismatch"
        )


def _dim_guard(vec_col: str, dim: int, value: Column) -> Column:
    """``value``, or an error on a row whose non-NULL ``vec_col`` does not
    have ``dim`` components: ``zip_with`` would pad the shorter side with
    NULLs and fold the row's score to NULL, a silent wrong ranking. A NULL
    vector keeps its NULL score."""
    v = F.col(vec_col)
    return F.when(
        v.isNotNull() & (F.size(v) != F.lit(dim)),
        F.raise_error(
            F.lit(
                f"query_vec has {dim} components but an embedding row has a "
                "different length — dim mismatch"
            )
        ),
    ).otherwise(value)


def _exact_topk(
    rows: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str,
    vec_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The exact tail of every single-query search: (``id_col``, rank,
    cos_r, *carry) for the ``k`` best ``rows`` by the 6-dp-rounded cosine
    to the literal query, ties to the lower id (the dimension guard of
    :func:`_dim_guard` on every row).

    orderBy+limit plans as TakeOrderedAndProject: each partition computes
    a local top-k and the driver merges k*parts rows — no global window
    (which would funnel every scored row through one task). The rank
    window then runs over just the k limited rows; its non-foldable
    constant key keeps the WindowExec no-partition warning out of logs."""
    q = dbl_array_col([float(v) for v in query_vec])
    score = F.round(cosine(_as_double(vec_col), q), 6)
    order = (F.col("cos_r").desc(), F.col(id_col).asc())
    topk = (
        rows.select(
            F.col(id_col),
            _dim_guard(vec_col, len(query_vec), score).alias("cos_r"),
            *carry,
        )
        .orderBy(*order)
        .limit(k)
    )
    w = Window.partitionBy(single_partition_key()).orderBy(*order)
    return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
        id_col, "rank", "cos_r", *carry
    )


def topk_bruteforce(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: broadcast literal query vector, score every
    row, one top-k cut (:func:`_exact_topk`). Ranking uses the
    6-dp-rounded score with id tie-break so rank order is reproducible;
    an embedding of another length than ``query_vec`` raises."""
    return _exact_topk(emb, query_vec, k, id_col, vec_col)


def _decimal_mean(col: str) -> Column:
    """Mean of a double column with the sum routed through DECIMAL, so the
    result does not depend on aggregation (shuffle) order."""
    return F.sum(F.col(col).cast("decimal(28,12)")).cast("double") / F.count(
        F.lit(1)
    )


def label_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label per-dimension mean as (label, pos, cval) rows. Sums are
    DECIMAL-routed so the average is independent of aggregation order."""
    exploded = emb.select(
        F.col(label_col), F.posexplode(_as_double(vec_col)).alias("pos", "val")
    )
    return exploded.groupBy(label_col, "pos").agg(
        _decimal_mean("val").alias("cval")
    )


# Centroids per distance block inside the assignment kernel: transient
# kernel memory is batch_rows × _ASSIGN_CHUNK doubles (~80 MB at the
# 10k-row Arrow default) however large nlist grows. Module-level so the
# chunk-merge path is testable with tiny chunks.
_ASSIGN_CHUNK = 1024


def _nearest_cids_udf(cents: list[list[float]], nprobe: int):
    """Build a pandas_udf mapping array<double> → the ``nprobe`` nearest
    centroid ids in (squared distance, cid) ascending order.

    Per-centroid distance is :func:`_sqdist_kernel`'s left fold, and a
    STABLE argsort on the distance breaks ties by column position, i.e.
    ascending cid. The DuckDB oracles replay the same arithmetic
    bit-for-bit."""
    C = [[float(x) for x in c] for c in cents]
    # captured at build time (driver) so tests that shrink the chunk see
    # it inside worker processes — a module global read inside the kernel
    # would re-resolve against the worker's own import
    chunk = _ASSIGN_CHUNK

    def kernel(a):
        import numpy as np

        carr = np.asarray(C, dtype=np.float64)
        rows = np.arange(a.shape[0])[:, None]
        best_d = best_c = None
        # Chunking bounds transient memory at rows×chunk doubles; the merge
        # keeps the (distance, cid) tie-break because chunks arrive in
        # ascending-cid order and each candidate list is already
        # (d, cid)-sorted, so a STABLE argsort over the concatenation
        # resolves ties to the lower cid.
        for lo in range(0, len(C), chunk):
            D = _sqdist_kernel(a, carr[lo : lo + chunk])
            idx = np.argsort(D, axis=1, kind="stable")[:, :nprobe]
            cand_d, cand_c = D[rows, idx], idx + lo
            if best_d is None:
                best_d, best_c = cand_d, cand_c
            else:
                all_d = np.concatenate([best_d, cand_d], axis=1)
                all_c = np.concatenate([best_c, cand_c], axis=1)
                sel = np.argsort(all_d, axis=1, kind="stable")[:, :nprobe]
                best_d, best_c = all_d[rows, sel], all_c[rows, sel]
        return [row.tolist() for row in best_c.astype("int32")]

    return _arrow_udf(kernel, "array<int>")


def cluster_assign(vcol: Column, cents: list[list[float]]) -> Column:
    """Nearest-centroid id for a vector column: the (squared distance, cid)
    argmin of the assignment kernel — one UDF node, zero joins, zero
    shuffles. Centroids are k×dim doubles, broadcast-scale by
    construction."""
    return F.element_at(_nearest_cids_udf(cents, 1)(vcol), 1)


def kmeans_fit(
    emb: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic DataFrame-native Lloyd fit; returns k×dim centroids
    (fewer when the input has fewer than ``k`` rows): :func:`_lloyd` over
    one subspace.

    A production alternative is ``pyspark.ml.clustering.KMeans`` with a
    fixed seed — this fold-exact form exists so the DuckDB oracle can
    replay the fit bit-for-bit (kmeans++ sampling cannot be mirrored)."""
    return _lloyd(emb, k, n_iter, 1, id_col, vec_col, "kmeans_fit")[0]


def _lloyd(
    emb: DataFrame,
    k: int,
    n_iter: int,
    m: int,
    id_col: str,
    vec_col: str,
    op: str,
) -> list[list[list[float]]]:
    """The Lloyd loop of :func:`kmeans_fit` (``m`` = 1) and :func:`pq_fit`:
    split each vector into ``m`` contiguous subspaces of dim/m dimensions
    and fit ``k`` centroids per subspace — ``books[m][k][dim/m]``. Errors
    name the caller ``op``.

    Init = the vectors of the ``k`` smallest ids (TakeOrderedAndProject —
    k rows to the driver, no global sort; with fewer rows than ``k``, every
    subspace fits as many clusters as there are rows). Each of the fixed
    ``n_iter`` rounds is ONE job: one full-scan projection assigning all
    ``m`` subspaces (m assignment-kernel nodes, the :func:`pq_encode`
    shape, no join) and one (subspace, cid, pos) hash-aggregate of
    ``_decimal_mean``s whose output is m×k×dim/m rows. Empty clusters keep
    their previous centroid. The subspaces never interact: each (s, cid,
    pos) group's decimal sum and count are exactly those of a separate
    fit over the sliced projection (pinned fused ≡ per-subspace in
    tests/test_properties.py). The centroids never leave broadcast scale,
    so the loop's driver round-trips carry k×dim doubles, not data.

    The (id, double-vector) projection is lineage-checkpointed once: the
    loop's n_iter+1 actions would otherwise each re-read the scan and
    re-run the cast projection, and the checkpoint also keeps the
    per-round plans leaf-shallow."""
    vecs = emb.select(
        F.col(id_col).alias("_kid"), _as_double(vec_col).alias("v")
    ).localCheckpoint(eager=False)
    init = vecs.orderBy("_kid").limit(k).collect()
    if not init:
        raise ValueError(f"{op}: input has no rows")
    dim = len(init[0]["v"])
    if dim % m != 0:
        raise ValueError(f"{op}: dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = [
        [list(r["v"])[s * dsub : (s + 1) * dsub] for r in init]
        for s in range(m)
    ]
    k = len(init)
    for _ in range(n_iter):
        structs = [
            F.struct(
                F.lit(s).alias("s"),
                cluster_assign(
                    F.slice(F.col("v"), s * dsub + 1, dsub), books[s]
                ).alias("cid"),
                F.slice(F.col("v"), s * dsub + 1, dsub).alias("sv"),
            )
            for s in range(m)
        ]
        rows = (
            vecs.select(F.explode(F.array(*structs)).alias("e"))
            .select(
                F.col("e.s").alias("s"),
                F.col("e.cid").alias("cid"),
                F.posexplode("e.sv").alias("pos", "val"),
            )
            .groupBy("s", "cid", "pos")
            .agg(_decimal_mean("val").alias("cval"))
            .collect()
        )
        by_sc: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            by_sc.setdefault((r["s"], r["cid"]), {})[r["pos"]] = r["cval"]
        books = [
            [
                [by_sc[(s, c)][p] for p in range(dsub)]
                if (s, c) in by_sc
                else books[s][c]
                for c in range(k)
            ]
            for s in range(m)
        ]
    return books


# Size gate for the per-cell LUT CASE in ivfpq_topk, which folds
# nprobe × m × ksub double literals into the plan. At model scale (the
# pinned geometry: 2 × 4 × 8 = 64 doubles) the literal is the cheaper
# plan; past this budget the expression text itself becomes a
# parser/analyzer cost, so larger geometries take the broadcast lut_df
# join (same doubles). 65536 doubles ≈ 1.4 MB of expression text.
IVFPQ_LUT_LITERAL_MAX_DOUBLES = 65536


def save_centroids(spark, cents: list[list[float]], path: str) -> None:
    """Persist a fitted centroid table to parquet — the vector-side model
    artifact (the ``bpe_save_merges`` treatment): a real pipeline
    fits ONCE and assigns/probes many corpora and ingest waves from the
    stored table, instead of re-running Lloyd per job. Schema is
    (cid int, c array<double>); parquet stores the doubles bit-exactly,
    so fit → save → load → assign is bit-identical to fit-then-assign
    (property-pinned). The table is nlist rows — driver/broadcast scale
    by construction (see ``auto_nlist``'s √n cap).

    The local relation is parallelized as ONE slice: the default
    createDataFrame splits driver rows across defaultParallelism python
    partitions and the write then pays a Python-worker round trip per
    slice — measured ~4 s for 32 rows at local[32] vs 0.3 s single-slice
    (and one slice means one output file, no coalesce needed). An
    inline()-literal JVM write (no Python worker at all) ran ~0.15 s
    SLOWER warm — codegen of the k×dim-literal Generate costs more than
    the one worker round trip it saves — so the single-slice parallelize
    stays."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), "cid int, c array<double>"
    ).write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> list[list[float]]:
    """Load a :func:`save_centroids` artifact back into the k×dim list the
    assignment kernels close over. The collect is nlist rows — the same
    driver-scale round-trip ``kmeans_fit`` itself performs per Lloyd
    round, not a data collect. The cid sort runs driver-side over those
    nlist rows: an ``orderBy`` here planned a range-partitioned
    sort (bounds-sampling job + exchange) to order rows a driver loop
    can order for free."""
    rows = spark.read.parquet(path).collect()
    rows.sort(key=lambda r: r["cid"])
    if not rows:
        raise ValueError(f"load_centroids: no centroid rows at {path}")
    if [r["cid"] for r in rows] != list(range(len(rows))):
        raise ValueError(
            f"load_centroids: non-contiguous cid sequence at {path} — "
            "the artifact is corrupt or was written by something else"
        )
    return [list(r["c"]) for r in rows]


def pq_fit(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 8,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split each vector into ``m``
    contiguous subspaces of dim/m dimensions and fit ``ksub`` centroids
    per subspace with the shared Lloyd loop (:func:`_lloyd`, all ``m``
    subspaces in one job per round) — returns ``books[m][ksub][dim/m]``,
    bit-identical to ``m`` separate :func:`kmeans_fit` calls over the
    sliced projections. PQ is the canonical 100 TB ANN memory trade
    (FAISS's IVF-PQ layout): a 64-dim float vector becomes m small codes,
    so the candidate scan reads m bytes per row instead of the vector, and
    exact vectors are touched only for the re-rank survivors."""
    return _lloyd(emb, ksub, n_iter, m, id_col, vec_col, "pq_fit")


def save_pq_codebooks(
    spark, books: list[list[list[float]]], path: str
) -> None:
    """Persist PQ codebooks to parquet — (sub, cid, c array<double>) rows,
    bit-exact doubles, single-slice local relation (the
    :func:`save_centroids` rationale, incl. the rejected
    inline()-literal write). m×ksub rows — driver scale."""
    rows = [
        (s, i, [float(x) for x in c])
        for s, book in enumerate(books)
        for i, c in enumerate(book)
    ]
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "sub int, cid int, c array<double>",
    ).write.mode("overwrite").parquet(path)


def load_pq_codebooks(spark, path: str) -> list[list[list[float]]]:
    """Load a :func:`save_pq_codebooks` artifact; validates contiguous
    (sub, cid) coverage so a torn artifact fails loudly. The (sub, cid)
    sort is driver-side over m×ksub rows (the :func:`load_centroids`
    rationale)."""
    rows = spark.read.parquet(path).collect()
    rows.sort(key=lambda r: (r["sub"], r["cid"]))
    if not rows:
        raise ValueError(f"load_pq_codebooks: no rows at {path}")
    m = rows[-1]["sub"] + 1
    ksub = rows[-1]["cid"] + 1
    if [(r["sub"], r["cid"]) for r in rows] != [
        (s, i) for s in range(m) for i in range(ksub)
    ]:
        raise ValueError(
            f"load_pq_codebooks: non-contiguous (sub, cid) grid at {path} — "
            "the artifact is corrupt or was written by something else"
        )
    return [
        [list(r["c"]) for r in rows[s * ksub : (s + 1) * ksub]]
        for s in range(m)
    ]


def pq_encode(
    emb: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, code array<int>) PQ codes: per subspace, the argmin sub-centroid
    via the shared assignment kernel over the sliced vector — map-only,
    zero joins/shuffles, m kernel nodes. The code table is the compact
    scan-side representation (m small ints per row). ``keep`` carries
    extra columns through unchanged (the IVF-PQ path keeps the coarse
    cell id alongside each code)."""
    dsub = len(books[0][0])
    return emb.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.array(
            *[
                cluster_assign(
                    F.transform(
                        F.slice(F.col(vec_col), s * dsub + 1, dsub),
                        lambda x: x.cast("double"),
                    ),
                    book,
                )
                for s, book in enumerate(books)
            ]
        ).alias("code"),
    )


def pq_topk_adc(
    emb: DataFrame,
    query_vec: list[float],
    books: list[list[list[float]]],
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via PQ asymmetric-distance scoring with exact
    re-rank: the query's per-subspace lookup table (ksub squared
    distances per subspace, computed driver-side with the shared left
    fold) turns each row's code into an approximate squared L2 distance
    — m array lookups + m-1 additions per row, no vector arithmetic in
    the scan — the best ``rerank`` rows by (adc_r, id) are then scored
    exactly by cosine and the top ``k`` returned. TakeOrderedAndProject
    both times, never a global window. Rounded ADC and cosine with id
    tie-breaks make both ranking stages engine-reproducible; the DuckDB
    oracle replays codebooks, codes, LUT and both cuts bit-for-bit.

    Output (vec_id, rank, cos_r, adc_r): ``cos_r`` is the exact score of
    the survivor, ``adc_r`` the approximation that put it in the
    candidate set — the pair is the recall diagnostic."""
    _check_query_dim("pq_topk_adc", query_vec, len(books) * len(books[0][0]))
    luts = _query_luts([float(x) for x in query_vec], books)
    codes = pq_encode(emb, books, id_col, vec_col)
    cand = _adc_candidates(codes, [dbl_array_col(t) for t in luts], id_col, rerank)
    rows = emb.join(F.broadcast(cand), id_col)
    return _exact_topk(rows, query_vec, k, id_col, vec_col, carry=("adc_r",))


def _lut_sqdists(q_sub: list[float], book: list[list[float]]) -> list[float]:
    """Squared distances of one driver-side (sub)vector to every centroid
    of ``book`` (a PQ sub-codebook, or the coarse centroids), in the
    shared left-fold accumulator order (``((0.0+t0²)+t1²)+...``) so the
    doubles match the assignment kernel and the SQL ``list_reduce``
    bit-for-bit. The package's only Python copy of that fold."""
    lut = []
    for c in book:
        acc = 0.0
        for x, y in zip(q_sub, c):
            t = x - y
            acc = acc + t * t
        lut.append(acc)
    return lut


def _query_luts(
    q: list[float], books: list[list[list[float]]]
) -> list[list[float]]:
    """The ADC lookup tables of one query vector: per subspace, its
    :func:`_lut_sqdists` against that subspace's codebook."""
    dsub = len(books[0][0])
    return [
        _lut_sqdists(q[s * dsub : (s + 1) * dsub], book)
        for s, book in enumerate(books)
    ]


def _adc_r(luts: list[Column]) -> Column:
    """The ADC score of a ``code`` row: ``round(Σ_s luts[s][code[s]], 6)``,
    summed in subspace order, where ``luts[s]`` is subspace ``s``'s
    array<double> of squared distances to its sub-centroids — m array
    lookups and m-1 additions per row, no vector arithmetic."""
    terms = [
        F.element_at(lut, F.element_at(F.col("code"), s + 1) + F.lit(1))
        for s, lut in enumerate(luts)
    ]
    return F.round(functools.reduce(operator.add, terms), 6)


def _adc_candidates(
    codes: DataFrame,
    luts: list[Column],
    id_col: str,
    rerank: int,
    *keep: str,
) -> DataFrame:
    """(``id_col``, *keep, adc_r) of the ``rerank`` best ``codes`` rows by
    (adc_r, id): a TakeOrderedAndProject cut, never a global window."""
    return (
        codes.select(F.col(id_col), *keep, _adc_r(luts).alias("adc_r"))
        .orderBy(F.col("adc_r").asc(), F.col(id_col).asc())
        .limit(rerank)
    )


def ivf_residuals(
    emb: DataFrame,
    coarse: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, residual ``vec_col``, blk) rows: each vector assigned to its
    nearest coarse centroid and re-expressed as the residual against that
    centroid — the IVF-PQ index-build projection (residuals are what the
    product codebooks quantize; FAISS ``IndexIVFPQ`` layout). Assignment
    is the shared Arrow kernel; the centroid lookup indexes a constant
    nested-array literal by blk (nlist×dim doubles folded into the plan
    once), and the subtraction is a ``zip_with`` — map-side only, zero
    shuffles, zero joins."""
    assigned = emb.select(
        F.col(id_col),
        _as_double(vec_col).alias("_v"),
        cluster_assign(_as_double(vec_col), coarse).alias("blk"),
    )
    cent_arr = dbl_nested_array_col(coarse)
    return assigned.select(
        F.col(id_col),
        F.zip_with(
            "_v",
            F.element_at(cent_arr, F.col("blk") + F.lit(1)),
            lambda x, c: x - c,
        ).alias(vec_col),
        F.col("blk"),
    )


def ivfpq_topk(
    emb: DataFrame,
    query_vec: list[float],
    coarse: list[list[float]],
    books: list[list[list[float]]],
    nprobe: int = 2,
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ top-k: coarse cells prune the scan, residual product
    codes score the survivors, exact cosine re-ranks — the composition of
    the two persisted artifacts (centroid table + residual codebooks) that
    is the standard billion-scale ANN index (FAISS IVFPQ; Jégou et al.
    2011). Per query: the ``nprobe`` nearest coarse cells are found
    driver-side (nlist distances — model scale, not data scale), ONLY
    those cells' rows are residual-encoded and ADC-scored under a
    per-cell lookup table (the residual query differs per cell, so each
    probed cell gets its own LUT — a literal CASE keyed on blk, m array
    lookups + m-1 adds per row; a LUT volume past
    ``IVFPQ_LUT_LITERAL_MAX_DOUBLES`` takes a broadcast-joined lut_df
    instead, same doubles), and the best ``rerank`` rows by
    (adc_r, id) are exactly re-scored. At 100 TB the codes would be a
    precomputed table bucketed by blk, making the probe a partition-pruned
    scan of m-byte codes; this one-shot form recomputes them for the
    probed cells only — same plan shape, same answer.

    Every ranking input is rounded (adc_r, cos_r) with id tie-breaks and
    every float comes from the shared left-fold kernels, so the DuckDB
    oracle replays both cuts bit-for-bit. Output (vec_id, rank, cos_r,
    adc_r, blk): blk is the probed-cell provenance — the recall
    diagnostic for nprobe tuning."""
    q = [float(x) for x in query_vec]
    _check_query_dim("ivfpq_topk", q, len(coarse[0]))
    dists = _lut_sqdists(q, coarse)
    probed = sorted(range(len(coarse)), key=lambda c: (dists[c], c))[:nprobe]
    # the residual query differs per probed cell, so each cell has its own
    # m lookup tables
    luts = {
        c: _query_luts([x - y for x, y in zip(q, coarse[c])], books)
        for c in probed
    }
    res = ivf_residuals(emb, coarse, id_col, vec_col).filter(
        F.col("blk").isin(probed)
    )
    codes = pq_encode(res, books, id_col, vec_col, keep=("blk",))
    m, ksub = len(books), len(books[0])
    if len(probed) * m * ksub <= IVFPQ_LUT_LITERAL_MAX_DOUBLES:
        # per-cell LUTs as literal CASE expressions keyed on blk: every
        # row's blk is one of ``probed`` (the filter above), so the CASE
        # always matches. F.when opens the CASE, Column.when extends it.
        lut_cols = []
        for s in range(m):
            case = F
            for c in probed:
                case = case.when(F.col("blk") == c, dbl_array_col(luts[c][s]))
            lut_cols.append(case)
    else:
        spark = emb.sparkSession
        lut_df = spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(c, *luts[c]) for c in probed], 1
            ),
            "blk int, " + ", ".join(f"_lut{s} array<double>" for s in range(m)),
        )
        codes = codes.join(F.broadcast(lut_df), "blk")
        lut_cols = [F.col(f"_lut{s}") for s in range(m)]
    cand = _adc_candidates(codes, lut_cols, id_col, rerank, "blk")
    rows = emb.join(F.broadcast(cand), id_col)
    return _exact_topk(rows, q, k, id_col, vec_col, carry=("adc_r", "blk"))


def _pq_luts_udf(coarse: list[list[float]], books: list[list[list[float]]]):
    """Build a pandas_udf mapping (blk, vector) → the m per-subspace ADC
    lookup tables of that vector's residual against its probed cell —
    ``array<array<double>>``, outer index = subspace, inner = sub-centroid.

    The residual is the elementwise double subtraction ``v - cent`` and
    each table is :func:`_sqdist_kernel` over the subspace dims, so every
    entry equals :func:`_lut_sqdists` of the row's residual bit-for-bit.
    One kernel node replaces m·ksub interpreted folds per probe row."""
    C = [[float(x) for x in c] for c in coarse]
    B = [[[float(x) for x in c] for c in book] for book in books]
    m = len(B)
    dsub = len(B[0][0])

    def kernel(blks, a):
        import numpy as np

        r = a - np.asarray(C, dtype=np.float64)[blks]
        out_per_s = [
            _sqdist_kernel(
                r[:, s * dsub : (s + 1) * dsub], np.asarray(B[s], dtype=np.float64)
            )
            for s in range(m)
        ]
        return [
            [out_per_s[s][i].tolist() for s in range(m)]
            for i in range(a.shape[0])
        ]

    return _arrow_udf(kernel, "array<array<double>>")


def knn_join_ivfpq(
    emb: DataFrame,
    coarse: list[list[float]],
    books: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    res: "DataFrame | None" = None,
) -> DataFrame:
    """IVF-PQ k-NN GRAPH build: every vector, as a query, probes its
    ``nprobe`` nearest coarse cells and meets those cells' members — but
    unlike :func:`knn_join_multiprobe`, the blocked pair scoring is ADC
    (m integer-code lookups into the query's per-cell LUT, no vector
    arithmetic), and the exact cosine fold runs ONLY on each query's
    ``rerank`` ADC survivors. At 100 TB the blocked self-join's pair
    count is the dominant cost of an ANN-graph build; swapping the
    64-dim fold for m array lookups on those pairs — paying the fold on
    n·rerank survivor pairs instead — is precisely the IVFPQ trade
    (Jégou et al. 2011).

    ``res`` (optional): a precomputed :func:`ivf_residuals` frame —
    typically the SAME (usually checkpointed) frame the codebooks were
    fitted on, or at 100 TB the persisted residual/code index table.
    Passing it skips re-running the assignment kernel + residual lookup
    for the code side; values are identical by construction (the code
    of a row depends only on its own residual).

    Plan shape: residual-encode (map-only) → probe assignment (Arrow
    kernel, map-only) → LUT projection (one Arrow kernel node computing
    residual + all m per-cell tables) → blocked equi-join on the cell id
    → per-query ADC cut (window over the blocked pairs) → exact re-rank
    join on the survivor ids. A pair
    (q, x) arises at most once (x lives in ONE cell; q probes it or
    not), so no pair dedup is needed. Every ranking input is rounded
    with id tie-breaks; all folds share the engine accumulator order, so
    the DuckDB oracle replays both cuts bit-for-bit.

    Output (vec_id, rank, neighbor_id, cos_r, adc_r)."""
    m = len(books)
    if res is None:
        res = ivf_residuals(emb, coarse, id_col, vec_col)
    codes = pq_encode(res, books, id_col, vec_col, keep=("blk",)).select(
        F.col(id_col).alias("__idb"), F.col("blk").alias("__blk"), "code"
    )

    probes = probe_assignments(emb, coarse, nprobe, id_col, vec_col)
    # the probed cell's centroid is captured in the kernel, so no
    # centroid join is needed for the residual
    luts = probes.select(
        F.col(id_col).alias("__ida"),
        F.col("__blk"),
        _pq_luts_udf(coarse, books)(F.col("__blk"), F.col("__v")).alias(
            "__luts"
        ),
    )
    adc_r = _adc_r([F.element_at(F.col("__luts"), s + 1) for s in range(m)])
    pairs = (
        luts.join(codes, "__blk")
        .where(F.col("__ida") != F.col("__idb"))
        .select(F.col("__ida"), F.col("__idb"), adc_r.alias("adc_r"))
    )
    w_adc = Window.partitionBy("__ida").orderBy(
        F.col("adc_r").asc(), F.col("__idb").asc()
    )
    cand = (
        pairs.withColumn("__arn", F.row_number().over(w_adc))
        .where(F.col("__arn") <= rerank)
        .drop("__arn")
    )

    base = _with_norm(emb.select(id_col, vec_col), vec_col, "__")
    rescored = (
        cand.join(_pair_side(base, "a", id_col), "__ida")
        .join(_pair_side(base, "b", id_col), "__idb")
        .select("__ida", "__idb", _cos_r().alias("cos_r"), "adc_r")
    )
    return _knn_rank(rescored, k, id_col, carry=("adc_r",))


def auto_nlist(
    emb: DataFrame, target_block_rows: int = 1024, cap: int = 65536
) -> int:
    """Scale ``nlist`` with the corpus: ``ceil(√n)``, floored so blocks
    don't shrink below ``target_block_rows`` on small corpora, capped at
    ``cap`` (FAISS-norm IVF sizing).

    Why it must scale AT ALL: a blocked self-join over nlist
    blocks of ~n/nlist rows costs ∝ nlist·(n/nlist)² = n²/nlist pairs —
    with nlist FIXED, doubling the corpus quadruples the pair count.

    Why √n and not n/target: the linear form made the
    CENTROID count linear in corpus size, but centroids are the one piece
    of state this design keeps at driver/broadcast scale — kmeans_fit
    collects k×dim doubles per Lloyd round and the assignment kernel
    closes over the full centroid list. At n = 10¹⁰ vectors, n/1024 is
    ~10⁷ centroids (≈5 GB of closure at dim=64) — no longer broadcast
    scale; √n is 10⁵ (≈50 MB), and the blocked pair work becomes
    ∝ n²/√n = n^1.5 — the standard IVF trade (exhaustive in-block scan
    under a √n-sized coarse quantizer), still far from n². The cap bounds
    the closure at ~33 MB however large n gets; past that scale a real
    deployment layers a second quantizer level rather than growing the
    flat list.

    Cost of the decision itself: one ``count()`` — metadata-cheap on
    columnar sources, negligible next to the Lloyd fit that follows. The
    harness queries keep pinned integer nlist constants so the DuckDB
    oracles can replay the fit bit-for-bit; ``"auto"`` is the production
    path (nesting/cohesion property tests run it)."""
    n = emb.count()
    if n <= 0:
        return 1
    isqrt = int(n**0.5)
    if isqrt * isqrt < n:  # ceil of the integer square root
        isqrt += 1
    # keep blocks from shrinking below ~target rows on small corpora
    # (nlist ≤ ceil(n/target) ⇔ block size ≥ target): √n only takes over
    # once n > target², i.e. when the corpus is big enough to need it
    return max(1, min(cap, isqrt, -(-n // target_block_rows)))


def _resolve_nlist(
    nlist, emb: DataFrame, target_block_rows: int
) -> int:
    if nlist == "auto":
        return auto_nlist(emb, target_block_rows)
    return nlist


def topk_ivf_fitted(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nlist: "int | str" = 4,
    n_iter: int = 2,
    nprobe: int = 2,
    target_block_rows: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF with FITTED partitions: k-means the corpus (no label column
    needed), rank the fitted centroids by cosine to the query, scan only
    the vectors assigned to the best ``nprobe`` clusters. The centroid
    ranking happens driver-side (nlist×dim literals); the big scan keeps
    one projection + filter, no join."""
    nlist = _resolve_nlist(nlist, emb, target_block_rows)
    cents = kmeans_fit(emb, k=nlist, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    _check_query_dim("topk_ivf_fitted", query_vec, len(cents[0]))

    def cos_to_query(c: list[float]) -> float:
        # same left-fold order and correctly-rounded sqrt as the SQL
        # mirror — exact doubles, so no rounding is needed before ranking
        import math

        dot = 0.0
        nc = 0.0
        nq = 0.0
        for x, y in zip(c, query_vec):
            dot += x * float(y)
            nc += x * x
            nq += float(y) * float(y)
        if nc == 0.0 or nq == 0.0:
            # a zero-norm centroid (all-zero cluster) ranks last instead of
            # crashing the driver; the SQL mirror has the matching CASE
            return float("-inf")
        return dot / (math.sqrt(nc) * math.sqrt(nq))

    ranked = sorted(
        range(len(cents)), key=lambda i: (-cos_to_query(cents[i]), i)
    )[:nprobe]
    probe = set(ranked)
    pruned = emb.where(
        cluster_assign(_as_double(vec_col), cents).isin(*probe)
    )
    return topk_bruteforce(pruned, query_vec, k, id_col, vec_col)


def embedding_near_dups_fitted(
    emb: DataFrame,
    threshold: float = 0.9,
    nlist: "int | str" = 4,
    n_iter: int = 2,
    target_block_rows: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``embedding_near_dups`` with the block column produced by the fitted
    k-means assignment instead of an upstream label — the real-corpus form
    (no labels exist at 100 TB; near-identical vectors land in the same
    cluster, so the within-block all-pairs join stays bounded by cluster
    sizes)."""
    nlist = _resolve_nlist(nlist, emb, target_block_rows)
    cents = kmeans_fit(emb, k=nlist, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    blocked = emb.withColumn("__blk", cluster_assign(_as_double(vec_col), cents))
    return embedding_near_dups(
        blocked, threshold=threshold, id_col=id_col, vec_col=vec_col,
        block_col="__blk",
    )


def topk_ivf(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF-style approximate top-k: rank centroids by cosine to the query,
    keep the best ``nprobe`` labels, run exact scoring only inside those
    partitions. Centroid scoring happens on tiny aggregated rows (driver-side
    broadcast scale), the big scan is pruned by the label filter. A
    ``query_vec`` whose length differs from the embedding dimension raises
    instead of returning a wrong ranking."""
    cents = label_centroids(emb, id_col, vec_col, label_col)
    # query components as one literal array indexed by pos; try_element_at
    # so a query SHORTER than the embedding reaches the dim guard below
    # as NULLs instead of an index error
    qarr = dbl_array_col(query_vec)
    joined = cents.withColumn(
        "qval", F.try_element_at(qarr, F.col("pos") + F.lit(1))
    )
    # Dim guard over the nlist aggregated centroid rows (model scale): each
    # label's centroid covers positions 0..dim-1, so max(pos) + 1 must equal
    # len(query_vec). A shorter query would score a partial dot product and
    # a longer one would NULL every cos_r in ``cosine``'s zip_with — both
    # silent wrong answers, so both fail loudly here.
    dim_guard = F.assert_true(
        F.col("__dim") == F.lit(len(query_vec)),
        F.lit(
            f"topk_ivf: query_vec has {len(query_vec)} components but the "
            f"embedding dimension differs — dim mismatch"
        ),
    )
    cs = (
        joined.groupBy(label_col)
        .agg(
            F.sum((F.col("cval") * F.col("qval")).cast("decimal(28,12)"))
            .cast("double")
            .alias("dot"),
            F.sqrt(
                F.sum((F.col("cval") * F.col("cval")).cast("decimal(28,12)")).cast(
                    "double"
                )
            ).alias("cnorm"),
            (F.max("pos") + F.lit(1)).alias("__dim"),
        )
        .where(dim_guard.isNull())
        .select(
            F.col(label_col),
            F.round(F.col("dot") / F.col("cnorm"), 6).alias("c_cos"),
        )
    )
    # nlist centroid rows only, but TakeOrderedAndProject is still the right
    # plan — no single-partition window even on the small side
    probe = (
        cs.orderBy(F.col("c_cos").desc(), F.col(label_col).asc())
        .limit(nprobe)
        .select(label_col)
    )
    pruned = emb.join(F.broadcast(probe), label_col)
    return topk_bruteforce(pruned, query_vec, k, id_col, vec_col)


# Deterministic pseudo-random hyperplanes for cosine LSH: component (j, i) is
# an LCG value mapped to [-0.5, 0.5). Integer arithmetic + power-of-two
# division keep every component bit-exact in any IEEE engine, so the oracle
# SQL reproduces signatures exactly.
LSH_LCG_A = 1103515245
LSH_LCG_C = 12345
LSH_LCG_M = 65536
LSH_MIX = 4096  # j*MIX + i decorrelates planes (requires dim < 4096)


def _check_lsh_dim(dim: int) -> None:
    """The (j, i) → j·MIX + i seeding decorrelates hyperplanes only while
    i < MIX; a ≥MIX-dim embedding would silently alias plane j's tail onto
    plane j+1's head. Fail loudly instead."""
    if dim >= LSH_MIX:
        raise ValueError(
            f"LSH signature supports dim < {LSH_MIX}; got dim={dim}. "
            f"Raise LSH_MIX (changing every signature) or reduce the "
            f"embedding dimension."
        )


def _lsh_component(j: int, i: int) -> float:
    """Hyperplane component h_j[i] (0-based i), identical to the SQL form."""
    return ((LSH_LCG_A * (j * LSH_MIX + i) + LSH_LCG_C) % LSH_LCG_M) / LSH_LCG_M - 0.5


def lsh_signature_py(vec: list[float], nbits: int = 8) -> int:
    """Signature of a driver-side query vector — same fold order and IEEE ops
    as the Spark/SQL expression, so the integers agree bit-for-bit."""
    _check_lsh_dim(len(vec))
    sig = 0
    for j in range(nbits):
        s = 0.0
        for i, v in enumerate(vec):
            s += float(v) * _lsh_component(j, i)
        if s >= 0:
            sig |= 1 << j
    return sig


def lsh_signature_col(vec_col: str, nbits: int = 8, dim: int | None = None) -> Column:
    """Random-hyperplane signature as a JVM-side expression: bit j is the
    sign of the left-fold dot product with hyperplane j.

    When ``dim`` is known (it always is when a query vector exists) the
    hyperplane components are hoisted into literal arrays driver-side —
    the per-element LCG then costs nothing per row, and the only
    executor-side work is ``nbits`` zip-fold dot products (measured ~8×
    faster than the in-expression LCG form, which re-derives every
    component inside an interpreted lambda). Both forms produce
    bit-identical signatures: the components are exact binary64 either
    way (integer LCG, power-of-two divide), and the fold order is the
    same."""
    if dim is not None:
        _check_lsh_dim(dim)
        v = f"transform({vec_col}, x -> cast(x as double))"
        terms = []
        for j in range(nbits):
            plane = ", ".join(
                repr(_lsh_component(j, i)) + "D" for i in range(dim)
            )
            dot = (
                f"aggregate(zip_with({v}, array({plane}), (x, y) -> x * y), "
                f"cast(0.0 as double), (s, x) -> s + x)"
            )
            terms.append(
                f"CASE WHEN {dot} >= cast(0.0 as double) "
                f"THEN cast({1 << j} as bigint) ELSE cast(0 as bigint) END"
            )
        return F.expr(" + ".join(terms))
    # dim unknown: derive components inside the expression (slower path)
    dot_j = (
        f"aggregate(sequence(1, size(__v)), cast(0.0 as double), (s, i) -> "
        f"s + element_at(__v, i) * "
        f"(cast(pmod(cast({LSH_LCG_A} as bigint) * (j * {LSH_MIX} + i - 1) "
        f"+ {LSH_LCG_C}, {LSH_LCG_M}) as double) / {LSH_LCG_M} - 0.5))"
    )
    expr = (
        f"aggregate(sequence(0, {nbits - 1}), cast(0 as bigint), (acc, j) -> "
        f"acc + CASE WHEN {dot_j} >= cast(0.0 as double) "
        f"THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END)"
    )
    return F.expr(
        expr.replace("__v", f"transform({vec_col}, x -> cast(x as double))")
    )


def topk_lsh(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nbits: int = 8,
    max_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed approximate top-k: random-hyperplane signatures put
    similar vectors in the same bucket; probe the query's bucket plus its
    Hamming-``max_hamming`` neighbors, exact-rank only inside those.

    Scale path: the signature is a plain column — precompute it at ingest and
    write the table partitioned/bucketed by ``sig`` and the probe becomes
    partition pruning (read ~(1+nbits)/2^nbits of the data); computed on the
    fly it is still a pushable scan filter, never a shuffle.

    The probe filter carries the dimension guard of :func:`_dim_guard`: an
    embedding of another length than ``query_vec`` gets a NULL-folded
    signature, so it must raise before the filter can drop it."""
    qsig = lsh_signature_py([float(v) for v in query_vec], nbits)
    sigs = emb.withColumn(
        "sig", lsh_signature_col(vec_col, nbits, dim=len(query_vec))
    )
    near = F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))) <= max_hamming
    probed = sigs.where(_dim_guard(vec_col, len(query_vec), near)).drop("sig")
    return topk_bruteforce(probed, query_vec, k, id_col, vec_col)


def _with_norm(df: DataFrame, vec_col: str, prefix: str) -> DataFrame:
    """(…, {prefix}v double-array, {prefix}n norm): the norm is computed ONCE
    per vector instead of once per pair — the dot product is unavoidably
    per-pair, but hoisting both norms cuts the per-pair fold work 3× with
    bit-identical results (same IEEE ops on the same inputs, so oracle SQL
    that recomputes the norm per pair still matches exactly)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn(f"{prefix}v", v).withColumn(
        f"{prefix}n",
        F.sqrt(_fold_sum(F.zip_with(F.col(f"{prefix}v"), F.col(f"{prefix}v"),
                                    lambda x, y: x * y))),
    )


def _pair_side(df: DataFrame, side: str, id_col: str, *keys) -> DataFrame:
    """One side of a pair join over ``_with_norm(..., "__")`` rows: the
    join ``keys`` (names or columns), the id as ``__id{side}`` and the
    vector and its norm as ``v{side}`` / ``n{side}``, the operands of
    :func:`_cos_r`."""
    return df.select(
        *keys,
        F.col(id_col).alias(f"__id{side}"),
        F.col("__v").alias(f"v{side}"),
        F.col("__n").alias(f"n{side}"),
    )


def _block_self_join(
    df: DataFrame, block: str, id_col: str, keep: Column
) -> DataFrame:
    """Pairs of ``_with_norm`` rows that share ``block``, kept where
    ``keep`` (a predicate over ``__ida``/``__idb``) holds."""
    a = _pair_side(df, "a", id_col, block)
    b = _pair_side(df, "b", id_col, block)
    return a.join(b, block).where(keep)


def _cos_r() -> Column:
    """The pair score: the cosine of the ``va``/``vb`` operands, the dot
    product from the Arrow kernel over the hoisted norms, rounded to 6
    decimals once, before any threshold or ranking."""
    return F.round(
        _pair_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )


def _dominated_ids(
    df: DataFrame, block: str, id_col: str, threshold: float
) -> DataFrame:
    """(``id_col``) of every vector that shares ``block`` with a LOWER id
    at cosine ≥ ``threshold``, one row per id: the keep-lowest drop set."""
    return (
        _block_self_join(df, block, id_col, F.col("__idb") < F.col("__ida"))
        .select(F.col("__ida").alias(id_col), _cos_r().alias("__cos"))
        .where(F.col("__cos") >= threshold)
        .select(id_col)
        .distinct()
    )


def _knn_rank(
    scored: DataFrame,
    k: int,
    id_col: str,
    symmetric: bool = False,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The top-``k`` tail of a k-NN graph: (``id_col``, rank, neighbor_id,
    cos_r, *carry) from scored (``__ida``, ``__idb``, cos_r, *carry) rows.
    ``symmetric`` rows (no carry) hold each unordered pair once and are
    exploded into both directed rows first. Rank is ``row_number`` over
    (cos_r DESC, neighbor ASC) per vector, so ties go to the lower
    neighbor id."""
    if symmetric:
        scored = scored.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("__ida").alias("src"), F.col("__idb").alias("dst")
                    ),
                    F.struct(
                        F.col("__idb").alias("src"), F.col("__ida").alias("dst")
                    ),
                )
            ).alias("p"),
            "cos_r",
        ).select(
            F.col("p.src").alias("__ida"),
            F.col("p.dst").alias("__idb"),
            "cos_r",
        )
    w = Window.partitionBy("__ida").orderBy(
        F.col("cos_r").desc(), F.col("__idb").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("__ida").alias(id_col),
            "rank",
            F.col("__idb").alias("neighbor_id"),
            "cos_r",
            *carry,
        )
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by ``block_col``
    (IVF-style blocking: only same-cluster vectors are compared — at scale
    the blocker is an LSH/k-means assignment, here the label column).
    Norms are hoisted per-vector (see ``_with_norm``)."""
    base = _with_norm(emb.select(block_col, id_col, vec_col), vec_col, "__")
    return (
        _block_self_join(base, block_col, id_col, F.col("__ida") < F.col("__idb"))
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            _cos_r().alias("cos_r"),
        )
        .where(F.col("cos_r") >= threshold)
    )


def semantic_contamination(
    emb: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Embedding-space benchmark decontamination: for every corpus vector,
    the maximum cosine to ANY benchmark vector and a flag at ``threshold``
    — the semantic complement of the n-gram ``contamination_probe``,
    catching paraphrased eval leakage that exact n-gram overlap misses.

    EVERY corpus row appears in the output: a row with no benchmark
    partner (e.g. the benchmark's only member is the row itself under
    ``exclude_self``) reports ``max_cos_r`` NULL and ``contaminated``
    false, instead of silently vanishing.

    ``exclude_self``: self-pair exclusion is by ID EQUALITY, which assumes
    the benchmark shares the corpus id space (the in-corpus-eval-slice
    case, as in the harness query). For an EXTERNAL benchmark whose ids
    are a different namespace, pass ``exclude_self=False`` — otherwise an
    accidental id collision would silently skip a genuine comparison.

    Scale shape: the benchmark is eval-set-sized, so it broadcasts; each
    corpus row computes |bench| fold dot-products map-side and the per-row
    max needs only a map-side-partial hash aggregate on the corpus id —
    no all-pairs shuffle ever materializes. MAX over doubles is
    order-independent, so the result is deterministic; rounding happens
    once, after the max. Norms are hoisted per-vector (``_with_norm``):
    only the dot product is per-pair work."""
    b = _with_norm(benchmark.select(id_col, vec_col), vec_col, "__b").select(
        F.col(id_col).alias("__bid"), F.col("__bv"), F.col("__bn")
    )
    # widened: the |bench| dot products per row are the CPU cost
    corpus = _with_norm(widen(emb.select(id_col, vec_col)), vec_col, "__a")
    cond = F.col(id_col) != F.col("__bid") if exclude_self else F.lit(True)
    # LEFT join: a corpus row with zero non-self partners still yields one
    # row (all-null bench side → null __cos → null max), so no row is lost
    pairs = corpus.join(F.broadcast(b), cond, "left")
    dot = _fold_sum(F.zip_with(F.col("__av"), F.col("__bv"), lambda x, y: x * y))
    scored = pairs.select(
        F.col(id_col), (dot / (F.col("__an") * F.col("__bn"))).alias("__cos")
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.max("__cos"), 6).alias("max_cos_r"))
        .select(
            F.col(id_col),
            "max_cos_r",
            F.coalesce(
                F.col("max_cos_r") >= threshold, F.lit(False)
            ).alias("contaminated"),
        )
    )


def knn_join(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Batch k-NN graph construction: EVERY vector's top-k neighbors by
    cosine within its block — the primitive behind SemDeDup-style semantic
    pruning, embedding-graph clustering, and retrieval-index QA, distinct
    from single-query ``topk_*`` (which score one vector against the
    corpus; this scores all-vs-all inside blocks).

    Scale shape: blocked self-join (IVF-style — at 100 TB ``block_col`` is
    a fitted k-means or LSH assignment, so join cost is bounded by block
    sizes, never n²), per-vector rank window partitioned by the vector id
    (per-key sort only). Ranking uses the 6-dp-rounded score with neighbor
    id tie-break so the graph is reproducible across engines. Norms are
    hoisted per-vector (``_with_norm``)."""
    base = _with_norm(emb.select(block_col, id_col, vec_col), vec_col, "__")
    scored = _block_self_join(
        base, block_col, id_col, F.col("__ida") != F.col("__idb")
    ).select("__ida", "__idb", _cos_r().alias("cos_r"))
    return _knn_rank(scored, k, id_col)


def probe_assignments(
    emb: DataFrame,
    cents: list[list[float]],
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, __v, __n, __blk) rows: each vector assigned to its ``nprobe``
    NEAREST fitted centroids — the multi-probe generalization of
    :func:`cluster_assign` (which is exactly ``nprobe=1``). Ranking is
    (squared distance, cid) ascending in the assignment kernel, the same
    argmin-with-cid-tie-break contract, so the first probe of every vector
    equals its single-block assignment.

    Why: single-block ANN (``knn_join``/``semantic_dedup``) is blind to
    nearest-neighbor pairs straddling a cluster boundary; a vector sitting
    near the edge meets its across-the-border neighbors in its SECOND
    closest cluster. Cost: each vector appears in ``nprobe`` blocks, so
    downstream blocked self-joins grow ≤ nprobe²× (still bounded by block
    sizes, never n²). Zero joins, zero shuffles here — the assignment is a
    pure projection, map-only at 100 TB."""
    base = _with_norm(emb.select(id_col, vec_col), vec_col, "__")
    probes = _nearest_cids_udf(cents, nprobe)(F.col("__v"))
    return base.select(
        F.col(id_col),
        F.col("__v"),
        F.col("__n"),
        F.explode(probes).alias("__blk"),
    )


def knn_join_multiprobe(
    emb: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    nlist: "int | str" = 4,
    n_iter: int = 2,
    target_block_rows: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: "list[list[float]] | None" = None,
) -> DataFrame:
    """:func:`knn_join` over FITTED multi-probe blocks: every vector's
    top-k cosine neighbors among vectors sharing ANY of its ``nprobe``
    nearest k-means clusters. Strictly more complete than single-block
    (probe sets are nested in ``nprobe``, so the candidate pair set only
    grows — property-pinned in tests), catching boundary-straddling
    neighbors single-block blocking misses.

    ``cents``: pass a pre-fitted centroid list (typically
    :func:`load_centroids` of a persisted artifact) to skip the in-
    session Lloyd fit — the fit-once/assign-many production shape;
    nlist/n_iter are ignored when given.

    Scale shape: k-means fit (k×dim driver rows only) → map-only probe
    assignment → blocked self-join bounded by (nprobe × block size) → pair
    dedup on the scored rows (a pair sharing both probed clusters scores
    identically, so DISTINCT removes the duplicate) → per-vector rank
    window. The per-pair fold dot product is the dominant cost, and
    cosine is symmetric, so each UNORDERED pair is scored once
    (``id_a < id_b``) and the two directed graph rows come from an
    explode of the narrow scored row — halving the fold work relative to
    scoring both directions (measured ~25% faster end-to-end at sf0.1)
    with bit-identical values."""
    if cents is None:
        nlist = _resolve_nlist(nlist, emb, target_block_rows)
        cents = kmeans_fit(
            emb, k=nlist, n_iter=n_iter, id_col=id_col, vec_col=vec_col
        )
    blocked = probe_assignments(
        emb, cents, nprobe, id_col, vec_col
    ).localCheckpoint(eager=False)
    half = (
        _block_self_join(blocked, "__blk", id_col, F.col("__ida") < F.col("__idb"))
        .select("__ida", "__idb", _cos_r().alias("cos_r"))
        .distinct()
    )
    return _knn_rank(half, k, id_col, symmetric=True)


def semantic_dedup_fitted(
    emb: DataFrame,
    threshold: float = 0.9,
    nprobe: int = 2,
    nlist: "int | str" = 4,
    n_iter: int = 2,
    target_block_rows: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`semantic_dedup` over FITTED multi-probe blocks: a vector is
    dropped iff some lower-id vector shares ANY of its ``nprobe`` nearest
    clusters with cosine ≥ ``threshold``. The real-corpus form (no label
    column exists at 100 TB) with the boundary-blindness of single-block
    blocking reduced: near-duplicates split across a cluster edge still
    meet through their second probe. Returns surviving ids."""
    nlist = _resolve_nlist(nlist, emb, target_block_rows)
    cents = kmeans_fit(emb, k=nlist, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    blocked = probe_assignments(
        emb, cents, nprobe, id_col, vec_col
    ).localCheckpoint(eager=False)
    dropped = _dominated_ids(blocked, "__blk", id_col, threshold)
    return emb.select(id_col).join(dropped, id_col, "left_anti")


def assignment_state(
    emb: DataFrame,
    cents: list[list[float]],
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(blk, vec_id) probe-assignment rows of a corpus under PERSISTED
    centroids — the vector-side analog of the text pipeline's
    ``band_state``: the accumulated assignment table the
    incremental semantic ingest probes, BUCKETED by blk in production
    (``write_bucketed_state(..., key='blk')``; plan-pinned in
    tests/test_bucketing.py) so the (huge) state side of the collision
    join never reshuffles. Map-only projection — the assignment kernel
    closes over the loaded centroid artifact, no joins."""
    return probe_assignments(emb, cents, nprobe, id_col, vec_col).select(
        F.col("__blk").alias("blk"), F.col(id_col)
    )


def ingest_novel_semantic(
    new_vecs: DataFrame,
    state_assign: DataFrame,
    state_vecs: DataFrame,
    cents: list[list[float]],
    threshold: float = 0.9,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mis_max_iter: int = 25,
) -> DataFrame:
    """Incremental SEMANTIC ingest — the near-dup ingest family
    (extensions/dedup.py:ingest_novel_neardup) extended to embedding
    space: of an arriving batch of vectors, admit those that are not
    semantic duplicates (cosine ≥ ``threshold``, the SemDeDup rule) of
    (a) the persisted corpus or (b) an already-admitted batch member.
    Returns the admitted (vec_id) rows; the caller appends their
    :func:`assignment_state` rows to ``state_assign`` and the vectors
    themselves to ``state_vecs``. Exact re-uploads are cos 1.0, so no
    separate digest phase is needed.

    State contract: ``cents`` is the PERSISTED centroid artifact
    (:func:`load_centroids` — fitted once, never refit per batch, or
    probe keys would drift between waves exactly like mismatched MinHash
    geometry); ``state_assign`` = accumulated (blk, vec_id) table under
    those centroids, bucketed by blk in production; ``state_vecs`` = the
    vector store, read ONLY for the docs whose probe blocks collide with
    the batch, via a semi-join — history is never rescanned, and
    duplicate state rows (a crash-replayed streaming append) are deduped
    after that semi-join, bounded by collision count. Ids must be unique
    across state and batch, arrival order = id order.

    Pipeline: (1) batch probe assignments (map-only kernel projection);
    (2) block collisions vs the assignment STATE → candidate (batch,
    history) pairs, cosine-verified against only the colliding history
    vectors; (3) survivors' within-batch block pairs verified the same
    way feed the shared sequential-arrival admission tail
    (``ingest_kernel.admit_sequential`` → ``greedy_admit`` — see there
    for why per-pair/per-cluster keep-lowest break redelivery
    idempotence and batch-split equivalence; both properties pinned in
    tests/test_properties.py for this operator too). This family has no
    digest phase (an exact re-upload is cosine 1.0) and no hot-bucket
    cap (block population is bounded by the fitted nlist geometry), so
    only the tail is kernel code.

    Scale shape: phase 2's collision join hits a state table bucketed by
    blk (plan pin in tests/test_bucketing.py), so the accumulated
    assignment state never reshuffles and verification touches
    |candidates| history vectors, not |history|; phase 3 is bounded by
    nprobe × block size like every fitted-block self-join. The Arrow
    pair-dot kernel scores each pair once; all cosines are 6-dp rounded
    before thresholding, so the DuckDB oracle replays every decision."""
    from mongo_polars_reconciliation_spark.extensions.ingest_kernel import (
        admit_sequential,
    )

    ba = probe_assignments(
        new_vecs, cents, nprobe, id_col, vec_col
    ).localCheckpoint(eager=False)

    # phase 2: history collisions → cosine-verify against the few
    # colliding history vectors only
    cand_hist = (
        ba.select(F.col("__blk").alias("blk"), F.col(id_col).alias("__ida"))
        .join(
            state_assign.select("blk", F.col(id_col).alias("__idb")), "blk"
        )
        .select("__ida", "__idb")
        .distinct()
        .localCheckpoint(eager=False)
    )
    hist_vecs = _with_norm(
        state_vecs.select(id_col, vec_col)
        .join(cand_hist.select(F.col("__idb").alias(id_col)).distinct(), id_col)
        .distinct(),
        vec_col,
        "__",
    )
    # one row per batch vector: recomputed map-only from the batch (same
    # projection probe_assignments starts from, so identical doubles) —
    # cheaper than DISTINCTing the nprobe-exploded assignment rows, which
    # would shuffle the vector arrays themselves
    bv = _with_norm(new_vecs.select(id_col, vec_col), vec_col, "__")
    dropped_hist = (
        cand_hist.join(_pair_side(bv, "a", id_col), "__ida")
        .join(_pair_side(hist_vecs, "b", id_col), "__idb")
        .select(F.col("__ida").alias(id_col), _cos_r().alias("__cos"))
        .where(F.col("__cos") >= threshold)
        .select(id_col)
        .distinct()
    )
    kept = (
        new_vecs.select(id_col)
        .join(dropped_hist, id_col, "left_anti")
        .localCheckpoint(eager=False)
    )

    # phase 3: within-batch block pairs among the history-clean vectors
    # only (a history-dropped vector is never admitted, so it cannot
    # block anyone — sequential semantics), then greedy admission
    ba2 = ba.join(kept, id_col)
    edges = (
        _block_self_join(ba2, "__blk", id_col, F.col("__ida") < F.col("__idb"))
        .drop("__blk")
        .distinct()
        .select("__ida", "__idb", _cos_r().alias("__cos"))
        .where(F.col("__cos") >= threshold)
        .select(F.col("__ida").alias("lo"), F.col("__idb").alias("hi"))
    )
    return admit_sequential(kept, edges, id_col, mis_max_iter)


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """SemDeDup-style semantic pruning: a vector is DROPPED iff some
    lower-id vector in its block has cosine ≥ ``threshold`` — deterministic
    keep-lowest, the same greedy rule the text-side near-dup drop uses, so
    exact semantic duplicates keep exactly one representative per block.
    Returns the survivors.

    The drop set is the shared ``_dominated_ids`` (blocked self-join,
    6-dp score, threshold, one row per dropped id), removed with one
    left_anti — no windows, cost bounded by block sizes."""
    base = _with_norm(emb.select(block_col, id_col, vec_col), vec_col, "__")
    dropped = _dominated_ids(base, block_col, id_col, threshold)
    return emb.select(id_col, block_col).join(dropped, id_col, "left_anti")


def _bucket_pairs(
    a: DataFrame, b: DataFrame, n_buckets: int, id_col: str, keep: Column
) -> DataFrame:
    """Every (``a`` row, ``b`` row) pair of two ``_with_norm`` frames where
    ``keep`` holds, as a block-pair equi-join (1-bucket-theta): each row
    hashes its id to one of ``n_buckets`` buckets, an ``a`` row is
    replicated to the keys (its bucket, any) and a ``b`` row to (any, its
    bucket), so each pair meets at exactly one (__ba, __bb) key. The plan
    has no CartesianProduct/BNLJ node, and the pairs spread over
    n_buckets² keys.

    Both sides take an explicit-count repartition on the join keys: the
    replicated sides are only n·n_buckets slim rows, so AQE's size-based
    coalescing would fold the join to ONE post-shuffle partition and run
    all n² pair dots on a single core (measured: 11–17 s for 250k pairs at
    sf0.1, vs 2.4 s spread). A numbered repartition is user-specified —
    AQE keeps it — and it matches the join keys, so the join reuses the
    exchange."""
    bk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")
    every = F.explode(F.array(*[F.lit(i).cast("int") for i in range(n_buckets)]))
    target = a.sparkSession.sparkContext.defaultParallelism
    l = _pair_side(a, "a", id_col, bk.alias("__ba"), every.alias("__bb"))
    r = _pair_side(b, "b", id_col, every.alias("__ba"), bk.alias("__bb"))
    return (
        l.repartition(target, "__ba", "__bb")
        .join(r.repartition(target, "__ba", "__bb"), ["__ba", "__bb"])
        .where(keep)
    )


def knn_join_exact(
    emb: DataFrame,
    k: int = 10,
    n_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT k-NN graph: every vector's true top-k cosine neighbors over
    ALL other vectors — the ground truth an ANN index is measured against.
    O(n²) pair work by definition; what a Spark implementation controls is
    the SHAPE of that work: the all-pairs join is the block-pair equi-join
    of ``_bucket_pairs`` (no CartesianProduct/BNLJ node, the n² pairs
    spread evenly over n_buckets² keys), and each unordered vector pair is
    scored ONCE (``id_a < id_b``) and exploded into both directed rows by
    ``_knn_rank``. The score and the (cos DESC, neighbor ASC) tie-break
    are the shared pair-scoring path's, so this graph and the ANN graphs
    are set-comparable bit-for-bit.

    At 100 TB this is not a production path — it is the recall harness
    (``ann_recall_at_k``) run on a sampled slice to measure index quality;
    the docstring of auto_nlist covers what production runs instead."""
    base = _with_norm(emb.select(id_col, vec_col), vec_col, "__")
    half = _bucket_pairs(
        base, base, n_buckets, id_col, F.col("__ida") < F.col("__idb")
    ).select("__ida", "__idb", _cos_r().alias("cos_r"))
    return _knn_rank(half, k, id_col, symmetric=True)


def knn_join_exact_probes(
    emb: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE-SIDED exact k-NN: the true top-k cosine neighbors over the full
    corpus, computed only FOR the probe ids — O(|probes|·n) pair work
    instead of :func:`knn_join_exact`'s O(n²), which is what makes exact
    ground truth affordable at corpus scale when the probe set is a
    sample. The probe rows are the ``a`` side of ``_bucket_pairs`` and
    the corpus the ``b`` side, so the |probes|·n pairs spread over
    n_buckets² keys with no cartesian node; score and tail are the shared
    ones, so a probe's rows here are BIT-IDENTICAL to its rows in the
    full graph (property-pinned): the directed pair dot runs the same
    IEEE fold on the same operands.

    Pairs are directed probe→corpus, so each is scored in that one
    direction (symmetric halving only pays when both directions are
    wanted). Self-pairs are excluded like the full graph's."""
    base = _with_norm(emb.select(id_col, vec_col), vec_col, "__")
    probe_rows = base.join(probes.select(id_col).distinct(), id_col)
    scored = _bucket_pairs(
        probe_rows, base, n_buckets, id_col, F.col("__ida") != F.col("__idb")
    ).select("__ida", "__idb", _cos_r().alias("cos_r"))
    return _knn_rank(scored, k, id_col)


def ann_recall_at_k_sampled(
    emb: DataFrame,
    strata_col: str = "label",
    k_sample: int = 5,
    k: int = 10,
    nprobe: int = 2,
    nlist: "int | str" = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The recall probe AT CORPUS SCALE: :func:`ann_recall_at_k`'s
    exact-truth side is O(n²) — fine as a harness, unrunnable on a
    billion vectors. This composition makes the docstring's "run on a
    representative sample" real: ``sample_fixed_per_stratum`` carves a
    deterministic k-per-stratum probe set (KMV-mergeable, so the probe
    set is stable as the corpus grows), the exact graph is built only
    FOR the probes against the full corpus
    (:func:`knn_join_exact_probes`, O(sample·n)), and the ANN side is
    the unchanged production multiprobe graph restricted to probe rows.
    Per-probe rows (id, stratum, n_true, n_hit, recall_r) bit-match the
    full probe's rows for the same ids (property-pinned) and aggregate
    per stratum as AVG(recall_r) — the per-language/per-source index
    quality readout."""
    from mongo_polars_reconciliation_spark.extensions.text import (
        sample_fixed_per_stratum,
    )

    probes = sample_fixed_per_stratum(
        emb, strata_col, k_sample, id_col=id_col
    ).select(strata_col, id_col)
    truth = knn_join_exact_probes(
        emb, probes, k=k, id_col=id_col, vec_col=vec_col
    )
    ann = knn_join_multiprobe(
        emb,
        k=k,
        nprobe=nprobe,
        nlist=nlist,
        n_iter=n_iter,
        id_col=id_col,
        vec_col=vec_col,
    ).join(probes.select(id_col), id_col)
    return (
        _recall_rows(truth, ann, id_col)
        .join(probes, id_col)
        .select(id_col, strata_col, "n_true", "n_hit", "recall_r")
    )


def _recall_rows(truth: DataFrame, ann: DataFrame, id_col: str) -> DataFrame:
    """(``id_col``, n_true, n_hit, recall_r) of two k-NN graphs: per vector,
    its ``truth`` neighbors, how many of them ``ann`` also lists, and the
    floor4 ratio."""
    from mongo_polars_reconciliation_spark.extensions.text import floor4

    hits = ann.select(F.col(id_col), "neighbor_id", F.lit(1).alias("__hit"))
    return (
        truth.select(F.col(id_col), "neighbor_id")
        .join(hits, [id_col, "neighbor_id"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("__hit").alias("n_hit"),
        )
        .select(
            F.col(id_col),
            "n_true",
            "n_hit",
            floor4(F.col("n_hit") / F.col("n_true")).alias("recall_r"),
        )
    )


def ann_recall_at_k(
    emb: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    nlist: "int | str" = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the fitted multi-probe ANN graph against the exact
    brute-force truth — the quality gate that turns "the ANN path is fast"
    into "the ANN path is measurably good" (the first question a user
    sizing nprobe/nlist asks). Per vector: n_true exact neighbors (= k),
    n_hit of them found by :func:`knn_join_multiprobe`, and the floor4
    recall ratio. Aggregate recall is AVG(recall_r); emitting per-vector
    rows keeps the distribution visible (boundary-straddling vectors are
    exactly the ones that drop below 1.0) and lets the oracle replay every
    row bit-for-bit. Both graphs use the same 6-dp-rounded cosine and
    (cos DESC, neighbor ASC) tie-break, so membership comparison is exact.

    Scale: truth is O(n²) — run on a representative sample at corpus
    scale; the ANN side is the production path being measured."""
    truth = knn_join_exact(emb, k=k, id_col=id_col, vec_col=vec_col)
    ann = knn_join_multiprobe(
        emb,
        k=k,
        nprobe=nprobe,
        nlist=nlist,
        n_iter=n_iter,
        id_col=id_col,
        vec_col=vec_col,
    )
    return _recall_rows(truth, ann, id_col)
