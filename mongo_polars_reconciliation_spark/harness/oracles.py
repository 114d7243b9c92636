"""DuckDB oracle SQL mirroring harness/fixtures.py exactly.

Every CTE here is the 1:1 SQL translation of a fixture builder or engine
operator; the driver runs these against the same parquet tables and
hash-compares values with the Spark results. Column aliases must match the
Spark-side selects verbatim (driver sorts columns by name before hashing).
"""

from __future__ import annotations

# --- shared fixture CTEs (mirror of fixtures.load_base/build_internal/build_external)

BASE_CTES = """
base AS (
  SELECT o_orderkey AS k,
         o_totalprice AS amt,
         STRFTIME(o_orderdate, '%Y-%m-%d') AS dt,
         o_custkey AS cust
  FROM orders
),
a_tbl AS (
  SELECT CAST(k AS VARCHAR) AS _id, k, CAST(k AS VARCHAR) AS transaction_code,
         amt AS amount, dt AS trx_date, 'SALE' AS transaction_type,
         CAST(k AS VARCHAR) AS ticket_code, CAST(NULL AS VARCHAR) AS sale_ticket_code
  FROM base WHERE k % 10 <> 9
  UNION ALL
  SELECT CAST(v.k AS VARCHAR), v.k, CAST(v.k AS VARCHAR),
         s.amt, v.dt, 'VOID', CAST(v.k AS VARCHAR), CAST(s.k AS VARCHAR)
  FROM base v JOIN base s ON s.k = v.k - 1
  WHERE v.k % 10 = 9 AND v.k % 100 <> 49
  UNION ALL
  SELECT CAST(k AS VARCHAR), k, CAST(k AS VARCHAR),
         amt, dt, 'VOID', CAST(k AS VARCHAR), 'X' || CAST(k AS VARCHAR)
  FROM base WHERE k % 100 = 49
),
b_pre AS (
  SELECT k, CAST(k AS VARCHAR) AS codigo,
         amt + CASE WHEN k % 17 = 2 THEN 0.4 WHEN k % 17 = 9 THEN 7.25 ELSE 0.0 END AS importe,
         dt AS fecha, 1 AS cpy
  FROM base WHERE k % 19 <> 3
  UNION ALL
  SELECT k, CAST(k AS VARCHAR),
         amt + CASE WHEN k % 17 = 2 THEN 0.4 WHEN k % 17 = 9 THEN 7.25 ELSE 0.0 END,
         dt, 2
  FROM base WHERE k % 23 = 5 AND k % 19 <> 3
  UNION ALL
  SELECT k, CAST(k AS VARCHAR),
         amt + CASE WHEN k % 17 = 2 THEN 0.4 WHEN k % 17 = 9 THEN 7.25 ELSE 0.0 END,
         dt, 3
  FROM base WHERE k % 69 = 5 AND k % 19 <> 3
  UNION ALL
  SELECT k, 'B' || CAST(k AS VARCHAR), amt, dt, 1
  FROM base WHERE k % 29 = 11
),
b_tbl AS (
  SELECT codigo, importe, fecha,
         CAST(ROW_NUMBER() OVER (ORDER BY k, codigo, cpy) AS BIGINT) AS row_num
  FROM b_pre
)
"""

# exact-match join + winner/loser ranking (operators/match.py mirror)
MATCH_CTES = """
j1 AS (
  SELECT a._id, a.transaction_code, a.amount, a.trx_date,
         b.codigo, b.importe, b.fecha, b.row_num,
         ROW_NUMBER() OVER (PARTITION BY a._id ORDER BY b.row_num) AS rn
  FROM a_tbl a JOIN b_tbl b
    ON a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha
)
"""

# zero-effect pair detection (operators/zero_effect.py mirror)
ZE_CTES = """
ze AS (
  SELECT s._id AS sale_id, v._id AS void_id, s.amount AS amount
  FROM (SELECT * FROM a_tbl WHERE transaction_type = 'SALE') s
  JOIN (SELECT * FROM a_tbl WHERE transaction_type = 'VOID') v
    ON s.ticket_code = v.sale_ticket_code AND s.amount = v.amount
)
"""

DEC_SUM = "COALESCE(CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE), 0.0)"


def q(*cte_blocks: str, select: str) -> str:
    return "WITH " + ",".join(b.strip().rstrip(",") for b in cte_blocks) + "\n" + select


# SQL mirror of similarity.kmeans_fit: unrolled deterministic Lloyd over a
# CTE named `ev(vec_id, v DOUBLE[])`. Init = vectors of the k smallest ids;
# n_iter iterations; DECIMAL-routed per-dimension means; empty clusters keep
# the previous centroid (COALESCE). Final centroids in `cents_final(cid, c)`,
# final assignment of every vector in `assign_final(vec_id, v, cid)`.
# Left-fold distance / list_reduce gives bit-identical doubles to Spark's
# aggregate() fold.
_SQDIST = (
    "list_reduce(list_transform(generate_series(1, len(e.v)),"
    " i -> (e.v[i]-c.c[i])*(e.v[i]-c.c[i])), (x,y) -> x+y)"
)


def _kmeans_assign_topn(
    src_cents: str, name: str, n: int, src_vecs: str = "ev"
) -> str:
    """Each vector's ``n`` nearest centroids — (sqdist, cid) ascending, the
    same argmin-with-cid-tie-break as similarity.cluster_assign /
    probe_assignments; n=1 is the plain assignment. ``src_vecs`` (r10)
    assigns a frame OTHER than the fit input — the persisted-centroid
    ingest oracle assigns both the history and the arriving batch under
    the one fitted centroid set."""
    return f"""
{name} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_SQDIST}, c.cid) AS rn
    FROM {src_vecs} e CROSS JOIN {src_cents} c) t
  WHERE rn <= {n}
)"""


def _kmeans_assign(src_cents: str, name: str) -> str:
    return _kmeans_assign_topn(src_cents, name, 1)


def _kmeans_means(src_assign: str, prev: str, mname: str, fname: str, lname: str) -> str:
    return f"""
{mname} AS (
  SELECT cid, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS val FROM {src_assign}
),
{mname}_avg AS (
  SELECT cid, pos,
         CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
  FROM {mname} GROUP BY cid, pos
),
{fname} AS (
  SELECT p.cid, p.pos, COALESCE(m.cval, p.cval) AS cval
  FROM {prev} p LEFT JOIN {mname}_avg m ON m.cid = p.cid AND m.pos = p.pos
),
{lname} AS (SELECT cid, list(cval ORDER BY pos) AS c FROM {fname} GROUP BY cid)"""


# Single source of truth for the fitted-k-means queries: harness/queries.py
# imports these and passes them to kmeans_fit / *_fitted, and the oracle CTE
# chain below is GENERATED from the same values — changing k or n_iter can
# no longer silently diverge the two engines.
KMEANS_ORACLE_K = 4
KMEANS_ORACLE_N_ITER = 2


def kmeans_ctes(
    k: int = KMEANS_ORACLE_K,
    n_iter: int = KMEANS_ORACLE_N_ITER,
    prefix: str = "",
    src_vecs: str = "ev",
) -> str:
    """SQL mirror of similarity.kmeans_fit, unrolled for ``n_iter`` Lloyd
    iterations over ``k`` centroids. Exposes two fixed final aliases so
    downstream SQL is independent of the iteration count:
    ``{prefix}cents_final`` (cid, c) and ``{prefix}assign_final``
    (vec_id, v, cid). ``prefix``/``src_vecs`` (r10) let several
    independent fits coexist in one query — the PQ oracle runs one chain
    per subspace over sliced vectors."""
    p = prefix
    parts = [
        f"""
{p}c0 AS (
  SELECT CAST(rn - 1 AS INT) AS cid,
         generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS cval
  FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
        FROM {src_vecs} ORDER BY vec_id LIMIT {k}) t
),
{p}c0l AS (SELECT cid, list(cval ORDER BY pos) AS c FROM {p}c0 GROUP BY cid),"""
    ]
    prev_flat, prev_list = f"{p}c0", f"{p}c0l"
    for i in range(1, n_iter + 1):
        parts.append(
            _kmeans_assign_topn(prev_list, f"{p}a{i}", 1, src_vecs=src_vecs)
            + ","
        )
        parts.append(
            _kmeans_means(
                f"{p}a{i}", prev_flat, f"{p}m{i}", f"{p}c{i}f", f"{p}c{i}l"
            )
            + ","
        )
        prev_flat, prev_list = f"{p}c{i}f", f"{p}c{i}l"
    parts.append(
        _kmeans_assign_topn(
            prev_list, f"{p}a{n_iter + 1}", 1, src_vecs=src_vecs
        )
        + ","
    )
    parts.append(f"\n{p}cents_final AS (SELECT cid, c FROM {prev_list}),")
    parts.append(
        f"\n{p}assign_final AS (SELECT vec_id, v, cid FROM {p}a{n_iter + 1})"
    )
    return "".join(parts)


KMEANS_CTES = kmeans_ctes()

# The multi-probe queries fit MORE clusters with ONE Lloyd iteration:
# block sizes (and the blocked self-join's pair count) scale with n/nlist,
# and nlist=4 over the sf0.1 corpus produced ~1000-vector blocks → ~4M
# interpreted 64-dim dot products (measured 30 s at sf0.1; 9 s with
# nlist=32). nlist≈sqrt(n)·k-ish with a single refinement iteration is the
# standard IVF coarse-quantizer recipe — the quantizer only needs to BLOCK
# well, not converge. The harness queries and this CTE chain share the
# constants so the two engines cannot diverge.
MULTIPROBE_ORACLE_NLIST = 32
MULTIPROBE_ORACLE_N_ITER = 1
KMEANS_CTES_MULTIPROBE = kmeans_ctes(
    k=MULTIPROBE_ORACLE_NLIST, n_iter=MULTIPROBE_ORACLE_N_ITER
)

# Product-quantization constants, shared by harness/queries.py:sim_topk_pq
# and the oracle chain generated below — the engines cannot diverge on
# geometry. dim=64 over m=4 subspaces of 16 dims, 8 sub-centroids per
# book, single Lloyd refinement (the coarse-quantizer recipe), 50-row
# ADC candidate set re-ranked exactly to k=10.
PQ_ORACLE_M = 4
PQ_ORACLE_KSUB = 8
PQ_ORACLE_N_ITER = 1
PQ_ORACLE_RERANK = 50

# IVF-PQ constants (r10), shared by harness/queries.py:sim_topk_ivfpq and
# the oracle chain below. A small coarse quantizer (4 cells, 1 Lloyd
# round) keeps the 5-fit oracle chain tractable at the gate SFs; the PQ
# geometry is the PQ_ORACLE_* set, fitted on RESIDUALS. nprobe=2 probes
# half the cells — a real recall/read trade, not a degenerate full scan.
IVFPQ_ORACLE_NLIST = 4
IVFPQ_ORACLE_N_ITER = 1
IVFPQ_ORACLE_NPROBE = 2

# IVF-PQ k-NN graph constants (r10): k=5 matches the other knn-join
# queries; rerank=20 exact-scored survivors per query.
IVFPQ_ORACLE_KJOIN = 5
IVFPQ_ORACLE_RERANK_JOIN = 20


MINHASH_PAIR_CTES = """docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id % 10 = 3
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs_aug),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t)-2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks) u
  WHERE shingle IS NOT NULL
),
shid AS (
  SELECT doc_id,
         CASE WHEN length(shingle) = 0 THEN 0 ELSE
           list_reduce(list_transform(generate_series(1, length(shingle)),
                       i -> ord(substr(shingle, i, 1)) % 8191),
                       (h, c) -> (h*31 + c) % 8191) END AS sid
  FROM sh
),
hashes AS (
  SELECT doc_id, j, MIN(((2*j+3)*sid + 5*j+7) % 8191) AS mh
  FROM shid CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS j) js
  GROUP BY doc_id, j
),
bandkeys AS (
  SELECT doc_id, j // 3 AS band,
         STRING_AGG(CAST(mh AS VARCHAR), '_' ORDER BY j) AS bkey
  FROM hashes GROUP BY doc_id, j // 3
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bandkeys l JOIN bandkeys r
    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_int
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
mh_pairs AS (
  SELECT id_a, id_b, jacc_r FROM (
    SELECT i.id_a, i.id_b,
           FLOOR(CAST(i.n_int AS DOUBLE) / (sa.sz + sb.sz - i.n_int) * 10000) / 10000 AS jacc_r
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
  ) v WHERE jacc_r >= 0.6
)"""


# Cascade CTE chain (zero-effect → exact pass → tolerance pass), shared by
# recon_cascade_summary and recon_persist_roundtrip. Appends to BASE_CTES +
# ZE_CTES; exposes mt_all (matched), a_nmt / b_nmt (final residuals).
CASCADE_TAIL_CTES = """
, a1 AS (
  SELECT a.* FROM a_tbl a
  WHERE NOT EXISTS (SELECT 1 FROM ze WHERE ze.sale_id = a._id)
    AND NOT EXISTS (SELECT 1 FROM ze WHERE ze.void_id = a._id)
),
j1 AS (
  SELECT a._id, a.transaction_code, a.amount, a.trx_date,
         b.codigo, b.importe, b.fecha, b.row_num,
         ROW_NUMBER() OVER (PARTITION BY a._id ORDER BY b.row_num) AS rn
  FROM a1 a JOIN b_tbl b
    ON a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha
),
m1 AS (SELECT _id, amount FROM j1 WHERE rn = 1),
losers1 AS (SELECT codigo, importe, fecha, row_num FROM j1 WHERE rn > 1),
a_res1 AS (
  SELECT a.* FROM a1 a WHERE NOT EXISTS (SELECT 1 FROM b_tbl b
    WHERE a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha)
),
b_res1 AS (
  SELECT b.codigo, b.importe, b.fecha, b.row_num FROM b_tbl b
  WHERE NOT EXISTS (SELECT 1 FROM a1 a
    WHERE a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha)
  UNION ALL
  SELECT codigo, importe, fecha, row_num FROM losers1
),
tm AS (
  SELECT * FROM (
    SELECT a._id, a.transaction_code, a.amount, a.trx_date,
           b.codigo, b.importe, b.fecha, b.row_num,
           ABS(b.importe - a.amount) AS diff,
           ROW_NUMBER() OVER (PARTITION BY a.transaction_code, a.trx_date
                              ORDER BY ABS(b.importe - a.amount), b.row_num) AS trn
    FROM a_res1 a JOIN b_res1 b
      ON a.transaction_code = b.codigo AND a.trx_date = b.fecha
    WHERE ABS(b.importe - a.amount) <= 1.0
  ) t WHERE trn = 1
),
a_nmt AS (
  SELECT a.* FROM a_res1 a WHERE NOT EXISTS (SELECT 1 FROM tm
    WHERE tm.transaction_code = a.transaction_code AND tm.trx_date = a.trx_date)
),
b_nmt AS (
  SELECT b.* FROM b_res1 b WHERE NOT EXISTS (SELECT 1 FROM tm
    WHERE tm.codigo = b.codigo AND tm.importe = b.importe AND tm.fecha = b.fecha)
),
mt_all AS (SELECT _id, amount FROM m1 UNION ALL SELECT _id, amount FROM tm)"""


ORACLES: dict[str, str] = {
    "recon_match_exact": q(
        BASE_CTES, MATCH_CTES,
        select="SELECT _id, row_num, amount, trx_date FROM j1 WHERE rn = 1",
    ),
    # r14: the skew-hardened match is bit-identical to the plain match by
    # contract (the hot-key split partitions the key space), so its oracle
    # IS the plain match's SQL — the driver check pins that the physical
    # split does not change a single row.
    "recon_match_skewed": q(
        BASE_CTES, MATCH_CTES,
        select="SELECT _id, row_num, amount, trx_date FROM j1 WHERE rn = 1",
    ),
    "recon_duplicate_losers": q(
        BASE_CTES, MATCH_CTES,
        select="SELECT row_num, codigo, importe FROM j1 WHERE rn > 1",
    ),
    "recon_amount_quantiles": q(
        BASE_CTES,
        select="""
, r AS (
  SELECT transaction_type, amount,
         ROW_NUMBER() OVER (PARTITION BY transaction_type ORDER BY amount) AS rn,
         COUNT(*) OVER (PARTITION BY transaction_type) AS n
  FROM a_tbl
)
SELECT transaction_type,
       MAX(n) AS n,
       MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN amount END) AS q5,
       MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN amount END) AS q9,
       MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN amount END) AS q99
FROM r GROUP BY transaction_type
""",
    ),
    "recon_subset_dedup_keep_last": q(
        BASE_CTES,
        select="""
SELECT codigo, row_num, importe FROM (
  SELECT codigo, row_num, importe,
         ROW_NUMBER() OVER (PARTITION BY codigo ORDER BY row_num DESC) AS rn
  FROM b_tbl
) t WHERE rn = 1
""",
    ),
    "recon_summary_doc": q(
        BASE_CTES, MATCH_CTES,
        select="""
, matched AS (SELECT _id, amount FROM j1 WHERE rn = 1),
unmatched AS (
  SELECT a._id, a.amount FROM a_tbl a
  WHERE NOT EXISTS (SELECT 1 FROM b_tbl b
    WHERE a.transaction_code = b.codigo AND a.amount = b.importe
      AND a.trx_date = b.fecha)
)
SELECT 'exec-0001' AS execution_id,
       'on_demand' AS execution_type,
       '2024-01-01' AS execution_date,
       'processor-a' AS processor_name,
       'MXN' AS conciliation_currency,
       (SELECT COUNT(_id) FROM matched) AS conciliated_transactions_number,
       (SELECT COUNT(_id) FROM unmatched) AS remanent_transactions_number,
       (SELECT COALESCE(CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE), 0.0)
        FROM matched) AS conciliated_amount,
       (SELECT COALESCE(CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE), 0.0)
        FROM unmatched) AS remanent_amount
""",
    ),
    "recon_csv_sink_roundtrip": q(
        BASE_CTES,
        select="""
SELECT a._id, a.transaction_code, a.amount FROM a_tbl a
WHERE NOT EXISTS (SELECT 1 FROM b_tbl b
  WHERE a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha)
""",
    ),
    "recon_residual_internal": q(
        BASE_CTES,
        select="""
SELECT a._id, a.transaction_code, a.amount FROM a_tbl a
WHERE NOT EXISTS (SELECT 1 FROM b_tbl b
  WHERE a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha)
""",
    ),
    "recon_residual_external": q(
        BASE_CTES,
        select="""
SELECT b.row_num, b.codigo, b.importe FROM b_tbl b
WHERE NOT EXISTS (SELECT 1 FROM a_tbl a
  WHERE a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha)
""",
    ),
    "recon_zero_effect_pairs": q(
        BASE_CTES, ZE_CTES,
        select="SELECT sale_id, void_id FROM ze",
    ),
    "recon_zero_effect_clean": q(
        BASE_CTES, ZE_CTES,
        select="""
SELECT a._id FROM a_tbl a
WHERE NOT EXISTS (SELECT 1 FROM ze WHERE ze.sale_id = a._id)
  AND NOT EXISTS (SELECT 1 FROM ze WHERE ze.void_id = a._id)
""",
    ),
    "recon_tolerance_match": q(
        BASE_CTES,
        select="""
SELECT _id, row_num, ROUND(diff, 2) AS diff FROM (
  SELECT a._id, b.row_num, ABS(b.importe - a.amount) AS diff,
         ROW_NUMBER() OVER (PARTITION BY a.transaction_code, a.trx_date
                            ORDER BY ABS(b.importe - a.amount), b.row_num) AS trn
  FROM a_tbl a JOIN b_tbl b
    ON a.transaction_code = b.codigo AND a.trx_date = b.fecha
  WHERE ABS(b.importe - a.amount) <= 1.0
) t WHERE trn = 1
""",
    ),
    "recon_cascade_summary": q(
        BASE_CTES, ZE_CTES,
        select=CASCADE_TAIL_CTES + f"""
SELECT 'a_to_b_mt' AS bucket, COUNT(*) AS n, {DEC_SUM} AS amount_sum FROM mt_all
UNION ALL
SELECT 'a_to_b_nmt', COUNT(*), {DEC_SUM} FROM a_nmt
UNION ALL
SELECT 'b_to_a_nmt', COUNT(*), 0.0 FROM b_nmt
UNION ALL
SELECT 'z_eff_a', COUNT(*), {DEC_SUM} FROM ze
""",
    ),
    # The hot-key cascade is bit-identical to the plain cascade by
    # contract (ExactPass(hot_threshold) only changes the exact pass's
    # physical join strategy — operators/match.py key-space-partition
    # argument), so its oracle IS recon_cascade_summary's SQL: the check
    # pins that the split does not change a single bucket row.
    "recon_cascade_skewed": q(
        BASE_CTES, ZE_CTES,
        select=CASCADE_TAIL_CTES + f"""
SELECT 'a_to_b_mt' AS bucket, COUNT(*) AS n, {DEC_SUM} AS amount_sum FROM mt_all
UNION ALL
SELECT 'a_to_b_nmt', COUNT(*), {DEC_SUM} FROM a_nmt
UNION ALL
SELECT 'b_to_a_nmt', COUNT(*), 0.0 FROM b_nmt
UNION ALL
SELECT 'z_eff_a', COUNT(*), {DEC_SUM} FROM ze
""",
    ),
    # The roundtrip query's values are what the CASCADE produces — the disk
    # roundtrip (stage → time-partitioned move → re-read, and the summary
    # doc re-read) must be value-preserving, which is exactly what this
    # mirror checks. doc_* rows repeat mt_all/a_nmt by construction: the
    # doc is COMPUTED from the re-read buckets, so agreement here proves
    # the doc write→read also preserved them.
    "recon_persist_roundtrip": q(
        BASE_CTES, ZE_CTES,
        select=CASCADE_TAIL_CTES + f"""
SELECT 'a_to_b_mt' AS bucket, COUNT(*) AS n, {DEC_SUM} AS amount_sum FROM mt_all
UNION ALL
SELECT 'a_to_b_nmt', COUNT(*), {DEC_SUM} FROM a_nmt
UNION ALL
SELECT 'b_to_a_nmt', COUNT(*),
       COALESCE(CAST(SUM(CAST(importe AS DECIMAL(18,2))) AS DOUBLE), 0.0) FROM b_nmt
UNION ALL
SELECT 'doc_conciliated', COUNT(*), {DEC_SUM} FROM mt_all
UNION ALL
SELECT 'doc_remanent', COUNT(*), {DEC_SUM} FROM a_nmt
""",
    ),
    "recon_duplicate_losers_strict": q(
        BASE_CTES,
        select="""
SELECT row_num, codigo, importe FROM (
  SELECT b.codigo, b.importe, b.row_num,
         ROW_NUMBER() OVER (PARTITION BY a._id ORDER BY b.row_num) AS rn,
         COUNT(*) OVER (PARTITION BY a._id) AS cnt
  FROM a_tbl a JOIN b_tbl b
    ON a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha
) t WHERE cnt > 1 AND rn = cnt
""",
    ),
    "recon_state_merge_upsert": q(
        BASE_CTES,
        select="""
, target AS (SELECT _id, 'OLD' AS status FROM a_tbl WHERE k % 4 = 0),
source AS (SELECT _id, 'NEW' AS status FROM a_tbl WHERE k % 3 = 0)
SELECT t._id, t.status FROM target t
WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s._id = t._id)
UNION ALL
SELECT _id, status FROM source
""",
    ),
    "recon_match_on_names": q(
        BASE_CTES,
        select="""
SELECT a._id, b.row_num, a.amount,
       'CONCILIATED' AS conciliation_status,
       'transaction_code,amount,trx_date' AS key_code
FROM a_tbl a JOIN b_tbl b
  ON a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha
""",
    ),
    "recon_cascade_three_pass": q(
        BASE_CTES, ZE_CTES,
        select=f"""
, a1 AS (
  SELECT a.* FROM a_tbl a
  WHERE NOT EXISTS (SELECT 1 FROM ze WHERE ze.sale_id = a._id)
    AND NOT EXISTS (SELECT 1 FROM ze WHERE ze.void_id = a._id)
),
j1 AS (
  SELECT a._id, a.transaction_code, a.amount, a.trx_date,
         b.codigo, b.importe, b.fecha, b.row_num,
         ROW_NUMBER() OVER (PARTITION BY a._id ORDER BY b.row_num) AS rn
  FROM a1 a JOIN b_tbl b
    ON a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha
),
m1 AS (SELECT _id, amount FROM j1 WHERE rn = 1),
losers1 AS (SELECT codigo, importe, fecha, row_num FROM j1 WHERE rn > 1),
a_res1 AS (
  SELECT a.* FROM a1 a WHERE NOT EXISTS (SELECT 1 FROM b_tbl b
    WHERE a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha)
),
b_res1 AS (
  SELECT b.codigo, b.importe, b.fecha, b.row_num FROM b_tbl b
  WHERE NOT EXISTS (SELECT 1 FROM a1 a
    WHERE a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha)
  UNION ALL
  SELECT codigo, importe, fecha, row_num FROM losers1
),
tm AS (
  SELECT * FROM (
    SELECT a._id, a.transaction_code, a.amount, a.trx_date,
           b.codigo, b.importe, b.fecha, b.row_num,
           ROW_NUMBER() OVER (PARTITION BY a.transaction_code, a.trx_date
                              ORDER BY ABS(b.importe - a.amount), b.row_num) AS trn
    FROM a_res1 a JOIN b_res1 b
      ON a.transaction_code = b.codigo AND a.trx_date = b.fecha
    WHERE ABS(b.importe - a.amount) <= 1.0
  ) t WHERE trn = 1
),
a_res2 AS (
  SELECT a.* FROM a_res1 a WHERE NOT EXISTS (SELECT 1 FROM tm
    WHERE tm.transaction_code = a.transaction_code AND tm.trx_date = a.trx_date)
),
b_res2 AS (
  SELECT b.* FROM b_res1 b WHERE NOT EXISTS (SELECT 1 FROM tm
    WHERE tm.codigo = b.codigo AND tm.importe = b.importe AND tm.fecha = b.fecha)
),
j3 AS (
  SELECT a._id, a.amount, b.codigo, b.importe, b.fecha, b.row_num,
         ROW_NUMBER() OVER (PARTITION BY a._id ORDER BY b.row_num) AS rn
  FROM a_res2 a JOIN b_res2 b
    ON a.transaction_code = b.codigo AND a.trx_date = b.fecha
),
m3 AS (SELECT _id, amount FROM j3 WHERE rn = 1),
losers3 AS (SELECT codigo, importe, fecha, row_num FROM j3 WHERE rn > 1),
a_res3 AS (
  SELECT a.* FROM a_res2 a WHERE NOT EXISTS (SELECT 1 FROM b_res2 b
    WHERE a.transaction_code = b.codigo AND a.trx_date = b.fecha)
),
b_res3 AS (
  SELECT b.codigo, b.importe, b.fecha, b.row_num FROM b_res2 b
  WHERE NOT EXISTS (SELECT 1 FROM a_res2 a
    WHERE a.transaction_code = b.codigo AND a.trx_date = b.fecha)
  UNION ALL
  SELECT codigo, importe, fecha, row_num FROM losers3
),
mt_all AS (
  SELECT _id, amount FROM m1
  UNION ALL SELECT _id, amount FROM tm
  UNION ALL SELECT _id, amount FROM m3
)
SELECT 'a_to_b_mt' AS bucket, COUNT(*) AS n, {DEC_SUM} AS amount_sum FROM mt_all
UNION ALL
SELECT 'a_to_b_nmt', COUNT(*), {DEC_SUM} FROM a_res3
UNION ALL
SELECT 'b_to_a_nmt', COUNT(*), 0.0 FROM b_res3
UNION ALL
SELECT 'z_eff_a', COUNT(*), {DEC_SUM} FROM ze
""",
    ),
    "recon_source_scan_filtered": """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o_custkey AS VARCHAR) AS o_custkey,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(o_orderstatus AS VARCHAR) AS o_orderstatus
FROM orders
WHERE o_orderpriority = '1-URGENT'
  AND o_orderstatus IN ('F', 'P')
  AND o_totalprice >= 1000.0 AND o_totalprice < 150000.0
""",
    "recon_csv_roundtrip": q(
        BASE_CTES,
        select="SELECT row_num, codigo, importe, fecha FROM b_tbl",
    ),
    "recon_orc_roundtrip": q(
        BASE_CTES,
        select="""
SELECT _id, transaction_code, amount, trx_date
FROM a_tbl WHERE transaction_type = 'SALE'""",
    ),
    "recon_mongo_json_scan": q(
        BASE_CTES,
        select="""
SELECT _id, k, transaction_code, amount, trx_date, transaction_type, ticket_code
FROM a_tbl WHERE transaction_type = 'SALE'""",
    ),
    "recon_state_merge_keep_existing": q(
        BASE_CTES,
        select="""
, target AS (SELECT _id, 'OLD' AS status FROM a_tbl WHERE k % 4 = 0),
source AS (SELECT _id, 'PENDING' AS status FROM a_tbl)
SELECT _id, status FROM target
UNION ALL
SELECT s._id, s.status FROM source s
WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t._id = s._id)
""",
    ),
    "recon_remanent_lookup": q(
        BASE_CTES,
        select="""
, state AS (
  SELECT CAST(k AS VARCHAR) AS _id,
         CASE WHEN k % 5 = 2 THEN 'REMANENT' ELSE 'CONCILIATED' END AS conciliation_status
  FROM base
)
SELECT a._id, a.amount FROM a_tbl a
JOIN state s ON a._id = s._id AND s.conciliation_status = 'REMANENT'
""",
    ),
    "recon_union_remanent_dedup": q(
        BASE_CTES,
        select="""
, w AS (SELECT _id, 'W' AS src, 0 AS rank_src FROM a_tbl WHERE k < 700),
r AS (SELECT _id, 'R' AS src, 1 AS rank_src FROM a_tbl WHERE k % 5 = 2),
u AS (SELECT * FROM w UNION ALL SELECT * FROM r)
SELECT _id, src FROM (
  SELECT _id, src, ROW_NUMBER() OVER (PARTITION BY _id ORDER BY rank_src) AS rn FROM u
) t WHERE rn = 1
""",
    ),
    "events_props_extract": """
SELECT event_type,
       COUNT(CASE WHEN k IS NOT NULL THEN 1 END) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS k_sum,
       MAX(k) AS k_max
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events) t
GROUP BY event_type
""",
    "events_top_users_per_type": """
WITH totals AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2
)
SELECT event_type, rnk, user_id, total_value FROM (
  SELECT event_type, user_id, total_value,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY total_value DESC, user_id) AS BIGINT) AS rnk
  FROM totals
) t WHERE rnk <= 3
""",
    "events_user_kmv": """
WITH hv AS (
  SELECT DISTINCT {POLY_HASH_USER} AS hv
  FROM events
  WHERE {POLY_HASH_USER} IS NOT NULL
),
kth AS (SELECT hv FROM hv ORDER BY hv LIMIT 64),
est AS (SELECT MAX(hv) AS kth_min, COUNT(*) AS k_actual FROM kth),
exact AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events)
SELECT k_actual, kth_min, n_exact,
       CASE WHEN kth_min > 0
            THEN CAST(FLOOR((k_actual - 1) * 2147483647.0 / kth_min) AS BIGINT)
       END AS n_estimate
FROM est CROSS JOIN exact
""",
    "events_kmv_merge": """
WITH hv AS (
  SELECT DISTINCT event_type, {POLY_HASH_USER} AS hv
  FROM events
  WHERE {POLY_HASH_USER} IS NOT NULL
),
sk AS (
  SELECT hv, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM hv
),
mg AS (SELECT DISTINCT hv FROM sk WHERE rn <= 64),
kth AS (SELECT hv FROM mg ORDER BY hv LIMIT 64),
est AS (SELECT MAX(hv) AS kth_min, COUNT(*) AS k_actual FROM kth),
exact AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events)
SELECT k_actual, kth_min, n_exact,
       CASE WHEN kth_min > 0
            THEN CAST(FLOOR((k_actual - 1) * 2147483647.0 / kth_min) AS BIGINT)
       END AS n_estimate
FROM est CROSS JOIN exact
""",
    "events_daily_rollup2": """
WITH hourly AS (
  SELECT CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour_bucket, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
  FROM events GROUP BY 1, 2
)
SELECT CAST(hour_bucket // 24 AS BIGINT) AS day_bucket, event_type,
       CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(CAST(value_sum AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM hourly GROUP BY 1, 2
""",
    "events_asof_last_view": """
WITH p AS (
  SELECT event_id AS purchase_event_id, user_id, epoch_ns(ts) AS tn
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, epoch_ns(ts) AS tn, event_id AS view_event_id
  FROM events WHERE event_type = 'view'
),
ranked AS (
  SELECT p.purchase_event_id, p.user_id, v.view_event_id,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_event_id
                            ORDER BY v.tn DESC, v.view_event_id DESC) AS rn
  FROM p JOIN v ON v.user_id = p.user_id AND v.tn <= p.tn
)
SELECT p.purchase_event_id, p.user_id,
       COALESCE(r.view_event_id, -1) AS view_event_id
FROM p LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
  ON r.purchase_event_id = p.purchase_event_id
""",
    "events_user_running_value": """
SELECT user_id, event_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
            (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
""",
    "events_rollup": """
SELECT COALESCE(day, -1) AS day,
       COALESCE(event_type, 'ALL') AS event_type,
       n
FROM (
  SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day,
         event_type, COUNT(*) AS n
  FROM events
  GROUP BY ROLLUP (1, event_type)
) t
""",
    "events_daily_type_pivot": """
SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
FROM events GROUP BY 1
""",
    "events_retention": """
WITH days AS (
  SELECT DISTINCT user_id, CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day
  FROM events
),
first AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id)
SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
       COUNT(DISTINCT d.user_id) AS n_users
FROM days d JOIN first f USING (user_id)
GROUP BY f.cohort_day, d.day - f.cohort_day
""",
    "events_funnel": """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS t0,
         MIN(CASE WHEN event_type = 'click' THEN epoch_ns(ts) END) AS t1,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS t2
  FROM events GROUP BY user_id
)
SELECT COUNT(CASE WHEN t0 IS NOT NULL THEN 1 END) AS n_view,
       COUNT(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
             THEN 1 END) AS n_view_click,
       COUNT(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
                   AND t2 IS NOT NULL AND t2 >= t1
             THEN 1 END) AS n_view_click_purchase
FROM per_user
""",
    "events_hourly": """
SELECT CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour_bucket,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
""",
    "events_sessionize": """
WITH e AS (
  SELECT event_id, user_id, epoch_ns(ts) AS tn FROM events
),
lagged AS (
  SELECT event_id, user_id, tn,
         LAG(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) AS prev_tn
  FROM e
),
flagged AS (
  SELECT event_id, user_id,tn,
         CASE WHEN prev_tn IS NULL OR tn - prev_tn > 1800000000000 THEN 1 ELSE 0 END AS is_new
  FROM lagged
)
SELECT event_id, user_id,
       CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tn, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
FROM flagged
""",
    # foreachBatch incremental reconciliation converges to the batch matched
    # set: an A row matches iff ANY B candidate exists, whichever micro-batch
    # carried it (which candidate won arbitration may differ — not exposed)
    "stream_incremental_match": q(
        BASE_CTES,
        select="""
SELECT a._id FROM a_tbl a
WHERE EXISTS (SELECT 1 FROM b_tbl b
  WHERE a.transaction_code = b.codigo AND a.amount = b.importe AND a.trx_date = b.fecha)
""",
    ),
    # streaming skins: a drained bounded stream must equal the batch answer
    "stream_dedup": """
SELECT event_id, user_id, event_type, value FROM events
""",
    "stream_events_hourly": """
SELECT CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour_bucket,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
""",
    # >= on the gap: session_window starts a NEW session when the gap equals
    # the threshold (windows must overlap to merge), unlike the batch
    # sessionize's strict > rule
    "stream_sessionize_agg": """
WITH e AS (
  SELECT event_id, user_id, epoch_ns(ts) AS tn FROM events
),
lagged AS (
  SELECT event_id, user_id, tn,
         LAG(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) AS prev_tn
  FROM e
),
flagged AS (
  SELECT event_id, user_id, tn,
         CASE WHEN prev_tn IS NULL OR tn - prev_tn >= 1800000000000 THEN 1 ELSE 0 END AS is_new
  FROM lagged
),
sess AS (
  SELECT user_id, tn,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY tn, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, MIN(tn) // 1000 AS session_start_us, COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
    "stream_user_seq": """
SELECT event_id, user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
            AS BIGINT) AS seq_in_user
FROM events
""",
    "dedup_exact": """
WITH docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id % 10 = 3
)
SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM docs_aug GROUP BY 1
""",
    # streaming face of dedup_exact: drained complete-mode aggregation state
    # must equal the batch groupBy (min/count commute with micro-batching)
    "stream_dedup_corpus": """
WITH docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id % 10 = 3
)
SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM docs_aug GROUP BY 1
""",
    "dedup_minhash_lsh": "WITH " + MINHASH_PAIR_CTES
    + "\nSELECT id_a, id_b, jacc_r FROM mh_pairs",
    "dedup_clusters": "WITH RECURSIVE " + MINHASH_PAIR_CTES + """,
edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs
  UNION
  SELECT id_b, id_a FROM mh_pairs
),
walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM docs_aug
  UNION
  SELECT e.src, w.lbl FROM walk w JOIN edges e ON e.dst = w.node
)
SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node
""",
    # Quality-keeper arbitration: the CC fixpoint above + the fused
    # quality mirror (same arithmetic as text_quality_gate — established
    # bit-stable cross-engine) + an argmax window per cluster. The Spark
    # side computes the argmax as a partial-aggregable struct-max; the
    # (quality DESC, id ASC) window here is the same total order.
    "dedup_clusters_quality": "WITH RECURSIVE " + MINHASH_PAIR_CTES + """,
edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs
  UNION
  SELECT id_b, id_a FROM mh_pairs
),
walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM docs_aug
  UNION
  SELECT e.src, w.lbl FROM walk w JOIN edges e ON e.dst = w.node
),
cl AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node),
q AS (
  SELECT doc_id,
         FLOOR((
           0.4 * LEAST(1.0, len(string_split(text, ' ')) / 100.0)
           + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
                    / len(string_split(text, ' ')))
           + 0.3 * LEAST(1.0,
               ((length(text) - (len(string_split(text, ' ')) - 1))
                / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0)
           ) * 10000) / 10000 AS quality_r
  FROM (SELECT doc_id, COALESCE(text, '') AS text FROM docs_aug) d0
),
ranked AS (
  SELECT cl.cluster_id, cl.doc_id, q.quality_r,
         ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                            ORDER BY q.quality_r DESC, cl.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_members
  FROM cl JOIN q USING (doc_id)
)
SELECT cluster_id, doc_id AS keeper_id, quality_r AS keeper_quality_r,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
""",
    "dedup_simhash": """
WITH docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id % 10 = 3
),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs_aug),
th AS (
  SELECT doc_id,
         CAST(CASE WHEN length(tok) = 0 THEN 0 ELSE
            list_reduce(list_transform(generate_series(1, length(tok)),
                        i -> ord(substr(tok, i, 1)) % 2147483647),
                        (h, c) -> (CAST(h AS BIGINT)*31 + c) % 2147483647) END
         AS BIGINT) AS sid
  FROM toks
),
votes AS (
  SELECT doc_id, k,
         SUM(CASE WHEN ((sid * (1103515245 + k)) % 2147483647)
                       * (2654435761 + k) % 2147483647 % 2 = 1
             THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) ks
  GROUP BY doc_id, k
),
sigs AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN
              CASE WHEN k = 63 THEN -9223372036854775808
                   ELSE (1::BIGINT << k) END
              ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, simhash, b, (simhash >> (16*b)) & 65535 AS bval
  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         l.simhash AS sh_a, r.simhash AS sh_b
  FROM blocks l JOIN blocks r
    ON l.b = r.b AND l.bval = r.bval AND l.doc_id < r.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= 3
""",
    "dedup_ngram_jaccard": """
WITH docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id % 10 = 3
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs_aug),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t)-2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks) u
  WHERE shingle IS NOT NULL
),
dfc AS (SELECT shingle, COUNT(*) AS df_ FROM sh GROUP BY shingle),
capped AS (
  SELECT s.doc_id, s.shingle FROM sh s JOIN dfc USING (shingle) WHERE df_ <= 50
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_int
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, jacc_r FROM (
  SELECT i.id_a, i.id_b,
         FLOOR(CAST(i.n_int AS DOUBLE) / (sa.sz + sb.sz - i.n_int) * 10000) / 10000 AS jacc_r
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
) v WHERE jacc_r >= 0.5
""",
    "dedup_embedding_cosine": """
WITH emb_aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(generate_series(1, len(embedding)),
                        i -> CASE WHEN i <= 8 THEN 0.0 ELSE CAST(embedding[i] AS DOUBLE) END),
         label
  FROM embeddings WHERE vec_id % 10 = 1
)
SELECT id_a, id_b, cos_r FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(
           list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]), (x,y) -> x+y)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*a.v[i]), (x,y) -> x+y))
            * sqrt(list_reduce(list_transform(generate_series(1, len(b.v)), i -> b.v[i]*b.v[i]), (x,y) -> x+y))),
           6) AS cos_r
  FROM emb_aug a JOIN emb_aug b ON a.label = b.label AND a.vec_id < b.vec_id
) p WHERE cos_r >= 0.8
""",
    "sim_topk_bruteforce": """
WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT e.vec_id,
         ROUND(
           list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*q[i]), (x,y) -> x+y)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]), (x,y) -> x+y))
            * sqrt(list_reduce(list_transform(generate_series(1, len(q)), i -> q[i]*q[i]), (x,y) -> x+y))),
           6) AS cos_r
  FROM ev e CROSS JOIN qv
)
SELECT vec_id, rank, cos_r FROM (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank, cos_r
  FROM scored
) r WHERE rank <= 10
""",
    "sim_topk_lsh": """
WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sigs AS (
  SELECT vec_id, v,
    list_reduce(list_transform(generate_series(0, 7), j ->
      CASE WHEN list_reduce(list_transform(generate_series(1, len(v)), i ->
          v[i] * (CAST((1103515245::BIGINT * (j*4096 + i - 1) + 12345) % 65536 AS DOUBLE)/65536 - 0.5)
        ), (x,y) -> x+y) >= 0
      THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END
    ), (x,y) -> x+y) AS sig
  FROM ev
),
qsig AS (
  SELECT list_reduce(list_transform(generate_series(0, 7), j ->
      CASE WHEN list_reduce(list_transform(generate_series(1, len(q)), i ->
          q[i] * (CAST((1103515245::BIGINT * (j*4096 + i - 1) + 12345) % 65536 AS DOUBLE)/65536 - 0.5)
        ), (x,y) -> x+y) >= 0
      THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END
    ), (x,y) -> x+y) AS qs
  FROM qv
),
probed AS (
  SELECT s.vec_id, s.v FROM sigs s CROSS JOIN qsig WHERE bit_count(xor(s.sig, qsig.qs)) <= 1
),
scored AS (
  SELECT p.vec_id,
         ROUND(
           list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*q[i]), (x,y) -> x+y)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]), (x,y) -> x+y))
            * sqrt(list_reduce(list_transform(generate_series(1, len(q)), i -> q[i]*q[i]), (x,y) -> x+y))),
           6) AS cos_r
  FROM probed p CROSS JOIN qv
)
SELECT vec_id, rank, cos_r FROM (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank, cos_r
  FROM scored
) r WHERE rank <= 10
""",
    "sim_topk_ivf": """
WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
ev AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (
  SELECT vec_id, label, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM ev
),
cents AS (
  SELECT label, pos - 1 AS pos,
         CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
  FROM ex GROUP BY label, pos
),
qx AS (SELECT unnest(q) AS qval, generate_subscripts(q, 1) - 1 AS pos FROM qv),
cscore AS (
  SELECT c.label,
         ROUND(CAST(SUM(CAST(c.cval * x.qval AS DECIMAL(28,12))) AS DOUBLE)
               / sqrt(CAST(SUM(CAST(c.cval * c.cval AS DECIMAL(28,12))) AS DOUBLE)), 6) AS c_cos
  FROM cents c JOIN qx x ON x.pos = c.pos GROUP BY c.label
),
probe AS (
  SELECT label FROM (
    SELECT label, ROW_NUMBER() OVER (ORDER BY c_cos DESC, label) AS rn FROM cscore
  ) t WHERE rn <= 2
),
pruned AS (SELECT e.vec_id, e.v FROM ev e JOIN probe USING (label)),
scored AS (
  SELECT p.vec_id,
         ROUND(
           list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*q[i]), (x,y) -> x+y)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]), (x,y) -> x+y))
            * sqrt(list_reduce(list_transform(generate_series(1, len(q)), i -> q[i]*q[i]), (x,y) -> x+y))),
           6) AS cos_r
  FROM pruned p CROSS JOIN qv
)
SELECT vec_id, rank, cos_r FROM (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank, cos_r
  FROM scored
) r WHERE rank <= 10
""",
    "sim_topk_ivf_fitted": """
WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
""" + KMEANS_CTES + """,
cscore AS (
  SELECT c.cid,
         CASE WHEN list_reduce(list_transform(generate_series(1, len(c.c)), i -> c.c[i]*c.c[i]), (x,y) -> x+y) = 0
                OR list_reduce(list_transform(generate_series(1, len(q)), i -> q[i]*q[i]), (x,y) -> x+y) = 0
         THEN CAST('-infinity' AS DOUBLE)
         ELSE
         list_reduce(list_transform(generate_series(1, len(c.c)), i -> c.c[i]*q[i]), (x,y) -> x+y)
         / (sqrt(list_reduce(list_transform(generate_series(1, len(c.c)), i -> c.c[i]*c.c[i]), (x,y) -> x+y))
          * sqrt(list_reduce(list_transform(generate_series(1, len(q)), i -> q[i]*q[i]), (x,y) -> x+y)))
         END AS c_cos
  FROM cents_final c CROSS JOIN qv
),
probe AS (
  SELECT cid FROM (
    SELECT cid, ROW_NUMBER() OVER (ORDER BY c_cos DESC, cid) AS rn FROM cscore
  ) t WHERE rn <= 2
),
pruned AS (SELECT a.vec_id, a.v FROM assign_final a JOIN probe USING (cid)),
scored AS (
  SELECT p.vec_id,
         ROUND(
           list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*q[i]), (x,y) -> x+y)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]), (x,y) -> x+y))
            * sqrt(list_reduce(list_transform(generate_series(1, len(q)), i -> q[i]*q[i]), (x,y) -> x+y))),
           6) AS cos_r
  FROM pruned p CROSS JOIN qv
)
SELECT vec_id, rank, cos_r FROM (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank, cos_r
  FROM scored
) r WHERE rank <= 10
""",
    "dedup_embedding_cosine_fitted": """
WITH emb_aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(generate_series(1, len(embedding)),
                        i -> CASE WHEN i <= 8 THEN 0.0 ELSE CAST(embedding[i] AS DOUBLE) END)
  FROM embeddings WHERE vec_id % 10 = 1
),
ev AS (SELECT vec_id, v FROM emb_aug),
""" + KMEANS_CTES + """
SELECT id_a, id_b, cos_r FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(
           list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]), (x,y) -> x+y)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*a.v[i]), (x,y) -> x+y))
            * sqrt(list_reduce(list_transform(generate_series(1, len(b.v)), i -> b.v[i]*b.v[i]), (x,y) -> x+y))),
           6) AS cos_r
  FROM assign_final a JOIN assign_final b ON a.cid = b.cid AND a.vec_id < b.vec_id
) p WHERE cos_r >= 0.8
""",
    "curation_pipeline": """
WITH docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id % 10 = 3
),
eh AS (SELECT md5(text) AS th, MIN(doc_id) AS keeper FROM docs_aug GROUP BY 1),
kept AS (
  SELECT d.doc_id, d.text FROM docs_aug d
  JOIN eh ON md5(d.text) = eh.th AND d.doc_id = eh.keeper
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM kept),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t)-2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks) u
  WHERE shingle IS NOT NULL
),
shid AS (
  SELECT doc_id,
         CASE WHEN length(shingle) = 0 THEN 0 ELSE
           list_reduce(list_transform(generate_series(1, length(shingle)),
                       i -> ord(substr(shingle, i, 1)) % 8191),
                       (h, c) -> (h*31 + c) % 8191) END AS sid
  FROM sh
),
hashes AS (
  SELECT doc_id, j, MIN(((2*j+3)*sid + 5*j+7) % 8191) AS mh
  FROM shid CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS j) js
  GROUP BY doc_id, j
),
bandkeys AS (
  SELECT doc_id, j // 3 AS band,
         STRING_AGG(CAST(mh AS VARCHAR), '_' ORDER BY j) AS bkey
  FROM hashes GROUP BY doc_id, j // 3
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bandkeys l JOIN bandkeys r
    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_int
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
nd_pairs AS (
  SELECT id_a, id_b FROM (
    SELECT i.id_a, i.id_b,
           FLOOR(CAST(i.n_int AS DOUBLE) / (sa.sz + sb.sz - i.n_int) * 10000) / 10000 AS jacc_r
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
  ) v WHERE jacc_r >= 0.6
),
kept2 AS MATERIALIZED (
  SELECT * FROM kept WHERE doc_id NOT IN (SELECT id_b FROM nd_pairs)
),
qual AS (
  SELECT doc_id,
         FLOOR((
           0.4 * LEAST(1.0, len(string_split(text, ' ')) / 100.0)
           + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
                    / len(string_split(text, ' ')))
           + 0.3 * LEAST(1.0,
               ((length(text) - (len(string_split(text, ' ')) - 1))
                / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0)
           ) * 10000) / 10000 AS quality_r
  FROM kept2
),
swords(lang, tok) AS (VALUES
  ('en','the'),('en','a'),('en','of'),('en','and'),('en','is'),('en','to'),('en','in'),
  ('es','el'),('es','la'),('es','de'),('es','y'),('es','es'),('es','en'),('es','un'),
  ('fr','le'),('fr','la'),('fr','de'),('fr','et'),('fr','est'),('fr','en'),('fr','un'),
  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),('de','in'),('de','ein'),
  ('zh','de'),('zh','shi'),('zh','le'),('zh','zai'),('zh','he'),('zh','you'),('zh','wo')
),
langs AS (SELECT DISTINCT lang FROM swords),
toksl AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM kept2),
tot AS (SELECT doc_id, COUNT(*) AS n_tok FROM toksl GROUP BY 1),
hits AS (
  SELECT t.doc_id, s.lang, COUNT(*) AS n_hit
  FROM toksl t JOIN swords s USING (tok) GROUP BY 1, 2
),
lscored AS (
  SELECT tot.doc_id, l.lang, COALESCE(h.n_hit, 0) / tot.n_tok AS score
  FROM tot CROSS JOIN langs l
  LEFT JOIN hits h ON h.doc_id = tot.doc_id AND h.lang = l.lang
),
lang_pick AS (
  SELECT doc_id, lang AS pred_lang FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
    FROM lscored
  ) t WHERE rn = 1
),
tokc AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
  FROM kept2
)
SELECT p.pred_lang,
       COUNT(*) AS n_docs,
       CAST(SUM(t.ws_tokens) AS BIGINT) AS total_ws_tokens,
       FLOOR(CAST(SUM(CAST(q.quality_r AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*) * 10000) / 10000 AS avg_quality_r
FROM qual q
JOIN lang_pick p USING (doc_id)
JOIN tokc t USING (doc_id)
WHERE q.quality_r >= 0.5
GROUP BY p.pred_lang
""",
    "text_lang_id": """
WITH swords(lang, tok) AS (VALUES
  ('en','the'),('en','a'),('en','of'),('en','and'),('en','is'),('en','to'),('en','in'),
  ('es','el'),('es','la'),('es','de'),('es','y'),('es','es'),('es','en'),('es','un'),
  ('fr','le'),('fr','la'),('fr','de'),('fr','et'),('fr','est'),('fr','en'),('fr','un'),
  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),('de','in'),('de','ein'),
  ('zh','de'),('zh','shi'),('zh','le'),('zh','zai'),('zh','he'),('zh','you'),('zh','wo')
),
langs AS (SELECT DISTINCT lang FROM swords),
toksl AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tot AS (SELECT doc_id, COUNT(*) AS n_tok FROM toksl GROUP BY 1),
hits AS (
  SELECT t.doc_id, s.lang, COUNT(*) AS n_hit
  FROM toksl t JOIN swords s USING (tok) GROUP BY 1, 2
),
scored AS (
  SELECT tot.doc_id, l.lang, COALESCE(h.n_hit, 0) / tot.n_tok AS score
  FROM tot CROSS JOIN langs l
  LEFT JOIN hits h ON h.doc_id = tot.doc_id AND h.lang = l.lang
)
SELECT doc_id, lang AS pred_lang, FLOOR(score * 10000) / 10000 AS score_r FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
  FROM scored
) t WHERE rn = 1
""",
    "text_lang_confusion": """
WITH swords(lang, tok) AS (VALUES
  ('en','the'),('en','a'),('en','of'),('en','and'),('en','is'),('en','to'),('en','in'),
  ('es','el'),('es','la'),('es','de'),('es','y'),('es','es'),('es','en'),('es','un'),
  ('fr','le'),('fr','la'),('fr','de'),('fr','et'),('fr','est'),('fr','en'),('fr','un'),
  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),('de','in'),('de','ein'),
  ('zh','de'),('zh','shi'),('zh','le'),('zh','zai'),('zh','he'),('zh','you'),('zh','wo')
),
langs AS (SELECT DISTINCT lang FROM swords),
toksl AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tot AS (SELECT doc_id, COUNT(*) AS n_tok FROM toksl GROUP BY 1),
hits AS (
  SELECT t.doc_id, s.lang, COUNT(*) AS n_hit
  FROM toksl t JOIN swords s USING (tok) GROUP BY 1, 2
),
scored AS (
  SELECT tot.doc_id, l.lang, COALESCE(h.n_hit, 0) / tot.n_tok AS score
  FROM tot CROSS JOIN langs l
  LEFT JOIN hits h ON h.doc_id = tot.doc_id AND h.lang = l.lang
),
pick AS (
  SELECT doc_id, lang AS pred_lang FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
    FROM scored
  ) t WHERE rn = 1
)
SELECT d.lang AS gold_lang, p.pred_lang, COUNT(*) AS n
FROM documents d JOIN pick p USING (doc_id)
GROUP BY d.lang, p.pred_lang
""",
    "text_quality": """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       FLOOR(CAST(len(list_filter(string_split(text, ' '),
                  t -> t IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
             / len(string_split(text, ' ')) * 10000) / 10000 AS stopword_ratio_r,
       FLOOR((
         0.4 * LEAST(1.0, len(string_split(text, ' ')) / 100.0)
         + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                      t -> t IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
                  / len(string_split(text, ' ')))
         + 0.3 * LEAST(1.0,
             ((length(text) - (len(string_split(text, ' ')) - 1))
              / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0)
         ) * 10000) / 10000 AS quality_r
FROM documents
""",
    "text_token_count": """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
FROM documents
""",
    "text_fingerprint": """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
FROM documents
""",
    "text_ngram_freq": """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t)-1),
                i -> t[i] || ' ' || t[i+1])) AS ngram
  FROM toks
)
SELECT ngram,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences
FROM grams GROUP BY ngram HAVING COUNT(*) >= 5
""",
    "mm_decode_features": """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       lower(hex(encode(substr(text, 1, 8)))) AS prefix_hex,
       'text/plain' AS mime
FROM documents
""",
    "text_split_assign": """
WITH h AS (
  SELECT doc_id, {POLY_HASH_DOC} % 100 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM h
""",
    # en 2.5 epochs (base 2, extra iff hv < 5000), es 1.25 (base 1, < 2500),
    # default 0.5 (base 0, < 5000) — mirrors extensions/text.py:mix_epochs
    "sim_semantic_dedup": """
WITH emb_aug AS (
  SELECT vec_id, label,
         list_transform(generate_series(1, len(embedding)),
                        i -> CAST(embedding[i] AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, label,
         list_transform(generate_series(1, len(embedding)),
                        i -> CASE WHEN i <= 8 THEN 0.0 ELSE CAST(embedding[i] AS DOUBLE) END)
  FROM embeddings WHERE vec_id % 10 = 1
),
dropped AS (
  SELECT DISTINCT a.vec_id FROM emb_aug a
  JOIN emb_aug b ON a.label = b.label AND b.vec_id < a.vec_id
  WHERE ROUND(
          list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]), (x,y) -> x+y)
          / (sqrt(list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*a.v[i]), (x,y) -> x+y))
           * sqrt(list_reduce(list_transform(generate_series(1, len(b.v)), i -> b.v[i]*b.v[i]), (x,y) -> x+y))),
          6) >= 0.9
)
SELECT vec_id, label FROM emb_aug
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
""",
    "sim_knn_join": """
WITH ev AS (
  SELECT vec_id, label,
         list_transform(generate_series(1, len(embedding)),
                        i -> CAST(embedding[i] AS DOUBLE)) AS v
  FROM embeddings
),
scored AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         ROUND(
           list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]), (x,y) -> x+y)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*a.v[i]), (x,y) -> x+y))
            * sqrt(list_reduce(list_transform(generate_series(1, len(b.v)), i -> b.v[i]*b.v[i]), (x,y) -> x+y))),
           6) AS cos_r
  FROM ev a JOIN ev b ON a.label = b.label AND a.vec_id <> b.vec_id
)
SELECT vec_id, CAST(rn AS BIGINT) AS rank, neighbor_id, cos_r FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, neighbor_id) AS rn
  FROM scored
) t WHERE rn <= 3
""",
    "sim_knn_join_multiprobe": """
WITH ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
""" + KMEANS_CTES_MULTIPROBE + "," + _kmeans_assign_topn("cents_final", "assign_probe", 2) + """,
scored AS (
  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id,
         ROUND(
           list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]), (x,y) -> x+y)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*a.v[i]), (x,y) -> x+y))
            * sqrt(list_reduce(list_transform(generate_series(1, len(b.v)), i -> b.v[i]*b.v[i]), (x,y) -> x+y))),
           6) AS cos_r
  FROM assign_probe a JOIN assign_probe b ON a.cid = b.cid AND a.vec_id <> b.vec_id
)
SELECT vec_id, CAST(rn AS BIGINT) AS rank, neighbor_id, cos_r FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, neighbor_id) AS rn
  FROM scored
) t WHERE rn <= 3
""",
    "sim_semantic_dedup_fitted": """
WITH emb_aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(generate_series(1, len(embedding)),
                        i -> CASE WHEN i <= 8 THEN 0.0 ELSE CAST(embedding[i] AS DOUBLE) END)
  FROM embeddings WHERE vec_id % 10 = 1
),
ev AS (SELECT vec_id, v FROM emb_aug),
""" + KMEANS_CTES_MULTIPROBE + "," + _kmeans_assign_topn("cents_final", "assign_probe", 2) + """,
dropped AS (
  SELECT DISTINCT a.vec_id FROM assign_probe a
  JOIN assign_probe b ON a.cid = b.cid AND b.vec_id < a.vec_id
  WHERE ROUND(
          list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]), (x,y) -> x+y)
          / (sqrt(list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*a.v[i]), (x,y) -> x+y))
           * sqrt(list_reduce(list_transform(generate_series(1, len(b.v)), i -> b.v[i]*b.v[i]), (x,y) -> x+y))),
          6) >= 0.9
)
SELECT vec_id FROM emb_aug
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
""",
    "text_bpe_pairs": """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, length(tok)-1),
                i -> substr(tok, i, 2))) AS pair
  FROM toks WHERE length(tok) >= 2
)
SELECT pair, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM pairs GROUP BY pair HAVING COUNT(*) >= 50
""",
    "events_funnel_windowed": """
WITH t0 AS (
  SELECT user_id, MIN(epoch_ns(ts)) AS t0 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
t1 AS (
  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t1
  FROM events e JOIN t0 USING (user_id)
  WHERE e.event_type = 'click'
    AND epoch_ns(e.ts) >= t0.t0 AND epoch_ns(e.ts) <= t0.t0 + 3600000000000
  GROUP BY e.user_id
),
t2 AS (
  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t2
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'purchase'
    AND epoch_ns(e.ts) >= t1.t1 AND epoch_ns(e.ts) <= t1.t1 + 86400000000000
  GROUP BY e.user_id
)
SELECT COUNT(*) AS n_view,
       COUNT(t1.t1) AS n_click_1h,
       COUNT(t2.t2) AS n_purchase_24h
FROM t0 LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
""",
    "events_anomaly_mad": """
WITH v AS (SELECT event_type, value FROM events),
ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
med AS (SELECT event_type, value AS med FROM ranked WHERE rn = (n + 1) // 2),
dev AS (
  SELECT v.event_type, ABS(v.value - m.med) AS d, m.med
  FROM v JOIN med m USING (event_type)
),
dranked AS (
  SELECT event_type, d,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (SELECT event_type, d AS mad FROM dranked WHERE rn = (n + 1) // 2)
SELECT d.event_type, COUNT(*) AS n, MAX(d.med) AS med, MAX(m.mad) AS mad,
       COUNT(CASE WHEN d.d > 3.0 * m.mad THEN 1 END) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""",
    "text_datacard": """
WITH scored AS (
  SELECT source, lang, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         FLOOR((
           0.4 * LEAST(1.0, len(string_split(text, ' ')) / 100.0)
           + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
                    / len(string_split(text, ' ')))
           + 0.3 * LEAST(1.0,
               ((length(text) - (len(string_split(text, ' ')) - 1))
                / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0)
           ) * 10000) / 10000 AS quality_r
  FROM documents
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY source, lang ORDER BY ws_tokens, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source, lang) AS n
  FROM scored
)
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
       FLOOR(CAST(SUM(CAST(quality_r AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*) * 10000) / 10000 AS avg_quality_r,
       MAX(CASE WHEN rn = (1 * n + 1) // 2 THEN ws_tokens END) AS p50_tokens,
       MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN ws_tokens END) AS p90_tokens
FROM ranked GROUP BY source, lang
""",
    # Mergeable datacard audit (r10): the merged side replays the per-split
    # state fold (histogram + DECIMAL quality sums per split, summed, then
    # cumulative-count nearest-rank quantiles); the global side is the
    # text_datacard SQL verbatim. FULL OUTER join so a group present on only
    # one side surfaces as NULLs instead of vanishing.
    "text_datacard_merge": """
WITH scored AS (
  SELECT source, lang, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         FLOOR((
           0.4 * LEAST(1.0, len(string_split(text, ' ')) / 100.0)
           + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
                    / len(string_split(text, ' ')))
           + 0.3 * LEAST(1.0,
               ((length(text) - (len(string_split(text, ' ')) - 1))
                / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0)
           ) * 10000) / 10000 AS quality_r
  FROM documents
),
state0 AS (
  SELECT source, lang, ws_tokens, COUNT(*) AS c,
         SUM(CAST(quality_r AS DECIMAL(18,4))) AS q_sum
  FROM scored WHERE doc_id % 2 = 0 GROUP BY source, lang, ws_tokens
),
state1 AS (
  SELECT source, lang, ws_tokens, COUNT(*) AS c,
         SUM(CAST(quality_r AS DECIMAL(18,4))) AS q_sum
  FROM scored WHERE doc_id % 2 = 1 GROUP BY source, lang, ws_tokens
),
folded AS (
  SELECT source, lang, ws_tokens, SUM(c) AS c, SUM(q_sum) AS q_sum
  FROM (SELECT * FROM state0 UNION ALL SELECT * FROM state1) u
  GROUP BY source, lang, ws_tokens
),
cum AS (
  SELECT source, lang, ws_tokens, c, q_sum,
         SUM(c) OVER (PARTITION BY source, lang
                      ORDER BY ws_tokens
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY source, lang) AS n
  FROM folded
),
merged AS (
  SELECT source, lang,
         CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(SUM(ws_tokens * c) AS BIGINT) AS total_ws_tokens,
         FLOOR(CAST(SUM(q_sum) AS DOUBLE) / SUM(c) * 10000) / 10000
           AS avg_quality_r,
         MIN(CASE WHEN cum >= (1 * n + 1) // 2 THEN ws_tokens END)
           AS p50_tokens,
         MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN ws_tokens END)
           AS p90_tokens
  FROM cum GROUP BY source, lang
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY source, lang ORDER BY ws_tokens, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source, lang) AS n
  FROM scored
),
gcard AS (
  SELECT source, lang,
         COUNT(*) AS n_docs,
         CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
         FLOOR(CAST(SUM(CAST(quality_r AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*) * 10000) / 10000 AS avg_quality_r,
         MAX(CASE WHEN rn = (1 * n + 1) // 2 THEN ws_tokens END) AS p50_tokens,
         MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN ws_tokens END) AS p90_tokens
  FROM ranked GROUP BY source, lang
)
SELECT COALESCE(m.source, g.source) AS source,
       COALESCE(m.lang, g.lang) AS lang,
       m.n_docs AS merged_n_docs,
       m.total_ws_tokens AS merged_total_ws_tokens,
       m.avg_quality_r AS merged_avg_quality_r,
       m.p50_tokens AS merged_p50_tokens,
       m.p90_tokens AS merged_p90_tokens,
       g.n_docs AS global_n_docs,
       g.total_ws_tokens AS global_total_ws_tokens,
       g.avg_quality_r AS global_avg_quality_r,
       g.p50_tokens AS global_p50_tokens,
       g.p90_tokens AS global_p90_tokens
FROM merged m FULL OUTER JOIN gcard g
  ON g.source = m.source AND g.lang = m.lang
""",
    "text_mix_epochs": """
WITH h AS (
  SELECT doc_id, lang, {POLY_HASH_DOC} % 10000 AS hv FROM documents
),
n AS (
  SELECT doc_id, lang,
         CASE WHEN lang = 'en' THEN 2 WHEN lang = 'es' THEN 1 ELSE 0 END
         + CASE WHEN hv < (CASE WHEN lang = 'en' THEN 5000
                                WHEN lang = 'es' THEN 2500
                                ELSE 5000 END)
                THEN 1 ELSE 0 END AS n_copies
  FROM h
)
SELECT doc_id, lang,
       CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS epoch
FROM n WHERE n_copies > 0
""",
    # C4-style corpus-wide line dedup (r10): the footer-injected fixture
    # mirrors build_documents_footers verbatim; first occurrence of each
    # distinct line = lexicographic min over (doc_id, ln), computed in two
    # aggregate phases (min doc, then min ln within it) — equal to the
    # engine's one-shot min(struct). string_agg ORDER BY ln rebuilds the
    # surviving text; md5 on the (ASCII) rebuild mirrors Spark's binary md5.
    "text_line_dedup": """
WITH docs_f AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0 THEN 'shared boilerplate footer'
              WHEN doc_id % 5 = 0
              THEN text || chr(10) || 'shared boilerplate footer'
              WHEN doc_id % 5 = 1
              THEN text || chr(10) || 'shared boilerplate footer'
                   || chr(10) || 'second shared footer'
              WHEN doc_id % 5 = 2
              THEN 'shared boilerplate footer' || chr(10) || text
              ELSE text END AS text
  FROM documents
),
lines AS (
  SELECT doc_id, CAST(u.i - 1 AS INT) AS ln, l[u.i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM docs_f) t,
       unnest(range(1, len(l) + 1)) AS u(i)
),
totals AS (
  SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id
),
f1 AS (SELECT line, MIN(doc_id) AS fdoc FROM lines GROUP BY line),
f2 AS (
  SELECT l.line, l.doc_id AS fdoc, MIN(l.ln) AS fln
  FROM lines l JOIN f1 ON f1.line = l.line AND l.doc_id = f1.fdoc
  GROUP BY l.line, l.doc_id
),
kept AS (
  SELECT l.doc_id, l.ln, l.line
  FROM lines l JOIN f2
    ON f2.line = l.line AND l.doc_id = f2.fdoc AND l.ln = f2.fln
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(line, chr(10) ORDER BY ln)) AS kept_md5
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_lines,
       COALESCE(r.n_kept, 0) AS n_kept,
       r.kept_md5
FROM totals t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
""",
    # Temperature mixing at alpha=1/2 (r10): weights derived from corpus
    # shares in pure integers — q = (n_max*10^8) DIV n, w_q = exact integer
    # sqrt (float sqrt + the same +-1 correction the engine applies), base
    # copies w_q DIV 10^4, fractional copy from the shared mixed hash.
    "text_mix_temperature": """
WITH counts AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
),
weights AS (
  SELECT lang,
         CASE WHEN (s1 + 1) * (s1 + 1) <= q THEN s1 + 1 ELSE s1 END AS w_q
  FROM (
    SELECT lang, q,
           CASE WHEN s0 * s0 > q THEN s0 - 1 ELSE s0 END AS s1
    FROM (
      SELECT lang,
             (MAX(n) OVER () * 100000000) // n AS q,
             CAST(FLOOR(SQRT(CAST((MAX(n) OVER () * 100000000) // n
                  AS DOUBLE))) AS BIGINT) AS s0
      FROM counts) t0
  ) t1
),
base AS (
  SELECT d.doc_id, d.lang, w.w_q,
         w.w_q // 10000
         + CASE WHEN {POLY_HASH_DOC} % 10000 < w.w_q % 10000
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN weights w ON w.lang = d.lang
)
SELECT doc_id, lang, w_q,
       CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS epoch
FROM base WHERE n_copies > 0
""",
    "text_dup_spans": """
WITH docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id % 10 = 3
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs_aug),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t)-7),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                   || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                   || ' ' || t[i+7])) AS shingle
    FROM toks) u
  WHERE shingle IS NOT NULL
),
dfq AS (SELECT shingle, COUNT(*) AS dfr FROM sh GROUP BY 1)
SELECT s.doc_id,
       COUNT(*) AS n_windows,
       COUNT(CASE WHEN d.dfr >= 2 THEN 1 END) AS n_dup_windows,
       FLOOR(COUNT(CASE WHEN d.dfr >= 2 THEN 1 END)
             / CAST(COUNT(*) AS DOUBLE) * 10000) / 10000 AS dup_span_frac_r
FROM sh s JOIN dfq d USING (shingle)
GROUP BY s.doc_id
""",
    "text_dup_spans_trim": """
WITH docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id % 10 = 3
),
toks0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs_aug),
tok AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
  FROM toks0
),
wins AS (
  SELECT doc_id, i,
         array_to_string(list_slice(t, i + 1, i + 8), ' ') AS w
  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 8)) AS i
        FROM toks0 WHERE len(t) >= 8) s
),
dupw AS (
  SELECT w FROM (SELECT DISTINCT doc_id, w FROM wins) d
  GROUP BY w HAVING COUNT(*) >= 2
),
covered AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT wi.doc_id, unnest(generate_series(wi.i, wi.i + 7)) AS pos
    FROM wins wi JOIN dupw USING (w)) c
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM tok t
  WHERE NOT EXISTS (SELECT 1 FROM covered c
                    WHERE c.doc_id = t.doc_id AND c.pos = t.pos)
),
kept_agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS trimmed_md5
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks0)
SELECT tt.doc_id, tt.n_tokens,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       FLOOR(COALESCE(k.n_kept, 0) / CAST(tt.n_tokens AS DOUBLE) * 10000)
         / 10000 AS kept_frac_r,
       COALESCE(k.trimmed_md5, md5('')) AS trimmed_md5
FROM totals tt LEFT JOIN kept_agg k USING (doc_id)
""",
    "sim_contamination": """
WITH emb_aug AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(embedding)),
                        i -> CAST(embedding[i] AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(generate_series(1, len(embedding)),
                        i -> CASE WHEN i <= 8 THEN 0.0 ELSE CAST(embedding[i] AS DOUBLE) END)
  FROM embeddings WHERE vec_id % 10 = 1
),
bench AS (
  SELECT vec_id AS bid,
         list_transform(generate_series(1, len(embedding)),
                        i -> CAST(embedding[i] AS DOUBLE)) AS bv
  FROM embeddings WHERE vec_id % 10 = 1
),
scored AS (
  SELECT e.vec_id,
         list_reduce(list_transform(generate_series(1, len(e.v)), i -> e.v[i]*b.bv[i]), (x,y) -> x+y)
         / (sqrt(list_reduce(list_transform(generate_series(1, len(e.v)), i -> e.v[i]*e.v[i]), (x,y) -> x+y))
          * sqrt(list_reduce(list_transform(generate_series(1, len(b.bv)), i -> b.bv[i]*b.bv[i]), (x,y) -> x+y))) AS c
  FROM emb_aug e LEFT JOIN bench b ON e.vec_id <> b.bid
)
SELECT vec_id, ROUND(MAX(c), 6) AS max_cos_r,
       COALESCE(ROUND(MAX(c), 6) >= 0.9, FALSE) AS contaminated
FROM scored GROUP BY vec_id
""",
    "text_chunk": """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
nc AS (
  SELECT doc_id, t, (len(t) + 31) // 32 AS n_chunks FROM toks
),
ex AS (
  SELECT doc_id, t, unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM nc
),
sl AS (
  SELECT doc_id, chunk_id,
         list_slice(t, chunk_id*32 + 1, chunk_id*32 + 32) AS l
  FROM ex
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(l) AS BIGINT) AS n_tokens,
       array_to_string(l, ' ') AS chunk_text
FROM sl
""",
    "text_tfidf_top_terms": """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
dft AS (
  SELECT term, COUNT(*) AS n_docs_with_term FROM tf GROUP BY 1
),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf, dft.n_docs_with_term,
         tf.tf * 1000000000 // dft.n_docs_with_term AS score_q
  FROM tf JOIN dft USING (term)
),
rk AS (
  SELECT *, row_number() OVER (
             PARTITION BY doc_id ORDER BY score_q DESC, term) AS rnk
  FROM sc
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
       CAST(n_docs_with_term AS BIGINT) AS n_docs_with_term,
       CAST(score_q AS BIGINT) AS score_q, CAST(rnk AS BIGINT) AS rnk
FROM rk WHERE rnk <= 3
""",
    "text_pack_sequences": """
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
p AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
       CAST(start_offset // 512 AS BIGINT) AS batch_id
FROM p
""",
    # Training-shard writer round trip (r10): the pack CTE verbatim, plus
    # the round-robin shard assignment and the text digest — the Spark side
    # returns these FROM THE RE-READ shard files, so equality checks the
    # write->read path. Texts are ASCII, so DuckDB's VARCHAR md5 mirrors
    # Spark's binary md5 byte-for-byte (the mm_payload precedent).
    "text_pack_shards_roundtrip": """
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         text
  FROM documents
),
p AS (
  SELECT doc_id, n_tokens, text,
         CAST(COALESCE(SUM(n_tokens) OVER (
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
       CAST(start_offset // 512 AS BIGINT) AS batch_id,
       CAST((start_offset // 512) % 8 AS INT) AS shard,
       md5(text) AS text_md5
FROM p
""",
    "events_salted_agg": """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events GROUP BY 1
""",
    "events_hist_quantiles": """
WITH vals AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM vals
),
binned AS (
  SELECT CASE WHEN s.hi = s.lo THEN 0
         ELSE LEAST(CAST(FLOOR((t.v - s.lo) / ((s.hi - s.lo) / 1000.0))
                    AS BIGINT), 999) END AS bin,
         COUNT(*) AS c
  FROM vals t, stats s GROUP BY 1
),
cum AS (
  SELECT bin, SUM(c) OVER (ORDER BY bin
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
  FROM binned
),
qs(q_label, num, den) AS (VALUES ('0.5', 1, 2), ('0.9', 9, 10), ('0.99', 99, 100)),
ranks AS (
  SELECT q.q_label, (q.num * s.n + q.den - 1) // q.den AS rank, s.lo, s.hi
  FROM qs q, stats s
)
SELECT r.q_label, CAST(r.rank AS BIGINT) AS rank,
       CAST(MIN(c.bin) AS BIGINT) AS bin,
       r.lo + CAST(MIN(c.bin) AS DOUBLE) * ((r.hi - r.lo) / 1000.0) AS est
FROM ranks r JOIN cum c ON c.cumc >= r.rank
GROUP BY r.q_label, r.rank, r.lo, r.hi
""",
    "text_sample_stratified": """
WITH h AS (
  SELECT doc_id, lang, {POLY_HASH_DOC} % 10000 AS hb
  FROM documents
)
SELECT doc_id, lang FROM h
WHERE hb < CASE WHEN lang = 'en' THEN 5000
               WHEN lang = 'es' THEN 2500
               ELSE 1000 END
""",
    "text_scrub_terms": """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\\bcustomer\\b')) AS BIGINT) AS n_customer,
       CAST(len(regexp_extract_all(text, '\\bstream\\b')) AS BIGINT) AS n_stream,
       md5(regexp_replace(
             regexp_replace(text, '\\bcustomer\\b', '<customer>', 'g'),
             '\\bstream\\b', '<stream>', 'g')) AS redacted_md5
FROM documents
""",
    "text_contamination": """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t)-4),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS shingle
    FROM toks WHERE len(t) >= 5) u
  WHERE shingle IS NOT NULL
),
bench AS (SELECT DISTINCT shingle FROM grams WHERE doc_id % 10 = 7),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
hits AS (
  SELECT g.doc_id, COUNT(*) AS hit_ngrams
  FROM grams g JOIN bench b USING (shingle) GROUP BY g.doc_id
)
SELECT h.doc_id, h.hit_ngrams, t.n_grams,
       FLOOR(CAST(h.hit_ngrams AS DOUBLE) / t.n_grams * 10000) / 10000 AS contam_frac_r
FROM hits h JOIN totals t USING (doc_id)
""",
    "text_repetition": """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
tokr AS (SELECT doc_id, unnest(toks) AS tok FROM base),
top AS (
  SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_tok FROM (
    SELECT doc_id, tok, COUNT(*) AS c FROM tokr GROUP BY doc_id, tok
  ) t GROUP BY doc_id
),
arr AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           1.0 - CAST(len(list_distinct(g.grams)) AS DOUBLE) / len(g.grams)
         ELSE 0.0 END AS dup_3gram_frac,
         CASE WHEN len(toks) >= 2 THEN
           CAST(list_sum(list_transform(generate_series(1, len(toks)-1),
                i -> CASE WHEN toks[i] = toks[i+1] THEN 1 ELSE 0 END)) AS DOUBLE)
           / (len(toks) - 1)
         ELSE 0.0 END AS consec_rep_frac
  FROM base,
       LATERAL (SELECT list_transform(generate_series(1, len(toks)-2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams) g
),
j AS (SELECT t.doc_id, t.top_c, t.n_tok, a.dup_3gram_frac, a.consec_rep_frac
      FROM top t JOIN arr a USING (doc_id))
SELECT doc_id,
       FLOOR(CAST(top_c AS DOUBLE) / n_tok * 10000) / 10000 AS top_tok_share_r,
       FLOOR(dup_3gram_frac * 10000) / 10000 AS dup_3gram_frac_r,
       FLOOR(consec_rep_frac * 10000) / 10000 AS consec_rep_frac_r,
       (CAST(top_c AS DOUBLE) / n_tok > 0.2 OR dup_3gram_frac > 0.3) AS flag_repetitive
FROM j
""",
    "stream_view_attribution": """
SELECT p.event_id AS purchase_event_id,
       v.event_id AS view_event_id,
       epoch_ns(p.ts)//1000 - epoch_ns(v.ts)//1000 AS gap_us
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND epoch_ns(v.ts)//1000 BETWEEN epoch_ns(p.ts)//1000 - 86400000000
                               AND epoch_ns(p.ts)//1000
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
""",
    "mm_frame_sample": """
SELECT doc_id,
       CAST(frame_no AS BIGINT) AS frame_no,
       CAST(frame_no * 256 AS BIGINT) AS byte_offset
FROM (
  SELECT doc_id,
         unnest(generate_series(0, CAST(ceil(octet_length(encode(text)) / 256.0) AS INT) - 1)) AS frame_no
  FROM documents
  WHERE octet_length(encode(text)) > 0
) t
""",
    "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1999-12-31'
GROUP BY l_returnflag, l_linestatus
""",
    "text_heavy_hitters_cms": """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
hv AS (SELECT tok, {POLY_HASH_TOK} AS h1, {POLY_HASH_TOK2} AS h2 FROM tok),
buckets AS (
  SELECT j.j, ((h.h1 + j.j * h.h2) % 2147483647) % 64 AS b
  FROM hv h CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS j) j
),
counters AS (SELECT j, b, COUNT(*) AS cnt FROM buckets GROUP BY j, b),
exact AS (SELECT tok, COUNT(*) AS n_exact FROM tok GROUP BY tok),
topk AS (SELECT tok, n_exact FROM exact ORDER BY n_exact DESC, tok LIMIT 20),
probes AS (
  SELECT t.tok, t.n_exact, j.j,
         ((({POLY_HASH_TTOK}) + j.j * ({POLY_HASH_TTOK2})) % 2147483647) % 64 AS b
  FROM topk t CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS j) j
),
est AS (
  SELECT p.tok, p.n_exact, MIN(c.cnt) AS n_cms
  FROM probes p JOIN counters c ON c.j = p.j AND c.b = p.b
  GROUP BY p.tok, p.n_exact
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_exact DESC, tok) AS BIGINT) AS rank,
       tok, n_exact, n_cms
FROM est
""",
    "events_hist_merge": """
WITH vals AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
),
stats AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM vals),
binned AS (
  SELECT t.g,
         CASE WHEN s.hi = s.lo THEN 0
         ELSE LEAST(CAST(FLOOR((t.v - s.lo) / ((s.hi - s.lo) / 1000.0))
                    AS BIGINT), 999) END AS bin
  FROM vals t, stats s
),
per_group AS (SELECT g, bin, COUNT(*) AS cnt FROM binned GROUP BY g, bin),
merged AS (SELECT bin, SUM(cnt) AS cnt_merged FROM per_group GROUP BY bin),
full_scan AS (SELECT bin, COUNT(*) AS cnt_global FROM binned GROUP BY bin)
SELECT CAST(m.bin AS BIGINT) AS bin,
       CAST(m.cnt_merged AS BIGINT) AS cnt_merged,
       CAST(f.cnt_global AS BIGINT) AS cnt_global
FROM merged m JOIN full_scan f USING (bin)
""",
    # r14: the stream_cms_counters face was RETIRED from the registry
    # (VERDICT r13 #5) — the counter math stays oracle-checked through
    # text_heavy_hitters_cms / text_cms_merge (same hashes), and stream ≡
    # batch is pinned in
    # tests/test_streaming.py::test_stream_cms_equals_batch_counters.
    "text_bloom_decontaminate": """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t)-4),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                   || ' ' || t[i+4])) AS shingle
    FROM toks) u
  WHERE shingle IS NOT NULL
),
hs AS (
  SELECT doc_id, shingle, {POLY_HASH_SH} AS h1, {POLY_HASH_SH2} AS h2 FROM sh
),
bench_pos AS (
  SELECT DISTINCT (h1 + j.j * h2) % 4096 AS p
  FROM hs CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS j) j
  WHERE doc_id % 10 = 7
),
gpos AS (
  SELECT doc_id, h1, h2, j.j, (h1 + j.j * h2) % 4096 AS p
  FROM hs CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS j) j
),
flagged AS (
  SELECT doc_id, h1, h2
  FROM gpos g JOIN bench_pos b USING (p)
  GROUP BY doc_id, h1, h2
  HAVING COUNT(DISTINCT j) = 3
),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh GROUP BY 1),
fc AS (SELECT doc_id, COUNT(*) AS n_flagged FROM flagged GROUP BY 1)
SELECT t.doc_id, t.n_grams, f.n_flagged,
       FLOOR(f.n_flagged / CAST(t.n_grams AS DOUBLE) * 10000) / 10000
         AS flagged_frac_r
FROM totals t JOIN fc f USING (doc_id)
""",
    "text_ngram_novelty": """
WITH docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id % 10 = 3
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs_aug),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t)-2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks) u
  WHERE shingle IS NOT NULL
),
firsts AS (SELECT shingle, MIN(doc_id) AS first_id FROM sh GROUP BY 1)
SELECT s.doc_id,
       COUNT(*) AS n_grams,
       COUNT(CASE WHEN f.first_id = s.doc_id THEN 1 END) AS n_novel,
       FLOOR(COUNT(CASE WHEN f.first_id = s.doc_id THEN 1 END)
             / CAST(COUNT(*) AS DOUBLE) * 10000) / 10000 AS novelty_frac_r
FROM sh s JOIN firsts f USING (shingle)
GROUP BY s.doc_id
""",
    "text_split_leakage_safe": """
WITH docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id % 10 = 3
),
reps AS (SELECT COALESCE(text, '') AS key, MIN(doc_id) AS rep_id
         FROM docs_aug GROUP BY COALESCE(text, '')),
assigned AS (
  SELECT d.doc_id, r.rep_id, ({POLY_HASH_REP}) % 100 AS bucket
  FROM docs_aug d JOIN reps r ON COALESCE(d.text, '') = r.key
)
SELECT doc_id, rep_id, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM assigned
""",
    "dedup_source_overlap": """
WITH docs_x AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000, text, 'mirror' FROM documents WHERE doc_id % 10 = 7
),
ds AS (SELECT DISTINCT COALESCE(text, '') AS key, source FROM docs_x)
SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
FROM ds a JOIN ds b ON a.key = b.key AND a.source < b.source
GROUP BY a.source, b.source
""",
    "text_cms_merge": """
WITH tok AS (
  SELECT source AS g, unnest(string_split(text, ' ')) AS tok FROM documents
),
hv AS (SELECT g, tok, {POLY_HASH_TOK} AS h1, {POLY_HASH_TOK2} AS h2 FROM tok),
buckets AS (
  SELECT g, j.j, ((h.h1 + j.j * h.h2) % 2147483647) % 64 AS b
  FROM hv h CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS j) j
),
per_group AS (SELECT g, j, b, COUNT(*) AS cnt FROM buckets GROUP BY g, j, b),
merged AS (SELECT j, b, SUM(cnt) AS cnt_merged FROM per_group GROUP BY j, b),
full_scan AS (SELECT j, b, COUNT(*) AS cnt_global FROM buckets GROUP BY j, b)
SELECT CAST(m.j AS BIGINT) AS j, CAST(m.b AS BIGINT) AS b,
       CAST(m.cnt_merged AS BIGINT) AS cnt_merged,
       CAST(g2.cnt_global AS BIGINT) AS cnt_global
FROM merged m JOIN full_scan g2 ON g2.j = m.j AND g2.b = m.b
""",
}


# Shared cross-engine polynomial hash (functions/hashing.py) — substituted
# here so the Spark expression and the SQL mirror can never drift apart.
# Sampling coordinates and KMV order statistics use the MIXED variant (one
# multiplicative scramble) because raw poly-hash values of short numeric ids
# occupy narrow bands — see poly_hash_mixed_col.
from mongo_polars_reconciliation_spark.functions.hashing import (  # noqa: E402
    POLY_P31B,
    poly_hash_mixed_sql,
)

ORACLES["events_user_kmv"] = ORACLES["events_user_kmv"].replace(
    "{POLY_HASH_USER}", poly_hash_mixed_sql("user_id")
)
ORACLES["events_kmv_merge"] = ORACLES["events_kmv_merge"].replace(
    "{POLY_HASH_USER}", poly_hash_mixed_sql("user_id")
)
ORACLES["text_split_assign"] = ORACLES["text_split_assign"].replace(
    "{POLY_HASH_DOC}", poly_hash_mixed_sql("doc_id")
)
ORACLES["text_sample_stratified"] = ORACLES["text_sample_stratified"].replace(
    "{POLY_HASH_DOC}", poly_hash_mixed_sql("doc_id")
)
ORACLES["text_mix_epochs"] = ORACLES["text_mix_epochs"].replace(
    "{POLY_HASH_DOC}", poly_hash_mixed_sql("doc_id")
)
ORACLES["text_mix_temperature"] = ORACLES["text_mix_temperature"].replace(
    "{POLY_HASH_DOC}", poly_hash_mixed_sql("d.doc_id")
)

# Temperature mixing at alpha=3/4 (r11): binary-expansion product —
# w = (isqrt(n_max·10^8 // n) · isqrt(isqrt(n_max·10^16 // n))) // 10^4.
# HUGEINT keeps the q4 = n_max·10^16 product exact past BIGINT; the
# float-seed ±1 correction is an exact isqrt for q < ~10^30 (double seed
# error << 1 there), which covers every gate scale — the engine's Newton
# chain extends the same spec to 10^38, so the two agree wherever both
# are defined. Same mixed-hash fractional-copy threshold as alpha=1/2.
ORACLES["text_mix_temperature_alpha"] = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
),
qs AS (
  SELECT lang, n,
         (CAST(MAX(n) OVER () AS HUGEINT) * 100000000) // n AS q2,
         (CAST(MAX(n) OVER () AS HUGEINT) * 10000000000000000) // n AS q4
  FROM counts
),
h1 AS (
  SELECT lang, q4,
         CASE WHEN (s1 + 1) * (s1 + 1) <= q2 THEN s1 + 1 ELSE s1 END AS w_half
  FROM (
    SELECT lang, q2, q4,
           CASE WHEN s0 * s0 > q2 THEN s0 - 1 ELSE s0 END AS s1
    FROM (SELECT lang, q2, q4,
                 CAST(FLOOR(SQRT(CAST(q2 AS DOUBLE))) AS HUGEINT) AS s0
          FROM qs) t0) t1
),
h2 AS (
  SELECT lang, w_half,
         CASE WHEN (s1 + 1) * (s1 + 1) <= q4 THEN s1 + 1 ELSE s1 END AS r4
  FROM (
    SELECT lang, w_half, q4,
           CASE WHEN s0 * s0 > q4 THEN s0 - 1 ELSE s0 END AS s1
    FROM (SELECT lang, w_half, q4,
                 CAST(FLOOR(SQRT(CAST(q4 AS DOUBLE))) AS HUGEINT) AS s0
          FROM h1) t0) t1
),
h3 AS (
  SELECT lang, w_half,
         CASE WHEN (s1 + 1) * (s1 + 1) <= r4 THEN s1 + 1 ELSE s1 END AS w_quarter
  FROM (
    SELECT lang, w_half, r4,
           CASE WHEN s0 * s0 > r4 THEN s0 - 1 ELSE s0 END AS s1
    FROM (SELECT lang, w_half, r4,
                 CAST(FLOOR(SQRT(CAST(r4 AS DOUBLE))) AS HUGEINT) AS s0
          FROM h2) t0) t1
),
weights AS (
  SELECT lang, CAST((w_half * w_quarter) // 10000 AS BIGINT) AS w_q FROM h3
),
base AS (
  SELECT d.doc_id, d.lang, w.w_q,
         w.w_q // 10000
         + CASE WHEN {POLY_HASH_DOC} % 10000 < w.w_q % 10000
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN weights w ON w.lang = d.lang
)
SELECT doc_id, lang, w_q,
       CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS epoch
FROM base WHERE n_copies > 0
""".replace("{POLY_HASH_DOC}", poly_hash_mixed_sql("d.doc_id"))
ORACLES["text_heavy_hitters_cms"] = (
    ORACLES["text_heavy_hitters_cms"]
    .replace("{POLY_HASH_TOK}", poly_hash_mixed_sql("tok"))
    .replace("{POLY_HASH_TOK2}", poly_hash_mixed_sql("tok", POLY_P31B))
    .replace("{POLY_HASH_TTOK}", poly_hash_mixed_sql("t.tok"))
    .replace("{POLY_HASH_TTOK2}", poly_hash_mixed_sql("t.tok", POLY_P31B))
)
ORACLES["text_bloom_decontaminate"] = (
    ORACLES["text_bloom_decontaminate"]
    .replace("{POLY_HASH_SH}", poly_hash_mixed_sql("shingle"))
    .replace("{POLY_HASH_SH2}", poly_hash_mixed_sql("shingle", POLY_P31B))
)
ORACLES["text_split_leakage_safe"] = ORACLES["text_split_leakage_safe"].replace(
    "{POLY_HASH_REP}", poly_hash_mixed_sql("r.rep_id")
)
ORACLES["text_cms_merge"] = (
    ORACLES["text_cms_merge"]
    .replace("{POLY_HASH_TOK}", poly_hash_mixed_sql("tok"))
    .replace("{POLY_HASH_TOK2}", poly_hash_mixed_sql("tok", POLY_P31B))
)

# The star-based CC variant shares the propagation variant's oracle: both
# compute the identical min-reachable-id fixpoint over the same pair graph.
ORACLES["dedup_clusters_star"] = ORACLES["dedup_clusters"]

# Near-dup-safe split = the CC fixpoint above + one hash per cluster id.
ORACLES["text_split_cluster_safe"] = (
    "WITH RECURSIVE "
    + MINHASH_PAIR_CTES
    + """,
edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs
  UNION
  SELECT id_b, id_a FROM mh_pairs
),
walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM docs_aug
  UNION
  SELECT e.src, w.lbl FROM walk w JOIN edges e ON e.dst = w.node
),
cl AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node)
SELECT doc_id, cluster_id, ({PH}) % 100 AS bucket,
       CASE WHEN ({PH}) % 100 < 80 THEN 'train'
            WHEN ({PH}) % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM cl
"""
).replace("{PH}", poly_hash_mixed_sql("cluster_id"))

# curation v2 = curation v1 with the Gopher repetition gate and the 5-gram
# benchmark-decontamination gate inserted between near-dup removal (kept2)
# and the quality/language tail — assembled from the v1 SQL so the shared
# stages cannot drift apart.
_V2_GATES = """rbase AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM kept2),
rtok AS (SELECT doc_id, unnest(toks) AS tok FROM rbase),
rtop AS (
  SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_tok FROM (
    SELECT doc_id, tok, COUNT(*) AS c FROM rtok GROUP BY doc_id, tok
  ) t GROUP BY doc_id
),
rarr AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           1.0 - CAST(len(list_distinct(g.grams)) AS DOUBLE) / len(g.grams)
         ELSE 0.0 END AS dup3
  FROM rbase,
       LATERAL (SELECT list_transform(generate_series(1, len(toks)-2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams) g
),
rflag AS (
  SELECT t.doc_id FROM rtop t JOIN rarr a USING (doc_id)
  WHERE CAST(t.top_c AS DOUBLE) / t.n_tok > 0.2 OR a.dup3 > 0.3
),
kept3 AS (SELECT * FROM kept2 WHERE doc_id NOT IN (SELECT doc_id FROM rflag)),
ctoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM kept3),
cgrams AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t)-4),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS shingle
    FROM ctoks) u
  WHERE shingle IS NOT NULL
),
bgrams AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest(list_transform(generate_series(1, len(t)-4),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS shingle
    FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 10 = 7) b
  ) u WHERE shingle IS NOT NULL
),
ctot AS (SELECT doc_id, COUNT(*) AS n_grams FROM cgrams GROUP BY doc_id),
chit AS (SELECT g.doc_id, COUNT(*) AS hit FROM cgrams g JOIN bgrams USING (shingle) GROUP BY g.doc_id),
cflag AS (
  SELECT h.doc_id FROM chit h JOIN ctot t USING (doc_id)
  WHERE FLOOR(CAST(h.hit AS DOUBLE) / t.n_grams * 10000) / 10000 >= 0.2
),
kept4 AS MATERIALIZED (SELECT * FROM kept3 WHERE doc_id NOT IN (SELECT doc_id FROM cflag)),
"""
# r15: the curation_pipeline / _v2 / _v3 faces were RETIRED from the
# registry (VERDICT r14 #2, registry consolidation) — curation_pipeline_v4
# remains the driver face for the composition ladder. These oracle entries
# REMAIN on purpose: tests/test_curation_parity.py re-runs the full former
# driver check (Spark vs DuckDB, count+schema+values) against them at both
# gate scales every round. oracle_sql() filters by QUERIES membership, so
# the driver never sees them.
_v1_head, _v1_tail = ORACLES["curation_pipeline"].split("qual AS (", 1)
ORACLES["curation_pipeline_v2"] = (
    _v1_head + _V2_GATES + "qual AS (" + _v1_tail.replace("FROM kept2", "FROM kept4")
)

# v3 = v2 + the bigram-LM typicality gate (threshold 32800 of 10^6): the
# model is trained on the surviving corpus (kept4) and low-typicality docs
# are dropped before scoring. Mirrors extensions/text.py:bigram_lm_scores.
_V3_LM_GATE = """lmtok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM kept4
  WHERE len(string_split(text, ' ')) >= 2
),
lmpairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM lmtok, unnest(range(1, len(t))) AS u(i)
),
lmc2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM lmpairs GROUP BY w1, w2),
lmc1 AS (SELECT w1, SUM(c2) AS c1 FROM lmc2 GROUP BY w1),
lmprobs AS (
  SELECT lmc2.w1, lmc2.w2, (lmc2.c2 * 1000000) // lmc1.c1 AS p_q
  FROM lmc2 JOIN lmc1 USING (w1)
),
lmscore AS (
  SELECT p.doc_id, SUM(pr.p_q) // COUNT(*) AS s
  FROM lmpairs p JOIN lmprobs pr ON pr.w1 = p.w1 AND pr.w2 = p.w2
  GROUP BY p.doc_id
),
lmflag AS (SELECT doc_id FROM lmscore WHERE s < 32800),
kept5 AS (SELECT * FROM kept4 WHERE doc_id NOT IN (SELECT doc_id FROM lmflag)),
"""
ORACLES["curation_pipeline_v3"] = (
    _v1_head + _V2_GATES + _V3_LM_GATE + "qual AS ("
    + _v1_tail.replace("FROM kept2", "FROM kept5")
)

# line-dedup TRIM face (r11): identical first-global-occurrence chain to
# text_line_dedup, but rebuilt emits the reassembled surviving TEXT itself
# (NULL for emptied-out docs) instead of its md5 — the cleaned corpus.
ORACLES["text_line_dedup_trim"] = """
WITH docs_f AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0 THEN 'shared boilerplate footer'
              WHEN doc_id % 5 = 0
              THEN text || chr(10) || 'shared boilerplate footer'
              WHEN doc_id % 5 = 1
              THEN text || chr(10) || 'shared boilerplate footer'
                   || chr(10) || 'second shared footer'
              WHEN doc_id % 5 = 2
              THEN 'shared boilerplate footer' || chr(10) || text
              ELSE text END AS text
  FROM documents
),
lines AS (
  SELECT doc_id, CAST(u.i - 1 AS INT) AS ln, l[u.i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM docs_f) t,
       unnest(range(1, len(l) + 1)) AS u(i)
),
totals AS (
  SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id
),
f1 AS (SELECT line, MIN(doc_id) AS fdoc FROM lines GROUP BY line),
f2 AS (
  SELECT l.line, l.doc_id AS fdoc, MIN(l.ln) AS fln
  FROM lines l JOIN f1 ON f1.line = l.line AND l.doc_id = f1.fdoc
  GROUP BY l.line, l.doc_id
),
kept AS (
  SELECT l.doc_id, l.ln, l.line
  FROM lines l JOIN f2
    ON f2.line = l.line AND l.doc_id = f2.fdoc AND l.ln = f2.fln
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY ln) AS text_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_lines,
       COALESCE(r.n_kept, 0) AS n_kept,
       r.text_kept
FROM totals t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
"""

# PII scrub (r11; r12 adds the Luhn card stage + the null-text rule):
# the staged count-then-replace chain — each class's count is taken on
# the PREVIOUS stage's text (emails mask their host parts from the IP
# stage), replacement is global ('g'). The CARD stage replays the
# Spark-side semantics exactly: extract 16-digit candidates, keep only
# those passing the Luhn mod-10 check, count the valid matches, then
# fold-replace each valid candidate \b-anchored in match order
# (list_reduce seeded by list_prepend). NULL text: counts computed on
# COALESCE(text,'') are 0; text_scrubbed stays NULL. The regex subset is
# dialect-portable (no lookaround/backrefs), so Java and RE2 agree.
#
# The card stage is a standalone fragment so tests can drive it on
# adversarial corpora directly (tests/test_properties.py runs it in
# DuckDB against the Python `re` replay — the third side of the
# Spark≡Python≡DuckDB triangle; the fixture-driven parity sweep only
# exercises the three injected card shapes). It consumes a CTE named
# s1 carrying (doc_id, ..., text) and yields sC with n_cards and the
# card-scrubbed text.
PII_CARD_STAGE_SQL = r"""cards AS (
  -- the inner single-element list_transform binds the stripped digit
  -- string ONCE per candidate (lambdas get no common-subexpression
  -- elimination — an inlined strip would re-run per digit term);
  -- string_split(s, '') walks the chars, 0-based even transform index
  -- == 1-based odd Luhn position (1-based range index i -> i-1 parity
  -- flip), mirroring the Spark expression exactly
  SELECT *,
         list_filter(
           regexp_extract_all(text, '\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b'),
           c -> list_transform([regexp_replace(c, '[- ]', '', 'g')], s ->
             (list_sum(list_transform(range(1, len(s) + 1), i ->
               CASE WHEN i % 2 = 1
                    THEN CASE WHEN 2 * CAST(substr(s, i, 1) AS INT) > 9
                              THEN 2 * CAST(substr(s, i, 1) AS INT) - 9
                              ELSE 2 * CAST(substr(s, i, 1) AS INT) END
                    ELSE CAST(substr(s, i, 1) AS INT) END)) % 10 = 0)
           )[1]
         ) AS valid
  FROM s1
),
sC AS (
  SELECT * EXCLUDE (valid, text),
         CAST(len(valid) AS BIGINT) AS n_cards,
         list_reduce(
           list_prepend(text, valid),
           (acc, c) -> regexp_replace(acc, '\b' || c || '\b', '<CARD>', 'g')
         ) AS text
  FROM cards
)"""

ORACLES["text_pii_scrub"] = r"""
WITH docs_p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0
              THEN text || ' contact john.doe@example.com today'
              WHEN doc_id % 11 = 1 THEN text || ' call 555-123-4567 now'
              WHEN doc_id % 11 = 2 THEN text || ' host 192.168.1.77 responded'
              WHEN doc_id % 11 = 3
              THEN text || ' from ops@node-3.example.net at 10.0.0.5 ok'
              WHEN doc_id % 11 = 4
              THEN text || ' cc a.b@x.org and c.d@y.org thanks'
              WHEN doc_id % 11 = 5 THEN text || ' pay 4532015112830366 now'
              WHEN doc_id % 11 = 6
              THEN text || ' card 4532-0151-1283-0366 on file'
              WHEN doc_id % 11 = 7 THEN text || ' ref 1234-5678-9012-3456 code'
              WHEN doc_id % 11 = 8 THEN NULL
              ELSE text END AS text
  FROM documents
),
s1 AS (
  SELECT doc_id, text AS text0,
         CAST(len(regexp_extract_all(COALESCE(text, ''),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
           AS n_emails,
         regexp_replace(COALESCE(text, ''),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
           AS text
  FROM docs_p
),
""" + PII_CARD_STAGE_SQL + r""",
s2 AS (
  SELECT doc_id, text0, n_emails, n_cards,
         CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))
           AS BIGINT) AS n_phones,
         regexp_replace(text, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS text
  FROM sC
)
SELECT doc_id, n_emails, n_cards, n_phones,
       CAST(len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
         AS BIGINT) AS n_ips,
       CASE WHEN text0 IS NULL THEN NULL
            ELSE regexp_replace(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b',
                                '<IP>', 'g') END
         AS text_scrubbed
FROM s2
"""

# curation v4 (r11) = v3 with (a) the footer-injected fixture replacing the
# dup-injected one and (b) the C4 LINE-dedup TRIM stage inserted between
# exact dedup (kept) and the MinHash chain: corpus-repeated lines cut to
# their first global occurrence, emptied docs dropped (absent from keptL),
# and every later stage — shingles, gates, scoring — consumes the CLEANED
# text. Assembled from the v1/v2/v3 SQL so shared stages cannot drift.
_V4_FIXTURE = """docs_aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0 THEN 'shared boilerplate footer'
              WHEN doc_id % 5 = 0
              THEN text || chr(10) || 'shared boilerplate footer'
              WHEN doc_id % 5 = 1
              THEN text || chr(10) || 'shared boilerplate footer'
                   || chr(10) || 'second shared footer'
              WHEN doc_id % 5 = 2
              THEN 'shared boilerplate footer' || chr(10) || text
              ELSE text END AS text
  FROM documents
),
"""
_V4_LINE_STAGE = """llines AS (
  SELECT doc_id, CAST(u.i - 1 AS INT) AS ln, l[u.i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM kept) t,
       unnest(range(1, len(l) + 1)) AS u(i)
),
lf1 AS (SELECT line, MIN(doc_id) AS fdoc FROM llines GROUP BY line),
lf2 AS (
  SELECT l.line, l.doc_id AS fdoc, MIN(l.ln) AS fln
  FROM llines l JOIN lf1 ON lf1.line = l.line AND l.doc_id = lf1.fdoc
  GROUP BY l.line, l.doc_id
),
lkept AS (
  SELECT l.doc_id, l.ln, l.line
  FROM llines l JOIN lf2
    ON lf2.line = l.line AND l.doc_id = lf2.fdoc AND l.ln = lf2.fln
),
keptL AS MATERIALIZED (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY ln) AS text
  FROM lkept GROUP BY doc_id
),
"""
_V1_FIXTURE = """docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)
  FROM documents WHERE doc_id % 10 = 3
),
"""
_V1_TOKS = "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM kept),"
_V1_KEPT2 = "FROM kept WHERE doc_id NOT IN (SELECT id_b FROM nd_pairs)"
for _needle in (_V1_FIXTURE, _V1_TOKS, _V1_KEPT2):
    assert _v1_head.count(_needle) == 1, f"v4 oracle surgery drifted: {_needle[:40]!r}"
_v4_head = (
    _v1_head.replace(_V1_FIXTURE, _V4_FIXTURE)
    .replace(
        _V1_TOKS,
        _V4_LINE_STAGE
        + "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM keptL),",
    )
    .replace(_V1_KEPT2, "FROM keptL WHERE doc_id NOT IN (SELECT id_b FROM nd_pairs)")
)
ORACLES["curation_pipeline_v4"] = (
    _v4_head + _V2_GATES + _V3_LM_GATE + "qual AS ("
    + _v1_tail.replace("FROM kept2", "FROM kept5")
)


def _bpe_merges_oracle(n_rounds: int) -> str:
    """Unrolled-CTE replay of extensions/text.py:bpe_merge_fit: each round
    is (pair aggregate over the current segmentation) → (single best pair,
    count DESC then lexicographic) → (list_reduce fold applying the merge
    leftmost-non-overlapping). The fold uses the list-of-singletons trick
    because DuckDB 1.0's list_reduce has no initial-value form: seeding
    with [first_symbol] makes the accumulator a VARCHAR[] throughout,
    matching Spark's aggregate(..., array(), ...) fold element-for-element.
    The chain carries ``tok`` so the final segmentation doubles as the
    encode oracle's vocabulary (text_bpe_encode)."""
    parts = [
        """
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
w AS (SELECT tok, COUNT(*) AS wc FROM toks WHERE length(tok) >= 1 GROUP BY tok),
s0 AS (
  SELECT tok,
         list_transform(range(1, length(tok) + 1), i -> substr(tok, i, 1)) AS syms,
         wc
  FROM w
)"""
    ]
    for k in range(1, n_rounds + 1):
        parts.append(f""",
p{k} AS (
  SELECT pr.l AS l, pr.r AS r, SUM(wc) AS cnt
  FROM (
    SELECT unnest(list_transform(range(1, len(syms)), i ->
             {{'l': syms[i], 'r': syms[i + 1]}})) AS pr, wc
    FROM s{k - 1} WHERE len(syms) >= 2
  )
  GROUP BY pr.l, pr.r
),
b{k} AS (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
s{k} AS (
  SELECT tok, list_reduce(list_transform(syms, s -> [s]),
           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.l AND x[1] = b.r
                       THEN list_concat(acc[1:len(acc) - 1], [b.l || b.r])
                       ELSE list_concat(acc, x) END) AS syms, wc
  FROM s{k - 1} CROSS JOIN b{k} b
)""")
    parts.append(
        "\n"
        + "\nUNION ALL\n".join(
            f"SELECT CAST({k} AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, "
            f"l || r AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b{k}"
            for k in range(1, n_rounds + 1)
        )
    )
    return "".join(parts)


ORACLES["text_bpe_merges"] = _bpe_merges_oracle(5)


def _bpe_encode_oracle(n_rounds: int) -> str:
    """Encode-stats replay: the SAME fitted chain (the final s{n} CTE is
    the per-distinct-token segmentation), joined back onto the corpus
    token stream and aggregated per document."""
    chain = _bpe_merges_oracle(n_rounds)
    chain = chain[: chain.index("\nSELECT CAST(1 AS BIGINT)")]
    return (
        chain
        + f""",
enc AS (
  SELECT tok, CAST(length(tok) AS BIGINT) AS n_char,
         CAST(len(syms) AS BIGINT) AS n_sym
  FROM s{n_rounds}
),
dt AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT d.doc_id, COUNT(*) AS ws_tokens,
       CAST(SUM(e.n_char) AS BIGINT) AS chars,
       CAST(SUM(e.n_sym) AS BIGINT) AS bpe_tokens,
       FLOOR((CAST(SUM(e.n_sym) AS DOUBLE) / CAST(SUM(e.n_char) AS DOUBLE))
             * 10000) / 10000 AS compression_r
FROM dt d JOIN enc e USING (tok)
WHERE length(d.tok) >= 1
GROUP BY d.doc_id
"""
    )


ORACLES["text_bpe_encode"] = _bpe_encode_oracle(5)


def _cos6_sql(a: str, b: str) -> str:
    """6-dp-rounded cosine of two DOUBLE[] columns, left-fold order — the
    shared arithmetic of every knn graph oracle."""
    def dot(x: str, y: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, len({x})), "
            f"i -> {x}[i]*{y}[i]), (p,q) -> p+q)"
        )

    return (
        f"ROUND({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})), 6)"
    )


# Recall@10 of the multiprobe ANN graph vs exact all-pairs truth: both
# sides replayed with identical arithmetic and (cos DESC, neighbor ASC)
# tie-breaks, so n_hit/n_true is exact, not approximate.
ORACLES["sim_recall_probe"] = (
    """
WITH ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
"""
    + KMEANS_CTES_MULTIPROBE
    + ","
    + _kmeans_assign_topn("cents_final", "assign_probe", 2)
    + f""",
ann_scored AS (
  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id,
         {_cos6_sql('a.v', 'b.v')} AS cos_r
  FROM assign_probe a JOIN assign_probe b
    ON a.cid = b.cid AND a.vec_id <> b.vec_id
),
ann_k AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_r DESC, neighbor_id) AS rn
    FROM ann_scored) t
  WHERE rn <= 10
),
truth_scored AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         {_cos6_sql('a.v', 'b.v')} AS cos_r
  FROM ev a JOIN ev b ON a.vec_id <> b.vec_id
),
truth_k AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_r DESC, neighbor_id) AS rn
    FROM truth_scored) t
  WHERE rn <= 10
)
SELECT t.vec_id, COUNT(*) AS n_true, COUNT(a.neighbor_id) AS n_hit,
       FLOOR((CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*)) * 10000)
         / 10000 AS recall_r
FROM truth_k t LEFT JOIN ann_k a
  ON a.vec_id = t.vec_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.vec_id
"""
)


ORACLES["text_sample_fixed_k"] = """
WITH h AS (
  SELECT source, doc_id, {POLY_HASH_DOC} AS hh FROM documents
),
r AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
  FROM h
)
SELECT source, doc_id, CAST(rn AS BIGINT) AS sample_rank FROM r WHERE rn <= 5
""".replace("{POLY_HASH_DOC}", poly_hash_mixed_sql("doc_id"))


ORACLES["dedup_ingest_incremental"] = """
WITH b1 AS (
  SELECT doc_id, COALESCE(text, '') AS t FROM documents WHERE doc_id % 3 < 2
),
b2 AS (
  SELECT doc_id, COALESCE(text, '') AS t FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id + 100000, COALESCE(text, '') FROM documents WHERE doc_id % 10 = 7
),
s1 AS (SELECT DISTINCT md5(t) AS h FROM b1),
k2 AS (SELECT md5(t) AS h, MIN(doc_id) AS doc_id FROM b2 GROUP BY md5(t))
SELECT k2.doc_id, k2.h AS text_hash
FROM k2 LEFT JOIN s1 ON s1.h = k2.h
WHERE s1.h IS NULL
"""


ORACLES["text_lm_score"] = '''
WITH pairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= 2
  ), unnest(range(1, len(t))) AS u(i)
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
probs AS (
  SELECT c2.w1, c2.w2, (c2.c2 * 1000000) // c1.c1 AS p_q
  FROM c2 JOIN c1 USING (w1)
)
SELECT p.doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(pr.p_q) // COUNT(*) AS BIGINT) AS lm_score_q
FROM pairs p JOIN probs pr ON pr.w1 = p.w1 AND pr.w2 = p.w2
GROUP BY p.doc_id
'''


# CCNet head/middle/tail typicality terciles (r10): the lm CTE chain is
# text_lm_score's verbatim; cutoffs are nearest-rank k-th largest scores
# found on the collapsed (lang, score) distribution (cum is a ROWS window
# over DISTINCT scores, so RANGE-vs-ROWS tie semantics cannot differ);
# buckets by integer score-vs-cutoff comparison — tied scores share a
# bucket on both engines by construction.
ORACLES["text_lm_buckets"] = '''
WITH pairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= 2
  ), unnest(range(1, len(t))) AS u(i)
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
probs AS (
  SELECT c2.w1, c2.w2, (c2.c2 * 1000000) // c1.c1 AS p_q
  FROM c2 JOIN c1 USING (w1)
),
lm AS (
  SELECT p.doc_id, CAST(SUM(pr.p_q) // COUNT(*) AS BIGINT) AS lm_score_q
  FROM pairs p JOIN probs pr ON pr.w1 = p.w1 AND pr.w2 = p.w2
  GROUP BY p.doc_id
),
scored AS (
  SELECT s.doc_id, d.lang, s.lm_score_q
  FROM lm s JOIN documents d ON d.doc_id = s.doc_id
),
dist AS (
  SELECT lang, lm_score_q, COUNT(*) AS c FROM scored GROUP BY lang, lm_score_q
),
cum AS (
  SELECT lang, lm_score_q,
         SUM(c) OVER (PARTITION BY lang ORDER BY lm_score_q DESC) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS n
  FROM dist
),
cuts AS (
  SELECT lang,
         MAX(CASE WHEN cum >= (n + 2) // 3 THEN lm_score_q END) AS cut1,
         MAX(CASE WHEN cum >= (2 * n + 2) // 3 THEN lm_score_q END) AS cut2
  FROM cum GROUP BY lang
)
SELECT s.doc_id, s.lang, s.lm_score_q,
       CASE WHEN s.lm_score_q >= c.cut1 THEN 'head'
            WHEN s.lm_score_q >= c.cut2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s JOIN cuts c ON c.lang = s.lang
'''


# Adaptive percentile quality gate: nearest-rank k-th smallest fused
# quality (k = ceil(n*50/1000), integer arithmetic) as the cutoff; ties at
# the cutoff survive. quality arithmetic mirrors fused_doc_scores exactly
# (same formula as the curation oracles' qual CTE). NULL text scores as ''
# (r9 advice — otherwise the engines order NULL quality to opposite ends
# of the rank and the cutoff diverges).
ORACLES["text_quality_gate"] = '''
WITH docs0 AS (
  SELECT doc_id, COALESCE(text, '') AS text FROM documents
),
q AS (
  SELECT doc_id,
         FLOOR((
           0.4 * LEAST(1.0, len(string_split(text, ' ')) / 100.0)
           + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
                    / len(string_split(text, ' ')))
           + 0.3 * LEAST(1.0,
               ((length(text) - (len(string_split(text, ' ')) - 1))
                / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0)
           ) * 10000) / 10000 AS quality_r
  FROM docs0
),
ranked AS (
  SELECT quality_r,
         ROW_NUMBER() OVER (ORDER BY quality_r ASC, doc_id ASC) AS rn
  FROM q
),
kk AS (
  SELECT GREATEST(1, (COUNT(*) * 50 + 999) // 1000) AS k FROM q
),
cutoff AS (SELECT r.quality_r AS cutoff_r FROM ranked r, kk WHERE r.rn = kk.k)
SELECT q.doc_id, q.quality_r, c.cutoff_r
FROM q CROSS JOIN cutoff c
WHERE q.quality_r >= c.cutoff_r
'''


# Streaming face of the incremental ingest: drained state == batch answer,
# so the oracle is the batch SQL with the keeper/copy-count shape.
ORACLES["stream_ingest_novel"] = '''
WITH b1 AS (
  SELECT doc_id, COALESCE(text, '') AS t FROM documents WHERE doc_id % 3 < 2
),
b2 AS (
  SELECT doc_id, COALESCE(text, '') AS t FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id + 100000, COALESCE(text, '') FROM documents WHERE doc_id % 10 = 7
),
s1 AS (SELECT DISTINCT md5(t) AS text_hash FROM b1),
k2 AS (
  SELECT md5(t) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
  FROM b2 GROUP BY md5(t)
)
SELECT k2.text_hash, k2.keeper_id, k2.n_copies
FROM k2 LEFT JOIN s1 ON s1.text_hash = k2.text_hash
WHERE s1.text_hash IS NULL
'''


def _mh_band_ctes(src: str, p: str) -> str:
    """MinHash shingle/signature/band-key CTE chain over docs CTE ``src``
    (columns doc_id, text), prefixed ``p`` — the parametrized form of
    MINHASH_PAIR_CTES' front half, shared by the near-dup ingest oracle's
    history and batch sides. Constants in lockstep with extensions/dedup.py
    (12 hashes, 4 bands of 3, P=8191, poly sid hash)."""
    return f"""{p}toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS t FROM {src}),
{p}sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t)-2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM {p}toks) u
  WHERE shingle IS NOT NULL
),
{p}shid AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN length(shingle) = 0 THEN 0 ELSE
           list_reduce(list_transform(generate_series(1, length(shingle)),
                       i -> ord(substr(shingle, i, 1)) % 8191),
                       (h, c) -> (h*31 + c) % 8191) END AS sid
  FROM {p}sh
),
{p}hashes AS MATERIALIZED (
  SELECT doc_id, j, MIN(((2*j+3)*sid + 5*j+7) % 8191) AS mh
  FROM {p}shid CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS j) js
  GROUP BY doc_id, j
),
{p}bandkeys AS MATERIALIZED (
  SELECT doc_id, j // 3 AS band,
         STRING_AGG(CAST(mh AS VARCHAR), '_' ORDER BY j) AS bkey
  FROM {p}hashes GROUP BY doc_id, j // 3
)"""


def _greedy_mis_round(prev: str, cur: str) -> str:
    """One unrolled round of the sequential-arrival greedy admission
    (extensions/ingest_kernel.py:greedy_admit, re-exported as
    dedup._greedy_admit): statuses are final once decided;
    a node is Rejected when an Admitted lower near-dup neighbor exists,
    Admitted when every lower neighbor is Rejected (vacuously true for
    none), else still Undecided."""
    return f"""{cur} AS MATERIALIZED (
  SELECT p.node, CASE
    WHEN p.st <> 'U' THEN p.st
    WHEN EXISTS (SELECT 1 FROM mis_edges e JOIN {prev} q ON q.node = e.lo
                 WHERE e.hi = p.node AND q.st = 'A') THEN 'R'
    WHEN NOT EXISTS (SELECT 1 FROM mis_edges e JOIN {prev} q ON q.node = e.lo
                     WHERE e.hi = p.node AND q.st <> 'R') THEN 'A'
    ELSE 'U' END AS st
  FROM {prev} p)"""


# Incremental NEAR-dup ingest (r9): history digests + band-key state;
# batch = fresh slice + exact redeliveries + near-dup variants. Phase 1
# exact (keeper min-id per digest, anti-join history digests); phase 2
# band-collision candidates vs history, exact-Jaccard-verified at 0.6;
# phase 3 within-batch candidates under sequential-arrival greedy
# admission, unrolled 8 rounds (the query pins mis_max_iter=8 so a graph
# needing more rounds fails LOUDLY on the Spark side instead of
# diverging silently).
ORACLES["dedup_ingest_neardup"] = (
    """
WITH hist AS (
  SELECT doc_id, COALESCE(text, '') AS text FROM documents WHERE doc_id % 3 < 2
),
batch AS MATERIALIZED (
  SELECT doc_id, COALESCE(text, '') AS text FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id + 100000, COALESCE(text, '') FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, COALESCE(substr(text, strpos(text, ' ') + 1), '')
  FROM documents WHERE doc_id % 10 = 3
),
hist_dg AS MATERIALIZED (SELECT DISTINCT md5(text) AS h FROM hist),
keep1 AS MATERIALIZED (
  SELECT md5(text) AS h, MIN(doc_id) AS doc_id FROM batch GROUP BY md5(text)
),
keep1n AS MATERIALIZED (
  SELECT k.h, k.doc_id FROM keep1 k LEFT JOIN hist_dg s ON s.h = k.h
  WHERE s.h IS NULL
),
kept AS MATERIALIZED (
  SELECT b.doc_id, b.text FROM batch b JOIN keep1n k ON k.doc_id = b.doc_id
),
"""
    + _mh_band_ctes("kept", "b_")
    + ",\n"
    + _mh_band_ctes("hist", "h_")
    + """,
b_sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM b_sh GROUP BY doc_id),
h_sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM h_sh GROUP BY doc_id),
cand_hist AS MATERIALIZED (
  SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid
  FROM b_bandkeys b JOIN h_bandkeys h
    ON b.band = h.band AND b.bkey = h.bkey
),
hist_drop AS MATERIALIZED (
  SELECT DISTINCT bid FROM (
    SELECT c.bid, c.hid,
           FLOOR(CAST(COUNT(*) AS DOUBLE)
                 / (hs.sz + bs.sz - COUNT(*)) * 10000) / 10000 AS jacc_r
    FROM cand_hist c
    JOIN h_sh a ON a.doc_id = c.hid
    JOIN b_sh b ON b.doc_id = c.bid AND b.shingle = a.shingle
    JOIN h_sizes hs ON hs.doc_id = c.hid
    JOIN b_sizes bs ON bs.doc_id = c.bid
    GROUP BY c.bid, c.hid, hs.sz, bs.sz
  ) v WHERE jacc_r >= 0.6
),
kept2 AS MATERIALIZED (
  SELECT k.doc_id FROM kept k LEFT JOIN hist_drop d ON d.bid = k.doc_id
  WHERE d.bid IS NULL
),
cand_batch AS MATERIALIZED (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM b_bandkeys l JOIN b_bandkeys r
    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
  WHERE l.doc_id IN (SELECT doc_id FROM kept2)
    AND r.doc_id IN (SELECT doc_id FROM kept2)
),
mis_edges AS MATERIALIZED (
  SELECT id_a AS lo, id_b AS hi FROM (
    SELECT c.id_a, c.id_b,
           FLOOR(CAST(COUNT(*) AS DOUBLE)
                 / (sa.sz + sb.sz - COUNT(*)) * 10000) / 10000 AS jacc_r
    FROM cand_batch c
    JOIN b_sh a ON a.doc_id = c.id_a
    JOIN b_sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
    JOIN b_sizes sa ON sa.doc_id = c.id_a
    JOIN b_sizes sb ON sb.doc_id = c.id_b
    GROUP BY c.id_a, c.id_b, sa.sz, sb.sz
  ) v WHERE jacc_r >= 0.6
),
mis_nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT lo AS node FROM mis_edges UNION ALL SELECT hi FROM mis_edges) u
),
s0 AS MATERIALIZED (SELECT node, 'U' AS st FROM mis_nodes),
"""
    + ",\n".join(_greedy_mis_round(f"s{i}", f"s{i + 1}") for i in range(8))
    + """,
admitted AS (
  SELECT k.doc_id FROM kept2 k
  WHERE k.doc_id NOT IN (SELECT node FROM mis_nodes)
  UNION ALL
  SELECT node AS doc_id FROM s8 WHERE st = 'A'
)
SELECT k.doc_id, k.h AS text_hash
FROM keep1n k JOIN admitted a ON a.doc_id = k.doc_id
"""
)


# Sampled recall probe (r9): deterministic 5-per-label KMV probe set;
# exact truth computed for probes only (one-sided vs the full corpus);
# ANN side identical to sim_recall_probe's multiprobe chain. Per-probe
# rows carry the stratum for the per-label aggregate.
ORACLES["sim_recall_probe_sampled"] = (
    """
WITH ev AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
probes AS MATERIALIZED (
  SELECT label, vec_id FROM (
    SELECT label, vec_id,
           ROW_NUMBER() OVER (PARTITION BY label
                              ORDER BY {POLY_HASH_VEC}, vec_id) AS rn
    FROM ev) t
  WHERE rn <= 5
),
"""
    + KMEANS_CTES_MULTIPROBE
    + ","
    + _kmeans_assign_topn("cents_final", "assign_probe", 2)
    + f""",
ann_scored AS MATERIALIZED (
  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id,
         {_cos6_sql('a.v', 'b.v')} AS cos_r
  FROM assign_probe a JOIN assign_probe b
    ON a.cid = b.cid AND a.vec_id <> b.vec_id
  WHERE a.vec_id IN (SELECT vec_id FROM probes)
),
ann_k AS MATERIALIZED (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_r DESC, neighbor_id) AS rn
    FROM ann_scored) t
  WHERE rn <= 10
),
truth_scored AS MATERIALIZED (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         {_cos6_sql('a.v', 'b.v')} AS cos_r
  FROM ev a JOIN ev b ON a.vec_id <> b.vec_id
  WHERE a.vec_id IN (SELECT vec_id FROM probes)
),
truth_k AS MATERIALIZED (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_r DESC, neighbor_id) AS rn
    FROM truth_scored) t
  WHERE rn <= 10
)
SELECT t.vec_id, p.label, COUNT(*) AS n_true, COUNT(a.neighbor_id) AS n_hit,
       FLOOR((CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*)) * 10000)
         / 10000 AS recall_r
FROM truth_k t
JOIN probes p ON p.vec_id = t.vec_id
LEFT JOIN ann_k a
  ON a.vec_id = t.vec_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.vec_id, p.label
"""
).replace("{POLY_HASH_VEC}", poly_hash_mixed_sql("vec_id"))


# Tokenizer artifact round-trip (r9): the parquet write/read of the merge
# table is invisible to results (encode-from-artifact is bit-equal to
# fit-then-encode, the BPE replay property — property-pinned), so the
# oracle is the encode oracle itself, the recon_orc_roundtrip pattern.
ORACLES["text_bpe_vocab_roundtrip"] = _bpe_encode_oracle(5)


# C4-residual quality signals (r9) over the punctuation-injected fixture:
# sentences = [.!?]-delimited segments with a non-space char; terminal
# ratio = terminators per sentence capped at 1; mwps = whitespace tokens
# per sentence. quality_r mirrors fused_doc_scores (the text_quality_gate
# oracle's formula).
ORACLES["text_quality_c4"] = '''
WITH docs_punct AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN replace(text, ' join ', '. join ') || '.'
              WHEN doc_id % 3 = 1
              THEN replace(text, ' data ', '! data ')
              ELSE text END AS text
  FROM documents
),
sig AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS n_tok,
         len(list_filter(string_split_regex(text, '[.!?]'),
                         s -> length(trim(s)) > 0)) AS n_sent,
         length(text) - length(regexp_replace(text, '[.!?]', '', 'g'))
           AS n_term
  FROM docs_punct
)
SELECT doc_id,
       FLOOR((
         0.4 * LEAST(1.0, n_tok / 100.0)
         + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                      t -> t IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
                  / n_tok)
         + 0.3 * LEAST(1.0,
             ((length(text) - (n_tok - 1)) / CAST(n_tok AS DOUBLE)) / 8.0)
         ) * 10000) / 10000 AS quality_r,
       CAST(n_sent AS BIGINT) AS n_sentences,
       CASE WHEN n_sent > 0
            THEN FLOOR(LEAST(1.0, CAST(n_term AS DOUBLE) / n_sent) * 10000)
                 / 10000
            ELSE 0.0 END AS term_sent_ratio_r,
       CASE WHEN n_sent > 0
            THEN FLOOR((CAST(n_tok AS DOUBLE) / n_sent) * 10000) / 10000
            ELSE 0.0 END AS mwps_r
FROM sig
'''


# Gopher rule-filter signals (r10): the line/symbol-injected fixture and
# every count/division mirror harness/fixtures.py:build_documents_lines and
# extensions/text.py:fused_doc_scores(gopher=True) verbatim — literal
# replaces, non-overlapping left-to-right on both engines, integer counts
# divided then floor4'd.
ORACLES["text_quality_gopher"] = """
WITH docs_lines AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN replace(text, ' join ', ' join' || chr(10) || '- ')
              WHEN doc_id % 4 = 1
              THEN replace(text, ' data ', ' data...' || chr(10))
                   || ' #tag ...'
              WHEN doc_id % 4 = 2
              THEN replace(text, ' the ', ' 12345 ')
              ELSE text END AS text
  FROM documents
),
sig AS (
  SELECT doc_id, text,
         string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS n_chars,
         string_split(text, chr(10)) AS lines,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
  FROM docs_lines
)
SELECT doc_id,
       n_lines,
       FLOOR(CAST(len(list_filter(lines,
               l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT)
             / CAST(n_lines AS DOUBLE) * 10000) / 10000
         AS bullet_line_frac_r,
       FLOOR(CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT)
             / CAST(n_lines AS DOUBLE) * 10000) / 10000
         AS ellipsis_line_frac_r,
       FLOOR(CAST(len(list_filter(toks,
               t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT)
             / CAST(n_tok AS DOUBLE) * 10000) / 10000
         AS alpha_word_frac_r,
       FLOOR((CAST(n_chars - length(regexp_replace(text, '#', '', 'g'))
                AS BIGINT)
              + (n_chars - length(replace(text, '...', ''))) / 3)
             / CAST(n_tok AS DOUBLE) * 10000) / 10000
         AS symbol_word_ratio_r,
       FLOOR(((n_chars - (n_tok - 1)) / CAST(n_tok AS DOUBLE)) * 10000)
         / 10000 AS mean_word_len_r,
       CAST(CAST(list_contains(toks, 'the') AS INT)
          + CAST(list_contains(toks, 'be') AS INT)
          + CAST(list_contains(toks, 'to') AS INT)
          + CAST(list_contains(toks, 'of') AS INT)
          + CAST(list_contains(toks, 'and') AS INT)
          + CAST(list_contains(toks, 'that') AS INT)
          + CAST(list_contains(toks, 'have') AS INT)
          + CAST(list_contains(toks, 'with') AS INT) AS BIGINT)
         AS req_stop_hits
FROM sig
"""


# Binary payload dedup (r9): payloads are UTF-8 encodings of ASCII texts,
# so DuckDB's VARCHAR md5/substr mirror Spark's byte-level md5/substring
# exactly (same bytes, same lowercase hex).
MM_PAYLOAD_BASE = """base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 300000,
         text || ' extra appended tail content for payload variant'
  FROM documents WHERE doc_id % 10 = 5
)"""

ORACLES["mm_payload_dedup"] = (
    "WITH " + MM_PAYLOAD_BASE + """
SELECT md5(text) AS payload_hash, MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_copies
FROM base GROUP BY md5(text)
"""
)

ORACLES["mm_payload_near_dup"] = (
    "WITH " + MM_PAYLOAD_BASE + """,
keys AS MATERIALIZED (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS block_no,
         md5(substr(text, (i - 1) * 64 + 1, 64)) AS block_hash,
         CAST(ceil(length(text) / 64) AS BIGINT) AS n_blocks
  FROM base, unnest(generate_series(1,
       CAST(ceil(length(text) / 64) AS INT))) AS u(i)
  WHERE length(text) > 0
)
SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_shared,
       l.n_blocks AS n_blocks_a, r.n_blocks AS n_blocks_b,
       FLOOR(CAST(COUNT(*) AS DOUBLE)
             / GREATEST(l.n_blocks, r.n_blocks) * 10000) / 10000
         AS block_sim_r
FROM keys l JOIN keys r
  ON l.block_no = r.block_no AND l.block_hash = r.block_hash
 AND l.doc_id < r.doc_id
GROUP BY l.doc_id, r.doc_id, l.n_blocks, r.n_blocks
HAVING FLOOR(CAST(COUNT(*) AS DOUBLE)
             / GREATEST(l.n_blocks, r.n_blocks) * 10000) / 10000 >= 0.5
"""
)


# Streaming face of the near-dup ingest: the drained admitted set equals
# the one-batch admission (greedy batch-split property, property-pinned),
# so the oracle is the batch oracle.
ORACLES["stream_ingest_neardup"] = ORACLES["dedup_ingest_neardup"]

# Centroid artifact round-trip (r10): fit -> parquet -> load -> assign is
# bit-identical to fit-then-assign (parquet doubles are exact; property-
# pinned), so the query shares the in-session multiprobe oracle.
ORACLES["sim_centroid_roundtrip"] = ORACLES["sim_knn_join_multiprobe"]

# Multi-wave ingest across compaction (r10): wave-1 + wave-2 admissions
# equal the one-batch admission of the concatenated stream (greedy
# batch-split property — arrival respects id order), so the oracle is the
# one-batch replay over the waves query's batch — the dedup_ingest_neardup
# batch extended by a genuinely NOVEL wave-2 slice (token-reversed %10==6
# docs: reversed word order shares no 3-shingle with the original, so they
# must be ADMITTED through the compacted state). A compaction that lost a
# digest/band/doc row admits a duplicate; one that fabricated state drops
# the novel slice — either mismatches.
ORACLES["dedup_ingest_waves"] = ORACLES["dedup_ingest_neardup"].replace(
    """  SELECT doc_id + 200000, COALESCE(substr(text, strpos(text, ' ') + 1), '')
  FROM documents WHERE doc_id % 10 = 3
),""",
    """  SELECT doc_id + 200000, COALESCE(substr(text, strpos(text, ' ') + 1), '')
  FROM documents WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id + 300000,
         COALESCE(array_to_string(list_reverse(string_split(text, ' ')), ' '), '')
  FROM documents WHERE doc_id % 10 = 6
),""",
)
assert ORACLES["dedup_ingest_waves"] != ORACLES["dedup_ingest_neardup"]


# Incremental SEMANTIC ingest (r10): the near-dup ingest family in
# embedding space. History (vec_id%3<2) is the k-means fit input AND the
# persisted corpus; the batch (the %3==2 slice + exact re-uploads of the
# %10==1 slice under +100000 ids + zeroed-first-8-dims variants of the
# %10==4 slice under +200000 ids) is admitted only where no persisted or
# already-admitted vector shares a probe block with cosine >= 0.9. The
# greedy rounds unroll 8x; the query pins mis_max_iter=8 in lockstep.
ORACLES["sim_ingest_semantic"] = (
    """
WITH allv AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
ev AS MATERIALIZED (SELECT vec_id, v FROM allv WHERE vec_id % 3 < 2),
batch AS MATERIALIZED (
  SELECT vec_id, v FROM allv WHERE vec_id % 3 = 2
  UNION ALL
  SELECT vec_id + 100000, v FROM allv WHERE vec_id % 10 = 1
  UNION ALL
  SELECT vec_id + 200000,
         list_transform(generate_series(1, len(v)),
                        i -> CASE WHEN i <= 8 THEN 0.0 ELSE v[i] END)
  FROM allv WHERE vec_id % 10 = 4
),
"""
    + KMEANS_CTES_MULTIPROBE
    + ","
    + _kmeans_assign_topn("cents_final", "hist_assign", 2)
    + ","
    + _kmeans_assign_topn("cents_final", "batch_assign", 2, src_vecs="batch")
    + """,
cand_hist AS MATERIALIZED (
  SELECT DISTINCT b.vec_id AS bid, h.vec_id AS hid
  FROM batch_assign b JOIN hist_assign h ON b.cid = h.cid
),
hist_drop AS MATERIALIZED (
  SELECT DISTINCT c.bid FROM cand_hist c
  JOIN batch bb ON bb.vec_id = c.bid
  JOIN ev hh ON hh.vec_id = c.hid
  WHERE ROUND(
    list_reduce(list_transform(generate_series(1, len(bb.v)),
                i -> bb.v[i]*hh.v[i]), (x,y) -> x+y)
    / (sqrt(list_reduce(list_transform(generate_series(1, len(bb.v)),
             i -> bb.v[i]*bb.v[i]), (x,y) -> x+y))
     * sqrt(list_reduce(list_transform(generate_series(1, len(hh.v)),
             i -> hh.v[i]*hh.v[i]), (x,y) -> x+y))), 6) >= 0.9
),
kept2 AS MATERIALIZED (
  SELECT b.vec_id FROM batch b LEFT JOIN hist_drop d ON d.bid = b.vec_id
  WHERE d.bid IS NULL
),
cand_batch AS MATERIALIZED (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM batch_assign l JOIN batch_assign r
    ON l.cid = r.cid AND l.vec_id < r.vec_id
  WHERE l.vec_id IN (SELECT vec_id FROM kept2)
    AND r.vec_id IN (SELECT vec_id FROM kept2)
),
mis_edges AS MATERIALIZED (
  SELECT c.id_a AS lo, c.id_b AS hi FROM cand_batch c
  JOIN batch a ON a.vec_id = c.id_a
  JOIN batch b ON b.vec_id = c.id_b
  WHERE ROUND(
    list_reduce(list_transform(generate_series(1, len(a.v)),
                i -> a.v[i]*b.v[i]), (x,y) -> x+y)
    / (sqrt(list_reduce(list_transform(generate_series(1, len(a.v)),
             i -> a.v[i]*a.v[i]), (x,y) -> x+y))
     * sqrt(list_reduce(list_transform(generate_series(1, len(b.v)),
             i -> b.v[i]*b.v[i]), (x,y) -> x+y))), 6) >= 0.9
),
mis_nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT lo AS node FROM mis_edges UNION ALL SELECT hi FROM mis_edges) u
),
s0 AS MATERIALIZED (SELECT node, 'U' AS st FROM mis_nodes),
"""
    + ",\n".join(_greedy_mis_round(f"s{i}", f"s{i + 1}") for i in range(8))
    + """
SELECT k.vec_id FROM kept2 k
WHERE k.vec_id NOT IN (SELECT node FROM mis_nodes)
UNION ALL
SELECT node AS vec_id FROM s8 WHERE st = 'A'
"""
)


# Incremental PAYLOAD ingest (r10): the near-dup ingest family over binary
# payloads (texts are ASCII, so the oracle mirrors byte slicing with
# substr, the mm_payload_near_dup treatment). History digests + composite
# block-key state; batch = fresh slice + byte-exact re-uploads + appended-
# tail variants; phase 1 exact (min-id keeper, digest anti-join), phase 2
# shared-block-fraction >= 0.5 vs history (the collision aggregate IS the
# verification — no payload re-read), phase 3 within-batch pairs under the
# sequential-arrival greedy admission unrolled 8 rounds (the query pins
# mis_max_iter=8).
ORACLES["mm_payload_ingest"] = (
    """
WITH hist AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 < 2
),
batch AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 300000,
         text || ' extra appended tail content for payload variant'
  FROM documents WHERE doc_id % 10 = 5
),
hist_dg AS MATERIALIZED (
  SELECT DISTINCT md5(COALESCE(text, '')) AS h FROM hist
),
keep1 AS MATERIALIZED (
  SELECT md5(COALESCE(text, '')) AS h, MIN(doc_id) AS doc_id FROM batch
  GROUP BY md5(COALESCE(text, ''))
),
keep1n AS MATERIALIZED (
  SELECT k.h, k.doc_id FROM keep1 k LEFT JOIN hist_dg s ON s.h = k.h
  WHERE s.h IS NULL
),
kept AS MATERIALIZED (
  SELECT b.doc_id, b.text FROM batch b JOIN keep1n k ON k.doc_id = b.doc_id
),
b_keys AS MATERIALIZED (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS block_no,
         md5(substr(text, (i - 1) * 64 + 1, 64)) AS block_hash,
         CAST(ceil(length(text) / 64) AS BIGINT) AS n_blocks
  FROM kept, unnest(generate_series(1,
       CAST(ceil(length(text) / 64) AS INT))) AS u(i)
  WHERE length(text) > 0
),
h_keys AS MATERIALIZED (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS block_no,
         md5(substr(text, (i - 1) * 64 + 1, 64)) AS block_hash,
         CAST(ceil(length(text) / 64) AS BIGINT) AS n_blocks
  FROM hist, unnest(generate_series(1,
       CAST(ceil(length(text) / 64) AS INT))) AS u(i)
  WHERE length(text) > 0
),
hist_drop AS MATERIALIZED (
  SELECT DISTINCT bid FROM (
    SELECT b.doc_id AS bid, h.doc_id AS hid,
           FLOOR(CAST(COUNT(*) AS DOUBLE)
                 / GREATEST(b.n_blocks, h.n_blocks) * 10000) / 10000 AS sim
    FROM b_keys b JOIN h_keys h
      ON b.block_no = h.block_no AND b.block_hash = h.block_hash
    GROUP BY b.doc_id, h.doc_id, b.n_blocks, h.n_blocks
  ) v WHERE sim >= 0.5
),
kept2 AS MATERIALIZED (
  SELECT k.doc_id FROM keep1n k LEFT JOIN hist_drop d ON d.bid = k.doc_id
  WHERE d.bid IS NULL
),
mis_edges AS MATERIALIZED (
  SELECT id_a AS lo, id_b AS hi FROM (
    SELECT l.doc_id AS id_a, r.doc_id AS id_b,
           FLOOR(CAST(COUNT(*) AS DOUBLE)
                 / GREATEST(l.n_blocks, r.n_blocks) * 10000) / 10000 AS sim
    FROM b_keys l JOIN b_keys r
      ON l.block_no = r.block_no AND l.block_hash = r.block_hash
     AND l.doc_id < r.doc_id
    WHERE l.doc_id IN (SELECT doc_id FROM kept2)
      AND r.doc_id IN (SELECT doc_id FROM kept2)
    GROUP BY l.doc_id, r.doc_id, l.n_blocks, r.n_blocks
  ) v WHERE sim >= 0.5
),
mis_nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT lo AS node FROM mis_edges UNION ALL SELECT hi FROM mis_edges) u
),
s0 AS MATERIALIZED (SELECT node, 'U' AS st FROM mis_nodes),
"""
    + ",\n".join(_greedy_mis_round(f"s{i}", f"s{i + 1}") for i in range(8))
    + """,
admitted AS (
  SELECT k.doc_id FROM kept2 k
  WHERE k.doc_id NOT IN (SELECT node FROM mis_nodes)
  UNION ALL
  SELECT node AS doc_id FROM s8 WHERE st = 'A'
)
SELECT k.doc_id, k.h AS payload_hash
FROM keep1n k JOIN admitted a ON a.doc_id = k.doc_id
"""
)


# Streaming faces of the r10 ingest families (r10): the drained admitted
# sets equal the one-batch admissions (greedy batch-split property,
# property-pinned for both operators), so each shares its batch oracle.
ORACLES["stream_ingest_semantic"] = ORACLES["sim_ingest_semantic"]
ORACLES["stream_ingest_payloads"] = ORACLES["mm_payload_ingest"]

# Streaming datacard (r10): commutative counts + DECIMAL sums make the
# drained state bit-equal to the batch state in any arrival order, and the
# card derivation is the property-pinned datacard_from_state — so the
# drained card IS the batch card.
# r14: the stream_datacard face was RETIRED from the registry (VERDICT
# r13 #5) — the card derivation stays oracle-checked via text_datacard /
# text_datacard_merge and stream ≡ batch is pinned verbatim in
# tests/test_properties.py::test_stream_datacard_equals_batch_card.


def _pq_oracle(dim: int = 64) -> str:
    """SQL mirror of the PQ pipeline (r10): per-subspace kmeans chains
    (one prefixed Lloyd unroll per subspace over sliced vectors — the
    fit's own final assignment IS the code), per-subspace query-to-
    sub-centroid squared distances in the shared left-fold order, ADC =
    fixed-order sum of the m terms, rounded candidate cut, exact-cosine
    re-rank. Every arithmetic step replays pq_fit/pq_encode/pq_topk_adc
    bit-for-bit."""
    m, ksub, n_iter = PQ_ORACLE_M, PQ_ORACLE_KSUB, PQ_ORACLE_N_ITER
    dsub = dim // m
    parts = [
        "WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q "
        "FROM embeddings WHERE vec_id = 0),\n"
        "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings)"
    ]
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(
            f",\ns{s}ev AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM ev)"
        )
    for s in range(m):
        parts.append(
            ",\n"
            + kmeans_ctes(
                k=ksub, n_iter=n_iter, prefix=f"s{s}", src_vecs=f"s{s}ev"
            )
        )
    for s in range(m):
        off = s * dsub
        parts.append(
            f""",
d{s} AS (
  SELECT a.vec_id,
         list_reduce(list_transform(generate_series(1, {dsub}), i ->
           (q[{off} + i] - c.c[i]) * (q[{off} + i] - c.c[i])),
           (x,y) -> x + y) AS d
  FROM s{s}assign_final a
  JOIN s{s}cents_final c ON c.cid = a.cid
  CROSS JOIN qv
)"""
        )
    adc_sum = "d0.d"
    joins = "FROM d0"
    for s in range(1, m):
        adc_sum = f"({adc_sum} + d{s}.d)"
        joins += f" JOIN d{s} ON d{s}.vec_id = d0.vec_id"
    parts.append(
        f""",
adc AS (
  SELECT d0.vec_id, ROUND({adc_sum}, 6) AS adc_r
  {joins}
),
cand AS (SELECT vec_id, adc_r FROM adc ORDER BY adc_r, vec_id LIMIT {PQ_ORACLE_RERANK}),
rescored AS (
  SELECT e.vec_id,
         ROUND(
           list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*q[i]), (x,y) -> x+y)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]), (x,y) -> x+y))
            * sqrt(list_reduce(list_transform(generate_series(1, len(q)), i -> q[i]*q[i]), (x,y) -> x+y))),
           6) AS cos_r,
         cand.adc_r
  FROM ev e JOIN cand ON cand.vec_id = e.vec_id CROSS JOIN qv
)
SELECT vec_id, rank, cos_r, adc_r FROM (
  SELECT vec_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank,
         cos_r, adc_r
  FROM rescored
) r WHERE rank <= 10"""
    )
    return "".join(parts)


ORACLES["sim_topk_pq"] = _pq_oracle()


def _ivfpq_oracle(dim: int = 64) -> str:
    """SQL mirror of the IVF-PQ pipeline (r10): one coarse kmeans chain
    over the full vectors, residuals against the assigned coarse centroid,
    one PQ kmeans chain per subspace over the SLICED RESIDUALS (the fit's
    final assignment IS the code), the nprobe nearest coarse cells by the
    shared left-fold distance, a per-(probed cell, subspace) LUT of
    residual-query-to-sub-centroid squared distances, ADC as the
    fixed-order sum of the m LUT lookups over only the probed cells' rows,
    rounded candidate cut, exact-cosine re-rank on the ORIGINAL vectors.
    Replays similarity.ivfpq_topk bit-for-bit (same accumulator orders,
    same (score, id) tie-breaks)."""
    m, ksub = PQ_ORACLE_M, PQ_ORACLE_KSUB
    nlist, nprobe = IVFPQ_ORACLE_NLIST, IVFPQ_ORACLE_NPROBE
    dsub = dim // m
    parts = [
        "WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q "
        "FROM embeddings WHERE vec_id = 0),\n"
        "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings),\n"
        + kmeans_ctes(
            k=nlist, n_iter=IVFPQ_ORACLE_N_ITER, prefix="g", src_vecs="ev"
        )
    ]
    parts.append(
        f""",
rv AS (
  SELECT a.vec_id,
         list_transform(generate_series(1, {dim}), i -> a.v[i] - c.c[i]) AS v,
         a.cid AS blk
  FROM gassign_final a JOIN gcents_final c ON c.cid = a.cid
)"""
    )
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(
            f",\ns{s}ev AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM rv)"
        )
    for s in range(m):
        parts.append(
            ",\n"
            + kmeans_ctes(
                k=ksub,
                n_iter=PQ_ORACLE_N_ITER,
                prefix=f"s{s}",
                src_vecs=f"s{s}ev",
            )
        )
    parts.append(
        f""",
probed AS (
  SELECT cid FROM (
    SELECT c.cid,
           list_reduce(list_transform(generate_series(1, {dim}), i ->
             (q[i] - c.c[i]) * (q[i] - c.c[i])), (x,y) -> x + y) AS d
    FROM gcents_final c CROSS JOIN qv
    ORDER BY d, c.cid LIMIT {nprobe}) t
)"""
    )
    for s in range(m):
        off = s * dsub
        parts.append(
            f""",
lut{s} AS (
  SELECT g.cid AS blk, b.cid AS code,
         list_reduce(list_transform(generate_series(1, {dsub}), i ->
           ((q[{off} + i] - g.c[{off} + i]) - b.c[i])
           * ((q[{off} + i] - g.c[{off} + i]) - b.c[i])),
           (x,y) -> x + y) AS d
  FROM gcents_final g
  JOIN probed p ON p.cid = g.cid
  CROSS JOIN qv
  CROSS JOIN s{s}cents_final b
)"""
        )
    code_cols = ", ".join(f"a{s}.cid AS c{s}" for s in range(m))
    code_joins = "".join(
        f" JOIN s{s}assign_final a{s} ON a{s}.vec_id = r.vec_id"
        for s in range(m)
    )
    adc_sum = "l0.d"
    lut_joins = " JOIN lut0 l0 ON l0.blk = c.blk AND l0.code = c.c0"
    for s in range(1, m):
        adc_sum = f"({adc_sum} + l{s}.d)"
        lut_joins += (
            f" JOIN lut{s} l{s} ON l{s}.blk = c.blk AND l{s}.code = c.c{s}"
        )
    parts.append(
        f""",
codes AS (
  SELECT r.vec_id, r.blk, {code_cols}
  FROM rv r{code_joins}
),
adc AS (
  SELECT c.vec_id, c.blk, ROUND({adc_sum}, 6) AS adc_r
  FROM codes c{lut_joins}
),
cand AS (SELECT vec_id, blk, adc_r FROM adc
         ORDER BY adc_r, vec_id LIMIT {PQ_ORACLE_RERANK}),
rescored AS (
  SELECT e.vec_id,
         ROUND(
           list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*q[i]), (x,y) -> x+y)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*v[i]), (x,y) -> x+y))
            * sqrt(list_reduce(list_transform(generate_series(1, len(q)), i -> q[i]*q[i]), (x,y) -> x+y))),
           6) AS cos_r,
         cand.adc_r, cand.blk
  FROM ev e JOIN cand ON cand.vec_id = e.vec_id CROSS JOIN qv
)
SELECT vec_id, rank, cos_r, adc_r, blk FROM (
  SELECT vec_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank,
         cos_r, adc_r, blk
  FROM rescored
) r WHERE rank <= 10"""
    )
    return "".join(parts)


ORACLES["sim_topk_ivfpq"] = _ivfpq_oracle()


def _ivfpq_knn_oracle(dim: int = 64) -> str:
    """SQL mirror of the IVF-PQ k-NN graph (r10): the coarse/residual/
    per-subspace chains of the single-query oracle, then EVERY vector as
    a query — nprobe probe rows via the shared top-n assignment helper,
    per-(query, probed-cell, subspace) LUTs over the query residual,
    blocked pairs on the cell id scored by the fixed-order ADC sum,
    per-query (adc_r, xid) cut to the rerank set, exact-cosine re-rank.
    Replays similarity.knn_join_ivfpq bit-for-bit."""
    m, ksub = PQ_ORACLE_M, PQ_ORACLE_KSUB
    nlist, nprobe = IVFPQ_ORACLE_NLIST, IVFPQ_ORACLE_NPROBE
    k, rerank = IVFPQ_ORACLE_KJOIN, IVFPQ_ORACLE_RERANK_JOIN
    dsub = dim // m
    parts = [
        "WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings),\n"
        + kmeans_ctes(
            k=nlist, n_iter=IVFPQ_ORACLE_N_ITER, prefix="g", src_vecs="ev"
        )
    ]
    parts.append(
        f""",
rv AS (
  SELECT a.vec_id,
         list_transform(generate_series(1, {dim}), i -> a.v[i] - c.c[i]) AS v,
         a.cid AS blk
  FROM gassign_final a JOIN gcents_final c ON c.cid = a.cid
)"""
    )
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(
            f",\ns{s}ev AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM rv)"
        )
    for s in range(m):
        parts.append(
            ",\n"
            + kmeans_ctes(
                k=ksub,
                n_iter=PQ_ORACLE_N_ITER,
                prefix=f"s{s}",
                src_vecs=f"s{s}ev",
            )
        )
    parts.append(
        ",\n"
        + _kmeans_assign_topn("gcents_final", "qprobe", nprobe, src_vecs="ev")
    )
    parts.append(
        f""",
qres AS (
  SELECT p.vec_id AS qid, p.cid AS blk,
         list_transform(generate_series(1, {dim}), i -> p.v[i] - c.c[i]) AS qr
  FROM qprobe p JOIN gcents_final c ON c.cid = p.cid
)"""
    )
    for s in range(m):
        off = s * dsub
        parts.append(
            f""",
lut{s} AS (
  SELECT q.qid, q.blk, b.cid AS code,
         list_reduce(list_transform(generate_series(1, {dsub}), i ->
           (q.qr[{off} + i] - b.c[i]) * (q.qr[{off} + i] - b.c[i])),
           (x,y) -> x + y) AS d
  FROM qres q CROSS JOIN s{s}cents_final b
)"""
        )
    code_cols = ", ".join(f"a{s}.cid AS c{s}" for s in range(m))
    code_joins = "".join(
        f" JOIN s{s}assign_final a{s} ON a{s}.vec_id = r.vec_id"
        for s in range(m)
    )
    adc_sum = "l0.d"
    lut_joins = (
        " JOIN lut0 l0 ON l0.qid = c.qid AND l0.blk = c.blk"
        " AND l0.code = c.c0"
    )
    for s in range(1, m):
        adc_sum = f"({adc_sum} + l{s}.d)"
        lut_joins += (
            f" JOIN lut{s} l{s} ON l{s}.qid = c.qid AND l{s}.blk = c.blk"
            f" AND l{s}.code = c.c{s}"
        )
    parts.append(
        f""",
codes AS (
  SELECT r.vec_id AS xid, r.blk, {code_cols}
  FROM rv r{code_joins}
),
qcells AS (SELECT DISTINCT qid, blk FROM qres),
pairs AS (
  SELECT q.qid, c.xid, c.blk, {', '.join(f'c.c{s}' for s in range(m))}
  FROM qcells q JOIN codes c ON c.blk = q.blk
  WHERE q.qid <> c.xid
),
adc AS (
  SELECT c.qid, c.xid, ROUND({adc_sum}, 6) AS adc_r
  FROM pairs c{lut_joins}
),
cand AS (
  SELECT qid, xid, adc_r FROM (
    SELECT qid, xid, adc_r,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_r, xid) AS rn
    FROM adc) t
  WHERE rn <= {rerank}
),
rescored AS (
  SELECT cand.qid, cand.xid,
         ROUND(
           list_reduce(list_transform(generate_series(1, len(q.v)),
             i -> q.v[i] * x.v[i]), (a,b) -> a + b)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(q.v)),
                i -> q.v[i] * q.v[i]), (a,b) -> a + b))
            * sqrt(list_reduce(list_transform(generate_series(1, len(x.v)),
                i -> x.v[i] * x.v[i]), (a,b) -> a + b))),
           6) AS cos_r,
         cand.adc_r
  FROM cand
  JOIN ev q ON q.vec_id = cand.qid
  JOIN ev x ON x.vec_id = cand.xid
)
SELECT qid AS vec_id, rank, xid AS neighbor_id, cos_r, adc_r FROM (
  SELECT qid, xid, cos_r, adc_r,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos_r DESC, xid) AS BIGINT) AS rank
  FROM rescored
) t WHERE rank <= {k}"""
    )
    return "".join(parts)


ORACLES["sim_knn_join_ivfpq"] = _ivfpq_knn_oracle()
# The served face is bit-equal to the fit-inclusive build (artifact
# save/load round-trips exactly; residual encode under loaded centroids
# is the same map) — property-pinned, so it shares the oracle.
ORACLES["sim_knn_join_ivfpq_served"] = ORACLES["sim_knn_join_ivfpq"]
