"""DuckDB oracle SQL: an independent replay of every registry face.

Each ``ORACLES`` entry is the SQL translation of one query in
harness/queries.py: the same fixture builder (harness/fixtures.py) and
the same engine operator, run by DuckDB over the same parquet tables. The
correctness gate and the parity tests compare the two answers value for
value after sorting columns by name, so column aliases match the
Spark-side selects verbatim and every float comes out of the same
operation order (DECIMAL-routed sums, left folds, floor-4 / round-6
quantization).

Sharing rule: every fixture CTE and every SQL kernel is written once, as a
fragment named after the fixture builder or engine operator it mirrors,
and each oracle is assembled from those fragments. A fixture or kernel
change is then one edit, and no oracle can drift from its siblings. The
only package import is the shared SQL hash of functions/hashing.py (the
Spark side builds the same expression); no oracle is built from engine
code.

Shared fragments and what they mirror:

- ``BASE_CTES``: ``fixtures.load_base`` / ``build_internal`` /
  ``build_external``.
- ``_ranked_match`` (``MATCH_CTES``), ``_match_pass``: the winners and
  losers of ``operators/match.py`` and the residuals of
  ``operators/residuals.py``.
- ``ZE_CTES``, ``ZE_CLEAN``: ``operators/zero_effect.py``.
- ``_tolerance_match``: ``operators/tolerance.py``.
- ``CASCADE_TAIL_CTES``, ``_bucket_summary``: the ``plans/pipeline.py``
  cascade and ``operators/summary.bucket_summary``.
- ``_EVENTS_HOURLY``: the hourly event rollup.
- ``_session_flags``: the gap rule of the event sessionization faces.
- ``DOCUMENTS_AUG``, ``_DROP_FIRST_WORD``: ``fixtures.build_documents_aug``.
- ``DOCUMENTS_FOOTERS``: ``fixtures.build_documents_footers``.
- ``MM_PAYLOAD_BASE``, ``_PAYLOAD_TAIL``: ``fixtures.build_mm_payload_aug``.
- ``EMBEDDINGS_AUG``, ``_zero_head``: ``fixtures.build_embeddings_aug``.
- ``_ingest_split``: ``fixtures._ingest_split`` (the exact, near-dup,
  payload and semantic ingest splits).
- ``QUERY_VEC``: ``fixtures.query_vector``.
- ``_ngram_list``, ``_shingles``: ``text.word_ngrams`` /
  ``dedup.shingle_sets``.
- ``_mh_band_ctes``: ``dedup._minhash_band_keys``.
- ``_floor4_jaccard``, ``_jaccard_verify``: ``dedup.jaccard_verify``.
- ``_minhash_pair_ctes`` (``MINHASH_PAIR_CTES``): ``dedup.minhash_near_dups``.
- ``CC_CTES``: ``dedup.dedup_clusters``.
- ``_quality_sql``: ``text.quality_score``.
- ``_lang_id_ctes``: ``text.language_id``.
- ``_split_case``: ``text.split_assignment``.
- ``_repetition_ctes``: ``text.repetition_signals``.
- ``_line_dedup_ctes``: ``text.line_dedup_corpus``.
- ``_bigram_lm_ctes``: ``text.bigram_lm_scores``.
- ``_isqrt_cte``, ``_MIX_COPIES``: ``text.mix_temperature``.
- ``_cms_cell``: ``text.cms_cells``.
- ``_KMV_ESTIMATE``: the KMV distinct-count estimate.
- ``_HIST_BIN``: ``operators/summary._hist_bin``.
- ``_DATACARD_CTES``: ``text.corpus_datacard``.
- ``_PACK_CTES``: ``text.pack_sequences``.
- ``_curation_oracle``: ``curation.curate_corpus`` / ``curate_corpus_v2``.
- ``_sqdist_sql``, ``kmeans_ctes``, ``_kmeans_assign_topn``:
  ``similarity.kmeans_fit`` / ``cluster_assign`` / ``probe_assignments``.
- ``_dot_sql``, ``_cos_sql``, ``_cos6_sql``: ``similarity.cosine`` and its
  6-dp rounding, pair form (``a.v``, ``b.v``) and query form (``v``, ``q``).
- ``_query_scored``, ``_topk_by_cos``, ``_knn_ranked``, ``_KNN3_SELECT``:
  the query scoring and the (cos_r DESC, id) rankings of
  ``similarity._exact_topk`` / ``_knn_rank``.
- ``MULTIPROBE_CTES``: ``similarity.probe_assignments`` over the
  multiprobe fit.
- ``_recall_ctes``: ``similarity.ann_recall_at_k``.
- ``_lsh_sig_sql``: ``similarity.lsh_signature_col``.
- ``_pq_books``, ``_ivf_residual_ctes``, ``_pq_codes``, ``_adc_sum``:
  ``similarity.pq_fit`` / ``ivf_residuals`` / ``pq_encode`` / ``_adc_r``.
- ``_payload_block_keys``, ``_block_sim``: ``multimodal.payload_block_keys``
  and the shared-block fraction of ``multimodal.payload_near_dups``.
- ``_novel_keepers``: ``ingest_kernel.digest_novel_keepers``.
- ``_greedy_mis``, ``_greedy_mis_round``: ``ingest_kernel.greedy_admit``.
- ``PII_CARD_STAGE_SQL``: the Luhn card stage of ``text.pii_scrub``.
"""

from __future__ import annotations

from mongo_polars_reconciliation_spark.functions.hashing import (
    POLY_P31B,
    poly_hash_mixed_sql,
)


def q(*cte_blocks: str, select: str, recursive: bool = False) -> str:
    """One oracle statement: the CTE blocks as one WITH list, then the
    final ``select``."""
    ctes = ",".join(b.strip().strip(",").strip() for b in cte_blocks)
    return ("WITH RECURSIVE " if recursive else "WITH ") + ctes + "\n" + select


# --- reconciliation ----------------------------------------------------

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

# The reconciliation keys with the A side aliased a and the B side b: all
# three for the exact pass, code and date for the tolerance and third
# passes.
_EXACT_KEYS = (
    "a.transaction_code = b.codigo AND a.amount = b.importe"
    " AND a.trx_date = b.fecha"
)
_CODE_DATE_KEYS = "a.transaction_code = b.codigo AND a.trx_date = b.fecha"


def _ranked_match(n: int, a_src: str, b_src: str, keys: str) -> str:
    """Every (A row, B candidate) pair on ``keys`` as ``j{n}``, ranked per
    A row by B row number: rn = 1 is the winner, the rest are losers."""
    return f"""j{n} AS (
  SELECT a._id, a.transaction_code, a.amount, a.trx_date,
         b.codigo, b.importe, b.fecha, b.row_num,
         ROW_NUMBER() OVER (PARTITION BY a._id ORDER BY b.row_num) AS rn
  FROM {a_src} a JOIN {b_src} b ON {keys}
)"""


def _match_pass(n: int, a_src: str, b_src: str, keys: str) -> str:
    """One cascade pass: the ranked match ``j{n}``, its winners ``m{n}``
    and both residuals — ``a_res{n}``, the A rows with no candidate, and
    ``b_res{n}``, the B rows with none plus the losers, which return to
    the pool."""
    return _ranked_match(n, a_src, b_src, keys) + f""",
m{n} AS (SELECT _id, amount FROM j{n} WHERE rn = 1),
losers{n} AS (SELECT codigo, importe, fecha, row_num FROM j{n} WHERE rn > 1),
a_res{n} AS (
  SELECT a.* FROM {a_src} a WHERE NOT EXISTS (SELECT 1 FROM {b_src} b
    WHERE {keys})
),
b_res{n} AS (
  SELECT b.codigo, b.importe, b.fecha, b.row_num FROM {b_src} b
  WHERE NOT EXISTS (SELECT 1 FROM {a_src} a WHERE {keys})
  UNION ALL
  SELECT codigo, importe, fecha, row_num FROM losers{n}
)"""


MATCH_CTES = _ranked_match(1, "a_tbl", "b_tbl", _EXACT_KEYS)

ZE_CTES = """
ze AS (
  SELECT s._id AS sale_id, v._id AS void_id, s.amount AS amount
  FROM (SELECT * FROM a_tbl WHERE transaction_type = 'SALE') s
  JOIN (SELECT * FROM a_tbl WHERE transaction_type = 'VOID') v
    ON s.ticket_code = v.sale_ticket_code AND s.amount = v.amount
)
"""

# the A side with both members of every zero-effect pair removed
ZE_CLEAN = """a1 AS (
  SELECT a.* FROM a_tbl a
  WHERE NOT EXISTS (SELECT 1 FROM ze WHERE ze.sale_id = a._id)
    AND NOT EXISTS (SELECT 1 FROM ze WHERE ze.void_id = a._id)
)"""


def _tolerance_match(a_src: str, b_src: str) -> str:
    """Per (code, date) A group, the B candidate on code and date nearest
    in amount within 1.0, ties to the lower B row number → ``tm`` with
    the absolute ``diff``."""
    return f"""tm AS (
  SELECT * FROM (
    SELECT a._id, a.transaction_code, a.amount, a.trx_date,
           b.codigo, b.importe, b.fecha, b.row_num,
           ABS(b.importe - a.amount) AS diff,
           ROW_NUMBER() OVER (PARTITION BY a.transaction_code, a.trx_date
                              ORDER BY ABS(b.importe - a.amount), b.row_num) AS trn
    FROM {a_src} a JOIN {b_src} b ON {_CODE_DATE_KEYS}
    WHERE ABS(b.importe - a.amount) <= 1.0
  ) t WHERE trn = 1
)"""


# The cascade: zero-effect → exact pass → tolerance pass. Follows
# BASE_CTES + ZE_CTES; exposes mt_all (matched) and a_nmt / b_nmt (the
# residuals after the tolerance pass).
CASCADE_TAIL_CTES = f"""{ZE_CLEAN},
{_match_pass(1, "a1", "b_tbl", _EXACT_KEYS)},
{_tolerance_match("a_res1", "b_res1")},
a_nmt AS (
  SELECT a.* FROM a_res1 a WHERE NOT EXISTS (SELECT 1 FROM tm
    WHERE tm.transaction_code = a.transaction_code AND tm.trx_date = a.trx_date)
),
b_nmt AS (
  SELECT b.* FROM b_res1 b WHERE NOT EXISTS (SELECT 1 FROM tm
    WHERE tm.codigo = b.codigo AND tm.importe = b.importe AND tm.fecha = b.fecha)
),
mt_all AS (SELECT _id, amount FROM m1 UNION ALL SELECT _id, amount FROM tm)"""

DEC_SUM = "COALESCE(CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE), 0.0)"


def _bucket_summary(mt: str, a_nmt: str, b_nmt: str) -> str:
    """Count and DECIMAL-routed amount sum per result bucket (the B
    residual carries no A amount)."""
    return f"""
SELECT 'a_to_b_mt' AS bucket, COUNT(*) AS n, {DEC_SUM} AS amount_sum FROM {mt}
UNION ALL
SELECT 'a_to_b_nmt', COUNT(*), {DEC_SUM} FROM {a_nmt}
UNION ALL
SELECT 'b_to_a_nmt', COUNT(*), 0.0 FROM {b_nmt}
UNION ALL
SELECT 'z_eff_a', COUNT(*), {DEC_SUM} FROM ze
"""


# --- events --------------------------------------------------------------

_EVENTS_HOURLY = """
SELECT CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour_bucket,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
"""

_USER_HASH = poly_hash_mixed_sql("user_id")

# The KMV distinct count over kth(hv), the k smallest distinct hashes:
# (k - 1) · P31 / (k-th smallest), beside the exact count.
_KMV_ESTIMATE = """est AS (SELECT MAX(hv) AS kth_min, COUNT(*) AS k_actual FROM kth),
exact AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events)
SELECT k_actual, kth_min, n_exact,
       CASE WHEN kth_min > 0
            THEN CAST(FLOOR((k_actual - 1) * 2147483647.0 / kth_min) AS BIGINT)
       END AS n_estimate
FROM est CROSS JOIN exact
"""


def _session_flags(gap_op: str) -> str:
    """Per user in (ts, event_id) order, ``flagged.is_new`` = 1 on the
    first event and after a gap ``gap_op`` 30 minutes."""
    return f"""e AS (
  SELECT event_id, user_id, epoch_ns(ts) AS tn FROM events
),
lagged AS (
  SELECT event_id, user_id, tn,
         LAG(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) AS prev_tn
  FROM e
),
flagged AS (
  SELECT event_id, user_id, tn,
         CASE WHEN prev_tn IS NULL OR tn - prev_tn {gap_op} 1800000000000
              THEN 1 ELSE 0 END AS is_new
  FROM lagged
)"""


# operators/summary._hist_bin: 1000 equal-width bins of t.v over the
# [lo, hi] of stats s
_HIST_BIN = """CASE WHEN s.hi = s.lo THEN 0
         ELSE LEAST(CAST(FLOOR((t.v - s.lo) / ((s.hi - s.lo) / 1000.0))
                    AS BIGINT), 999) END"""


# --- documents: fixtures and text kernels ----------------------------------

_DROP_FIRST_WORD = "substr(text, strpos(text, ' ') + 1)"

# fixtures.build_documents_aug: exact copies of the %10==7 docs (+100000)
# and first-word-dropped near-dups of the %10==3 docs (+200000)
DOCUMENTS_AUG = f"""docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 200000, {_DROP_FIRST_WORD}
  FROM documents WHERE doc_id % 10 = 3
)"""

# fixtures.build_documents_footers: a shared footer replacing (%97==0),
# appended (%5==0), appended with a second shared line (%5==1) or
# prepended (%5==2)
DOCUMENTS_FOOTERS = """docs_f AS (
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
)"""

_PAYLOAD_TAIL = "text || ' extra appended tail content for payload variant'"

# fixtures.build_mm_payload_aug: byte-exact copies of the %10==7 docs
# (+100000) and tail-appended variants of the %10==5 docs (+300000). The
# payloads are UTF-8 encodings of ASCII texts, so DuckDB's VARCHAR
# md5/substr mirror Spark's byte-level md5/substring exactly.
MM_PAYLOAD_BASE = f"""base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 300000,
         {_PAYLOAD_TAIL}
  FROM documents WHERE doc_id % 10 = 5
)"""

# the documents with NULL text read as ''
_DOCS_NONNULL = "docs0 AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents)"


def _ingest_split(
    src: str, id_col: str, val: str, redeliver_mod: int, *variants,
    hist: str = "hist",
) -> str:
    """fixtures._ingest_split over the (``id_col``, ``val``) columns of
    ``src``: ``{hist}`` is the id%3<2 slice; ``batch`` is the %3==2 slice,
    the exact re-deliveries of the %10==``redeliver_mod`` slice under
    +100000 ids and, for each ``(mod, offset, expr)`` variant, ``expr`` of
    the %10==mod slice under +offset ids."""
    arms = [
        f"SELECT {id_col}, {val} FROM {src} WHERE {id_col} % 3 = 2",
        f"SELECT {id_col} + 100000, {val} FROM {src}"
        f" WHERE {id_col} % 10 = {redeliver_mod}",
    ] + [
        f"SELECT {id_col} + {off}, {expr} FROM {src} WHERE {id_col} % 10 = {mod}"
        for mod, off, expr in variants
    ]
    union = "\n  UNION ALL\n  ".join(arms)
    return f"""{hist} AS MATERIALIZED (
  SELECT {id_col}, {val} FROM {src} WHERE {id_col} % 3 < 2
),
batch AS MATERIALIZED (
  {union}
)"""


def _novel_keepers(digest: str) -> str:
    """ingest_kernel.digest_novel_keepers over ``hist`` / ``batch``: per
    batch ``digest`` (an expression of text) the min-id keeper and the copy
    count, minus the digests the history holds → ``keep1n(h, doc_id,
    n_copies)``, and the keepers' rows ``kept(doc_id, text)``."""
    return f"""hist_dg AS MATERIALIZED (SELECT DISTINCT {digest} AS h FROM hist),
keep1 AS MATERIALIZED (
  SELECT {digest} AS h, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
  FROM batch GROUP BY {digest}
),
keep1n AS MATERIALIZED (
  SELECT k.h, k.doc_id, k.n_copies FROM keep1 k LEFT JOIN hist_dg s ON s.h = k.h
  WHERE s.h IS NULL
),
kept AS MATERIALIZED (
  SELECT b.doc_id, b.text FROM batch b JOIN keep1n k ON k.doc_id = b.doc_id
)"""


def _ngram_list(t: str, n: int) -> str:
    """text.word_ngrams: the space-joined word n-grams of token list ``t``,
    in order."""
    gram = " || ' ' || ".join(f"{t}[i+{j}]" if j else f"{t}[i]" for j in range(n))
    return f"list_transform(generate_series(1, len({t})-{n - 1}), i -> {gram})"


def _shingles(src: str, n: int, p: str = "", mat: str = "") -> str:
    """dedup.shingle_sets: the distinct word n-grams of each doc of ``src``
    (doc_id, text) as ``{p}sh(doc_id, shingle)``, over the token lists
    ``{p}toks(doc_id, t)``. ``mat`` is "" or " MATERIALIZED"."""
    return f"""{p}toks AS{mat} (SELECT doc_id, string_split(text, ' ') AS t FROM {src}),
{p}sh AS{mat} (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest({_ngram_list("t", n)}) AS shingle
    FROM {p}toks) u
  WHERE shingle IS NOT NULL
)"""


def _mh_band_ctes(src: str, p: str = "", mat: str = "") -> str:
    """dedup._minhash_band_keys over the 3-gram sets of ``src`` (doc_id,
    text), CTEs prefixed ``p``: the poly shingle id (h·31 + c) mod 8191,
    12 hashes ((2j+3)·sid + 5j+7) mod 8191, 4 bands of 3 joined with '_'.
    Exposes ``{p}sh(doc_id, shingle)``, ``{p}sizes(doc_id, sz)`` and
    ``{p}bandkeys(doc_id, band, bkey)``."""
    return _shingles(src, 3, p, mat) + f""",
{p}shid AS{mat} (
  SELECT doc_id,
         CASE WHEN length(shingle) = 0 THEN 0 ELSE
           list_reduce(list_transform(generate_series(1, length(shingle)),
                       i -> ord(substr(shingle, i, 1)) % 8191),
                       (h, c) -> (h*31 + c) % 8191) END AS sid
  FROM {p}sh
),
{p}hashes AS{mat} (
  SELECT doc_id, j, MIN(((2*j+3)*sid + 5*j+7) % 8191) AS mh
  FROM {p}shid CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS j) js
  GROUP BY doc_id, j
),
{p}bandkeys AS{mat} (
  SELECT doc_id, j // 3 AS band,
         STRING_AGG(CAST(mh AS VARCHAR), '_' ORDER BY j) AS bkey
  FROM {p}hashes GROUP BY doc_id, j // 3
),
{p}sizes AS{mat} (SELECT doc_id, COUNT(*) AS sz FROM {p}sh GROUP BY doc_id)"""


def _floor4_jaccard(n_int: str, sz_a: str, sz_b: str) -> str:
    """dedup.jaccard_verify: |A ∩ B| / |A ∪ B| from the intersection count
    and both set sizes, floored to 4 dp."""
    return (
        f"FLOOR(CAST({n_int} AS DOUBLE) / ({sz_a} + {sz_b} - {n_int})"
        " * 10000) / 10000"
    )


def _jaccard_verify(cand: str, a: str, b: str, pa: str = "", pb: str = "") -> str:
    """dedup.jaccard_verify: the floor-4 3-gram Jaccard ``jacc_r`` of each
    candidate pair (``a``, ``b``) of ``cand``, doc ``a`` read from the
    ``_mh_band_ctes`` prefixed ``pa`` and doc ``b`` from those prefixed
    ``pb``."""
    return f"""SELECT c.{a}, c.{b},
           {_floor4_jaccard("COUNT(*)", "sa.sz", "sb.sz")} AS jacc_r
    FROM {cand} c
    JOIN {pa}sh x ON x.doc_id = c.{a}
    JOIN {pb}sh y ON y.doc_id = c.{b} AND y.shingle = x.shingle
    JOIN {pa}sizes sa ON sa.doc_id = c.{a}
    JOIN {pb}sizes sb ON sb.doc_id = c.{b}
    GROUP BY c.{a}, c.{b}, sa.sz, sb.sz"""


def _minhash_pair_ctes(src: str) -> str:
    """dedup.minhash_near_dups over ``src`` (doc_id, text): band-collision
    candidates verified by exact 3-gram Jaccard >= 0.6 →
    ``mh_pairs(id_a, id_b, jacc_r)``."""
    return _mh_band_ctes(src) + f""",
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bandkeys l JOIN bandkeys r
    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
),
mh_pairs AS (
  SELECT id_a, id_b, jacc_r FROM (
    {_jaccard_verify("cand", "id_a", "id_b")}
  ) v WHERE jacc_r >= 0.6
)"""


MINHASH_PAIR_CTES = DOCUMENTS_AUG + ",\n" + _minhash_pair_ctes("docs_aug")

# dedup.dedup_clusters over mh_pairs: every docs_aug doc labelled with the
# min id reachable in the undirected pair graph → cl(doc_id, cluster_id).
# Needs WITH RECURSIVE.
CC_CTES = """edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs
  UNION
  SELECT id_b, id_a FROM mh_pairs
),
walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM docs_aug
  UNION
  SELECT e.src, w.lbl FROM walk w JOIN edges e ON e.dst = w.node
),
cl AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node)"""

# text.quality_score's stopword hits over column text
_STOPWORD_HITS = (
    "len(list_filter(string_split(text, ' '),"
    " t -> t IN ('the','a','of','and','is','to','in')))"
)


def _quality_sql(n_tok: str = "len(string_split(text, ' '))") -> str:
    """text.quality_score's quality_r of column ``text``: 0.4 · length
    + 0.3 · (1 − stopword ratio) + 0.3 · mean word length / 8, each term
    capped at 1, floored to 4 dp. ``n_tok`` is the whitespace token count
    (a column where the caller already has one)."""
    return f"""FLOOR((
           0.4 * LEAST(1.0, {n_tok} / 100.0)
           + 0.3 * (1.0 - CAST({_STOPWORD_HITS} AS DOUBLE) / {n_tok})
           + 0.3 * LEAST(1.0,
               ((length(text) - ({n_tok} - 1)) / CAST({n_tok} AS DOUBLE)) / 8.0)
           ) * 10000) / 10000"""


def _lang_id_ctes(src: str) -> str:
    """text.language_id over ``src`` (doc_id, text): per language the
    share of a doc's whitespace tokens in its stopword list; the top share
    wins, ties to the lower language code → ``lang_pick(doc_id,
    pred_lang, score)``."""
    return f"""swords(lang, tok) AS (VALUES
  ('en','the'),('en','a'),('en','of'),('en','and'),('en','is'),('en','to'),('en','in'),
  ('es','el'),('es','la'),('es','de'),('es','y'),('es','es'),('es','en'),('es','un'),
  ('fr','le'),('fr','la'),('fr','de'),('fr','et'),('fr','est'),('fr','en'),('fr','un'),
  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),('de','in'),('de','ein'),
  ('zh','de'),('zh','shi'),('zh','le'),('zh','zai'),('zh','he'),('zh','you'),('zh','wo')
),
langs AS (SELECT DISTINCT lang FROM swords),
toksl AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM {src}),
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
  SELECT doc_id, lang AS pred_lang, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
    FROM lscored
  ) t WHERE rn = 1
)"""


def _split_case(bucket: str) -> str:
    """text.split_assignment: hash buckets 0–79 train, 80–89 val, 90–99
    test."""
    return (
        f"CASE WHEN {bucket} < 80 THEN 'train' WHEN {bucket} < 90 THEN 'val'"
        " ELSE 'test' END"
    )


def _repetition_ctes(src: str, p: str = "") -> str:
    """text.repetition_signals over ``src`` (doc_id, text): the top token
    count and token total (``{p}top``), the duplicate-3-gram and
    consecutive-repeat fractions (``{p}arr``)."""
    return f"""{p}base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM {src}),
{p}tokr AS (SELECT doc_id, unnest(toks) AS tok FROM {p}base),
{p}top AS (
  SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_tok FROM (
    SELECT doc_id, tok, COUNT(*) AS c FROM {p}tokr GROUP BY doc_id, tok
  ) t GROUP BY doc_id
),
{p}arr AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           1.0 - CAST(len(list_distinct(g.grams)) AS DOUBLE) / len(g.grams)
         ELSE 0.0 END AS dup_3gram_frac,
         CASE WHEN len(toks) >= 2 THEN
           CAST(list_sum(list_transform(generate_series(1, len(toks)-1),
                i -> CASE WHEN toks[i] = toks[i+1] THEN 1 ELSE 0 END)) AS DOUBLE)
           / (len(toks) - 1)
         ELSE 0.0 END AS consec_rep_frac
  FROM {p}base,
       LATERAL (SELECT {_ngram_list("toks", 3)} AS grams) g
)"""


def _line_dedup_ctes(src: str, p: str = "") -> str:
    """text.line_dedup_corpus over ``src`` (doc_id, text): every distinct
    line kept at its first global occurrence — the lexicographic min of
    (doc_id, line number), taken in two aggregate phases (min doc, then
    min line within it) → ``{p}lines`` and ``{p}kept`` (doc_id, ln,
    line)."""
    return f"""{p}lines AS (
  SELECT doc_id, CAST(u.i - 1 AS INT) AS ln, l[u.i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM {src}) t,
       unnest(range(1, len(l) + 1)) AS u(i)
),
{p}f1 AS (SELECT line, MIN(doc_id) AS fdoc FROM {p}lines GROUP BY line),
{p}f2 AS (
  SELECT l.line, l.doc_id AS fdoc, MIN(l.ln) AS fln
  FROM {p}lines l JOIN {p}f1 ON {p}f1.line = l.line AND l.doc_id = {p}f1.fdoc
  GROUP BY l.line, l.doc_id
),
{p}kept AS (
  SELECT l.doc_id, l.ln, l.line
  FROM {p}lines l JOIN {p}f2
    ON {p}f2.line = l.line AND l.doc_id = {p}f2.fdoc AND l.ln = {p}f2.fln
)"""


# a doc's kept lines rebuilt in line order
_LINES_REBUILT = "string_agg(line, chr(10) ORDER BY ln)"


def _bigram_lm_ctes(src: str, p: str = "") -> str:
    """text.bigram_lm_scores over the docs of ``src`` (doc_id, text) with
    at least two tokens: bigram counts, integer conditional probabilities
    p_q = c(w1 w2) · 10^6 // c(w1), and each doc's mean p_q →
    ``{p}scores(doc_id, n_bigrams, lm_score_q)``."""
    return f"""{p}pairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (
    SELECT doc_id, string_split(text, ' ') AS t FROM {src}
    WHERE len(string_split(text, ' ')) >= 2
  ), unnest(range(1, len(t))) AS u(i)
),
{p}c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM {p}pairs GROUP BY w1, w2),
{p}c1 AS (SELECT w1, SUM(c2) AS c1 FROM {p}c2 GROUP BY w1),
{p}probs AS (
  SELECT {p}c2.w1, {p}c2.w2, ({p}c2.c2 * 1000000) // {p}c1.c1 AS p_q
  FROM {p}c2 JOIN {p}c1 USING (w1)
),
{p}scores AS (
  SELECT p.doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(pr.p_q) // COUNT(*) AS BIGINT) AS lm_score_q
  FROM {p}pairs p JOIN {p}probs pr ON pr.w1 = p.w1 AND pr.w2 = p.w2
  GROUP BY p.doc_id
)"""


def _isqrt_cte(
    name: str, src: str, cols: str, x: str, out: str, int_type: str
) -> str:
    """``{name}({cols}, {out})`` with ``out`` = isqrt(``x``) per row of
    ``src``: the float seed FLOOR(SQRT(x)) corrected by ±1, the exact
    integer square root of text.mix_temperature wherever the double seed
    errs by less than 1 (x < ~10^30, every gate scale)."""
    return f"""{name} AS (
  SELECT {cols},
         CASE WHEN (s1 + 1) * (s1 + 1) <= {x} THEN s1 + 1 ELSE s1 END AS {out}
  FROM (
    SELECT {cols}, {x},
           CASE WHEN s0 * s0 > {x} THEN s0 - 1 ELSE s0 END AS s1
    FROM (SELECT {cols}, {x},
                 CAST(FLOOR(SQRT(CAST({x} AS DOUBLE))) AS {int_type}) AS s0
          FROM {src}) t0) t1
)"""


# text.mix_temperature's copies over weights(lang, w_q): w_q // 10^4 whole
# epochs, plus one where the mixed doc hash mod 10^4 falls below the
# fractional part
_MIX_COPIES = f"""base AS (
  SELECT d.doc_id, d.lang, w.w_q,
         w.w_q // 10000
         + CASE WHEN {poly_hash_mixed_sql("d.doc_id")} % 10000 < w.w_q % 10000
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN weights w ON w.lang = d.lang
)"""
_MIX_SELECT = """
SELECT doc_id, lang, w_q,
       CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS epoch
FROM base WHERE n_copies > 0
"""

# the three count-min rows j = 0..2 (alias j)
_J3 = "(SELECT unnest(generate_series(0, 2)) AS j) j"


def _cms_cell(h1: str, h2: str) -> str:
    """text.cms_cells: row j's cell by double hashing, (h1 + j·h2) mod P31
    mod 64."""
    return f"(({h1} + j.j * {h2}) % 2147483647) % 64"


# text.corpus_datacard per (source, lang) over documents: doc and token
# totals, mean quality and nearest-rank p50/p90 token counts →
# gcard(source, lang, n_docs, total_ws_tokens, avg_quality_r, p50_tokens,
# p90_tokens)
_DATACARD_CTES = f"""scored AS (
  SELECT source, lang, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         {_quality_sql()} AS quality_r
  FROM documents
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
)"""

# the training-pack offsets (text.pack_sequences): each doc's token count
# and exclusive running token offset in doc_id order
_PACK_CTES = """t AS (
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
)"""


# --- embeddings: fixtures and vector kernels --------------------------------


def _zero_head(v: str) -> str:
    """The perturbation of fixtures.build_embeddings_aug and
    fixtures.semantic_ingest_split: DOUBLE[] ``v`` with its first 8 dims
    zeroed."""
    return (
        f"list_transform(generate_series(1, len({v})),"
        f" i -> CASE WHEN i <= 8 THEN 0.0 ELSE {v}[i] END)"
    )


# fixtures.build_embeddings_aug: the %10==1 vectors again (+100000, same
# label) with their first 8 dims zeroed → emb_aug(vec_id, label, v)
EMBEDDINGS_AUG = f"""emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
emb_aug AS (
  SELECT vec_id, label, v FROM emb
  UNION ALL
  SELECT vec_id + 100000, label, {_zero_head("v")}
  FROM emb WHERE vec_id % 10 = 1
)"""

EV = "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

# fixtures.query_vector: vector 0 as the query q
QUERY_VEC = (
    "qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)"
)


def _dot_sql(x: str, y: str) -> str:
    """Left-fold dot product of two DOUBLE[] expressions — bit-identical
    to Spark's aggregate() fold."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({x})), "
        f"i -> {x}[i]*{y}[i]), (x,y) -> x+y)"
    )


def _cos_sql(a: str, b: str) -> str:
    """similarity.cosine of two DOUBLE[] expressions, left-fold order."""
    return f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"


def _cos6_sql(a: str, b: str) -> str:
    """The cosine rounded to 6 dp: the cos_r of every similarity face."""
    return f"ROUND({_cos_sql(a, b)}, 6)"


def _sqdist_sql(x: str, y: str, n: str) -> str:
    """Left-fold squared distance over i = 1..``n`` of the element
    expressions ``x`` and ``y`` (both in terms of i)."""
    return (
        f"list_reduce(list_transform(generate_series(1, {n}), i -> "
        f"({x} - {y}) * ({x} - {y})), (x,y) -> x + y)"
    )


def _query_scored(src: str) -> str:
    """The cos_r of every vector of ``src`` (vec_id, v) to the query
    vector → scored(vec_id, cos_r)."""
    return f"""scored AS (
  SELECT vec_id, {_cos6_sql("v", "q")} AS cos_r
  FROM {src} CROSS JOIN qv
)"""


def _topk_by_cos(src: str, extra: str = "") -> str:
    """similarity._exact_topk's ranking: the top 10 of ``src`` (vec_id,
    cos_r{extra}) by (cos_r DESC, vec_id)."""
    return f"""
SELECT vec_id, rank, cos_r{extra} FROM (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank,
         cos_r{extra}
  FROM {src}
) r WHERE rank <= 10
"""


def _knn_ranked(src: str) -> str:
    """similarity._knn_rank: the rows of ``src`` (vec_id, neighbor_id,
    cos_r) with each vector's neighbor rank rn by (cos_r DESC,
    neighbor_id)."""
    return f"""SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_r DESC, neighbor_id) AS rn
    FROM {src}"""


# the k-NN graph faces: each vector's 3 best neighbors of scored
_KNN3_SELECT = f"""
SELECT vec_id, CAST(rn AS BIGINT) AS rank, neighbor_id, cos_r FROM (
  {_knn_ranked("scored")}
) t WHERE rn <= 3
"""


def _lsh_sig_sql(v: str) -> str:
    """similarity.lsh_signature_col: 8 random-hyperplane sign bits of
    ``v`` (LCG hyperplane entries, left-fold projections)."""
    return f"""list_reduce(list_transform(generate_series(0, 7), j ->
      CASE WHEN list_reduce(list_transform(generate_series(1, len({v})), i ->
          {v}[i] * (CAST((1103515245::BIGINT * (j*4096 + i - 1) + 12345) % 65536 AS DOUBLE)/65536 - 0.5)
        ), (x,y) -> x+y) >= 0
      THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END
    ), (x,y) -> x+y)"""


# SQL mirror of similarity.kmeans_fit: unrolled deterministic Lloyd over a
# CTE named `ev(vec_id, v DOUBLE[])`. Init = vectors of the k smallest ids;
# n_iter iterations; DECIMAL-routed per-dimension means; empty clusters keep
# the previous centroid (COALESCE). Final centroids in `cents_final(cid, c)`,
# final assignment of every vector in `assign_final(vec_id, v, cid)`.
_SQDIST = _sqdist_sql("e.v[i]", "c.c[i]", "len(e.v)")


def _kmeans_assign_topn(
    src_cents: str, name: str, n: int, src_vecs: str = "ev"
) -> str:
    """Each vector's ``n`` nearest centroids — (sqdist, cid) ascending, the
    same argmin-with-cid-tie-break as similarity.cluster_assign /
    probe_assignments; n=1 is the plain assignment. ``src_vecs`` assigns
    a frame other than the fit input (the semantic ingest oracle assigns
    both the history and the arriving batch under one fitted centroid
    set)."""
    return f"""
{name} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_SQDIST}, c.cid) AS rn
    FROM {src_vecs} e CROSS JOIN {src_cents} c) t
  WHERE rn <= {n}
)"""


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
# chain below is generated from the same values, so changing k or n_iter
# cannot diverge the two engines.
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
    (vec_id, v, cid). ``prefix``/``src_vecs`` let several independent
    fits coexist in one query — the PQ oracle runs one chain per subspace
    over sliced vectors."""
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

# The multi-probe queries fit more clusters with one Lloyd iteration:
# block sizes (and the blocked self-join's pair count) scale with n/nlist,
# and nlist=4 over the sf0.1 corpus produced ~1000-vector blocks → ~4M
# interpreted 64-dim dot products (measured 30 s at sf0.1; 9 s with
# nlist=32). nlist≈sqrt(n)·k-ish with a single refinement iteration is the
# standard IVF coarse-quantizer recipe — the quantizer only needs to block
# well, not converge. The harness queries and this CTE chain share the
# constants so the two engines cannot diverge.
MULTIPROBE_ORACLE_NLIST = 32
MULTIPROBE_ORACLE_N_ITER = 1
KMEANS_CTES_MULTIPROBE = kmeans_ctes(
    k=MULTIPROBE_ORACLE_NLIST, n_iter=MULTIPROBE_ORACLE_N_ITER
)
# similarity.probe_assignments: every vector's 2 nearest multiprobe cells
MULTIPROBE_CTES = (
    KMEANS_CTES_MULTIPROBE
    + ","
    + _kmeans_assign_topn("cents_final", "assign_probe", 2)
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

# IVF-PQ constants, shared by harness/queries.py:sim_topk_ivfpq and the
# oracle chain below. A small coarse quantizer (4 cells, 1 Lloyd round)
# keeps the 5-fit oracle chain tractable at the gate SFs; the PQ geometry
# is the PQ_ORACLE_* set, fitted on residuals. nprobe=2 probes half the
# cells — a real recall/read trade, not a degenerate full scan.
IVFPQ_ORACLE_NLIST = 4
IVFPQ_ORACLE_N_ITER = 1
IVFPQ_ORACLE_NPROBE = 2

# IVF-PQ k-NN graph constants: k=5 matches the other knn-join queries;
# rerank=20 exact-scored survivors per query.
IVFPQ_ORACLE_KJOIN = 5
IVFPQ_ORACLE_RERANK_JOIN = 20


def _pq_books(src: str, dim: int) -> str:
    """similarity.pq_fit over ``src`` (vec_id, v): one prefixed Lloyd chain
    per subspace over the sliced vectors ``s{s}ev`` — the fit's final
    assignment ``s{s}assign_final`` is the code, ``s{s}cents_final`` the
    book."""
    m, dsub = PQ_ORACLE_M, dim // PQ_ORACLE_M
    slices = [
        f"s{s}ev AS (SELECT vec_id, v[{s * dsub + 1}:{(s + 1) * dsub}] AS v FROM {src})"
        for s in range(m)
    ]
    fits = [
        kmeans_ctes(
            k=PQ_ORACLE_KSUB, n_iter=PQ_ORACLE_N_ITER, prefix=f"s{s}",
            src_vecs=f"s{s}ev",
        )
        for s in range(m)
    ]
    return ",\n".join(slices + fits)


def _ivf_residual_ctes(dim: int) -> str:
    """similarity.ivf_residuals: the coarse chain (prefix g) over ev and
    ``rv(vec_id, v, blk)``, each vector minus its cell's centroid."""
    coarse = kmeans_ctes(
        k=IVFPQ_ORACLE_NLIST, n_iter=IVFPQ_ORACLE_N_ITER, prefix="g",
        src_vecs="ev",
    )
    return coarse + f""",
rv AS (
  SELECT a.vec_id,
         list_transform(generate_series(1, {dim}), i -> a.v[i] - c.c[i]) AS v,
         a.cid AS blk
  FROM gassign_final a JOIN gcents_final c ON c.cid = a.cid
)"""


def _pq_codes(id_as: str = "") -> str:
    """similarity.pq_encode of the residuals: ``codes(vec_id{id_as}, blk,
    c0..c{m-1})``."""
    cols = ", ".join(f"a{s}.cid AS c{s}" for s in range(PQ_ORACLE_M))
    joins = "".join(
        f" JOIN s{s}assign_final a{s} ON a{s}.vec_id = r.vec_id"
        for s in range(PQ_ORACLE_M)
    )
    return f"""codes AS (
  SELECT r.vec_id{id_as}, r.blk, {cols}
  FROM rv r{joins}
)"""


def _adc_sum(t: str) -> str:
    """similarity._adc_r's fixed-order sum ((t0.d + t1.d) + t2.d) + … of
    the m subspace terms."""
    out = f"{t}0.d"
    for s in range(1, PQ_ORACLE_M):
        out = f"({out} + {t}{s}.d)"
    return out


# --- payloads and greedy admission --------------------------------------------


def _payload_block_keys(src: str, name: str) -> str:
    """multimodal.payload_block_keys over ``src`` (doc_id, text): the md5 of
    every 64-byte block, its position and the payload's block count."""
    return f"""{name} AS MATERIALIZED (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS block_no,
         md5(substr(text, (i - 1) * 64 + 1, 64)) AS block_hash,
         CAST(ceil(length(text) / 64) AS BIGINT) AS n_blocks
  FROM {src}, unnest(generate_series(1,
       CAST(ceil(length(text) / 64) AS INT))) AS u(i)
  WHERE length(text) > 0
)"""


def _block_sim(a: str, b: str) -> str:
    """The shared-block fraction of a grouped block-key join of ``a`` and
    ``b``, floored to 4 dp."""
    return (
        f"FLOOR(CAST(COUNT(*) AS DOUBLE) / GREATEST({a}.n_blocks, {b}.n_blocks)"
        " * 10000) / 10000"
    )


def _greedy_mis_round(prev: str, cur: str) -> str:
    """One unrolled round of the sequential-arrival greedy admission
    (extensions/ingest_kernel.py:greedy_admit): statuses are final once
    decided; a node is Rejected when an Admitted lower near-dup neighbor
    exists, Admitted when every lower neighbor is Rejected (vacuously true
    for none), else still Undecided."""
    return f"""{cur} AS MATERIALIZED (
  SELECT p.node, CASE
    WHEN p.st <> 'U' THEN p.st
    WHEN EXISTS (SELECT 1 FROM mis_edges e JOIN {prev} q ON q.node = e.lo
                 WHERE e.hi = p.node AND q.st = 'A') THEN 'R'
    WHEN NOT EXISTS (SELECT 1 FROM mis_edges e JOIN {prev} q ON q.node = e.lo
                     WHERE e.hi = p.node AND q.st <> 'R') THEN 'A'
    ELSE 'U' END AS st
  FROM {prev} p)"""


def _greedy_mis(id_col: str, n_rounds: int = 8) -> str:
    """ingest_kernel.greedy_admit over the near-dup graph
    ``mis_edges(lo, hi)`` of the candidates ``kept2(id_col)``: every edge
    endpoint starts Undecided, ``n_rounds`` unrolled rounds (the queries
    pin mis_max_iter to the same count, so a graph needing more fails
    loudly on the Spark side), then ``admitted(id_col)`` = the candidates
    outside the graph plus the Admitted nodes."""
    rounds = ",\n".join(
        _greedy_mis_round(f"s{i}", f"s{i + 1}") for i in range(n_rounds)
    )
    return f"""mis_nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT lo AS node FROM mis_edges UNION ALL SELECT hi FROM mis_edges) u
),
s0 AS MATERIALIZED (SELECT node, 'U' AS st FROM mis_nodes),
{rounds},
admitted AS (
  SELECT k.{id_col} FROM kept2 k
  WHERE k.{id_col} NOT IN (SELECT node FROM mis_nodes)
  UNION ALL
  SELECT node AS {id_col} FROM s{n_rounds} WHERE st = 'A'
)"""


# --- the oracles ----------------------------------------------------------------

ORACLES: dict[str, str] = {
    "recon_match_exact": q(
        BASE_CTES, MATCH_CTES,
        select="SELECT _id, row_num, amount, trx_date FROM j1 WHERE rn = 1",
    ),
    "recon_duplicate_losers": q(
        BASE_CTES, MATCH_CTES,
        select="SELECT row_num, codigo, importe FROM j1 WHERE rn > 1",
    ),
    "recon_amount_quantiles": q(
        BASE_CTES,
        """r AS (
  SELECT transaction_type, amount,
         ROW_NUMBER() OVER (PARTITION BY transaction_type ORDER BY amount) AS rn,
         COUNT(*) OVER (PARTITION BY transaction_type) AS n
  FROM a_tbl
)""",
        select="""
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
        BASE_CTES, _match_pass(1, "a_tbl", "b_tbl", _EXACT_KEYS),
        select=f"""
SELECT 'exec-0001' AS execution_id,
       'on_demand' AS execution_type,
       '2024-01-01' AS execution_date,
       'processor-a' AS processor_name,
       'MXN' AS conciliation_currency,
       (SELECT COUNT(_id) FROM m1) AS conciliated_transactions_number,
       (SELECT COUNT(_id) FROM a_res1) AS remanent_transactions_number,
       (SELECT {DEC_SUM} FROM m1) AS conciliated_amount,
       (SELECT {DEC_SUM} FROM a_res1) AS remanent_amount
""",
    ),
    "recon_residual_internal": q(
        BASE_CTES,
        select=f"""
SELECT a._id, a.transaction_code, a.amount FROM a_tbl a
WHERE NOT EXISTS (SELECT 1 FROM b_tbl b WHERE {_EXACT_KEYS})
""",
    ),
    "recon_residual_external": q(
        BASE_CTES,
        select=f"""
SELECT b.row_num, b.codigo, b.importe FROM b_tbl b
WHERE NOT EXISTS (SELECT 1 FROM a_tbl a WHERE {_EXACT_KEYS})
""",
    ),
    "recon_zero_effect_pairs": q(
        BASE_CTES, ZE_CTES,
        select="SELECT sale_id, void_id FROM ze",
    ),
    "recon_zero_effect_clean": q(
        BASE_CTES, ZE_CTES, ZE_CLEAN, select="SELECT _id FROM a1"
    ),
    "recon_tolerance_match": q(
        BASE_CTES, _tolerance_match("a_tbl", "b_tbl"),
        select="SELECT _id, row_num, ROUND(diff, 2) AS diff FROM tm",
    ),
    "recon_cascade_summary": q(
        BASE_CTES, ZE_CTES, CASCADE_TAIL_CTES,
        select=_bucket_summary("mt_all", "a_nmt", "b_nmt"),
    ),
    # The roundtrip query's values are what the cascade produces — the disk
    # roundtrip (stage → time-partitioned move → re-read, and the summary
    # doc re-read) must be value-preserving, which is exactly what this
    # mirror checks. doc_* rows repeat mt_all/a_nmt by construction: the
    # doc is computed from the re-read buckets, so agreement here proves
    # the doc write→read also preserved them.
    "recon_persist_roundtrip": q(
        BASE_CTES, ZE_CTES, CASCADE_TAIL_CTES,
        select=f"""
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
        select=f"""
SELECT row_num, codigo, importe FROM (
  SELECT b.codigo, b.importe, b.row_num,
         ROW_NUMBER() OVER (PARTITION BY a._id ORDER BY b.row_num) AS rn,
         COUNT(*) OVER (PARTITION BY a._id) AS cnt
  FROM a_tbl a JOIN b_tbl b ON {_EXACT_KEYS}
) t WHERE cnt > 1 AND rn = cnt
""",
    ),
    "recon_state_merge_upsert": q(
        BASE_CTES,
        """target AS (SELECT _id, 'OLD' AS status FROM a_tbl WHERE k % 4 = 0),
source AS (SELECT _id, 'NEW' AS status FROM a_tbl WHERE k % 3 = 0)""",
        select="""
SELECT t._id, t.status FROM target t
WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s._id = t._id)
UNION ALL
SELECT _id, status FROM source
""",
    ),
    "recon_match_on_names": q(
        BASE_CTES,
        select=f"""
SELECT a._id, b.row_num, a.amount,
       'CONCILIATED' AS conciliation_status,
       'transaction_code,amount,trx_date' AS key_code
FROM a_tbl a JOIN b_tbl b ON {_EXACT_KEYS}
""",
    ),
    # the cascade plus a third pass on code and date over its residuals
    "recon_cascade_three_pass": q(
        BASE_CTES, ZE_CTES, CASCADE_TAIL_CTES,
        _match_pass(3, "a_nmt", "b_nmt", _CODE_DATE_KEYS),
        "mt3 AS (SELECT _id, amount FROM mt_all UNION ALL SELECT _id, amount FROM m3)",
        select=_bucket_summary("mt3", "a_res3", "b_res3"),
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
        """target AS (SELECT _id, 'OLD' AS status FROM a_tbl WHERE k % 4 = 0),
source AS (SELECT _id, 'PENDING' AS status FROM a_tbl)""",
        select="""
SELECT _id, status FROM target
UNION ALL
SELECT s._id, s.status FROM source s
WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t._id = s._id)
""",
    ),
    "recon_remanent_lookup": q(
        BASE_CTES,
        """state AS (
  SELECT CAST(k AS VARCHAR) AS _id,
         CASE WHEN k % 5 = 2 THEN 'REMANENT' ELSE 'CONCILIATED' END AS conciliation_status
  FROM base
)""",
        select="""
SELECT a._id, a.amount FROM a_tbl a
JOIN state s ON a._id = s._id AND s.conciliation_status = 'REMANENT'
""",
    ),
    "recon_union_remanent_dedup": q(
        BASE_CTES,
        """w AS (SELECT _id, 'W' AS src, 0 AS rank_src FROM a_tbl WHERE k < 700),
r AS (SELECT _id, 'R' AS src, 1 AS rank_src FROM a_tbl WHERE k % 5 = 2),
u AS (SELECT * FROM w UNION ALL SELECT * FROM r)""",
        select="""
SELECT _id, src FROM (
  SELECT _id, src, ROW_NUMBER() OVER (PARTITION BY _id ORDER BY rank_src) AS rn FROM u
) t WHERE rn = 1
""",
    ),
    # foreachBatch incremental reconciliation converges to the batch matched
    # set: an A row matches iff ANY B candidate exists, whichever micro-batch
    # carried it (which candidate won arbitration may differ — not exposed)
    "stream_incremental_match": q(
        BASE_CTES,
        select=f"""
SELECT a._id FROM a_tbl a
WHERE EXISTS (SELECT 1 FROM b_tbl b WHERE {_EXACT_KEYS})
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
    "events_user_kmv": f"""
WITH hv AS (
  SELECT DISTINCT {_USER_HASH} AS hv
  FROM events
  WHERE {_USER_HASH} IS NOT NULL
),
kth AS (SELECT hv FROM hv ORDER BY hv LIMIT 64),
{_KMV_ESTIMATE}""",
    # per-type sketches of the 64 smallest hashes, merged
    "events_kmv_merge": f"""
WITH hv AS (
  SELECT DISTINCT event_type, {_USER_HASH} AS hv
  FROM events
  WHERE {_USER_HASH} IS NOT NULL
),
sk AS (
  SELECT hv, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM hv
),
mg AS (SELECT DISTINCT hv FROM sk WHERE rn <= 64),
kth AS (SELECT hv FROM mg ORDER BY hv LIMIT 64),
{_KMV_ESTIMATE}""",
    "events_daily_rollup2": f"""
WITH hourly AS ({_EVENTS_HOURLY})
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
    "events_hourly": _EVENTS_HOURLY,
    "events_sessionize": q(
        _session_flags(">"),
        select="""
SELECT event_id, user_id,
       CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tn, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
FROM flagged
""",
    ),
    # streaming skins: a drained bounded stream must equal the batch answer
    "stream_dedup": """
SELECT event_id, user_id, event_type, value FROM events
""",
    # >= on the gap: session_window starts a new session when the gap equals
    # the threshold (windows must overlap to merge), unlike the batch
    # sessionize's strict > rule
    "stream_sessionize_agg": q(
        _session_flags(">="),
        """sess AS (
  SELECT user_id, tn,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY tn, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)""",
        select="""
SELECT user_id, MIN(tn) // 1000 AS session_start_us, COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
    ),
    "stream_user_seq": """
SELECT event_id, user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
            AS BIGINT) AS seq_in_user
FROM events
""",
    "dedup_exact": q(
        DOCUMENTS_AUG,
        select="""
SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM docs_aug GROUP BY 1
""",
    ),
    "dedup_minhash_lsh": q(
        MINHASH_PAIR_CTES, select="SELECT id_a, id_b, jacc_r FROM mh_pairs"
    ),
    "dedup_clusters": q(
        MINHASH_PAIR_CTES, CC_CTES,
        select="SELECT doc_id, cluster_id FROM cl",
        recursive=True,
    ),
    # Quality-keeper arbitration: the CC fixpoint above + the quality score
    # + an argmax window per cluster. The Spark side computes the argmax as
    # a partial-aggregable struct-max; the (quality DESC, id ASC) window
    # here is the same total order.
    "dedup_clusters_quality": q(
        MINHASH_PAIR_CTES, CC_CTES,
        f"""q AS (
  SELECT doc_id, {_quality_sql()} AS quality_r
  FROM (SELECT doc_id, COALESCE(text, '') AS text FROM docs_aug) d0
),
ranked AS (
  SELECT cl.cluster_id, cl.doc_id, q.quality_r,
         ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                            ORDER BY q.quality_r DESC, cl.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_members
  FROM cl JOIN q USING (doc_id)
)""",
        select="""
SELECT cluster_id, doc_id AS keeper_id, quality_r AS keeper_quality_r,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
""",
        recursive=True,
    ),
    "dedup_simhash": q(
        DOCUMENTS_AUG,
        """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs_aug),
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
)""",
        select="""
SELECT id_a, id_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= 3
""",
    ),
    # exact 3-gram Jaccard over the shingles in at most 50 docs
    "dedup_ngram_jaccard": q(
        DOCUMENTS_AUG, _shingles("docs_aug", 3),
        """dfc AS (SELECT shingle, COUNT(*) AS df_ FROM sh GROUP BY shingle),
capped AS (
  SELECT s.doc_id, s.shingle FROM sh s JOIN dfc USING (shingle) WHERE df_ <= 50
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_int
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)""",
        select=f"""
SELECT id_a, id_b, jacc_r FROM (
  SELECT i.id_a, i.id_b,
         {_floor4_jaccard("i.n_int", "sa.sz", "sb.sz")} AS jacc_r
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
) v WHERE jacc_r >= 0.5
""",
    ),
    "dedup_embedding_cosine": q(
        EMBEDDINGS_AUG,
        select=f"""
SELECT id_a, id_b, cos_r FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos6_sql("a.v", "b.v")} AS cos_r
  FROM emb_aug a JOIN emb_aug b ON a.label = b.label AND a.vec_id < b.vec_id
) p WHERE cos_r >= 0.8
""",
    ),
    "sim_topk_bruteforce": q(
        QUERY_VEC, EV, _query_scored("ev"), select=_topk_by_cos("scored")
    ),
    # signatures within Hamming distance 1 of the query's
    "sim_topk_lsh": q(
        QUERY_VEC, EV,
        f"""sigs AS (SELECT vec_id, v, {_lsh_sig_sql("v")} AS sig FROM ev),
qsig AS (SELECT {_lsh_sig_sql("q")} AS qs FROM qv),
probed AS (
  SELECT s.vec_id, s.v FROM sigs s CROSS JOIN qsig WHERE bit_count(xor(s.sig, qsig.qs)) <= 1
)""",
        _query_scored("probed"),
        select=_topk_by_cos("scored"),
    ),
    # label centroids, the 2 nearest to the query probed
    "sim_topk_ivf": q(
        QUERY_VEC,
        """ev AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
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
pruned AS (SELECT e.vec_id, e.v FROM ev e JOIN probe USING (label))""",
        _query_scored("pruned"),
        select=_topk_by_cos("scored"),
    ),
    # fitted centroids, the 2 nearest to the query probed (a zero-norm
    # centroid scores -inf)
    "sim_topk_ivf_fitted": q(
        QUERY_VEC, EV, KMEANS_CTES,
        f"""cscore AS (
  SELECT c.cid,
         CASE WHEN {_dot_sql("c.c", "c.c")} = 0 OR {_dot_sql("q", "q")} = 0
         THEN CAST('-infinity' AS DOUBLE)
         ELSE {_cos_sql("c.c", "q")}
         END AS c_cos
  FROM cents_final c CROSS JOIN qv
),
probe AS (
  SELECT cid FROM (
    SELECT cid, ROW_NUMBER() OVER (ORDER BY c_cos DESC, cid) AS rn FROM cscore
  ) t WHERE rn <= 2
),
pruned AS (SELECT a.vec_id, a.v FROM assign_final a JOIN probe USING (cid))""",
        _query_scored("pruned"),
        select=_topk_by_cos("scored"),
    ),
    "dedup_embedding_cosine_fitted": q(
        EMBEDDINGS_AUG, "ev AS (SELECT vec_id, v FROM emb_aug)", KMEANS_CTES,
        select=f"""
SELECT id_a, id_b, cos_r FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos6_sql("a.v", "b.v")} AS cos_r
  FROM assign_final a JOIN assign_final b ON a.cid = b.cid AND a.vec_id < b.vec_id
) p WHERE cos_r >= 0.8
""",
    ),
    "text_lang_id": q(
        _lang_id_ctes("documents"),
        select="""
SELECT doc_id, pred_lang, FLOOR(score * 10000) / 10000 AS score_r FROM lang_pick
""",
    ),
    "text_lang_confusion": q(
        _lang_id_ctes("documents"),
        select="""
SELECT d.lang AS gold_lang, p.pred_lang, COUNT(*) AS n
FROM documents d JOIN lang_pick p USING (doc_id)
GROUP BY d.lang, p.pred_lang
""",
    ),
    "text_quality": f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       FLOOR(CAST({_STOPWORD_HITS} AS DOUBLE)
             / len(string_split(text, ' ')) * 10000) / 10000 AS stopword_ratio_r,
       {_quality_sql()} AS quality_r
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
    "text_ngram_freq": f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT doc_id, unnest({_ngram_list("t", 2)}) AS ngram FROM toks)
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
    "text_split_assign": f"""
WITH h AS (
  SELECT doc_id, {poly_hash_mixed_sql("doc_id")} % 100 AS bucket
  FROM documents
)
SELECT doc_id, bucket, {_split_case("bucket")} AS split
FROM h
""",
    "sim_semantic_dedup": q(
        EMBEDDINGS_AUG,
        f"""dropped AS (
  SELECT DISTINCT a.vec_id FROM emb_aug a
  JOIN emb_aug b ON a.label = b.label AND b.vec_id < a.vec_id
  WHERE {_cos6_sql("a.v", "b.v")} >= 0.9
)""",
        select="""
SELECT vec_id, label FROM emb_aug
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
""",
    ),
    "sim_knn_join": q(
        """ev AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)""",
        f"""scored AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id, {_cos6_sql("a.v", "b.v")} AS cos_r
  FROM ev a JOIN ev b ON a.label = b.label AND a.vec_id <> b.vec_id
)""",
        select=_KNN3_SELECT,
    ),
    "sim_knn_join_multiprobe": q(
        EV, MULTIPROBE_CTES,
        f"""scored AS (
  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id, {_cos6_sql("a.v", "b.v")} AS cos_r
  FROM assign_probe a JOIN assign_probe b ON a.cid = b.cid AND a.vec_id <> b.vec_id
)""",
        select=_KNN3_SELECT,
    ),
    "sim_semantic_dedup_fitted": q(
        EMBEDDINGS_AUG, "ev AS (SELECT vec_id, v FROM emb_aug)", MULTIPROBE_CTES,
        f"""dropped AS (
  SELECT DISTINCT a.vec_id FROM assign_probe a
  JOIN assign_probe b ON a.cid = b.cid AND b.vec_id < a.vec_id
  WHERE {_cos6_sql("a.v", "b.v")} >= 0.9
)""",
        select="""
SELECT vec_id FROM emb_aug
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
""",
    ),
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
    "text_datacard": q(_DATACARD_CTES, select="SELECT * FROM gcard"),
    # Mergeable datacard audit: the merged side replays the per-split state
    # fold (histogram + DECIMAL quality sums per split, summed, then
    # cumulative-count nearest-rank quantiles); the global side is the
    # text_datacard card. FULL OUTER join so a group present on only one
    # side surfaces as NULLs instead of vanishing.
    "text_datacard_merge": q(
        _DATACARD_CTES,
        *[
            f"""state{i} AS (
  SELECT source, lang, ws_tokens, COUNT(*) AS c,
         SUM(CAST(quality_r AS DECIMAL(18,4))) AS q_sum
  FROM scored WHERE doc_id % 2 = {i} GROUP BY source, lang, ws_tokens
)"""
            for i in range(2)
        ],
        """folded AS (
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
)""",
        select="""
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
    ),
    # en 2.5 epochs (base 2, extra iff hv < 5000), es 1.25 (base 1, < 2500),
    # default 0.5 (base 0, < 5000) — mirrors extensions/text.py:mix_epochs
    "text_mix_epochs": f"""
WITH h AS (
  SELECT doc_id, lang, {poly_hash_mixed_sql("doc_id")} % 10000 AS hv FROM documents
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
    # Temperature mixing at alpha=1/2: weights derived from corpus shares
    # in pure integers — q = (n_max*10^8) DIV n, w_q = isqrt(q), base
    # copies w_q DIV 10^4, fractional copy from the shared mixed hash.
    "text_mix_temperature": q(
        """counts AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
),
qw AS (SELECT lang, (MAX(n) OVER () * 100000000) // n AS q FROM counts)""",
        _isqrt_cte("weights", "qw", "lang", "q", "w_q", "BIGINT"),
        _MIX_COPIES,
        select=_MIX_SELECT,
    ),
    "text_dup_spans": q(
        DOCUMENTS_AUG, _shingles("docs_aug", 8),
        "dfq AS (SELECT shingle, COUNT(*) AS dfr FROM sh GROUP BY 1)",
        select="""
SELECT s.doc_id,
       COUNT(*) AS n_windows,
       COUNT(CASE WHEN d.dfr >= 2 THEN 1 END) AS n_dup_windows,
       FLOOR(COUNT(CASE WHEN d.dfr >= 2 THEN 1 END)
             / CAST(COUNT(*) AS DOUBLE) * 10000) / 10000 AS dup_span_frac_r
FROM sh s JOIN dfq d USING (shingle)
GROUP BY s.doc_id
""",
    ),
    "text_dup_spans_trim": q(
        DOCUMENTS_AUG,
        """toks0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs_aug),
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
totals AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks0)""",
        select="""
SELECT tt.doc_id, tt.n_tokens,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       FLOOR(COALESCE(k.n_kept, 0) / CAST(tt.n_tokens AS DOUBLE) * 10000)
         / 10000 AS kept_frac_r,
       COALESCE(k.trimmed_md5, md5('')) AS trimmed_md5
FROM totals tt LEFT JOIN kept_agg k USING (doc_id)
""",
    ),
    # max cosine of every vector to the benchmark (%10==1) vectors, itself
    # excluded
    "sim_contamination": q(
        EMBEDDINGS_AUG,
        f"""bench AS (SELECT vec_id AS bid, v AS bv FROM emb WHERE vec_id % 10 = 1),
scored AS (
  SELECT e.vec_id, {_cos_sql("e.v", "b.bv")} AS c
  FROM emb_aug e LEFT JOIN bench b ON e.vec_id <> b.bid
)""",
        select="""
SELECT vec_id, ROUND(MAX(c), 6) AS max_cos_r,
       COALESCE(ROUND(MAX(c), 6) >= 0.9, FALSE) AS contaminated
FROM scored GROUP BY vec_id
""",
    ),
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
    "text_pack_sequences": q(
        _PACK_CTES,
        select="""
SELECT doc_id, n_tokens, start_offset,
       CAST(start_offset // 512 AS BIGINT) AS batch_id
FROM p
""",
    ),
    # Training-shard writer round trip: the pack offsets plus the
    # round-robin shard assignment and the text digest — the Spark side
    # returns these from the re-read shard files, so equality checks the
    # write->read path. Texts are ASCII, so DuckDB's VARCHAR md5 mirrors
    # Spark's binary md5 byte-for-byte.
    "text_pack_shards_roundtrip": q(
        _PACK_CTES,
        select="""
SELECT doc_id, n_tokens, start_offset,
       CAST(start_offset // 512 AS BIGINT) AS batch_id,
       CAST((start_offset // 512) % 8 AS INT) AS shard,
       md5(text) AS text_md5
FROM p
""",
    ),
    "events_salted_agg": """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events GROUP BY 1
""",
    "events_hist_quantiles": f"""
WITH vals AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM vals
),
binned AS (
  SELECT {_HIST_BIN} AS bin,
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
    "text_sample_stratified": f"""
WITH h AS (
  SELECT doc_id, lang, {poly_hash_mixed_sql("doc_id")} % 10000 AS hb
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
    # the 5-grams of the %10==7 docs as the benchmark
    "text_contamination": q(
        _shingles("documents", 5),
        """bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 7),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh GROUP BY doc_id),
hits AS (
  SELECT g.doc_id, COUNT(*) AS hit_ngrams
  FROM sh g JOIN bench b USING (shingle) GROUP BY g.doc_id
)""",
        select="""
SELECT h.doc_id, h.hit_ngrams, t.n_grams,
       FLOOR(CAST(h.hit_ngrams AS DOUBLE) / t.n_grams * 10000) / 10000 AS contam_frac_r
FROM hits h JOIN totals t USING (doc_id)
""",
    ),
    "text_repetition": q(
        _repetition_ctes("documents"),
        """j AS (SELECT t.doc_id, t.top_c, t.n_tok, a.dup_3gram_frac, a.consec_rep_frac
      FROM top t JOIN arr a USING (doc_id))""",
        select="""
SELECT doc_id,
       FLOOR(CAST(top_c AS DOUBLE) / n_tok * 10000) / 10000 AS top_tok_share_r,
       FLOOR(dup_3gram_frac * 10000) / 10000 AS dup_3gram_frac_r,
       FLOOR(consec_rep_frac * 10000) / 10000 AS consec_rep_frac_r,
       (CAST(top_c AS DOUBLE) / n_tok > 0.2 OR dup_3gram_frac > 0.3) AS flag_repetitive
FROM j
""",
    ),
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
    # count-min estimates of the 20 most frequent tokens
    "text_heavy_hitters_cms": f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
hv AS (
  SELECT tok, {poly_hash_mixed_sql("tok")} AS h1,
         {poly_hash_mixed_sql("tok", POLY_P31B)} AS h2
  FROM tok
),
buckets AS (
  SELECT j.j, {_cms_cell("h.h1", "h.h2")} AS b
  FROM hv h CROSS JOIN {_J3}
),
counters AS (SELECT j, b, COUNT(*) AS cnt FROM buckets GROUP BY j, b),
exact AS (SELECT tok, COUNT(*) AS n_exact FROM tok GROUP BY tok),
topk AS (SELECT tok, n_exact FROM exact ORDER BY n_exact DESC, tok LIMIT 20),
probes AS (
  SELECT t.tok, t.n_exact, j.j,
         {_cms_cell(f"({poly_hash_mixed_sql('t.tok')})",
                    f"({poly_hash_mixed_sql('t.tok', POLY_P31B)})")} AS b
  FROM topk t CROSS JOIN {_J3}
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
    "events_hist_merge": f"""
WITH vals AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
),
stats AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM vals),
binned AS (
  SELECT t.g,
         {_HIST_BIN} AS bin
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
    # A 3-probe Bloom filter of the %10==7 docs' 5-grams over 4096 bits;
    # a 5-gram is flagged when all 3 of its positions are set.
    "text_bloom_decontaminate": q(
        _shingles("documents", 5),
        f"""hs AS (
  SELECT doc_id, shingle, {poly_hash_mixed_sql("shingle")} AS h1,
         {poly_hash_mixed_sql("shingle", POLY_P31B)} AS h2
  FROM sh
),
bench_pos AS (
  SELECT DISTINCT (h1 + j.j * h2) % 4096 AS p
  FROM hs CROSS JOIN {_J3}
  WHERE doc_id % 10 = 7
),
gpos AS (
  SELECT doc_id, h1, h2, j.j, (h1 + j.j * h2) % 4096 AS p
  FROM hs CROSS JOIN {_J3}
),
flagged AS (
  SELECT doc_id, h1, h2
  FROM gpos g JOIN bench_pos b USING (p)
  GROUP BY doc_id, h1, h2
  HAVING COUNT(DISTINCT j) = 3
),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh GROUP BY 1),
fc AS (SELECT doc_id, COUNT(*) AS n_flagged FROM flagged GROUP BY 1)""",
        select="""
SELECT t.doc_id, t.n_grams, f.n_flagged,
       FLOOR(f.n_flagged / CAST(t.n_grams AS DOUBLE) * 10000) / 10000
         AS flagged_frac_r
FROM totals t JOIN fc f USING (doc_id)
""",
    ),
    "text_ngram_novelty": q(
        DOCUMENTS_AUG, _shingles("docs_aug", 3),
        "firsts AS (SELECT shingle, MIN(doc_id) AS first_id FROM sh GROUP BY 1)",
        select="""
SELECT s.doc_id,
       COUNT(*) AS n_grams,
       COUNT(CASE WHEN f.first_id = s.doc_id THEN 1 END) AS n_novel,
       FLOOR(COUNT(CASE WHEN f.first_id = s.doc_id THEN 1 END)
             / CAST(COUNT(*) AS DOUBLE) * 10000) / 10000 AS novelty_frac_r
FROM sh s JOIN firsts f USING (shingle)
GROUP BY s.doc_id
""",
    ),
    # every copy of a text splits with its min-id representative
    "text_split_leakage_safe": q(
        DOCUMENTS_AUG,
        f"""reps AS (SELECT COALESCE(text, '') AS key, MIN(doc_id) AS rep_id
         FROM docs_aug GROUP BY COALESCE(text, '')),
assigned AS (
  SELECT d.doc_id, r.rep_id, ({poly_hash_mixed_sql("r.rep_id")}) % 100 AS bucket
  FROM docs_aug d JOIN reps r ON COALESCE(d.text, '') = r.key
)""",
        select=f"""
SELECT doc_id, rep_id, bucket, {_split_case("bucket")} AS split
FROM assigned
""",
    ),
    # fixtures.build_documents_xsource: the %10==7 docs mirrored under
    # source 'mirror'
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
    "text_cms_merge": f"""
WITH tok AS (
  SELECT source AS g, unnest(string_split(text, ' ')) AS tok FROM documents
),
hv AS (
  SELECT g, tok, {poly_hash_mixed_sql("tok")} AS h1,
         {poly_hash_mixed_sql("tok", POLY_P31B)} AS h2
  FROM tok
),
buckets AS (
  SELECT g, j.j, {_cms_cell("h.h1", "h.h2")} AS b
  FROM hv h CROSS JOIN {_J3}
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

# Faces whose answer is another face's by contract share its SQL:
# - the csv sink round trip re-reads the internal residual;
# - a drained bounded stream equals the batch aggregate;
# - the star-based CC variant computes the same min-reachable-id fixpoint.
for _face, _same in {
    "recon_csv_sink_roundtrip": "recon_residual_internal",
    "stream_events_hourly": "events_hourly",
    "stream_dedup_corpus": "dedup_exact",
    "dedup_clusters_star": "dedup_clusters",
}.items():
    ORACLES[_face] = ORACLES[_same]

# Temperature mixing at alpha=3/4: binary-expansion product —
# w = (isqrt(n_max·10^8 // n) · isqrt(isqrt(n_max·10^16 // n))) // 10^4.
# HUGEINT keeps the q4 = n_max·10^16 product exact past BIGINT; the
# engine's Newton chain extends the same spec to 10^38, so the two agree
# wherever both are defined. Same mixed-hash fractional copy as alpha=1/2.
ORACLES["text_mix_temperature_alpha"] = q(
    """counts AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
),
qs AS (
  SELECT lang, n,
         (CAST(MAX(n) OVER () AS HUGEINT) * 100000000) // n AS q2,
         (CAST(MAX(n) OVER () AS HUGEINT) * 10000000000000000) // n AS q4
  FROM counts
)""",
    _isqrt_cte("h1", "qs", "lang, q4", "q2", "w_half", "HUGEINT"),
    _isqrt_cte("h2", "h1", "lang, w_half", "q4", "r4", "HUGEINT"),
    _isqrt_cte("h3", "h2", "lang, w_half", "r4", "w_quarter", "HUGEINT"),
    """weights AS (
  SELECT lang, CAST((w_half * w_quarter) // 10000 AS BIGINT) AS w_q FROM h3
)""",
    _MIX_COPIES,
    select=_MIX_SELECT,
)

# Near-dup-safe split = the CC fixpoint + one hash per cluster id.
_CLUSTER_HASH = f"({poly_hash_mixed_sql('cluster_id')}) % 100"
ORACLES["text_split_cluster_safe"] = q(
    MINHASH_PAIR_CTES, CC_CTES,
    select=f"""
SELECT doc_id, cluster_id, {_CLUSTER_HASH} AS bucket,
       {_split_case(_CLUSTER_HASH)} AS split
FROM cl
""",
    recursive=True,
)


# The curation gates, in ladder order: the Gopher repetition gate
# (kept2 → kept3), the 5-gram benchmark-contamination gate (kept3 →
# kept4), the bigram-LM typicality gate at 32800 of 10^6, the model
# trained on the surviving corpus (kept4 → kept5).
_CURATION_GATES = (
    _repetition_ctes("kept2", "r") + """,
rflag AS (
  SELECT t.doc_id FROM rtop t JOIN rarr a USING (doc_id)
  WHERE CAST(t.top_c AS DOUBLE) / t.n_tok > 0.2 OR a.dup_3gram_frac > 0.3
),
kept3 AS (SELECT * FROM kept2 WHERE doc_id NOT IN (SELECT doc_id FROM rflag))""",
    _shingles("kept3", 5, "c") + """,
bdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7),
""" + _shingles("bdocs", 5, "b") + """,
bgrams AS (SELECT DISTINCT shingle FROM bsh),
ctot AS (SELECT doc_id, COUNT(*) AS n_grams FROM csh GROUP BY doc_id),
chit AS (SELECT g.doc_id, COUNT(*) AS hit FROM csh g JOIN bgrams USING (shingle) GROUP BY g.doc_id),
cflag AS (
  SELECT h.doc_id FROM chit h JOIN ctot t USING (doc_id)
  WHERE FLOOR(CAST(h.hit AS DOUBLE) / t.n_grams * 10000) / 10000 >= 0.2
),
kept4 AS MATERIALIZED (SELECT * FROM kept3 WHERE doc_id NOT IN (SELECT doc_id FROM cflag))""",
    _bigram_lm_ctes("kept4", "lm") + """,
kept5 AS (
  SELECT * FROM kept4
  WHERE doc_id NOT IN (SELECT doc_id FROM lmscores WHERE lm_score_q < 32800)
)""",
)


def _curation_oracle(
    fixture: str, src: str, n_gates: int, line_trim: bool = False
) -> str:
    """The curation ladder over fixture CTE ``src``: exact dedup (min-id
    keeper per md5) → with ``line_trim`` the corpus-wide line-dedup trim
    (emptied docs dropped, every later stage reads the cleaned text) →
    MinHash near-dup removal → the first ``n_gates`` curation gates →
    per predicted language, the docs with quality_r >= 0.5."""
    dd = "keptL" if line_trim else "kept"
    stages = [
        fixture,
        f"""eh AS (SELECT md5(text) AS th, MIN(doc_id) AS keeper FROM {src} GROUP BY 1),
kept AS (
  SELECT d.doc_id, d.text FROM {src} d
  JOIN eh ON md5(d.text) = eh.th AND d.doc_id = eh.keeper
)""",
    ]
    if line_trim:
        stages.append(_line_dedup_ctes("kept", "l") + f""",
keptL AS MATERIALIZED (
  SELECT doc_id, {_LINES_REBUILT} AS text
  FROM lkept GROUP BY doc_id
)""")
    stages += [
        _minhash_pair_ctes(dd),
        f"""kept2 AS MATERIALIZED (
  SELECT * FROM {dd} WHERE doc_id NOT IN (SELECT id_b FROM mh_pairs)
)""",
        *_CURATION_GATES[:n_gates],
    ]
    last = f"kept{2 + n_gates}"
    return q(
        *stages,
        f"""qual AS (SELECT doc_id, {_quality_sql()} AS quality_r FROM {last}),
{_lang_id_ctes(last)},
tokc AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
  FROM {last}
)""",
        select="""
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
    )


# curation_pipeline_v4 is the registry face of the ladder. The first three
# rungs are not registry faces; tests/test_curation_parity.py re-runs the
# full Spark-vs-DuckDB check (count + schema + values) against them at
# both gate scales, and oracle_sql() serves only QUERIES members, so the
# correctness gate never sees them.
ORACLES["curation_pipeline"] = _curation_oracle(DOCUMENTS_AUG, "docs_aug", 0)
ORACLES["curation_pipeline_v2"] = _curation_oracle(DOCUMENTS_AUG, "docs_aug", 2)
ORACLES["curation_pipeline_v3"] = _curation_oracle(DOCUMENTS_AUG, "docs_aug", 3)
ORACLES["curation_pipeline_v4"] = _curation_oracle(
    DOCUMENTS_FOOTERS, "docs_f", 3, line_trim=True
)


def _line_dedup_oracle(rebuilt: str, col: str) -> str:
    """Corpus-wide line dedup over the footer fixture: per doc its line
    count, kept-line count and the kept lines rebuilt in order, as
    ``rebuilt`` named ``col`` (NULL for an emptied doc). string_agg ORDER
    BY ln rebuilds the surviving text; md5 on the (ASCII) rebuild mirrors
    Spark's binary md5."""
    return q(
        DOCUMENTS_FOOTERS,
        _line_dedup_ctes("docs_f"),
        f"""totals AS (
  SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept, {rebuilt} AS {col}
  FROM kept GROUP BY doc_id
)""",
        select=f"""
SELECT t.doc_id, t.n_lines,
       COALESCE(r.n_kept, 0) AS n_kept,
       r.{col}
FROM totals t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
""",
    )


ORACLES["text_line_dedup"] = _line_dedup_oracle(f"md5({_LINES_REBUILT})", "kept_md5")
ORACLES["text_line_dedup_trim"] = _line_dedup_oracle(_LINES_REBUILT, "text_kept")

# PII scrub: the staged count-then-replace chain — each class's count is
# taken on the previous stage's text (emails mask their host parts from
# the IP stage), replacement is global ('g'). The card stage replays the
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

# docs_p mirrors fixtures.build_documents_pii
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
    """Encode-stats replay: the same fitted chain (the final s{n} CTE is
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
# Tokenizer artifact round trip: the parquet write/read of the merge table
# is invisible to results (encode-from-artifact is bit-equal to
# fit-then-encode, property-pinned), so the oracle is the encode oracle.
ORACLES["text_bpe_vocab_roundtrip"] = ORACLES["text_bpe_encode"]


def _recall_ctes(only: str = "", mat: str = "") -> str:
    """similarity.ann_recall_at_k: each vector's top 10 by the multiprobe
    ANN graph (``ann_k``) and by exact all-pairs cosine (``truth_k``),
    both with (cos DESC, neighbor ASC) tie-breaks, so n_hit/n_true is
    exact; ``only`` restricts the query side."""
    return f"""ann_scored AS{mat} (
  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id,
         {_cos6_sql("a.v", "b.v")} AS cos_r
  FROM assign_probe a JOIN assign_probe b
    ON a.cid = b.cid AND a.vec_id <> b.vec_id{only}
),
ann_k AS{mat} (
  SELECT vec_id, neighbor_id FROM (
    {_knn_ranked("ann_scored")}) t
  WHERE rn <= 10
),
truth_scored AS{mat} (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         {_cos6_sql("a.v", "b.v")} AS cos_r
  FROM ev a JOIN ev b ON a.vec_id <> b.vec_id{only}
),
truth_k AS{mat} (
  SELECT vec_id, neighbor_id FROM (
    {_knn_ranked("truth_scored")}) t
  WHERE rn <= 10
)"""


_RECALL_R = """FLOOR((CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*)) * 10000)
         / 10000 AS recall_r"""

ORACLES["sim_recall_probe"] = q(
    EV, MULTIPROBE_CTES, _recall_ctes(),
    select=f"""
SELECT t.vec_id, COUNT(*) AS n_true, COUNT(a.neighbor_id) AS n_hit,
       {_RECALL_R}
FROM truth_k t LEFT JOIN ann_k a
  ON a.vec_id = t.vec_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.vec_id
""",
)

# Sampled recall probe: a deterministic 5-per-label KMV probe set; exact
# truth for the probes only (one-sided vs the full corpus). Per-probe rows
# carry the stratum for the per-label aggregate.
ORACLES["sim_recall_probe_sampled"] = q(
    """ev AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)""",
    f"""probes AS MATERIALIZED (
  SELECT label, vec_id FROM (
    SELECT label, vec_id,
           ROW_NUMBER() OVER (PARTITION BY label
                              ORDER BY {poly_hash_mixed_sql("vec_id")}, vec_id) AS rn
    FROM ev) t
  WHERE rn <= 5
)""",
    MULTIPROBE_CTES,
    _recall_ctes(
        "\n  WHERE a.vec_id IN (SELECT vec_id FROM probes)", " MATERIALIZED"
    ),
    select=f"""
SELECT t.vec_id, p.label, COUNT(*) AS n_true, COUNT(a.neighbor_id) AS n_hit,
       {_RECALL_R}
FROM truth_k t
JOIN probes p ON p.vec_id = t.vec_id
LEFT JOIN ann_k a
  ON a.vec_id = t.vec_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.vec_id, p.label
""",
)

ORACLES["text_sample_fixed_k"] = f"""
WITH h AS (
  SELECT source, doc_id, {poly_hash_mixed_sql("doc_id")} AS hh FROM documents
),
r AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
  FROM h
)
SELECT source, doc_id, CAST(rn AS BIGINT) AS sample_rank FROM r WHERE rn <= 5
"""

# fixtures.exact_ingest_split
_EXACT_INGEST = _ingest_split("docs0", "doc_id", "text", 7)

ORACLES["dedup_ingest_incremental"] = q(
    _DOCS_NONNULL, _EXACT_INGEST, _novel_keepers("md5(text)"),
    select="SELECT doc_id, h AS text_hash FROM keep1n",
)

# Streaming face of the incremental ingest: drained state == batch answer,
# so the oracle is the batch SQL with the keeper/copy-count shape.
ORACLES["stream_ingest_novel"] = q(
    _DOCS_NONNULL, _EXACT_INGEST, _novel_keepers("md5(text)"),
    select="SELECT h AS text_hash, doc_id AS keeper_id, n_copies FROM keep1n",
)

ORACLES["text_lm_score"] = q(
    _bigram_lm_ctes("documents"),
    select="SELECT doc_id, n_bigrams, lm_score_q FROM scores",
)

# CCNet head/middle/tail typicality terciles: cutoffs are nearest-rank
# k-th largest scores found on the collapsed (lang, score) distribution
# (cum is a window over distinct scores, so RANGE-vs-ROWS tie semantics
# cannot differ); buckets by integer score-vs-cutoff comparison — tied
# scores share a bucket on both engines by construction.
ORACLES["text_lm_buckets"] = q(
    _bigram_lm_ctes("documents"),
    """scored AS (
  SELECT s.doc_id, d.lang, s.lm_score_q
  FROM scores s JOIN documents d ON d.doc_id = s.doc_id
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
)""",
    select="""
SELECT s.doc_id, s.lang, s.lm_score_q,
       CASE WHEN s.lm_score_q >= c.cut1 THEN 'head'
            WHEN s.lm_score_q >= c.cut2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s JOIN cuts c ON c.lang = s.lang
""",
)

# Adaptive percentile quality gate: nearest-rank k-th smallest quality
# (k = ceil(n*50/1000), integer arithmetic) as the cutoff; ties at the
# cutoff survive. NULL text scores as '' (otherwise the engines order a
# NULL quality to opposite ends of the rank and the cutoff diverges).
ORACLES["text_quality_gate"] = q(
    _DOCS_NONNULL,
    f"""q AS (SELECT doc_id, {_quality_sql()} AS quality_r FROM docs0),
ranked AS (
  SELECT quality_r,
         ROW_NUMBER() OVER (ORDER BY quality_r ASC, doc_id ASC) AS rn
  FROM q
),
kk AS (
  SELECT GREATEST(1, (COUNT(*) * 50 + 999) // 1000) AS k FROM q
),
cutoff AS (SELECT r.quality_r AS cutoff_r FROM ranked r, kk WHERE r.rn = kk.k)""",
    select="""
SELECT q.doc_id, q.quality_r, c.cutoff_r
FROM q CROSS JOIN cutoff c
WHERE q.quality_r >= c.cutoff_r
""",
)


def _neardup_ingest_oracle(*extra_variants) -> str:
    """Incremental near-dup ingest (dedup.ingest_novel_neardup) over
    fixtures.neardup_ingest_split plus ``extra_variants``: history
    digests + band-key state. Phase 1 exact (keeper min-id per digest,
    anti-join the history digests); phase 2 band-collision candidates vs
    history, exact-Jaccard-verified at 0.6; phase 3 within-batch
    candidates under the greedy admission."""
    split = _ingest_split(
        "docs0", "doc_id", "text", 7, (3, 200000, _DROP_FIRST_WORD),
        *extra_variants,
    )
    return q(
        _DOCS_NONNULL, split, _novel_keepers("md5(text)"),
        _mh_band_ctes("kept", "b_", " MATERIALIZED"),
        _mh_band_ctes("hist", "h_", " MATERIALIZED"),
        f"""cand_hist AS MATERIALIZED (
  SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid
  FROM b_bandkeys b JOIN h_bandkeys h
    ON b.band = h.band AND b.bkey = h.bkey
),
hist_drop AS MATERIALIZED (
  SELECT DISTINCT bid FROM (
    {_jaccard_verify("cand_hist", "hid", "bid", "h_", "b_")}
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
    {_jaccard_verify("cand_batch", "id_a", "id_b", "b_", "b_")}
  ) v WHERE jacc_r >= 0.6
)""",
        _greedy_mis("doc_id"),
        select="""
SELECT k.doc_id, k.h AS text_hash
FROM keep1n k JOIN admitted a ON a.doc_id = k.doc_id
""",
    )


ORACLES["dedup_ingest_neardup"] = _neardup_ingest_oracle()

# Multi-wave ingest across compaction: wave-1 + wave-2 admissions equal
# the one-batch admission of the concatenated stream (greedy batch-split
# property — arrival respects id order), so the oracle is the one-batch
# replay of the near-dup batch extended by a novel wave-2 slice
# (token-reversed %10==6 docs: reversed word order shares no 3-shingle
# with the original, so they must be admitted through the compacted
# state). A compaction that lost a digest/band/doc row admits a
# duplicate; one that fabricated state drops the novel slice — either
# mismatches.
ORACLES["dedup_ingest_waves"] = _neardup_ingest_oracle(
    (6, 300000, "array_to_string(list_reverse(string_split(text, ' ')), ' ')")
)

# C4-residual quality signals over the punctuation-injected fixture
# (fixtures.build_documents_punct): sentences = [.!?]-delimited segments
# with a non-space char; terminal ratio = terminators per sentence capped
# at 1; mwps = whitespace tokens per sentence.
ORACLES["text_quality_c4"] = f'''
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
       {_quality_sql("n_tok")} AS quality_r,
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

# Gopher rule-filter signals: the line/symbol-injected fixture and every
# count/division mirror harness/fixtures.py:build_documents_lines and
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

ORACLES["mm_payload_dedup"] = q(
    MM_PAYLOAD_BASE,
    select="""
SELECT md5(text) AS payload_hash, MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_copies
FROM base GROUP BY md5(text)
""",
)

ORACLES["mm_payload_near_dup"] = q(
    MM_PAYLOAD_BASE, _payload_block_keys("base", "keys"),
    select=f"""
SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_shared,
       l.n_blocks AS n_blocks_a, r.n_blocks AS n_blocks_b,
       {_block_sim("l", "r")} AS block_sim_r
FROM keys l JOIN keys r
  ON l.block_no = r.block_no AND l.block_hash = r.block_hash
 AND l.doc_id < r.doc_id
GROUP BY l.doc_id, r.doc_id, l.n_blocks, r.n_blocks
HAVING {_block_sim("l", "r")} >= 0.5
""",
)

# Incremental semantic ingest: the near-dup ingest family in embedding
# space. History is the k-means fit input and the persisted corpus; a
# batch vector is admitted only where no persisted or already-admitted
# vector shares a probe block with cosine >= 0.9.
ORACLES["sim_ingest_semantic"] = q(
    """allv AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)""",
    _ingest_split("allv", "vec_id", "v", 1, (4, 200000, _zero_head("v")), hist="ev"),
    KMEANS_CTES_MULTIPROBE,
    _kmeans_assign_topn("cents_final", "hist_assign", 2),
    _kmeans_assign_topn("cents_final", "batch_assign", 2, src_vecs="batch"),
    f"""cand_hist AS MATERIALIZED (
  SELECT DISTINCT b.vec_id AS bid, h.vec_id AS hid
  FROM batch_assign b JOIN hist_assign h ON b.cid = h.cid
),
hist_drop AS MATERIALIZED (
  SELECT DISTINCT c.bid FROM cand_hist c
  JOIN batch bb ON bb.vec_id = c.bid
  JOIN ev hh ON hh.vec_id = c.hid
  WHERE {_cos6_sql("bb.v", "hh.v")} >= 0.9
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
  WHERE {_cos6_sql("a.v", "b.v")} >= 0.9
)""",
    _greedy_mis("vec_id"),
    select="SELECT vec_id FROM admitted",
)

# Incremental payload ingest: the near-dup ingest family over binary
# payloads (texts are ASCII, so the oracle mirrors byte slicing with
# substr). History digests + composite block-key state; phase 1 exact
# (min-id keeper, digest anti-join), phase 2 shared-block fraction >= 0.5
# vs history (the collision aggregate is the verification — no payload
# re-read), phase 3 within-batch pairs under the greedy admission.
ORACLES["mm_payload_ingest"] = q(
    _ingest_split("documents", "doc_id", "text", 7, (5, 300000, _PAYLOAD_TAIL)),
    _novel_keepers("md5(COALESCE(text, ''))"),
    _payload_block_keys("kept", "b_keys"),
    _payload_block_keys("hist", "h_keys"),
    f"""hist_drop AS MATERIALIZED (
  SELECT DISTINCT bid FROM (
    SELECT b.doc_id AS bid, h.doc_id AS hid, {_block_sim("b", "h")} AS sim
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
    SELECT l.doc_id AS id_a, r.doc_id AS id_b, {_block_sim("l", "r")} AS sim
    FROM b_keys l JOIN b_keys r
      ON l.block_no = r.block_no AND l.block_hash = r.block_hash
     AND l.doc_id < r.doc_id
    WHERE l.doc_id IN (SELECT doc_id FROM kept2)
      AND r.doc_id IN (SELECT doc_id FROM kept2)
    GROUP BY l.doc_id, r.doc_id, l.n_blocks, r.n_blocks
  ) v WHERE sim >= 0.5
)""",
    _greedy_mis("doc_id"),
    select="""
SELECT k.doc_id, k.h AS payload_hash
FROM keep1n k JOIN admitted a ON a.doc_id = k.doc_id
""",
)

# Streaming faces and artifact round trips whose answer equals a batch
# face's (the greedy batch-split property; fit -> parquet -> load ->
# assign is bit-identical to fit-then-assign — both property-pinned).
for _face, _same in {
    "stream_ingest_neardup": "dedup_ingest_neardup",
    "stream_ingest_semantic": "sim_ingest_semantic",
    "stream_ingest_payloads": "mm_payload_ingest",
    "sim_centroid_roundtrip": "sim_knn_join_multiprobe",
}.items():
    ORACLES[_face] = ORACLES[_same]


def _pq_oracle(dim: int = 64) -> str:
    """SQL mirror of the PQ pipeline: per-subspace kmeans chains (the
    fit's own final assignment is the code), per-subspace
    query-to-sub-centroid squared distances in the shared left-fold
    order, ADC = fixed-order sum of the m terms, rounded candidate cut,
    exact-cosine re-rank. Every arithmetic step replays
    pq_fit/pq_encode/pq_topk_adc bit-for-bit."""
    dsub = dim // PQ_ORACLE_M
    dists = [
        f"""d{s} AS (
  SELECT a.vec_id, {_sqdist_sql(f"q[{s * dsub} + i]", "c.c[i]", dsub)} AS d
  FROM s{s}assign_final a
  JOIN s{s}cents_final c ON c.cid = a.cid
  CROSS JOIN qv
)"""
        for s in range(PQ_ORACLE_M)
    ]
    joins = "".join(
        f" JOIN d{s} ON d{s}.vec_id = d0.vec_id" for s in range(1, PQ_ORACLE_M)
    )
    return q(
        QUERY_VEC, EV, _pq_books("ev", dim), *dists,
        f"""adc AS (
  SELECT d0.vec_id, ROUND({_adc_sum("d")}, 6) AS adc_r
  FROM d0{joins}
),
cand AS (SELECT vec_id, adc_r FROM adc ORDER BY adc_r, vec_id LIMIT {PQ_ORACLE_RERANK}),
rescored AS (
  SELECT e.vec_id, {_cos6_sql("v", "q")} AS cos_r, cand.adc_r
  FROM ev e JOIN cand ON cand.vec_id = e.vec_id CROSS JOIN qv
)""",
        select=_topk_by_cos("rescored", ", adc_r"),
    )


ORACLES["sim_topk_pq"] = _pq_oracle()


def _ivfpq_oracle(dim: int = 64) -> str:
    """SQL mirror of the IVF-PQ pipeline: one coarse kmeans chain over the
    full vectors, residuals against the assigned coarse centroid, one PQ
    kmeans chain per subspace over the sliced residuals (the fit's final
    assignment is the code), the nprobe nearest coarse cells by the
    shared left-fold distance, a per-(probed cell, subspace) LUT of
    residual-query-to-sub-centroid squared distances, ADC as the
    fixed-order sum of the m LUT lookups over only the probed cells' rows,
    rounded candidate cut, exact-cosine re-rank on the original vectors.
    Replays similarity.ivfpq_topk bit-for-bit (same accumulator orders,
    same (score, id) tie-breaks)."""
    dsub = dim // PQ_ORACLE_M
    luts = [
        f"""lut{s} AS (
  SELECT g.cid AS blk, b.cid AS code,
         {_sqdist_sql(f"(q[{s * dsub} + i] - g.c[{s * dsub} + i])", "b.c[i]", dsub)} AS d
  FROM gcents_final g
  JOIN probed p ON p.cid = g.cid
  CROSS JOIN qv
  CROSS JOIN s{s}cents_final b
)"""
        for s in range(PQ_ORACLE_M)
    ]
    lut_joins = "".join(
        f" JOIN lut{s} l{s} ON l{s}.blk = c.blk AND l{s}.code = c.c{s}"
        for s in range(PQ_ORACLE_M)
    )
    return q(
        QUERY_VEC, EV, _ivf_residual_ctes(dim), _pq_books("rv", dim),
        f"""probed AS (
  SELECT cid FROM (
    SELECT c.cid, {_sqdist_sql("q[i]", "c.c[i]", dim)} AS d
    FROM gcents_final c CROSS JOIN qv
    ORDER BY d, c.cid LIMIT {IVFPQ_ORACLE_NPROBE}) t
)""",
        *luts,
        _pq_codes(),
        f"""adc AS (
  SELECT c.vec_id, c.blk, ROUND({_adc_sum("l")}, 6) AS adc_r
  FROM codes c{lut_joins}
),
cand AS (SELECT vec_id, blk, adc_r FROM adc
         ORDER BY adc_r, vec_id LIMIT {PQ_ORACLE_RERANK}),
rescored AS (
  SELECT e.vec_id, {_cos6_sql("v", "q")} AS cos_r, cand.adc_r, cand.blk
  FROM ev e JOIN cand ON cand.vec_id = e.vec_id CROSS JOIN qv
)""",
        select=_topk_by_cos("rescored", ", adc_r, blk"),
    )


ORACLES["sim_topk_ivfpq"] = _ivfpq_oracle()


def _ivfpq_knn_oracle(dim: int = 64) -> str:
    """SQL mirror of the IVF-PQ k-NN graph: the coarse/residual/
    per-subspace chains of the single-query oracle, then every vector as
    a query — nprobe probe rows via the shared top-n assignment helper,
    per-(query, probed-cell, subspace) LUTs over the query residual,
    blocked pairs on the cell id scored by the fixed-order ADC sum,
    per-query (adc_r, xid) cut to the rerank set, exact-cosine re-rank.
    Replays similarity.knn_join_ivfpq bit-for-bit."""
    dsub = dim // PQ_ORACLE_M
    luts = [
        f"""lut{s} AS (
  SELECT q.qid, q.blk, b.cid AS code,
         {_sqdist_sql(f"q.qr[{s * dsub} + i]", "b.c[i]", dsub)} AS d
  FROM qres q CROSS JOIN s{s}cents_final b
)"""
        for s in range(PQ_ORACLE_M)
    ]
    lut_joins = "".join(
        f" JOIN lut{s} l{s} ON l{s}.qid = c.qid AND l{s}.blk = c.blk"
        f" AND l{s}.code = c.c{s}"
        for s in range(PQ_ORACLE_M)
    )
    code_cols = ", ".join(f"c.c{s}" for s in range(PQ_ORACLE_M))
    return q(
        EV, _ivf_residual_ctes(dim), _pq_books("rv", dim),
        _kmeans_assign_topn(
            "gcents_final", "qprobe", IVFPQ_ORACLE_NPROBE, src_vecs="ev"
        ),
        f"""qres AS (
  SELECT p.vec_id AS qid, p.cid AS blk,
         list_transform(generate_series(1, {dim}), i -> p.v[i] - c.c[i]) AS qr
  FROM qprobe p JOIN gcents_final c ON c.cid = p.cid
)""",
        *luts,
        _pq_codes(" AS xid"),
        f"""qcells AS (SELECT DISTINCT qid, blk FROM qres),
pairs AS (
  SELECT q.qid, c.xid, c.blk, {code_cols}
  FROM qcells q JOIN codes c ON c.blk = q.blk
  WHERE q.qid <> c.xid
),
adc AS (
  SELECT c.qid, c.xid, ROUND({_adc_sum("l")}, 6) AS adc_r
  FROM pairs c{lut_joins}
),
cand AS (
  SELECT qid, xid, adc_r FROM (
    SELECT qid, xid, adc_r,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_r, xid) AS rn
    FROM adc) t
  WHERE rn <= {IVFPQ_ORACLE_RERANK_JOIN}
),
rescored AS (
  SELECT cand.qid, cand.xid, {_cos6_sql("q.v", "x.v")} AS cos_r, cand.adc_r
  FROM cand
  JOIN ev q ON q.vec_id = cand.qid
  JOIN ev x ON x.vec_id = cand.xid
)""",
        select=f"""
SELECT qid AS vec_id, rank, xid AS neighbor_id, cos_r, adc_r FROM (
  SELECT qid, xid, cos_r, adc_r,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos_r DESC, xid) AS BIGINT) AS rank
  FROM rescored
) t WHERE rank <= {IVFPQ_ORACLE_KJOIN}""",
    )


ORACLES["sim_knn_join_ivfpq"] = _ivfpq_knn_oracle()
# The served face is bit-equal to the fit-inclusive build (artifact
# save/load round-trips exactly; residual encode under loaded centroids
# is the same map) — property-pinned, so it shares the oracle.
ORACLES["sim_knn_join_ivfpq_served"] = ORACLES["sim_knn_join_ivfpq"]
