"""Text and corpus-statistics operators: tokenization, language ID,
quality scoring, PII scrubbing, sampling and mixing, splits, span and
n-gram statistics, sketches (count-min, Bloom), data cards and BPE.

All JVM-side built-in expressions (split/regexp/md5/windows) — no Python
UDFs, so every operator stays on the whole-stage-codegen path at 100 TB.

Every operator the DuckDB oracle replays bit-for-bit rests on three
integer invariants, each written once:

- **One mixed hash.** Sampling buckets, splits (:func:`split_assignment`),
  sketch rows and Bloom positions hash through
  ``functions/hashing.py``'s mixed polynomial hash, never ``rand()``.
- **Double hashing.** The sketches take their base pair ``(h1, h2)``
  from ``poly_hash_pair`` (two prime moduli); a count-min cell is
  :func:`cms_cells`'s ``((h1 + j·h2) mod P) mod w``, a Bloom position
  ``(h1 + j·h2) mod m``.
- **Integer nearest rank.** Every quantile and cutoff position is
  ``functions.windows.nearest_rank``, the exact ``ceil(q·n)``, so a
  reported quantile is an actual data value.
"""

from __future__ import annotations

import math
from fractions import Fraction
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.functions.hashing import (
    POLY_P31,
    poly_hash_mixed_col,
    poly_hash_pair,
)
from mongo_polars_reconciliation_spark.functions.indexing import with_prefix_sum
from mongo_polars_reconciliation_spark.functions.localrel import inline_local_df
from mongo_polars_reconciliation_spark.functions.windows import (
    nearest_rank,
    single_partition_key,
)
from mongo_polars_reconciliation_spark.session import widen


def floor4(col: Column) -> Column:
    """4-dp floor quantization: floor(x*10^4)/10^4. Unlike round(), this is
    bit-reproducible across engines — the product/floor/divide chain is pure
    IEEE arithmetic on identical inputs, with no decimal-tie ambiguity
    (rational scores like hits/total routinely land exactly on x.xxxx5)."""
    return F.floor(col * 10000) / 10000


def word_ngrams(toks: str, n: int) -> Column:
    """Array of the word n-grams (``n`` consecutive tokens joined by ' ')
    of the token-array column ``toks``, in position order, duplicates
    kept. Total: an array shorter than ``n`` yields an empty array —
    ``sequence(0, negative)`` would count DOWN and index out of bounds
    under ANSI, and the optimizer may evaluate a projection on rows a
    preceding size filter drops (observed: Generate pushed through a
    Union), so the guard lives inside the expression."""
    idx = ", ".join(f"{toks}[i+{j}]" for j in range(n))
    return F.expr(
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(0, size({toks})-{n}), i -> concat_ws(' ', {idx})) "
        f"ELSE array() END"
    )


def hash128(col: str) -> list[Column]:
    """The 128-bit shuffle key of a string column: two independent
    xxhash64 lanes ``h1``, ``h2``. Replaces a raw n-gram string as a
    groupBy/join key (~16 vs ~50-70 bytes per 8-token window); collision
    odds ~N²/2¹²⁹ — ≈1e-19 even at 10¹⁰ distinct keys."""
    return [
        F.xxhash64(col).alias("h1"),
        F.xxhash64(F.col(col), F.lit(0x5EED)).alias("h2"),
    ]


# Small per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately tiny & hardcoded: the operator's job is the
# join/aggregate shape (tokens ⋈ broadcast dictionary → per-doc-per-lang
# scores → argmax), not linguistic accuracy.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is", "to", "in"],
    "es": ["el", "la", "de", "y", "es", "en", "un"],
    "fr": ["le", "la", "de", "et", "est", "en", "un"],
    "de": ["der", "die", "das", "und", "ist", "in", "ein"],
    "zh": ["de", "shi", "le", "zai", "he", "you", "wo"],
}

TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# Size gate for bloom_decontaminate's literal bitmap, an O(m_bits) SQL
# string parsed by F.expr: trivial at the default 4096-bit geometry (64
# words), but a production-sized filter (m_bits ≈ 2^30+) would fold tens
# of millions of plan literals into the parser/analyzer long before
# execution. Above this word count bloom_decontaminate takes the
# relational (broadcast position table) form, which degrades gracefully.
# 65536 words = 4 Mi bits ≈ 1.4 MB of expression text.
BLOOM_LITERAL_MAX_WORDS = 65536


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-size token chunking — the sequence-packing front half of a
    training pipeline: each document becomes ceil(n_tokens/chunk_tokens)
    rows of ``chunk_tokens`` whitespace tokens (last chunk ragged).
    ``posexplode`` over a chunk-index sequence + ``slice`` keeps the whole
    thing in built-in expressions: per-row work is linear in document
    length, rows never leave their partition (no shuffle), and the output
    inherits the input's partitioning — at 100 TB this is a map-only
    stage. Deterministic chunk ids make the output stable for downstream
    hash-based splits."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = F.expr(f"(size(split({text_col}, ' ')) + {chunk_tokens - 1}) DIV {chunk_tokens}")
    return (
        df.select(F.col(id_col), toks.alias("__toks"), n_chunks.alias("__nc"))
        .select(
            id_col,
            F.explode(F.expr("sequence(0, __nc - 1)")).alias("chunk_id"),
            F.col("__toks"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.slice(
                F.col("__toks"),
                F.col("chunk_id") * chunk_tokens + 1,
                chunk_tokens,
            ).alias("__chunk"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size(F.col("__chunk")).cast("long").alias("n_tokens"),
            F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Per-document top-k distinguishing terms by integer-exact tf·idf:
    ``score_q = tf · scale DIV df(term)``. The 1/df idf proxy is monotone in
    the usual log((N+1)/(df+1)) for a fixed corpus, so the top-k set and
    order are identical to float tf·idf while staying BIGINT-exact across
    engines (no libm ``ln`` whose last bit differs between runtimes).

    Plan shape at 100 TB: one explode (map-side), a (doc,term) hash-groupBy
    for tf, a term hash-groupBy for df (partial aggregation both — the
    term-frequency skew of natural text is absorbed by map-side combine),
    one shuffle join on term, and a per-doc window for the top-k. No Python,
    no driver-side data, no all-pairs anything."""
    tf = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_docs_with_term")
    )
    scored = tf.join(dft, "term").withColumn(
        "score_q", F.expr(f"tf * CAST({scale} AS BIGINT) DIV n_docs_with_term")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score_q"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select(
            id_col,
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("n_docs_with_term").cast("long").alias("n_docs_with_term"),
            F.col("score_q").cast("long").alias("score_q"),
            "rnk",
        )
    )


def pack_sequences(
    df: DataFrame,
    token_budget: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Contiguous token-budget batch packing — the back half of sequence
    packing: documents taken in a deterministic total order (``id_col``) are
    laid out end-to-end and cut into batches of ``token_budget`` tokens;
    each doc reports its global ``start_offset`` and the ``batch_id`` its
    first token lands in. The global running offset comes from the two-pass
    distributed prefix sum (functions/indexing.py:with_prefix_sum), so the
    sequential-looking layout is one scan + one tiny broadcast at 100 TB."""
    toks = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    packed = with_prefix_sum(toks, [id_col], "n_tokens", name="start_offset")
    return packed.select(
        id_col,
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset DIV {token_budget}").cast("long").alias("batch_id"),
    )


def write_packed_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    token_budget: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    validate: bool = True,
) -> None:
    """Training-shard writer — the sink half of sequence packing: lay the
    corpus out with :func:`pack_sequences`, co-locate every batch's docs
    in one shard (``shard = batch_id mod n_shards`` — round-robin keeps
    shard token counts within one batch of each other, and a data loader
    consumes shard files independently, no cross-file coordination), and
    write parquet partitioned by shard with exactly one file per shard
    (the loader contract). The text rides along so shards are
    self-contained training input.

    Scale shape: the pack is the two-pass prefix sum, the text join is
    one hash join on the id, and ``repartition(n_shards, shard)`` makes
    each shard one task writing one file — at 100 TB ``n_shards`` is
    thousands, so the write keeps full cluster parallelism while small
    corpora avoid the 8-files-per-task spray ``partitionBy`` alone
    produces.

    ``validate=True``: the one-file-per-shard contract is
    an emergent property of repartition+partitionBy, and session config
    can silently break it — ``spark.sql.files.maxRecordsPerFile`` splits
    a task's output, and two shard values can hash-collide into one task
    whose writer still splits by partition value (fine) but leaves the
    contract unchecked. The default re-reads only (file, shard) pairs
    after the write — a parquet scan pruned to zero data columns plus
    the input_file_name metadata — and raises naming the offending
    shards if any shard directory holds more than one file. O(n_shards)
    driver memory, footer-only read cost."""
    packed = pack_sequences(df, token_budget, id_col, text_col)
    full = packed.join(df.select(F.col(id_col), F.col(text_col)), id_col)
    out = full.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("start_offset"),
        F.col("batch_id"),
        F.pmod(F.col("batch_id"), F.lit(n_shards)).cast("int").alias("shard"),
        F.col(text_col),
    )
    out.repartition(n_shards, "shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(out_dir)
    if validate:
        _validate_one_file_per_shard(df.sparkSession, out_dir)


def _validate_one_file_per_shard(spark, out_dir: str) -> None:
    """Loud post-write check of the training-shard loader contract:
    every shard=* directory must hold exactly one parquet file."""
    from pyspark.errors import AnalysisException

    try:
        shards = spark.read.parquet(out_dir)
    except AnalysisException as e:
        # an EMPTY corpus writes only _SUCCESS — no shard dirs, nothing
        # to validate (the read can't infer a schema from zero files);
        # the pre-validation write path has always accepted this. ONLY
        # that case is swallowed: any other analysis
        # failure — bad path, corrupt footer, permissions — must not
        # silently skip validation and let the write appear checked.
        if e.getCondition() == "UNABLE_TO_INFER_SCHEMA":
            return
        raise
    bad = (
        shards
        # project the (nondeterministic) file name BEFORE aggregating —
        # Spark 4 rejects it inside an aggregate argument
        .select("shard", F.input_file_name().alias("__f"))
        .groupBy("shard")
        .agg(F.countDistinct("__f").alias("n_files"))
        .where(F.col("n_files") > 1)
        .collect()
    )
    if bad:
        detail = ", ".join(f"shard {r['shard']}: {r['n_files']} files" for r in bad)
        raise RuntimeError(
            "write_packed_shards: one-file-per-shard contract violated "
            f"({detail}) — check spark.sql.files.maxRecordsPerFile and "
            "writer-side split settings"
        )


SCRUB_DEFAULT_TERMS = ("customer", "stream")


def scrub_terms(
    df: DataFrame,
    terms: tuple[str, ...] = SCRUB_DEFAULT_TERMS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sensitive-term scrubbing — the PII-redaction operator shape (count
    every hit for the audit log, globally replace, fingerprint the scrubbed
    text) in pure built-in expressions: ``regexp_extract_all`` for counts,
    ``regexp_replace`` for the rewrite, md5 for the audit hash. Real PII
    patterns (emails, phone numbers, ID formats) drop into the same
    word-boundary regexes; the synthetic corpus has no digits, so the
    demo terms are dictionary words. Stays on whole-stage codegen — no
    Python, no shuffle (row-local), scan-width cost only."""
    out_cols = [F.col(id_col)]
    red = F.col(text_col)
    for t in terms:
        pat = rf"\b{t}\b"
        out_cols.append(
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{t}")
        )
        red = F.regexp_replace(red, pat, f"<{t}>")
    return df.select(*out_cols, F.md5(red).alias("redacted_md5"))


# (pattern, placeholder) in APPLICATION ORDER — emails first so an
# address's host part can't later half-match the IP pattern, then the
# Luhn-validated card stage (separately, below), then phones, then bare
# IPv4s. Dialect-portable regex subset: no lookaround, no backrefs, no
# \w shorthand inside classes — Java (Spark) and RE2 (DuckDB) agree on
# every construct used here.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)

# 16-digit payment-card candidates, 4×4 groups with optional single
# hyphen/space separators. A REGEX ALONE over-redacts (any 16-digit run
# matches), so candidates must additionally pass the Luhn mod-10 check —
# the discriminator real release gates use — before they count or get
# replaced. Same portable dialect as PII_PATTERNS.
PII_CARD_PATTERN = r"\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b"


def _luhn_valid(cand: Column) -> Column:
    """Luhn mod-10 validity of a 16-digit card candidate (separators
    stripped), as a pure built-in expression: with 16 digits, the
    1-based ODD positions from the left (0-based EVEN transform
    indices) are the every-second-from-the-right digits the checksum
    doubles (subtracting 9 when the double exceeds 9). split/arithmetic
    only — mirrors verbatim in any SQL dialect, no UDF.

    Shape note: the walk is a ``transform`` over
    ``split(stripped, '')`` — the separator-stripping regexp_replace
    appears ONCE in the expression tree. Higher-order-function lambdas
    get no common-subexpression elimination, so the earlier
    sequence(1,16) + substr(stripped, i, 1) form inlined (and
    re-evaluated) the strip 16 times per candidate.

    Version-floor dependency: this relies on
    ``split(s, '')`` NOT emitting a trailing empty element — the
    SPARK-40194 semantics, Spark >= 3.4. On older Spark the trailing
    ``''`` would cast to a NULL int, poison the aggregate's sum, and
    silently mark EVERY card Luhn-invalid (no redaction, counts 0) —
    a silent failure, not a loud one. Safe on the pinned pyspark 4.1.2;
    if the version floor ever drops below 3.4, append a
    ``filter(chars, x -> x != '')`` (and the same in the oracle's
    ``list_filter``)."""
    chars = F.split(F.regexp_replace(cand, "[- ]", ""), "")

    def term(d: Column, i: Column) -> Column:
        x = d.cast("int")
        dbl = x * 2
        return F.when(
            i % 2 == 0, F.when(dbl > 9, dbl - 9).otherwise(dbl)
        ).otherwise(x)

    total = F.aggregate(
        F.transform(chars, term),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return total % 10 == 0


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PII redaction with REAL patterns — the release-gate stage of a
    training-data pipeline (emails, Luhn-valid 16-digit card numbers,
    North-American phone numbers, bare IPv4 addresses): per-class hit
    counts for the audit log, global placeholder replacement, and the
    scrubbed text itself so the next stage consumes clean input
    (:func:`scrub_terms` is the word-term demo shape; this face carries
    the production regexes).

    Stages apply in order EMAIL → CARD → PHONE → IP — earlier classes
    mask their substrings from later ones (an email's host part never
    half-matches as an IP) — making the output a deterministic function
    of the text alone. Counts are taken per class on the PRE-replacement
    text of that stage, mirroring exactly in SQL.

    The CARD stage is count-then-replace with a
    semantic filter a single regex can't express: 16-digit candidates
    must pass the Luhn mod-10 check (:func:`_luhn_valid`, integer
    arithmetic over ``substr`` digits — no UDF). n_cards counts the
    Luhn-VALID matches; replacement folds over the valid candidates in
    match order, rewriting each one word-boundary-anchored — an invalid
    candidate (a random 16-digit run) is left intact and audited as 0.

    Cross-class boundary (INTENDED): because CARD runs
    before PHONE, the card candidate scan can match ACROSS a phone
    number's tail — ``call 555-123-4567 8901 2345 6783`` yields the
    candidate ``4567 8901 2345 6783``, which is Luhn-valid and is
    redacted, leaving a mangled phone and n_phones=0 for that doc. This
    over-redacts in the SAFE direction (more digits masked, never
    fewer), is consistent across all three engines (the oracle and the
    Python replay make the same choice), and is pinned by a hypothesis
    fragment pairing a phone with a trailing digit run. A release gate
    that must preserve phone audit counts in that corner would need a
    lookbehind-free two-pass design — out of scope here.

    NULL text scores as EMPTY: all
    audit counts are 0 — not NULL — and ``text_scrubbed`` stays NULL
    (the doc survives, nothing to scrub; the repo-wide null-text rule).

    Row-local projection: whole-stage codegen, no shuffle, no Python —
    scan-width cost only at 100 TB.

    Output: (id, n_emails, n_cards, n_phones, n_ips, text_scrubbed)."""
    out_cols = [F.col(id_col)]
    red = F.coalesce(F.col(text_col), F.lit(""))

    # stage 1: emails
    pat, repl = PII_PATTERNS[0]
    out_cols.append(
        F.size(F.regexp_extract_all(red, F.lit(pat), 0))
        .cast("long")
        .alias("n_emails")
    )
    red = F.regexp_replace(red, pat, repl)

    # stage 2: Luhn-validated cards (count valid matches; fold-replace
    # each valid candidate \b-anchored — the fold order is the match
    # order in BOTH engines, so re-matches after replacement agree)
    valid = F.filter(
        F.regexp_extract_all(red, F.lit(PII_CARD_PATTERN), 0), _luhn_valid
    )
    out_cols.append(F.size(valid).cast("long").alias("n_cards"))
    red = F.aggregate(
        valid,
        red,
        lambda acc, c: F.regexp_replace(
            acc,
            F.concat(F.lit(r"\b"), c, F.lit(r"\b")),
            F.lit("<CARD>"),
        ),
    )

    # stages 3-4: phones, IPs
    for (pat, repl), name in zip(PII_PATTERNS[1:], ("n_phones", "n_ips")):
        out_cols.append(
            F.size(F.regexp_extract_all(red, F.lit(pat), 0))
            .cast("long")
            .alias(name)
        )
        red = F.regexp_replace(red, pat, repl)
    scrubbed = F.when(
        F.col(text_col).isNull(), F.lit(None).cast("string")
    ).otherwise(red)
    return df.select(*out_cols, scrubbed.alias("text_scrubbed"))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.1,
    id_col: str = "doc_id",
    denom: int = 10_000,
) -> DataFrame:
    """Deterministic hash-based stratified downsampling: a row is kept iff
    ``pmod(poly_hash(id), denom) < rate(stratum) · denom``. The per-stratum
    rate is exact to 1/denom, assignment is stable across runs, engines and
    cluster shapes (no ``rand()``, no partition-order dependence), and any
    stratum's rate can change without resampling the others — the
    reproducible corpus-mixing primitive (e.g. re-weighting languages or
    sources into a training mix). Pure column arithmetic on the scan: no
    shuffle, no Python. Uses the MIXED hash (functions/hashing.py) so the
    realized rate tracks the target even for short numeric ids.

    Every rate, ``default_rate`` included, must lie in [0, 1]: a rate
    outside it would silently drop or keep a whole stratum, so it raises
    ``ValueError`` naming the stratum (the sampler rule :func:`mix_epochs`
    follows)."""
    for k, r in list(rates.items()) + [("default_rate", default_rate)]:
        if not 0 <= r <= 1:  # also catches NaN: every comparison is False
            raise ValueError(
                f"stratified_sample: rate for {k!r} must be in [0, 1], got {r}"
            )
    h = F.pmod(poly_hash_mixed_col(id_col), F.lit(denom))
    threshold = _per_stratum(
        strata_col,
        {k: _cut(r, denom) for k, r in rates.items()},
        _cut(default_rate, denom),
    )
    return df.where(h < threshold)


def _cut(x: float, denom: int) -> int:
    """The integer threshold of ``h < x·denom`` over integer ``h``:
    ``ceil(x·denom)``, taken on ``x``'s decimal value. A float product can
    land just below an integer (0.57 · 10000 = 5699.999…), and rounding
    it drops a bucket whenever ``x·denom`` has a fraction (1/3 → 3334,
    not 3333)."""
    return math.ceil(Fraction(str(x)) * denom)


def _per_stratum(col: str, values: dict, default) -> Column:
    """``values[stratum]`` of the stratum column ``col`` as one literal
    when-chain over the sorted strata, ``default`` for any other value
    (a NULL stratum included)."""
    out = None
    for k in sorted(values):
        cond, v = F.col(col) == k, F.lit(values[k])
        out = F.when(cond, v) if out is None else out.when(cond, v)
    return out.otherwise(F.lit(default)) if out is not None else F.lit(default)


def quality_gate_adaptive(
    df: DataFrame,
    drop_permille: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PERCENTILE quality gate — drop the corpus's worst
    ``drop_permille``/1000 fraction by fused quality score, whatever the
    absolute numbers are. The fraction is a PERMILLE integer so
    k = ceil(n·permille/1000) is pure integer arithmetic — a float
    fraction would make the rank boundary depend on rounding luck
    (0.05·n is not exact in binary, and engines disagree on double→int
    casts).
    Fixed thresholds (``quality_r >= 0.5``) go stale as the corpus mix
    shifts; real pipelines gate on the distribution. Returns the
    surviving docs as (id, quality_r, cutoff_r): cutoff_r is the
    nearest-rank k-th smallest quality (k = ceil(n·permille/1000)), docs
    with quality_r >= cutoff_r survive — ties AT the cutoff all survive
    (set-based, no per-id arbitrariness), so the realized drop is ≤
    permille/1000, exact when no ties straddle the rank.

    Scale shape: the cutoff is an order statistic, NOT a global sort:
    ``orderBy(...).limit(k)`` plans as TakeOrderedAndProject (per-
    partition top-k, driver merges k rows), then a 1-row MAX aggregate
    joins back as a broadcast — the same bounded-driver-state pattern as
    ``kmeans_fit``. One count() for n (metadata-cheap), one top-k, one
    map-only filter. quality_r is floor4-quantized, so the cutoff
    comparison is bit-exact cross-engine.

    NULL text scores as empty text (the shared null-text rule
    of leakage_safe_split/source_overlap): without the coalesce a NULL
    text yields NULL quality_r, and the two engines ORDER it to opposite
    ends (Spark ASC puts NULLs FIRST, the oracle's ROW_NUMBER puts them
    LAST), so the rank-k cutoff diverged and NULL-quality docs silently
    vanished from the gate."""
    base = df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    q = fused_doc_scores(base, id_col=id_col, text_col=text_col).select(
        F.col(id_col), "quality_r"
    ).localCheckpoint(eager=False)
    n = q.count()
    k = max(1, (n * drop_permille + 999) // 1000)
    cutoff = (
        q.orderBy(F.col("quality_r").asc(), F.col(id_col).asc())
        .limit(k)
        .agg(F.max("quality_r").alias("cutoff_r"))
    )
    return (
        q.crossJoin(F.broadcast(cutoff))
        .where(F.col("quality_r") >= F.col("cutoff_r"))
        .select(id_col, "quality_r", "cutoff_r")
    )


def sample_fixed_per_stratum(
    df: DataFrame,
    strata_col: str,
    k: int,
    id_col: str = "doc_id",
    prefilter_frac: "float | None" = None,
) -> DataFrame:
    """Deterministic FIXED-SIZE sample: exactly ``k`` rows per stratum
    (fewer only if the stratum is smaller) — the eval-set carving
    primitive ("1000 docs per language for the benchmark"), complementing
    rate-based :func:`stratified_sample`. Selection = the k smallest
    mixed hashes of the row id per stratum, ties broken by id: stable
    across runs/engines/cluster shapes, and UNIFORM per stratum because
    the mixed hash de-bands short numeric ids. Returns
    (strata, id, sample_rank 1..k).

    The k-min-hash selection is ORDER-STATISTIC MERGEABLE (the KMV sketch
    property): the k smallest hashes of a union are computable from each
    part's k smallest, so per-day/per-shard samples re-merge without
    rescanning, and appending data only ever replaces the largest-hash
    members — a growing corpus's sample stays maximally stable.

    Scale shape: the rank window sorts each stratum — fine when strata
    are modest, wasteful for billion-row strata with small k. For that
    case ``prefilter_frac`` keeps only hashes below frac·p BEFORE the
    window — a PREFIX of the very ordering the rank uses, so it contains
    the k winners whenever ~frac·|stratum| ≥ k, and the window sees ~frac
    of the data. The filter is deterministic and oracle-replayable; pick
    frac ≫ k/|stratum| (say 4×) and the exact same k rows come out.
    Default None = exact path, no assumption."""
    h = poly_hash_mixed_col(id_col)
    base = df.select(F.col(strata_col), F.col(id_col), h.alias("__h"))
    if prefilter_frac is not None:
        base = base.where(
            F.col("__h") < F.lit(int(prefilter_frac * POLY_P31))
        )
    w = Window.partitionBy(strata_col).orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return (
        base.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= k)
        .select(strata_col, id_col, "sample_rank")
    )


def sample_shortfall_audit(
    df: DataFrame,
    strata_col: str,
    k: int,
    id_col: str = "doc_id",
    prefilter_frac: "float | None" = None,
) -> DataFrame:
    """Audit face of :func:`sample_fixed_per_stratum`'s prefilter fast path:
    the prefilter silently returns FEWER than k rows per
    stratum when frac·|stratum| < k, a precondition nothing else
    detects. Per stratum:
    (strata, n_rows, n_eligible, n_sampled, shortfall) where n_eligible
    counts rows surviving the hash prefilter, n_sampled = what the sample
    would return = min(k, n_eligible), and
    shortfall = min(k, n_rows) − n_sampled — 0 exactly when the prefilter
    lost nothing (always, when ``prefilter_frac`` is None). A production
    run gates on ``shortfall = 0`` (or re-runs the affected strata with a
    looser frac / the exact path) instead of training on a silently
    shrunken eval set.

    Scale shape: two map-side-combined count aggregates on the stratum
    key (no window, no sort) — strictly cheaper than the sample itself,
    so auditing every ingest is affordable."""
    h = poly_hash_mixed_col(id_col)
    base = df.select(F.col(strata_col), F.col(id_col), h.alias("__h"))
    elig = (
        (F.col("__h") < F.lit(int(prefilter_frac * POLY_P31)))
        if prefilter_frac is not None
        else F.lit(True)
    )
    kk = F.lit(int(k))
    return (
        base.groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(elig, 1).otherwise(0)).cast("long").alias("n_eligible"),
        )
        .select(
            F.col(strata_col),
            "n_rows",
            "n_eligible",
            F.least(kk, F.col("n_eligible")).cast("long").alias("n_sampled"),
            (
                F.least(kk, F.col("n_rows")) - F.least(kk, F.col("n_eligible"))
            ).cast("long").alias("shortfall"),
        )
    )


def line_dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style corpus-wide LINE dedup (Raffel et al. 2020 §2.2: discard
    all but one occurrence of any line repeated across the corpus — the
    boilerplate-footer/header killer): every distinct line survives only
    at its FIRST global occurrence (lexicographic (id, line_no) — the
    deterministic stand-in for crawl order), and each document is
    reassembled from its surviving lines in original order.

    Skew posture — deliberately NOT a row_number window over
    partitionBy(line): a corpus-wide boilerplate line has millions of
    copies, and sorting inside that window partition is the classic
    skew stall. Instead the first occurrence is an AGGREGATE —
    min(struct(id, line_no)) per line digest, map-side combinable,
    skew-free — whose output IS the survivor coordinate set, collapsed
    to one text-free sorted survivor-index array per document and joined
    to the per-document ordered line array on the id (both sides already
    doc-partitioned — no extra exchange). Reassembly is O(n_kept)
    constant-time lookups into the document's OWN line array — bounded
    by document size, never corpus-shaped, never quadratic.

    Shuffle-key posture: the aggregate and the
    survivor join key on ``md5(line)`` — a fixed 32-char digest — not the
    raw line string. Corpus-hot boilerplate lines are LONG (footers,
    license blocks), so digest keys cut the first-occurrence aggregate's
    map-side-combine shuffle bytes ~10× at corpus scale; the raw line
    text rides only the probe side, where reassembly needs it anyway.
    Value-identical to raw-line keying modulo md5 collision (2^-64-ish
    birthday at any feasible line count), pinned by the Python-model and
    randomized-corpus property tests.

    Output: (id, n_lines, n_kept, kept_md5) — kept_md5 is the digest of
    the reassembled text (NULL when every line was a repeat and the doc
    empties out, C4's drop signal)."""
    joined = _line_dedup_joined(df, id_col, text_col)
    return joined.select(
        F.col(id_col),
        F.col("n_lines"),
        F.col("n_kept"),
        F.md5(F.col("text_kept").cast("binary")).alias("kept_md5"),
    )


def _line_dedup_joined(df, id_col, text_col):
    """Shared core of the corpus line-dedup faces: one frame per document
    carrying (id, n_lines, n_kept, text_kept) with NULL text_kept when
    every line was a corpus repeat. See :func:`line_dedup_corpus` for
    the skew and shuffle-key posture.

    Text moves through exactly ONE shuffle: the per-document line
    collection (groupBy id over the exploded lines). The first-occurrence
    aggregate's output IS the survivor coordinate set {(id, line_no)} —
    digest-keyed, text-free — collapsed to one SORTED survivor-index
    array per document; the two doc-keyed aggregates then join on the id
    with no further exchange (both sides already hash-partitioned by
    it), and the kept text is rebuilt by O(n_kept) constant-time array
    lookups into the document's own ordered line array — per-document
    work O(L log L) for the sort, never quadratic, and bounded by
    document size, never corpus-shaped.

    NULL text scores as EMPTY:
    ``posexplode(split(NULL))`` yields no rows, so a NULL-text doc would
    otherwise never reach ``doc_lines`` and VANISH from the output — the
    silent-corpus-loss failure mode this module's contracts forbid. The
    coalesce makes a NULL-text doc behave exactly like an empty-text doc
    (one empty line that competes for the corpus-wide '' slot), matching
    the repo-wide null-text rule (quality_gate_adaptive,
    leakage_safe_split, source_overlap)."""
    lines = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
            ).alias("__ln", "__line"),
        )
        .withColumn("__lh", F.md5(F.col("__line").cast("binary")))
        .localCheckpoint(eager=False)
    )
    # the ONE text-carrying shuffle: each doc's lines in original order
    doc_lines = lines.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("__ln"), F.col("__line")))
            ),
            lambda s: s["__line"],
        ).alias("__all")
    )
    # digest-only projection: the raw line never enters this shuffle
    firsts = lines.select("__lh", id_col, "__ln").groupBy("__lh").agg(
        F.min(F.struct(F.col(id_col), F.col("__ln"))).alias("__first")
    )
    keep_idx = firsts.groupBy(F.col(f"__first.{id_col}").alias(id_col)).agg(
        F.array_sort(F.collect_set(F.col("__first.__ln"))).alias(
            "__keep_lns"
        )
    )
    rebuilt = F.concat_ws(
        "\n",
        F.transform(
            F.col("__keep_lns"),
            lambda i: F.element_at(F.col("__all"), i + 1),
        ),
    )
    return doc_lines.join(keep_idx, id_col, "left").select(
        F.col(id_col),
        F.size(F.col("__all")).cast("long").alias("n_lines"),
        # NOT coalesce(size(...), 0): under non-ANSI mode size(NULL)
        # returns -1 (non-null), so the coalesce never fires and an
        # emptied-out doc would report n_kept=-1 —
        # inconsistent with this module's deliberate non-ANSI hardening
        F.when(F.col("__keep_lns").isNull(), F.lit(0))
        .otherwise(F.size(F.col("__keep_lns")))
        .cast("long")
        .alias("n_kept"),
        F.when(F.col("__keep_lns").isNotNull(), rebuilt).alias("text_kept"),
    )


def line_dedup_trim(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4 corpus-wide line dedup that EMITS the cleaned corpus: same
    first-global-occurrence semantics as
    :func:`line_dedup_corpus` (whose output is the audit digest), but the
    reassembled surviving TEXT is returned so the next pipeline stage can
    consume it — the ``trim_duplicate_spans`` treatment applied to the
    line stage. A filter signal that can't feed the next stage isn't a
    pipeline operator; this face is what curation v4 wires in.

    Output: (id, n_lines, n_kept, text_kept) — text_kept is NULL when
    every line was a corpus-repeat and the doc empties out (n_kept=0),
    the C4 drop signal a downstream ``where(n_kept > 0)`` applies."""
    return _line_dedup_joined(df, id_col, text_col)


def _div_exact(a: Column, b: Column) -> Column:
    """Exact floor division of non-negative DECIMAL(38,0) columns.

    Neither Spark primitive is safe here: ``DIV`` returns BIGINT (wraps
    past 2^63) and decimal ``/`` adjusts
    precision/scale and may ROUND under allowPrecisionLoss. Instead the
    numerator is first made an exact multiple of b (``a - a % b``, both
    exact decimal ops), so the mathematical quotient is an integer and
    the decimal(38,6) division result represents it exactly while the
    quotient stays below 10^32 — far above any weight this module
    derives (the operands themselves cap at 10^38). Property-pinned vs
    Python integer division."""
    a = a.cast("decimal(38,0)")
    b = b.cast("decimal(38,0)")
    return ((a - a % b) / b).cast("decimal(38,0)")


# floor(sqrt(10^38 - 1)) — the largest value whose square still fits
# DECIMAL(38,0); the Newton estimate is clamped here so the correction
# ladder's plain squares can never overflow (ANSI mode THROWS on decimal
# overflow, it does not NULL).
_ISQRT_DEC_MAX = "9999999999999999999"


def _isqrt_dec_steps(df: DataFrame, src: str, out: str) -> DataFrame:
    """Append ``out`` = exact integer square root of the non-negative
    DECIMAL(38,0) column ``src``. A plain BIGINT float-seed ±1 correction
    is exact only while q fits BIGINT; at
    q ≈ 10^38 the double seed is off by up to ~1.2e3, so here two
    integer Newton steps in exact decimal arithmetic contract the seed
    error below 2 (e' ≲ e²/2√q + 1.5) and a ±2 correction ladder
    finishes; every op is exact decimal, so the result is bit-identical
    in any engine (pinned vs math.isqrt across the full range including
    near-squares at 10^37..10^38).

    DataFrame-step form, not a nested Column: each Newton/correction
    step lands in a named column evaluated once — the naive nested
    expression multiplies the subtree ~3× per step and blows past
    janino's method-size limit. Overflow discipline for ANSI mode
    (Spark 4 default — decimal overflow THROWS): the estimate is
    clamped to isqrt(10^38-1) before the down-corrections (plain
    squares, always in range) and the up-corrections use try_multiply,
    whose NULL-on-overflow compares false — the correct branch, since
    (s+1)² > 10^38 > q there. Intended for model-scale frames (the
    collapsed stratum counts); it appends a handful of columns."""
    q = F.col(src).cast("decimal(38,0)")
    one = F.lit(1).cast("decimal(38,0)")
    two = F.lit(2).cast("decimal(38,0)")
    smax = F.lit(_ISQRT_DEC_MAX).cast("decimal(38,0)")
    t0, t1, t2 = f"__{out}_s0", f"__{out}_s1", f"__{out}_s2"
    # seed: the double sqrt cast straight to decimal — NOT through
    # F.floor, which returns LONG and saturates at 2^63-1 (sqrt(q) tops
    # out near 10^19 here, past BIGINT); the round-instead-of-floor cast
    # only moves the seed by ±1 on top of the ~1.2e3 float error
    df = df.withColumn(
        t0,
        F.greatest(F.sqrt(q.cast("double")).cast("decimal(38,0)"), one),
    )
    df = df.withColumn(
        t1,
        F.greatest(_div_exact(F.col(t0) + _div_exact(q, F.col(t0)), two), one),
    )
    df = df.withColumn(
        t2,
        F.least(_div_exact(F.col(t1) + _div_exact(q, F.col(t1)), two), smax),
    )
    for _ in range(2):  # down-corrections (estimate ≤ smax → squares fit)
        s = F.col(t2)
        df = df.withColumn(t2, F.when(s * s > q, s - one).otherwise(s))
    for _ in range(2):  # up-corrections (try_multiply: overflow ⇒ false)
        s = F.col(t2)
        df = df.withColumn(
            t2,
            F.when(F.try_multiply(s + one, s + one) <= q, s + one).otherwise(s),
        )
    # NULL must propagate, not corrupt: without the isNull branch a NULL
    # input (a decimal overflow under non-ANSI mode) would ride through
    # greatest/least — which SKIP null operands — and surface as the smax
    # clamp, a silently wrong (huge) value that defeats every downstream
    # loud-overflow guard.
    df = df.withColumn(
        out,
        F.when(q.isNull(), F.lit(None).cast("decimal(38,0)"))
        .when(
            q == F.lit(0).cast("decimal(38,0)"), F.lit(0).cast("decimal(38,0)")
        )
        .otherwise(F.col(t2)),
    )
    return df.drop(t0, t1, t2)


def _isqrt_unscale_steps(
    df: DataFrame, root_col: str, q_col: str, denom: int, out: str
) -> DataFrame:
    """Append ``out`` = exact isqrt of DECIMAL(38,0) ``q_col``, seeded
    from ``root_col`` = isqrt of the SAME quotient computed at a
    ``denom``²-finer scale (the α=3/4 fusion: w_{1/2} recovered
    from the q4 chain's first root instead of a second full Newton
    chain). Precondition: with x the underlying real quotient,
    ``q_col`` = floor(x) and ``root_col`` = isqrt(floor(x·denom²)) —
    exactly the ``_div_exact(n_max·d², n)`` / ``isqrt(_div_exact(
    n_max·d⁴, n))`` pair, since floor(x·d²) absorbs the outer floor.

    Exactness: c = root DIV denom = floor(sqrt(floor(x·d²))/d) and
    isqrt(floor(x)) are both floors of reals inside [√(x−1), √x]
    (lower: floor(x·d²) ≥ floor(x)·d²; upper: √x < √(floor(x)+1) ≤
    √floor(x)+1), an interval of width < 1, and c ≥ isqrt(floor(x)),
    so c ∈ {w, w+1}: ONE down-correction lands on the spec value,
    bit-identically (property-pinned vs math.isqrt across the full
    decimal range and vs the unfused chain). The up-correction is the
    module-standard belt — it cannot fire for an in-contract seed.

    ANSI overflow discipline (the _isqrt_dec_steps rules): the seed is
    clamped to isqrt(10^38−1) before its plain square (at q near the
    decimal ceiling, w+1 squared would overflow and ANSI THROWS); the
    up-correction uses try_multiply (NULL-on-overflow compares false —
    the correct branch). NULL must propagate, not corrupt: a NULL seed
    (non-ANSI overflow of the finer-scale chain) rides through least()
    — which SKIPS null operands — as the smax clamp, so the final
    branch re-derives NULL from either input being NULL (downstream,
    mix_temperature's loud raise_error guard fires on the NULL weight
    exactly as with the unfused chain)."""
    q = F.col(q_col).cast("decimal(38,0)")
    one = F.lit(1).cast("decimal(38,0)")
    dd = F.lit(denom).cast("decimal(38,0)")
    smax = F.lit(_ISQRT_DEC_MAX).cast("decimal(38,0)")
    t = f"__{out}_c"
    df = df.withColumn(
        t, F.least(_div_exact(F.col(root_col), dd), smax)
    )
    c = F.col(t)
    df = df.withColumn(t, F.when(c * c > q, c - one).otherwise(c))
    c = F.col(t)
    df = df.withColumn(
        t,
        F.when(F.try_multiply(c + one, c + one) <= q, c + one).otherwise(c),
    )
    df = df.withColumn(
        out,
        F.when(
            q.isNull() | F.col(root_col).isNull(),
            F.lit(None).cast("decimal(38,0)"),
        ).otherwise(F.col(t)),
    )
    return df.drop(t)


def mix_temperature(
    df: DataFrame,
    strata_col: str,
    id_col: str = "doc_id",
    denom: int = 10_000,
    alpha: tuple[int, int] = (1, 2),
) -> DataFrame:
    """Temperature-weighted corpus mixing — the multi-domain sampling
    step of LLM data recipes (sampled share ∝ natural share^α, so small
    domains are upsampled toward balance without erasing scale
    information). Unlike :func:`mix_epochs`, the per-stratum weights are
    DERIVED from the corpus itself: w_l = (n_max / n_l)^α, normalized so
    the LARGEST stratum runs exactly 1.0 epochs and every smaller one is
    upsampled by the power ratio (expected multiplicities realize the
    p^α distribution over strata).

    ``alpha`` is a fraction (num, den) with den ∈ {1, 2, 4} and
    0 < num ≤ den — real recipes live in α ∈ [0.2, 0.7] (α=1/2 is the
    canonical multilingual setting, 1/4 flatter, 3/4 closer to natural,
    1 = inverse-frequency balance). Dyadic denominators keep the weight
    EXACT: α = a/2^b needs only nested integer square roots.

    Exactness: float ``pow``/``sqrt`` pipelines can differ in the last
    bit across engines, and a BIGINT pipeline silently wraps once
    n_max · denom² passes 2^63 — so every quantity is DECIMAL(38,0)
    with exact floor division
    (:func:`_div_exact`) and exact decimal isqrt (:func:`_isqrt_dec_steps`):
      α=1      → w_q = (n_max·denom)            DIV n
      α=1/2    → w_q = isqrt((n_max·denom²)     DIV n)
      α=1/4    → w_q = isqrt(isqrt((n_max·denom⁴) DIV n))
      α=3/4    → w_q = (w_{1/2} · w_{1/4})      DIV denom
    (binary-expansion product: x^(3/4) = x^(1/2)·x^(1/4)). Base copies =
    w_q DIV denom; the fractional copy comes from the shared mixed-hash
    threshold (pmod(h, denom) < w_q mod denom) — every realized copy a
    pure function of the id, bit-identical in DuckDB. Values at α=1/2
    equal the BIGINT form's wherever that does not overflow (same
    floor/isqrt math, parity-pinned). Bounds: two constraints,
    both astronomically above real corpora — the multiplication needs
    n_max·denom^(2^b) ≤ 10^38 (n_max ≤ 10^22 at den=4, 10^30 at den=2,
    denom=10⁴), and :func:`_div_exact`'s decimal(38,6) quotient needs
    (n_max/n_min)·denom^(2^b) < 10^32 (stratum imbalance ≤ 10^16 at
    den=4, 10^24 at den=2). Past either, the failure is LOUD: under
    ANSI (the Spark 4 default) the decimal op throws; under non-ANSI
    the NULL propagates through the isqrt chain (pinned) into the
    raise_error guard below — never a silently wrong weight, because
    silent corpus loss/corruption is the worst failure mode a sampler
    can have.

    Scale shape: one stratum-count aggregate (tiny result), weights
    derived ON that collapsed frame (window over |strata| rows),
    broadcast back, then the map-only copy explode — the raw corpus is
    scanned once and never shuffled.

    Output: (id, stratum, w_q, epoch) — w_q is the applied weight in
    1/denom units, for the mix audit."""
    num, den = alpha
    if den not in (1, 2, 4) or not 0 < num <= den:
        raise ValueError(
            f"mix_temperature: alpha must be (num, den) with den in "
            f"(1, 2, 4) and 0 < num <= den, got {alpha!r}"
        )
    while num % 2 == 0 and den % 2 == 0:
        num //= 2
        den //= 2

    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    # single-partition window over the COLLAPSED |strata|-row frame — the
    # correct plan at any scale, but a foldable lit(1) key is optimized
    # to an empty spec and WindowExec then logs its data-scale warning on
    # every run (3+ spurious warnings per bench run would mask a REAL
    # global-window regression elsewhere)
    w_all = Window.partitionBy(single_partition_key())
    nmax = F.col("__nmaxd")
    n = F.col("__nd")
    dd = F.lit(denom).cast("decimal(38,0)")
    wdf = counts.withColumn(
        "__nmaxd", F.max("__n").over(w_all).cast("decimal(38,0)")
    ).withColumn("__nd", F.col("__n").cast("decimal(38,0)"))

    if (num, den) == (1, 1):
        wdf = wdf.withColumn("__w", _div_exact(nmax * dd, n))
    elif (num, den) == (1, 2):
        wdf = wdf.withColumn("__q2", _div_exact(nmax * dd * dd, n))
        wdf = _isqrt_dec_steps(wdf, "__q2", "__w")
    elif (num, den) == (1, 4):
        wdf = wdf.withColumn("__q4", _div_exact(nmax * dd * dd * dd * dd, n))
        wdf = _isqrt_dec_steps(wdf, "__q4", "__r4")
        wdf = _isqrt_dec_steps(wdf, "__r4", "__w")
    else:  # (3, 4): binary-expansion product w_{1/2} · w_{1/4} / denom
        # fused chain: both roots come off the ONE
        # q4 Newton chain — r4 = isqrt(q4) already carries w_{1/2} at
        # denom-finer scale, so it is recovered by exact floor division
        # + a ±1 ladder (:func:`_isqrt_unscale_steps`, bit-identical by
        # the interval argument there) instead of a second full chain.
        wdf = wdf.withColumn("__q2", _div_exact(nmax * dd * dd, n))
        wdf = wdf.withColumn("__q4", _div_exact(nmax * dd * dd * dd * dd, n))
        wdf = _isqrt_dec_steps(wdf, "__q4", "__r4")
        wdf = _isqrt_unscale_steps(wdf, "__r4", "__q2", denom, "__wh")
        wdf = _isqrt_dec_steps(wdf, "__r4", "__wq4")
        wdf = wdf.withColumn(
            "__w", _div_exact(F.col("__wh") * F.col("__wq4"), dd)
        )
    # loud overflow guard: under ANSI (Spark 4 default) a decimal
    # overflow upstream already throws; under non-ANSI it NULLs, and a
    # NULL weight would silently drop whole strata downstream — the
    # worst failure mode a sampler can have. Either way the failure is
    # loud, never silent.
    w_q = F.coalesce(
        F.col("__w").cast("long"),
        F.raise_error(
            F.lit(
                "mix_temperature: weight overflow — n_max exceeds the "
                "exact-arithmetic bound for this (alpha, denom)"
            )
        ).cast("long"),
    )
    # Plan boundary on the model-scale weights frame (|strata| rows):
    # the step-column isqrt chains stack ~12 narrow projections, and
    # letting the main query's predicate pushdown substitute aliases
    # down through them expands the pushed expression ~3× per level —
    # a StackOverflow in the optimizer at den=4. The LAZY checkpoint
    # truncates the logical plan without scheduling a separate job (the
    # tiny weights RDD materializes inside the first downstream action).
    weights = wdf.select(F.col(strata_col), w_q.alias("w_q")).localCheckpoint(
        eager=False
    )
    h = F.pmod(poly_hash_mixed_col(id_col), F.lit(denom))
    n_copies = F.expr(f"w_q DIV {denom}") + F.when(
        h < F.expr(f"w_q % {denom}"), F.lit(1)
    ).otherwise(F.lit(0))
    # null-safe join: a NULL stratum is ITS OWN stratum (groupBy already
    # counted it) — a plain equi-join would silently DROP those rows, the
    # worst failure mode a sampling operator can have (silent corpus loss)
    d = df.select(F.col(id_col), F.col(strata_col))
    return (
        d.join(
            F.broadcast(weights.withColumnRenamed(strata_col, "__wstr")),
            d[strata_col].eqNullSafe(F.col("__wstr")),
        )
        .drop("__wstr")
        .withColumn("__n", n_copies)
        .where(F.col("__n") > 0)
        .select(
            F.col(id_col),
            F.col(strata_col),
            F.col("w_q"),
            F.explode(F.expr("sequence(1, __n)")).alias("epoch"),
        )
        .withColumn("epoch", F.col("epoch").cast("long"))
    )


def mix_epochs(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    default_weight: float = 1.0,
    id_col: str = "doc_id",
    denom: int = 10_000,
) -> DataFrame:
    """Deterministic fractional-epoch corpus mixing — the sampling-weights
    primitive of LLM pretraining data recipes (e.g. "2.5 epochs of source X,
    0.3 of source Y"): every row is emitted ``floor(w)`` times, plus one
    extra copy iff ``pmod(poly_hash(id), denom) < frac(w)·denom``, so each
    stratum's expected multiplicity is exactly ``w`` to 1/denom while the
    realized copy set is a pure function of the id — stable across runs,
    engines and cluster shapes, and any stratum's weight can be retuned
    without resampling the others (same contract as stratified_sample,
    extended above 1.0).

    Output: one row per (doc, epoch) with ``epoch`` in 1..n_copies.

    Scale shape: a when-chain projection + explode of a per-row sequence —
    map-only, no shuffle, output inherits the input partitioning. Uses the
    MIXED hash (functions/hashing.py): raw poly-hash values of short
    numeric ids sit in narrow bands and skew the realized rates badly."""
    # loud-failure posture: a negative
    # weight would silently floor to 0 copies with a negative fractional
    # threshold, and NaN would silently zero out a stratum
    for k, w in list(weights.items()) + [("default_weight", default_weight)]:
        if not (w >= 0):  # catches negatives AND NaN (NaN >= 0 is False)
            raise ValueError(f"mix_epochs: weight for {k!r} must be >= 0, got {w}")

    h = F.pmod(poly_hash_mixed_col(id_col), F.lit(denom))
    dw = default_weight
    base = _per_stratum(
        strata_col, {k: int(w) for k, w in weights.items()}, int(dw)
    )
    # h < frac(w)·denom is h < ceil(w·denom) − floor(w)·denom
    thr = _per_stratum(
        strata_col,
        {k: _cut(w, denom) - int(w) * denom for k, w in weights.items()},
        _cut(dw, denom) - int(dw) * denom,
    )
    n_copies = base + F.when(h < thr, F.lit(1)).otherwise(F.lit(0))
    return (
        df.withColumn("__n", n_copies)
        # sequence(1, 0) would count DOWN — zero-copy rows must be filtered,
        # not exploded
        .where(F.col("__n") > 0)
        .select(
            F.col(id_col),
            F.col(strata_col),
            F.explode(F.expr("sequence(1, __n)")).alias("epoch"),
        )
        .withColumn("epoch", F.col("epoch").cast("long"))
    )


def duplicate_spans(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-span measurement — the exact-substring-dedup
    signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): for each document, how many of its distinct n-token
    windows also occur in at least one OTHER document, and the fraction.
    Exact copies score 1.0; partially-quoted/boilerplate docs score in
    between; within-doc repetition is deliberately excluded (that is
    ``repetition_signals``' job) because windows are distinct per doc.

    Scale shape: window explode (map-only) → window doc-frequency groupBy
    with map-side combine → join back → per-doc aggregate. Same
    inverted-index cost envelope as ``ngram_jaccard_pairs`` but with no
    pair join at all, so no df-cap is needed. The groupBy/join key is
    :func:`hash128` of the window, NOT the raw n-token string; a
    collision could only merge two windows' doc-frequency counts, never
    lose a window."""
    from mongo_polars_reconciliation_spark.extensions.dedup import shingles

    sh = (
        shingles(df, id_col, text_col, n)
        .select(F.col(id_col), *hash128("shingle"))
        .localCheckpoint(eager=False)
    )
    dfreq = sh.groupBy("h1", "h2").agg(F.count(F.lit(1)).alias("df_"))
    return (
        sh.join(dfreq, ["h1", "h2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count(F.when(F.col("df_") >= 2, 1)).alias("n_dup_windows"),
        )
        .select(
            F.col(id_col),
            "n_windows",
            "n_dup_windows",
            floor4(F.col("n_dup_windows") / F.col("n_windows")).alias(
                "dup_span_frac_r"
            ),
        )
    )


def trim_duplicate_spans(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level exact-substring TRIMMING — the removal counterpart of
    :func:`duplicate_spans` (which only measures): every token covered by
    at least one cross-document duplicated n-token window is deleted, the
    rest of the document survives in order (the suffix-array-style "trim
    the duplicated span, keep the rest" operation of exact-substring dedup
    à la Lee et al. 2022, without destroying the unique remainder the way
    whole-document dropping would).

    Rule: window w (n consecutive tokens) is *duplicated* iff it occurs in
    ≥ 2 DISTINCT documents — the same cross-doc rule ``duplicate_spans``
    scores, so a doc's ``n_dup_windows > 0`` there iff it loses tokens
    here. Token j of a doc is *covered* iff some duplicated window starts
    in [j−n+1, j]. Output per document: original/kept token counts, the
    kept fraction (floor4), and the md5 of the trimmed text — determinism
    is positional (tokens keep their original order), so the hash is
    engine-reproducible. Docs shorter than n tokens have no windows and
    survive whole; fully-covered docs report ``n_kept`` 0 and the md5 of
    the empty string.

    Scale shape: positional window explode (map-only) → window
    doc-frequency groupBy with map-side combine → join back (the
    ``duplicate_spans`` envelope) → covered-position explode (only
    duplicated windows, ×n) → keyed distinct + anti-join on (doc, pos) →
    one groupBy(doc) whose collect_list is bounded by document length.
    No all-pairs joins anywhere. The window string itself never shuffles:
    the checkpoint materializes (doc, i, h1, h2) with :func:`hash128`
    replacing the raw n-token string — a collision could only over-mark
    a window as duplicated, never unmark one."""
    base = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
    tok = base.select(
        F.col(id_col), F.posexplode("toks").alias("pos", "tok")
    )
    wins = (
        base.where(F.size("toks") >= n)
        .select(
            F.col(id_col),
            F.posexplode(word_ngrams("toks", n)).alias("i", "w"),
        )
        .select(F.col(id_col), "i", *hash128("w"))
        .localCheckpoint(eager=False)
    )
    dupw = (
        wins.select(id_col, "h1", "h2")
        .distinct()
        .groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("df_"))
        .where(F.col("df_") >= 2)
        .select("h1", "h2")
    )
    covered = (
        wins.join(dupw, ["h1", "h2"])
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(n - 1))).alias(
                "pos"
            ),
        )
        .distinct()
    )
    kept = tok.join(covered, [id_col, "pos"], "left_anti")
    kept_agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).cast("binary")
        ).alias("trimmed_md5"),
    )
    totals = base.select(
        F.col(id_col), F.size("toks").cast("long").alias("n_tokens")
    )
    return totals.join(kept_agg, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        floor4(
            F.coalesce(F.col("n_kept"), F.lit(0)) / F.col("n_tokens")
        ).alias("kept_frac_r"),
        F.coalesce(
            F.col("trimmed_md5"), F.md5(F.lit("").cast("binary"))
        ).alias("trimmed_md5"),
    )


def token_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (SURVEY extension:
    'token counting (whitespace + a BPE-ish regex)')."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_PATTERN), 0))
        .cast("long")
        .alias("bpe_tokens"),
    )


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-ratio language ID: explode tokens, join the (broadcast)
    stopword dictionary, score per (doc, lang), argmax with deterministic
    tie-break (score desc, lang asc). One shuffle on doc_id."""
    spark = df.sparkSession
    # both dictionary tables are driver-known constants: literal plans
    sw = inline_local_df(
        spark,
        [
            F.struct(
                F.lit(lang).cast("string").alias("lang"),
                F.lit(w).cast("string").alias("tok"),
            )
            for lang, ws in STOPWORDS.items()
            for w in ws
        ],
    )
    langs = inline_local_df(
        spark,
        [F.struct(F.lit(lang).cast("string").alias("lang")) for lang in STOPWORDS],
    )
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    totals = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"))
    hits = (
        tok.join(F.broadcast(sw), "tok")
        .groupBy(id_col, "lang")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    # every (doc, lang) pair so zero-hit docs still get a deterministic argmax
    scored = (
        totals.crossJoin(F.broadcast(langs))
        .join(hits, [id_col, "lang"], "left")
        .select(
            F.col(id_col),
            "lang",
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_tok")).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("lang").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col("lang").alias("pred_lang"),
            floor4(F.col("score")).alias("score_r"),
        )
    )


def fused_doc_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple[str, ...] = (),
    c4: bool = False,
    gopher: bool = False,
) -> DataFrame:
    """Single-pass row-local scorer: language argmax + quality + whitespace
    token count in ONE projection — value-identical to
    ``language_id``/``quality_score``/``token_counts`` (property-pinned in
    tests/test_functions.py) but with ZERO shuffles: the stopword dictionary
    is tiny and fixed, so each language's hit count is an array ``filter``
    over the token array and the argmax is a greatest/when chain.

    Exactness of the argmax: ``language_id`` orders by ``n_hit/n_tok`` desc.
    All five ratios share the SAME positive denominator, so comparing the
    integer hit counts IS comparing the ratios (IEEE division by a common
    n ≤ 2^52 preserves strict order), and the when-chain walks languages in
    ascending order — reproducing the (score desc, lang asc) tie-break with
    no float comparison at all.

    At 100 TB this is the curation stage-3 shape: a map-only projection on
    the scan instead of three scans + two whole-corpus hash shuffles
    (explode/join/window) that the operator-per-frame composition costs.

    ``c4=True`` appends the two cheap C4-residual signals real
    curation gates on FIRST (Raffel et al. 2020 §2.2's line heuristics,
    doc-level): ``n_sentences`` (segments between terminal punctuation
    with at least one non-space char), ``term_sent_ratio_r`` (terminal
    punctuation marks per sentence, capped at 1 — a fully terminated doc
    scores 1.0, an unterminated tail drags it down, punctuation-free text
    scores 0), and ``mwps_r`` (mean whitespace words per sentence — the
    "lines of at least N words" cut). All three are splits/filters inside
    the SAME projection — zero new shuffles, integer counts floor4'd, so
    the oracle replays them bit-for-bit. Default off: every existing
    caller's output is unchanged.

    ``gopher=True`` appends the remaining Gopher rule-filter
    signals (Rae et al. 2021 §A1.1.1 — the non-repetition half;
    repetition lives in :func:`repetition_signals`): ``n_lines``,
    ``bullet_line_frac_r`` / ``ellipsis_line_frac_r`` (share of lines
    starting '- '/'* ' or ending '...' — boilerplate-list and truncation
    tells), ``alpha_word_frac_r`` (share of words carrying at least one
    alphabetic char), ``symbol_word_ratio_r`` ('#' plus '...' symbol
    count per word), ``mean_word_len_r`` (the 3–10 char band rule), and
    ``req_stop_hits`` (how many of the 8 Gopher required stop words
    appear — the "≥2 of them" rule). All line/word splits and filters in
    the SAME single projection — zero new shuffles — and every ratio is
    an integer-count division floor4'd, so the oracle replays each
    bit-for-bit. Default off."""
    toks = F.split(F.col(text_col), " ")
    n_tok = F.size(toks).cast("long")
    def _hits(ws: list[str]):
        # single-arg lambda: F.filter dispatches on lambda arity, and a
        # second parameter would be bound to the element INDEX column
        return F.size(F.filter(toks, lambda t: t.isin(ws)))

    hit = {lang: _hits(ws) for lang, ws in STOPWORDS.items()}
    best = F.greatest(*hit.values())
    pred = None
    for lang in sorted(STOPWORDS):
        cond = hit[lang] == best
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    n_chars = F.length(F.col(text_col)).cast("long")
    avg_len = (n_chars - (n_tok - F.lit(1))) / n_tok
    sw_ratio = hit["en"].cast("long") / n_tok
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - sw_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), avg_len / F.lit(8.0))
    )
    cols = [
        F.col(id_col),
        *[F.col(c) for c in keep],
        pred.alias("pred_lang"),
        floor4(best.cast("long") / n_tok).alias("score_r"),
        floor4(quality).alias("quality_r"),
        n_tok.alias("ws_tokens"),
    ]
    if c4:
        segs = F.split(F.col(text_col), "[.!?]")
        n_sent = F.size(
            F.filter(segs, lambda s: F.length(F.trim(s)) > 0)
        ).cast("long")
        n_term = (
            F.length(F.col(text_col))
            - F.length(F.regexp_replace(F.col(text_col), "[.!?]", ""))
        ).cast("long")
        cols += [
            n_sent.alias("n_sentences"),
            F.when(n_sent > 0, floor4(F.least(F.lit(1.0), n_term / n_sent)))
            .otherwise(F.lit(0.0))
            .alias("term_sent_ratio_r"),
            F.when(n_sent > 0, floor4(n_tok / n_sent))
            .otherwise(F.lit(0.0))
            .alias("mwps_r"),
        ]
    if gopher:
        lines = F.split(F.col(text_col), "\n")
        n_lines = F.size(lines).cast("long")
        n_bullet = F.size(
            F.filter(lines, lambda ln: ln.startswith("- ") | ln.startswith("* "))
        ).cast("long")
        n_ellip_line = F.size(
            F.filter(lines, lambda ln: ln.endswith("..."))
        ).cast("long")
        n_alpha_w = F.size(
            F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
        ).cast("long")
        n_hash = (
            n_chars - F.length(F.regexp_replace(F.col(text_col), "#", ""))
        ).cast("long")
        n_ellip_sym = (
            n_chars - F.length(F.replace(F.col(text_col), F.lit("...")))
        ) / F.lit(3)
        req = ["the", "be", "to", "of", "and", "that", "have", "with"]
        req_hits = None
        for w in req:
            term = F.array_contains(toks, w).cast("int")
            req_hits = term if req_hits is None else req_hits + term
        cols += [
            n_lines.alias("n_lines"),
            floor4(n_bullet / n_lines).alias("bullet_line_frac_r"),
            floor4(n_ellip_line / n_lines).alias("ellipsis_line_frac_r"),
            floor4(n_alpha_w / n_tok).alias("alpha_word_frac_r"),
            floor4((n_hash + n_ellip_sym) / n_tok).alias(
                "symbol_word_ratio_r"
            ),
            floor4(avg_len).alias("mean_word_len_r"),
            req_hits.cast("long").alias("req_stop_hits"),
        ]
    return df.select(*cols)


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality scoring from length / stopword-ratio / token-length
    signals (pure column arithmetic; deterministic across engines because all
    inputs are exact ints before the final double ops)."""
    en = STOPWORDS["en"]
    toks = F.split(F.col(text_col), " ")
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(F.col(text_col)).cast("long")
    sw_hits = F.size(F.filter(toks, lambda t: t.isin(en))).cast("long")
    avg_len = (n_chars - (n_tok - F.lit(1))) / n_tok  # chars sans separators
    sw_ratio = sw_hits / n_tok
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - sw_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), avg_len / F.lit(8.0))
    )
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        floor4(sw_ratio).alias("stopword_ratio_r"),
        floor4(quality).alias("quality_r"),
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Collision/key fingerprint: md5 of the sorted distinct token set —
    word-order-insensitive document identity (OpenRefine-style key
    collision fingerprinting; the dedup blocking key for shuffled copies)."""
    return df.select(
        F.col(id_col),
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(F.split(F.col(text_col), " "))), " "
            ).cast("binary")
        ).alias("fp"),
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``top_tok_share_r``: occurrences of the most frequent token / total
      tokens (explode + hash-groupBy — the scalable frequency shape);
    - ``dup_3gram_frac_r``: 1 − distinct 3-grams / total 3-grams (pure
      array arithmetic, no shuffle);
    - ``consec_rep_frac_r``: fraction of adjacent token pairs that repeat
      (array fold, no shuffle);
    - ``flag_repetitive``: the standard cut (top share > 0.2 or duplicate
      3-gram fraction > 0.3).

    All ratios are exact-int divisions floor4-quantized, so the DuckDB
    oracle reproduces every value bit-for-bit."""
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), toks.alias("toks"))
    n = F.size("toks")

    tok_rows = base.select(F.col(id_col), F.explode("toks").alias("tok"))
    top = (
        tok_rows.groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_tok"))
    )

    grams = word_ngrams("toks", 3)
    consec = F.expr(
        "aggregate(sequence(1, size(toks)-1), 0, (acc, i) -> acc +"
        " CASE WHEN element_at(toks, i) = element_at(toks, i+1)"
        " THEN 1 ELSE 0 END)"
    )
    arr = base.select(
        F.col(id_col),
        F.when(
            n >= 3,
            F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_3gram_frac"),
        F.when(n >= 2, consec / (n - F.lit(1)))
        .otherwise(F.lit(0.0))
        .alias("consec_rep_frac"),
    )

    out = top.join(arr, id_col)
    top_share = F.col("top_c") / F.col("n_tok")
    return out.select(
        F.col(id_col),
        floor4(top_share).alias("top_tok_share_r"),
        floor4(F.col("dup_3gram_frac")).alias("dup_3gram_frac_r"),
        floor4(F.col("consec_rep_frac")).alias("consec_rep_frac_r"),
        ((top_share > 0.2) | (F.col("dup_3gram_frac") > 0.3)).alias(
            "flag_repetitive"
        ),
    )


def contamination_probe(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-decontamination probe: per training document, how many of
    its word n-grams appear in ANY benchmark document, and the fraction of
    its n-grams that are contaminated (the standard overlap rule used to
    drop eval-set leakage from a training corpus).

    Scale shape: distinct n-grams on both sides, inner join on the n-gram
    string against the (small) benchmark index — broadcastable when the
    benchmark is eval-set sized — then one hash-groupBy per doc. No
    all-pairs, no Python. Returns only contaminated docs (hit_ngrams > 0);
    clean docs are the complement."""
    from mongo_polars_reconciliation_spark.extensions.dedup import shingles

    doc_grams = shingles(docs, id_col, text_col, n)
    bench_grams = (
        shingles(benchmark, bench_id_col, text_col, n)
        .select("shingle")
        .distinct()
    )
    totals = doc_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("hit_ngrams"))
    )
    return (
        hits.join(totals, id_col)
        .select(
            F.col(id_col),
            F.col("hit_ngrams"),
            F.col("n_grams"),
            floor4(F.col("hit_ngrams") / F.col("n_grams")).alias("contam_frac_r"),
        )
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
) -> DataFrame:
    """Corpus-bigram language-model quality scoring — the CCNet-style
    "how typical is this document of the corpus" signal: train a bigram
    model on the corpus itself (occurrence counts), score every document
    by its mean conditional bigram probability. Atypical documents
    (boilerplate explosions, lorem-ipsum, wrong-language fragments)
    score low; middle-of-the-distribution prose scores high.

    Integer-exact instead of log-prob floats (the tf·idf trick): each
    bigram's probability is ``p_q = c(w1,w2)·scale DIV c(w1·)`` and the
    doc score is ``lm_score_q = SUM(p_q) DIV n_bigrams`` — pure BIGINT,
    shuffle-order-independent, bit-identical in DuckDB (no libm ``ln``
    whose last bit differs between runtimes). Monotone per-bigram in the
    true probability at 1/scale resolution. ``scale``·max-bigram-count
    must stay < 2^63: the 10^6 default supports ~9·10^12 occurrences of
    a single bigram — raise scale only with that budget in mind.

    Plan shape: one bigram explode (map-side) → corpus (w1, w2) count
    with map-side combine → prefix totals as a second small aggregate →
    probability join keyed on the bigram (hot bigrams are one-row build
    keys — hash join absorbs the skew) → per-doc aggregate. Docs with
    fewer than two tokens have no bigrams and are absent, like the other
    bigram operators."""
    pairs = df.select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("toks"),
    ).where(F.size("toks") >= 2).select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, "
                "element_at(toks, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select(
        F.col(id_col), F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    ).localCheckpoint(eager=False)
    # ^ pairs is consumed twice (corpus counts AND the per-doc probability
    # join); without the checkpoint the explode runs both times (measured
    # interleaved, 3 reps at sf0.1: 1.06 -> 0.81 s warm min)
    c2 = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        # consumed twice (prefix totals AND the probability join): without
        # this the |distinct-bigram| aggregate runs twice. Wall-clock
        # NEUTRAL at sf0.1 (0.83 vs 0.87 s min, interleaved — stage
        # latency dominates); kept for the duplicated full-corpus shuffle
        # it removes at real scale, same policy as the curation shared
        # scan.
        .localCheckpoint(eager=False)
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    probs = c2.join(c1, "w1").select(
        "w1", "w2", F.expr(f"c2 * CAST({scale} AS BIGINT) DIV c1").alias("p_q")
    )
    return (
        pairs.join(probs, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("p_q").alias("__tot"),
        )
        .select(
            F.col(id_col),
            "n_bigrams",
            F.expr("__tot DIV n_bigrams").alias("lm_score_q"),
        )
    )


def lm_typicality_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    scale: int = 1_000_000,
) -> DataFrame:
    """CCNet-style head/middle/tail split (Wenzek et al. 2020 §4.3): per
    language, the corpus is cut into typicality terciles by the
    integer-exact bigram-LM score — 'head' feeds high-quality training
    mixes, 'tail' is the review/drop pile. Docs with fewer than two
    tokens carry no score and are absent (the bigram operators'
    contract).

    Scale shape — the cutoffs come from the score DISTRIBUTION, not a
    corpus-wide sort: the only full-data passes are the LM scorer's own
    aggregates plus one (lang, score) hash-groupBy; the tercile cutoffs
    are then found on that collapsed frame (|langs| × |distinct integer
    scores| rows — sketch-sized) with a window over the aggregate, and
    bucketing is a broadcast join back on lang. A per-language
    row_number over the raw corpus — the naive form — would sort 100 TB
    inside skewed language partitions; this never ranks raw rows.

    Cutoffs are nearest-rank: cut1 = the ceil(n/3)-th largest score,
    cut2 = the ceil(2n/3)-th; buckets by score-vs-cutoff comparison, so
    tied scores land in the same bucket regardless of shuffle order
    (integer comparisons only — deterministic and oracle-replayable)."""
    scores = bigram_lm_scores(df, id_col=id_col, text_col=text_col, scale=scale)
    scored = scores.join(
        df.select(F.col(id_col), F.col(lang_col)), id_col
    ).select(F.col(id_col), F.col(lang_col), F.col("lm_score_q"))
    dist = scored.groupBy(lang_col, "lm_score_q").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = (
        Window.partitionBy(lang_col)
        .orderBy(F.col("lm_score_q").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(lang_col)
    cum = dist.select(
        F.col(lang_col),
        F.col("lm_score_q"),
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    cuts = cum.groupBy(lang_col).agg(
        *[
            F.max(
                F.when(
                    F.col("cum") >= nearest_rank(Fraction(i, 3), "n"),
                    F.col("lm_score_q"),
                )
            ).alias(f"cut{i}")
            for i in (1, 2)
        ]
    )
    # null-safe join: docs with a NULL language form their own stratum
    # (the aggregates above already grouped them) — a plain equi-join
    # would silently drop them from the report
    return (
        scored.join(
            F.broadcast(cuts.withColumnRenamed(lang_col, "__clang")),
            scored[lang_col].eqNullSafe(F.col("__clang")),
        )
        .select(
            F.col(id_col),
            F.col(lang_col),
            F.col("lm_score_q"),
            F.when(F.col("lm_score_q") >= F.col("cut1"), F.lit("head"))
            .when(F.col("lm_score_q") >= F.col("cut2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def ngram_frequencies(
    df: DataFrame,
    n: int = 2,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level n-gram frequency table: (ngram, n_docs, n_occurrences)
    for n-grams above ``min_count`` occurrences — the vocabulary/phrase
    statistics pass of a corpus build (stop-phrase lists, contamination
    probes, tokenizer vocab candidates).

    Scale shape: one explode + one hash-groupBy with map-side partial
    aggregation; the min_count filter runs post-agg (HAVING), so the
    shuffle carries one partial row per (partition, ngram)."""
    grams = df.select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("toks"),
    ).where(F.size("toks") >= n).select(
        F.col(id_col), F.explode(word_ngrams("toks", n)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_occurrences") >= min_count)
    )


def cms_cells(frame: DataFrame, d: int, w: int, *carry: str) -> DataFrame:
    """The count-min cells of every ``tok`` row of ``frame``: one
    ``(carry…, j, b)`` row per sketch row ``j < d``, with
    ``b = ((h1 + j·h2) mod POLY_P31) mod w`` over the
    :func:`~mongo_polars_reconciliation_spark.functions.hashing.poly_hash_pair`
    of the token — the one definition of a CMS cell, shared by the batch
    counters, the top-k probes and the streaming counter state."""
    h1, h2 = poly_hash_pair("tok")
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).cast("int").alias("j"),
                    F.pmod(F.pmod(h1 + F.lit(j) * h2, F.lit(POLY_P31)), F.lit(w)).alias("b"),
                )
                for j in range(d)
            ]
        )
    ).alias("jb")
    return frame.select(*carry, cells).select(
        *carry, F.col("jb.j").alias("j"), F.col("jb.b").alias("b")
    )


def _cms_counters(vocab: DataFrame, d: int, w: int, out: str) -> DataFrame:
    """The d×w counters ``(j, b, out)`` from a ``(tok, n_exact)``
    vocabulary: each distinct token is hashed once and weights its cells
    by its occurrence count (vocab-first)."""
    return (
        cms_cells(vocab, d, w, "n_exact")
        .groupBy("j", "b")
        .agg(F.sum("n_exact").alias(out))
    )


def heavy_hitters_cms(
    df: DataFrame,
    d: int = 3,
    w: int = 64,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Count-min-sketch heavy hitters: the corpus's top-``k`` tokens by
    exact count, each with its CMS estimate — the mergeable bounded-state
    frequency sketch (Cormode & Muthukrishnan 2005) a 100 TB pipeline uses
    when the token universe doesn't fit anywhere: the sketch is d×w
    counters whatever the corpus size, counters are plain sums (mergeable
    across partitions/days/sources without rescanning — the same
    partial-aggregation contract as the KMV sketch), and estimates can
    only OVERcount (min over d rows), never undercount.

    Bucket family: :func:`cms_cells`, the standard double-hashing rows
    ``g_j = (h1 + j·h2) mod p mod w`` (Kirsch & Mitzenmacher 2006) with
    two genuinely different base hashes — the same polynomial fold under
    two DIFFERENT prime moduli (functions/hashing.py:POLY_P31B has the
    why, and why the two prior h2 designs — reversed token (h1 == h2 for
    palindromes, incl. every 1-char token) and salt-prefixed token
    (same-length collisions propagate) — were rejected). If h2(x) = 0
    (prob 1/p2) the d rows coincide for that token — estimates still never
    undercount, the sketch just loses row-independence for that key.

    Determinism: bucket hashes derive from the cross-engine mixed
    polynomial hash (functions/hashing.py), so the oracle reproduces every
    counter and estimate bit-for-bit; the exact top-k rides along both as
    the ranking key and as the ground truth that pins the ≥ invariant.

    Scale shape: one token explode → d bucket rows per occurrence →
    (j, bucket) hash-aggregate whose map-side combine caps shuffled rows
    at d·w per partition; the exact top-k is a (token) hash-aggregate +
    TakeOrderedAndProject; estimates join the k×d probe rows (broadcast)
    against the d·w counter rows. Nothing driver-side beyond k rows."""
    # Aggregate occurrences to the (vocab-sized) distinct-token frame
    # FIRST, then hash each distinct token once and weight its counter
    # contribution by the occurrence count — same integer sums bit-for-
    # bit, but the two interpreted hash folds run |vocab| times instead
    # of |corpus tokens| times (measured at sf0.1: 3.43→1.09 s warm
    # min). The (j, b) aggregate's input also shrinks from
    # d·occurrences to d·vocab rows.
    exact = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .localCheckpoint(eager=False)
    )
    counters = _cms_counters(exact, d, w, "cnt")
    topk = exact.orderBy(F.col("n_exact").desc(), F.col("tok").asc()).limit(k)
    probes = cms_cells(topk, d, w, "tok", "n_exact")
    est = (
        F.broadcast(probes)
        .join(counters, ["j", "b"])
        .groupBy("tok", "n_exact")
        .agg(F.min("cnt").alias("n_cms"))
    )
    # non-foldable constant key: the rank window only ever sees the k
    # limited rows (see functions/windows.py)
    rank_w = Window.partitionBy(single_partition_key()).orderBy(
        F.col("n_exact").desc(), F.col("tok").asc()
    )
    return est.withColumn(
        "rank", F.row_number().over(rank_w).cast("long")
    ).select("rank", "tok", "n_exact", "n_cms")


def ngram_novelty(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """First-seen n-gram novelty rate — the incremental-value signal of a
    corpus ordered by id (crawl snapshot order, shard order): for each
    document, how many of its distinct n-gram shingles appear in NO
    lower-id document, and the fraction. A doc full of already-seen
    n-grams adds little to a training mix even if it is not a near-dup
    of any single other doc (boilerplate recombination) — the curation
    signal exact/minhash dedup cannot express.

    Semantics: gram g is NOVEL in doc d iff min(doc_id over docs
    containing g) == d — each distinct gram is credited to exactly one
    document, so sum(n_novel) == count(distinct grams). Docs shorter
    than ``n`` tokens have no shingles and do not appear (the
    ``duplicate_spans`` contract).

    Scale shape: shingle explode (map-only) → min-id per gram with
    map-side combine → join back → per-doc aggregate — the inverted-
    index envelope of ``duplicate_spans``, same 128-bit hashed join key
    (raw shingle strings never shuffle), no pair joins anywhere."""
    from mongo_polars_reconciliation_spark.extensions.dedup import shingles

    sh = (
        shingles(df, id_col, text_col, n)
        .select(F.col(id_col), *hash128("shingle"))
        .localCheckpoint(eager=False)
    )
    first = sh.groupBy("h1", "h2").agg(F.min(id_col).alias("first_id"))
    return (
        sh.join(first, ["h1", "h2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("first_id") == F.col(id_col), 1)).alias(
                "n_novel"
            ),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "n_novel",
            floor4(F.col("n_novel") / F.col("n_grams")).alias(
                "novelty_frac_r"
            ),
        )
    )


def split_assignment(key: str) -> list[Column]:
    """The deterministic 80/10/10 train/val/test assignment of the key
    column ``key``: ``bucket`` = its mixed polynomial hash mod 100, and
    ``split`` = train below 80, val below 90, else test. A pure function
    of the key — no rand(), stable across runs, engines and cluster
    shapes. The mixed hash matters: raw poly-hash bands of short numeric
    ids skew the proportions."""
    h = F.pmod(poly_hash_mixed_col(key), F.lit(100))
    return [
        h.alias("bucket"),
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test").alias("split"),
    ]


def leakage_safe_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/val/test assignment that cannot leak exact duplicates across
    splits: documents are grouped by content digest, every group hashes
    ONE representative id (the group's min) into the 80/10/10 buckets,
    so all copies of a text land in the same split. Plain per-doc
    hash splitting (``text_split_assign``) puts an exact copy of a
    training document into the eval split with probability ~20% per
    duplicated pair — the classic train/test contamination bug this
    operator removes. Grouping by exact digest here; the same shape
    takes any cluster id (minhash/semantic) as the group key for
    near-dup-safe splits.

    Scale shape: one (digest → min id) hash-aggregate with map-side
    combine + one keyed join back on the digest — the md5 digest (not
    the text) is the only shuffled key. Assignment itself is the same
    deterministic mixed-hash bucket arithmetic as ``text_split_assign``:
    no rand(), stable across runs/engines/cluster shapes.

    NULL text digests as the empty string: md5(NULL) is NULL and a NULL
    key never matches the join back, so a null-text doc would receive NO
    assignment and silently vanish — the one outcome a split assigner
    must never produce. Null-text docs land in the empty-text group
    (deterministic, same split for all of them)."""
    digest = F.md5(
        F.coalesce(F.col(text_col), F.lit("")).cast("binary")
    ).alias("__dg")
    reps = (
        df.select(F.col(id_col), digest)
        .groupBy("__dg")
        .agg(F.min(id_col).alias("rep_id"))
    )
    return (
        df.select(F.col(id_col), digest)
        .join(reps, "__dg")
        .select(F.col(id_col), "rep_id", *split_assignment("rep_id"))
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    m_bits: int = 4096,
    k_hashes: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the bounded-state form of
    :func:`contamination_probe`: benchmark n-grams are folded into an
    ``m_bits``-position Bloom filter (``k_hashes`` positions per gram via
    Kirsch-Mitzenmacher double hashing, the same family as the CMS
    sketch), and a training document's gram is FLAGGED iff all k of its
    positions are set. One-sided error by construction: every truly
    contaminated gram is flagged (no false negatives — the property a
    decontamination gate must have), a clean gram is flagged with
    probability ≈ (1-e^{-kN/m})^k. The filter is ≤ m_bits of state
    however large the benchmark suite is, mergeable across benchmark
    shards by union/bit-OR — what a 100 TB pipeline broadcasts where the
    exact gram set would not fit.

    Spark realization: the bitmap is a LITERAL array<long> of m_bits/64
    words folded into the plan (the benchmark's ≤ m_bits distinct
    positions are collected driver-side — bounded by the filter
    geometry, not the benchmark size), and each gram tests its k
    positions row-locally with shift/mask arithmetic: one map + ONE
    groupBy(doc) aggregate, zero joins. Bit set ⇔ position present, so
    the DuckDB oracle replays every flag bit-for-bit, false positives
    included (same hashes ⇒ same collisions). Probe grams carry only
    their (h1, h2) hash pair — the gram string never shuffles. Returns
    flagged docs only (``contamination_probe``'s contract):
    (doc, n_grams, n_flagged, flagged_frac_r).

    Size gate: past ``m_bits/64 > BLOOM_LITERAL_MAX_WORDS`` the bitmap
    would be an O(m_bits) expression string through the parser/analyzer,
    so large geometries take the relational form instead — the k×-
    exploded (gram, j, p) frame broadcast-joined to the position table,
    then count-distinct per gram. Same membership decisions.

    The literal path collects the benchmark side EAGERLY (``bench_pos``
    runs as Spark jobs before this function returns); the relational
    path stays fully lazy."""
    from mongo_polars_reconciliation_spark.extensions.dedup import shingles

    def hashed_grams(df: DataFrame, idc: str) -> DataFrame:
        # widen-if-narrow: the gram hash is two interpreted char folds per
        # shingle and the whole chain is map-only — on a few-split corpus
        # it would run on as many cores as there are parquet splits
        # (measured: ONE, 9.2 s total) unless widened first. A no-op
        # at real scale, mandatory at test scale.
        sh = widen(shingles(df, idc, text_col, n), idc)
        h1, h2 = poly_hash_pair("shingle")
        return sh.select(F.col(idc), h1.alias("h1"), h2.alias("h2"))

    def pos(j: int) -> Column:
        # the j-th Bloom position of a gram: no inner POLY_P31 reduction,
        # unlike a CMS cell
        return F.pmod(F.col("h1") + F.lit(j) * F.col("h2"), F.lit(m_bits))

    def positions() -> Column:
        return F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).cast("int").alias("j"), pos(j).alias("p"))
                    for j in range(k_hashes)
                ]
            )
        )

    bench_pos = (
        hashed_grams(benchmark, bench_id_col)
        .select(positions().alias("jp"))
        .select(F.col("jp.p").alias("p"))
        .distinct()
    )
    n_words = (m_bits + 63) // 64
    if n_words <= BLOOM_LITERAL_MAX_WORDS:
        # fold the ≤ m_bits distinct positions into a literal bitmap
        # (m_bits/64 signed words); each gram tests its k positions
        # row-locally
        words = [0] * n_words
        for r in bench_pos.collect():
            p = int(r["p"])
            words[p // 64] |= 1 << (p % 64)
        bm_sql = "array(" + ",".join(
            str(w - (1 << 64) if w >= (1 << 63) else w) + "L" for w in words
        ) + ")"
        sh2 = (
            hashed_grams(docs, id_col)
            .select(
                F.col(id_col),
                "h1",
                "h2",
                *[pos(j).alias(f"__p{j}") for j in range(k_hashes)],
            )
            .withColumn("__bm", F.expr(bm_sql))
        )
        flag = reduce(
            lambda a, b: a & b,
            [
                F.expr(
                    f"(((element_at(__bm, cast(shiftright(__p{j}, 6) as int)"
                    f" + 1) >> cast(pmod(__p{j}, 64) as int)) & 1) = 1)"
                )
                for j in range(k_hashes)
            ],
        )
        return (
            sh2.select(F.col(id_col), "h1", "h2", flag.alias("__flag"))
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.count_distinct(
                    F.when(F.col("__flag"), F.struct("h1", "h2"))
                ).alias("n_flagged"),
            )
            .where(F.col("n_flagged") > 0)
            .select(
                F.col(id_col),
                "n_grams",
                "n_flagged",
                floor4(F.col("n_flagged") / F.col("n_grams")).alias(
                    "flagged_frac_r"
                ),
            )
        )
    sh = hashed_grams(docs, id_col).localCheckpoint(eager=False)
    gpos = sh.select(
        F.col(id_col), "h1", "h2", positions().alias("jp")
    ).select(id_col, "h1", "h2", F.col("jp.j").alias("j"), F.col("jp.p").alias("p"))
    flagged = (
        gpos.join(F.broadcast(bench_pos), "p")
        .groupBy(id_col, "h1", "h2")
        .agg(F.count_distinct("j").alias("nj"))
        .where(F.col("nj") == k_hashes)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )
    totals = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    return totals.join(flagged, id_col).select(
        F.col(id_col),
        "n_grams",
        "n_flagged",
        floor4(F.col("n_flagged") / F.col("n_grams")).alias(
            "flagged_frac_r"
        ),
    )


def cluster_safe_split(
    clusters: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """NEAR-dup-safe train/val/test assignment — the cluster-key
    generalization :func:`leakage_safe_split` documents: given any
    (doc, cluster) labeling (connected components over minhash pairs,
    semantic dedup groups, …), every cluster hashes ONCE into the
    80/10/10 buckets, so near-duplicate documents — not just exact
    copies — can never straddle train/eval. Map-only over the cluster
    table (the hash is pure column arithmetic); the clustering itself
    carries whatever cost its operator documents."""
    return clusters.select(
        F.col(id_col), F.col(cluster_col), *split_assignment(cluster_col)
    )


def cms_merge_check(
    df: DataFrame,
    n_splits: int = 3,
    d: int = 3,
    w: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pin of the count-min sketch's mergeability claim: build one partial
    sketch per corpus split, merge them by SUMMING counters, and emit every
    (j, b) counter of the merged sketch next to the global full-scan
    counter. Because CMS counters are plain sums of per-occurrence
    increments, ``sum over splits == global`` holds bit-for-bit — the
    partial-aggregation contract that lets a 100 TB corpus be sketched per
    source/day and combined without rescanning (same pin shape as
    ``events_kmv_merge`` for the KMV sketch).

    The two sides are INDEPENDENTLY constructed: each partial sketch comes
    from its own filtered scan of the source (``xxhash64(id) mod
    n_splits`` — a total, never-null partition of the rows), and the
    global side re-derives vocabulary and counters from an unfiltered
    scan. Aggregating ONE bucket frame twice would make merged == global
    an algebraic identity (SUM associativity) that could not fail
    whatever the sketch did; here a rewrite whose partials stop being
    mergeable (e.g. any split-dependent hashing or width) diverges. The
    comparison is a FULL OUTER join, so a
    bucket present on only one side surfaces as a NULL (hash-mismatch at
    the driver) instead of being silently dropped by an inner join.

    Scale shape: each partial is a vocab aggregate + d·w-row counter
    aggregate with map-side combine; the merge is a second d·w-row
    aggregate; the comparison join touches at most d·w rows. Output ≤ d·w
    rows, nothing driver-side. n_splits more scans than the tautological
    form — this operator is the mergeability AUDIT, not the sketch
    builder (``heavy_hitters_cms`` scans once)."""

    def counters(frame: DataFrame, out: str) -> DataFrame:
        vocab = (
            frame.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("n_exact"))
        )
        return _cms_counters(vocab, d, w, out)

    split = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_splits))
    partials = [
        counters(df.where(split == i), "cnt") for i in range(n_splits)
    ]
    merged = (
        reduce(DataFrame.unionByName, partials)
        .groupBy("j", "b")
        .agg(F.sum("cnt").alias("cnt_merged"))
    )
    global_c = counters(df, "cnt_global")
    return merged.join(global_c, ["j", "b"], "full_outer").select(
        F.col("j").cast("long").alias("j"),
        F.col("b").cast("long").alias("b"),
        F.col("cnt_merged").cast("long").alias("cnt_merged"),
        F.col("cnt_global").cast("long").alias("cnt_global"),
    )


def corpus_datacard(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-(source, language) corpus reporting — the dataset "data card"
    shape every corpus release needs: document count, total whitespace
    tokens, DECIMAL-exact mean quality, and exact nearest-rank p50/p90
    document lengths, in one frame.

    Plan shape at 100 TB: ONE map-only scoring projection
    (``fused_doc_scores``) then one shuffle on the (source, lang) key that
    serves both the rank window and the final aggregate — no global sort,
    no second scan. Quantiles are nearest-rank in integer arithmetic
    (``functions.windows.nearest_rank``) so every reported number is an
    actual data value, hash-identical across engines."""
    scored = fused_doc_scores(
        df, id_col=id_col, text_col=text_col, keep=(source_col, lang_col)
    )
    w = Window.partitionBy(source_col, lang_col).orderBy(
        F.col("ws_tokens").asc(), F.col(id_col).asc()
    )
    grp = Window.partitionBy(source_col, lang_col)
    ranked = scored.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(grp)
    )
    return ranked.groupBy(source_col, lang_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        floor4(
            F.sum(F.col("quality_r").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_quality_r"),
        *[
            F.max(F.when(F.col("__rn") == nearest_rank(q), F.col("ws_tokens"))).alias(
                f"p{round(q * 100)}_tokens"
            )
            for q in (0.5, 0.9)
        ],
    )


def datacard_state(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """The EXACT mergeable sufficient statistic behind
    :func:`corpus_datacard`: one row per (source, lang, ws_tokens)
    carrying the doc count and the DECIMAL quality sum. Because
    ``ws_tokens`` is a small integer, this histogram is sketch-sized
    (groups × distinct lengths) yet loses NOTHING: counts and decimal
    sums fold by addition, and nearest-rank quantiles are recoverable
    exactly from cumulative counts — so per-shard/per-day states merge
    into a release-level card bit-identical to a full rescan (pinned by
    ``datacard_merge_check``). The 100 TB reporting shape: each
    ingestion wave computes its own state (one scoring projection + one
    hash-aggregate with map-side combine), the release card folds
    states, and the raw corpus is never rescanned."""
    scored = fused_doc_scores(
        df, id_col=id_col, text_col=text_col, keep=(source_col, lang_col)
    )
    return scored.groupBy(source_col, lang_col, "ws_tokens").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.col("quality_r").cast("decimal(18,4)")).alias("q_sum"),
    )


def merge_datacard_states(
    states: list[DataFrame],
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Fold per-shard datacard states by addition — counts and decimal
    sums are plain associative/commutative sums, so fold order cannot
    change a bit."""
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy(source_col, lang_col, "ws_tokens").agg(
        F.sum("c").alias("c"), F.sum("q_sum").alias("q_sum")
    )


def datacard_from_state(
    state: DataFrame,
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Derive the exact data card from a (merged) state: counts/totals by
    summation, mean quality through the same DECIMAL route as
    :func:`corpus_datacard`, and nearest-rank p50/p90 as the smallest
    ws_tokens whose cumulative count reaches the rank — identical to the
    per-row window form because the k-th smallest value IS the first
    histogram bin whose cumulative count covers k. The windows here run
    over the collapsed histogram (sketch-sized), never raw rows."""
    w_cum = (
        Window.partitionBy(source_col, lang_col)
        .orderBy(F.col("ws_tokens").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = Window.partitionBy(source_col, lang_col)
    cum = state.select(
        F.col(source_col),
        F.col(lang_col),
        F.col("ws_tokens"),
        F.col("c"),
        F.col("q_sum"),
        F.sum("c").over(w_cum).alias("__cum"),
        F.sum("c").over(grp).alias("__n"),
    )
    return cum.groupBy(source_col, lang_col).agg(
        F.sum("c").alias("n_docs"),
        F.sum(F.col("ws_tokens") * F.col("c")).alias("total_ws_tokens"),
        floor4(F.sum("q_sum").cast("double") / F.sum("c")).alias(
            "avg_quality_r"
        ),
        *[
            F.min(F.when(F.col("__cum") >= nearest_rank(q), F.col("ws_tokens"))).alias(
                f"p{round(q * 100)}_tokens"
            )
            for q in (0.5, 0.9)
        ],
    )


def datacard_merge_check(
    df: DataFrame,
    n_splits: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Pin of the datacard's exact-mergeability claim (the
    ``cms_merge_check`` treatment): one state per corpus split — each
    from its OWN filtered scan (``pmod(doc_id, n_splits)``, a total
    never-null partition) — folded and derived into a card, FULL OUTER
    joined against the card :func:`corpus_datacard` re-derives from an
    unfiltered scan. Every metric appears twice (merged_* / global_*);
    the oracle pins them equal bit-for-bit. A rewrite whose state stops
    being sufficient (lossy binning, float quality sums) diverges here
    before it ships."""
    states = [
        datacard_state(
            df.filter(F.pmod(F.col(id_col), F.lit(n_splits)) == k),
            id_col,
            text_col,
            source_col,
            lang_col,
        )
        for k in range(n_splits)
    ]
    merged = datacard_from_state(
        merge_datacard_states(states, source_col, lang_col),
        source_col,
        lang_col,
    )
    global_card = corpus_datacard(df, id_col, text_col, source_col, lang_col)
    metrics = ("n_docs", "total_ws_tokens", "avg_quality_r", "p50_tokens", "p90_tokens")

    def side(card: DataFrame, prefix: str) -> DataFrame:
        return card.select(
            F.col(source_col),
            F.col(lang_col),
            *[F.col(c).alias(f"{prefix}_{c}") for c in metrics],
        )

    return side(merged, "merged").join(
        side(global_card, "global"), [source_col, lang_col], "full_outer"
    )


def bpe_pair_stats(
    df: DataFrame,
    min_count: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies within tokens — the
    statistics a byte-pair-encoding tokenizer's first merge step ranks
    (the most frequent pair becomes the first merge; re-running over a
    merged corpus yields the next). Returns every pair at or above
    ``min_count`` with its occurrence count and the number of distinct
    documents containing it.

    Scale shape: two nested explodes (map-only, linear in corpus chars)
    into one hash-groupBy with map-side partial aggregation — the same
    envelope as word-level ``ngram_frequencies``, just at the subword
    level. The HAVING filter runs post-agg so the shuffle carries one
    partial row per (partition, pair)."""
    pairs = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).where(F.length("tok") >= 2).select(
        F.col(id_col),
        F.explode(
            F.expr("transform(sequence(1, length(tok)-1), i -> substring(tok, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= min_count)
    )


def bpe_merge_fit(
    df: DataFrame,
    n_merges: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Iterative BPE vocabulary induction (Sennrich et al. 2016): run the
    full merge LOOP, not just the first round's pair statistics
    (``bpe_pair_stats``) — the gap between "has BPE stats" and "can
    induce a tokenizer". Returns the merge table, one row per learned
    merge: (merge_rank, lhs, rhs, merged, pair_count), where pair_count
    is the corpus-wide weighted frequency of (lhs, rhs) at the moment it
    was chosen. Deterministic: ties break (count DESC, lhs ASC, rhs ASC),
    so the table is bit-stable across runs/engines/partitionings.

    Algorithm, the standard trainer shape: (1) collapse the corpus to the
    WORD-FREQUENCY table once (vocab-first — every real BPE trainer runs
    on the word-count dict, and the |corpus| → |vocab| collapse is also
    the Spark win); each word starts as its
    character sequence. (2) Per round: corpus-wide adjacent-pair
    aggregate weighted by word count → the single best pair comes to the
    driver (ONE row — the same bounded-state loop contract as
    ``kmeans_fit``'s k×dim round-trips) → a map-only fold rewrites every
    word's symbol array, merging leftmost non-overlapping occurrences
    ("aaaa" + (a,a) → [aa, aa], "aaa" → [aa, a]). The fold stays in
    built-in expressions (``aggregate`` over the symbol array with
    literal lhs/rhs), so each round is one hash-aggregate + one map —
    no Python in the loop.

    Scale shape: driver state is n_merges×3 strings; distributed state
    is the |vocab|-row symbol table, localCheckpointed per round so
    lineage doesn't deepen with rounds (the AQE re-analysis lesson from
    plans/pipeline.py). Pair counts only shrink as merges apply, so the
    per-round aggregate's input is ≤ the round before. Rounds stop early
    if no pair remains (every word fully merged). Empty tokens carry no
    pairs and are excluded up front.

    Monotonicity invariant (property-pinned): pair_count is
    non-increasing in merge_rank — a new pair created by merging (l, r)
    can occur at most count(l, r) times, and existing pair counts only
    fall when occurrences are consumed by the merge."""
    merges, _ = _bpe_fit(df, n_merges, text_col)
    if not merges:
        # inline() over an empty literal array cannot carry the schema
        return df.sparkSession.createDataFrame(
            [],
            "merge_rank long, lhs string, rhs string, merged string, "
            "pair_count long",
        )
    # the merge table as a literal plan, rows in merge order
    structs = [
        F.struct(
            F.lit(int(rank)).cast("long").alias("merge_rank"),
            F.lit(lhs).cast("string").alias("lhs"),
            F.lit(rhs).cast("string").alias("rhs"),
            F.lit(merged).cast("string").alias("merged"),
            F.lit(int(cnt)).cast("long").alias("pair_count"),
        )
        for rank, lhs, rhs, merged, cnt in merges
    ]
    return inline_local_df(df.sparkSession, structs)


def _bpe_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """The word-frequency table BPE runs on, ``(tok, wc, syms)``: every
    distinct non-empty whitespace token, its count, and its character
    sequence as the starting symbol array."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .where(F.length("tok") >= 1)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(
            "tok",
            "wc",
            F.expr(
                "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"
            ).alias("syms"),
        )
    )


def _bpe_fit(
    df: DataFrame, n_merges: int, text_col: str
) -> "tuple[list[tuple[int, str, str, str, int]], DataFrame]":
    """The fit loop shared by :func:`bpe_merge_fit` (wants the merge
    table) and :func:`bpe_encode_stats` (wants the final per-word
    segmentation). Returns (merge rows, vocab frame (tok, wc, syms))."""
    words = _bpe_vocab(df, text_col).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = (
            words.where(F.size("syms") >= 2)
            .select(
                "wc",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS l, "
                        "element_at(syms, i + 1) AS r))"
                    )
                ).alias("pr"),
            )
            .groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merged = l + r
        merges.append((rank, l, r, merged, cnt))

        words = words.select(
            "tok",
            "wc",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                _bpe_merge_step(l, r, merged),
            ).alias("syms"),
        ).localCheckpoint(eager=False)
    return merges, words


def _bpe_merge_step(_l: str, _r: str, _m: str):
    """Fold step applying one BPE merge (lhs, rhs) → merged over a word's
    symbol array, leftmost-non-overlapping — shared by the fit loop and
    the persisted-merge-table encoder. Closure factory: pyspark
    introspects the lambda's arity, so the captured literals can't ride
    as default args."""

    def step(acc, s):
        # try_element_at: the plain element_at(acc, -1) is
        # out-of-bounds on the empty initial accumulator — hit for EVERY
        # word — and ANSI mode only tolerated it because the And
        # short-circuited after size(acc) > 0, an eval order Spark does
        # not formally guarantee. try_element_at returns NULL instead of
        # raising; NULL == lhs is NULL, NULL & x is never TRUE, so the
        # when() falls through to the append branch regardless of
        # conjunct order.
        hit = (
            (F.try_element_at(acc, F.lit(-1)) == F.lit(_l))
            & (s == F.lit(_r))
        )
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(_m))),
        ).otherwise(F.concat(acc, F.array(s)))

    return step


def bpe_encode_stats(
    df: DataFrame,
    n_merges: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply the learned BPE merges back to the corpus — the ENCODE half
    of the tokenizer loop: fit ``n_merges`` merges (:func:`_bpe_fit`),
    then report per document how the segmentation compressed:
    (doc_id, ws_tokens, chars, bpe_tokens, compression_r) where
    bpe_tokens is the total symbol count of the document's whitespace
    tokens under the final merge table, chars the pre-merge symbol count
    (token lengths), and compression_r = floor4(bpe_tokens / chars) —
    1.0 means no merge applied, lower is more compression.

    Scale shape: the fit already holds the final segmentation of every
    DISTINCT token, so encoding is a dimension join — corpus tokens
    against the |vocab|-row (tok → symbol count) table — plus one per-doc
    aggregate. No per-occurrence re-segmentation: the fold ran |vocab|
    times in the fit, never |corpus| times (vocab-first, as everywhere).
    Hot tokens skew the join key, but the build side is one row per key,
    which a hash join absorbs. Documents whose text has no non-empty
    token (empty/null text) have nothing to encode and are absent from
    the output, mirroring the SQL inner join."""
    _, vocab = _bpe_fit(df, n_merges, text_col)
    return _encode_stats_from_vocab(df, vocab, id_col, text_col)


def _encode_stats_from_vocab(
    df: DataFrame, vocab: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-doc encode stats from a (tok, syms) vocab segmentation — the
    dimension-join tail shared by :func:`bpe_encode_stats` (vocab from an
    in-session fit) and :func:`bpe_encode_with_merges` (vocab rebuilt
    from a persisted merge table)."""
    seg = vocab.select(
        "tok",
        F.length("tok").cast("long").alias("n_char"),
        F.size("syms").cast("long").alias("n_sym"),
    )
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).where(F.length("tok") >= 1)
    return (
        tok.join(seg, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("ws_tokens"),
            F.sum("n_char").alias("chars"),
            F.sum("n_sym").alias("bpe_tokens"),
        )
        .select(
            F.col(id_col),
            "ws_tokens",
            "chars",
            "bpe_tokens",
            floor4(F.col("bpe_tokens") / F.col("chars")).alias(
                "compression_r"
            ),
        )
    )


def bpe_encode_with_merges(
    df: DataFrame,
    merges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ENCODE from a persisted merge table — the tokenizer-artifact
    half of the loop: a real pipeline trains ONCE (:func:`bpe_merge_fit`
    → write parquet) and encodes many corpora from the loaded table;
    :func:`bpe_encode_stats` covers only the fit-and-encode-in-one-
    session case. ``merges`` is any frame with (merge_rank, lhs, rhs,
    merged) — e.g. ``spark.read.parquet(artifact_path)``.

    The merge list comes to the driver (n_merges×3 strings — the same
    bounded-driver-state contract as the fit loop's 1-row-per-round
    collects) and is applied IN RANK ORDER to the corpus's distinct-token
    vocab as the same literal array-folds the fit runs, then the stats
    come from the shared dimension-join tail. Applying rank-ordered
    merges to raw character sequences reproduces the fit's final
    segmentation exactly (BPE's defining replay property: each fold only
    merges adjacent pairs the earlier folds created), so encode-from-
    artifact is BIT-EQUAL to fit-then-encode on the same corpus —
    property-pinned AND round-trip-pinned through parquet.

    Scale shape: no pair-count aggregates at all (the expensive half of
    the fit) — one vocab hash-aggregate, n_merges map-only folds over
    |vocab| rows, one dimension join. The folds chain in a single
    projection (no per-round checkpoint needed: nothing re-consumes the
    intermediate frames)."""
    rows = sorted(
        (r["merge_rank"], r["lhs"], r["rhs"], r["merged"])
        for r in merges.select("merge_rank", "lhs", "rhs", "merged").collect()
    )
    vocab = _bpe_vocab(df, text_col)
    syms = F.col("syms")
    for _, l, r, m in rows:
        syms = F.aggregate(
            syms, F.array().cast("array<string>"), _bpe_merge_step(l, r, m)
        )
    vocab = vocab.select("tok", "wc", syms.alias("syms"))
    return _encode_stats_from_vocab(df, vocab, id_col, text_col)
