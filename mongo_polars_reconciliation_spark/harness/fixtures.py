"""Deterministic reconciliation fixtures over the driver's testdata.

The reference reconciles a Mongo transaction table against a settlement CSV
(FIXTURES.md §1-2). The driver's testdata is TPC-H-ish, so per FIXTURES.md §4
we derive an internal table A and a perturbed external table B from
``orders`` with *pure, deterministic* transformations that are mirrored
1:1 in the DuckDB oracle SQL (harness/oracles.py). The perturbations inject
exactly the mismatch classes the engine must detect (FIXTURES.md §2):

- ``k % 19 == 3``  → row missing from B            (internal residuals)
- ``k % 29 == 11`` → extra B-only row ``B<k>``     (external residuals)
- ``k % 23 == 5``  → duplicated B row (k=2); ``k % 69 == 5`` adds a third
                     copy (k=3 — pins the middle-candidate arbitration)
- ``k % 17 == 2``  → amount off by +0.4            (tolerance re-match, ε=1)
- ``k % 17 == 9``  → amount off by +7.25           (outside tolerance)
- ``k % 10 == 9``  → A row is a VOID of SALE k−1   (zero-effect pair);
  ``k % 100 == 49`` → VOID pointing at a missing SALE (must NOT cancel)

All money stays raw float64 from the source (no intermediate rounding): both
engines then compute bit-identical doubles, and aggregate sums go through
DECIMAL so they are order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.config import (
    KeyPair,
    ReconConfig,
    ToleranceRule,
    ZeroEffectRule,
)
from mongo_polars_reconciliation_spark.sources.external import prepare_external

ZE_RULE = ZeroEffectRule(
    field="transaction_type",
    values=("SALE", "VOID"),
    b1_cols=("ticket_code", "amount"),
    b2_cols=("sale_ticket_code", "amount"),
)

TOLERANCE_RULES = (ToleranceRule("importe", 1.0),)


def recon_cfg(strict_compat: bool = False) -> ReconConfig:
    return ReconConfig(
        keys=[
            KeyPair("transaction_code", "codigo"),
            KeyPair("amount", "importe", "double"),
            KeyPair("trx_date", "fecha"),
        ],
        strict_compat=strict_compat,
    )


def load_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("amt"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("dt"),
        F.col("o_custkey").alias("cust"),
    )


def build_internal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal table A (card_transaction analog, FIXTURES.md §1)."""
    b = load_base(spark, sf_dir)
    k = F.col("k")
    ks = k.cast("string")
    sale = b.where(k % 10 != 9).select(
        ks.alias("_id"),
        k,
        ks.alias("transaction_code"),
        F.col("amt").alias("amount"),
        F.col("dt").alias("trx_date"),
        F.lit("SALE").alias("transaction_type"),
        ks.alias("ticket_code"),
        F.lit(None).cast("string").alias("sale_ticket_code"),
    )
    v, s = b.alias("v"), b.alias("s")
    void_paired = (
        v.where((k % 10 == 9) & (k % 100 != 49))
        .join(s, F.col("s.k") == F.col("v.k") - 1, "inner")
        .select(
            F.col("v.k").cast("string").alias("_id"),
            F.col("v.k").alias("k"),
            F.col("v.k").cast("string").alias("transaction_code"),
            F.col("s.amt").alias("amount"),  # VOID carries its SALE's amount
            F.col("v.dt").alias("trx_date"),
            F.lit("VOID").alias("transaction_type"),
            F.col("v.k").cast("string").alias("ticket_code"),
            F.col("s.k").cast("string").alias("sale_ticket_code"),
        )
    )
    void_orphan = b.where(k % 100 == 49).select(
        ks.alias("_id"),
        k,
        ks.alias("transaction_code"),
        F.col("amt").alias("amount"),
        F.col("dt").alias("trx_date"),
        F.lit("VOID").alias("transaction_type"),
        ks.alias("ticket_code"),
        F.concat(F.lit("X"), ks).alias("sale_ticket_code"),
    )
    return sale.unionByName(void_paired).unionByName(void_orphan)


def build_external_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External settlement table B before engine preparation (raw CSV analog,
    Spanish column names like the reference's settlement file)."""
    b = load_base(spark, sf_dir)
    k = F.col("k")
    ks = k.cast("string")
    pert = (
        F.when(k % 17 == 2, F.lit(0.4))
        .when(k % 17 == 9, F.lit(7.25))
        .otherwise(F.lit(0.0))
    )

    def mk(df: DataFrame, cpy: int) -> DataFrame:
        return df.select(
            k,
            ks.alias("codigo"),
            (F.col("amt") + pert).alias("importe"),
            F.col("dt").alias("fecha"),
            F.lit(cpy).alias("cpy"),
        )

    main = mk(b.where(k % 19 != 3), 1)
    dup2 = mk(b.where((k % 23 == 5) & (k % 19 != 3)), 2)
    dup3 = mk(b.where((k % 69 == 5) & (k % 19 != 3)), 3)
    b_only = b.where(k % 29 == 11).select(
        k,
        F.concat(F.lit("B"), ks).alias("codigo"),
        F.col("amt").alias("importe"),
        F.col("dt").alias("fecha"),
        F.lit(1).alias("cpy"),
    )
    return main.unionByName(dup2).unionByName(dup3).unionByName(b_only)


def build_external(
    spark: SparkSession, sf_dir: str, cfg: ReconConfig | None = None
) -> DataFrame:
    """Prepared B: 1-based row index in (k, codigo, cpy) order — the explicit
    stand-in for 'file order' — then ext_/exd_ prefixing and casts."""
    cfg = cfg or recon_cfg()
    raw = build_external_raw(spark, sf_dir)
    return prepare_external(raw, cfg, order_by=["k", "codigo", "cpy"]).drop(
        "ext_k", "ext_cpy"
    )


def build_documents_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents plus injected duplicates (the natural data has none):
    - exact copies   (doc_id % 10 == 7 → doc_id + 100000)
    - near-dup copies (doc_id % 10 == 3 → doc_id + 200000, first token
      dropped — 3-gram Jaccard vs the original ≈ 0.9+)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = d.where(F.col("doc_id") % 10 == 7).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near_text = F.expr("substring(text, instr(text, ' ') + 1)")
    near = d.where(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        near_text.alias("text"),
        "lang",
        "source",
        F.length(near_text).cast("long").alias("n_chars"),
    )
    return d.unionByName(exact).unionByName(near)


def build_documents_punct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministically injected terminal punctuation (the
    natural texts carry none, which would make every C4 sentence signal
    zero): doc_id%3==0 docs get a '.' sentence break before every ' join '
    occurrence plus a trailing '.' (fully terminated multi-sentence);
    %3==1 docs get '!' breaks before ' data ' with NO trailing terminator
    (unterminated tail drags the ratio down); %3==2 stay punctuation-free.
    Pure literal replace/concat, mirrored verbatim by the oracle SQL."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.col("text")
    text2 = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.expr("replace(text, ' join ', '. join ')"), F.lit(".")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.expr("replace(text, ' data ', '! data ')"),
        )
        .otherwise(t)
    )
    return d.select("doc_id", text2.alias("text"), "lang", "source")


def build_documents_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministically injected line structure, symbols
    and numeric words (the natural texts are single-line, symbol-free and
    fully alphabetic, which would zero every Gopher line/symbol signal):
    doc_id%4==0 docs get a newline+bullet before every ' join ' occurrence
    (bullet-list boilerplate); %4==1 docs get '...'-terminated line breaks
    before ' data ' plus a trailing ' #tag ...' (truncation tells + '#'
    symbols); %4==2 docs get ' the ' swapped for a numeric token (drags
    alpha_word_frac below 1); %4==3 stay untouched. Pure literal
    replace/concat, mirrored verbatim by the oracle SQL."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.col("text")
    text2 = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.replace(t, F.lit(" join "), F.lit(" join\n- ")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.replace(t, F.lit(" data "), F.lit(" data...\n")),
                F.lit(" #tag ..."),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.replace(t, F.lit(" the "), F.lit(" 12345 ")),
        )
        .otherwise(t)
    )
    return d.select("doc_id", text2.alias("text"), "lang", "source")


def build_documents_footers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministically injected REPEATED lines (the
    natural texts are single-line and all-distinct, which would make
    corpus-wide line dedup a no-op): doc_id%97==0 docs are replaced
    ENTIRELY by the shared footer line (so every such doc after the
    first empties out — the C4 drop signal); else %5==0 docs append the
    shared footer, %5==1 append the footer plus a second shared line,
    %5==2 PREPEND the footer (position independence), %5∈{3,4} stay
    untouched. Pure literal concat, mirrored verbatim by the oracle."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.col("text")
    footer = "shared boilerplate footer"
    text2 = (
        F.when(F.col("doc_id") % 97 == 0, F.lit(footer))
        .when(F.col("doc_id") % 5 == 0, F.concat(t, F.lit("\n" + footer)))
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(t, F.lit("\n" + footer + "\nsecond shared footer")),
        )
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit(footer + "\n"), t))
        .otherwise(t)
    )
    return d.select("doc_id", text2.alias("text"), "lang", "source")


def build_documents_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministically injected PII (the natural texts
    carry no digits or '@', which would zero every redaction counter):
    doc_id%11==0 docs append an email, %11==1 a phone number, %11==2 an
    IPv4, %11==3 an email AND an IP (multi-class doc — counts must not
    interfere), %11==4 TWO emails (global replacement, not first-match),
    %11==5 a Luhn-VALID plain card number, %11==6 the same card
    hyphen-separated (separator normalization), %11==7 a Luhn-INVALID
    16-digit run (must NOT be redacted — the Luhn filter is
    load-bearing, and the surviving digits must not half-match the later
    phone/IP stages), %11==8 NULL text (the null-text rule: counts 0,
    scrubbed text NULL), %11∈{9,10} stay untouched. Pure literal
    concat, mirrored verbatim by the oracle SQL."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.col("text")
    text2 = (
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(t, F.lit(" contact john.doe@example.com today")),
        )
        .when(
            F.col("doc_id") % 11 == 1,
            F.concat(t, F.lit(" call 555-123-4567 now")),
        )
        .when(
            F.col("doc_id") % 11 == 2,
            F.concat(t, F.lit(" host 192.168.1.77 responded")),
        )
        .when(
            F.col("doc_id") % 11 == 3,
            F.concat(
                t, F.lit(" from ops@node-3.example.net at 10.0.0.5 ok")
            ),
        )
        .when(
            F.col("doc_id") % 11 == 4,
            F.concat(t, F.lit(" cc a.b@x.org and c.d@y.org thanks")),
        )
        .when(
            F.col("doc_id") % 11 == 5,
            F.concat(t, F.lit(" pay 4532015112830366 now")),
        )
        .when(
            F.col("doc_id") % 11 == 6,
            F.concat(t, F.lit(" card 4532-0151-1283-0366 on file")),
        )
        .when(
            F.col("doc_id") % 11 == 7,
            F.concat(t, F.lit(" ref 1234-5678-9012-3456 code")),
        )
        .when(F.col("doc_id") % 11 == 8, F.lit(None).cast("string"))
        .otherwise(t)
    )
    return d.select("doc_id", text2.alias("text"), "lang", "source")


MM_PAYLOAD_TAIL = " extra appended tail content for payload variant"


def build_mm_payload_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal payload fixture with injected binary duplicates:
    documents as UTF-8 payloads (attach_payload), plus byte-exact copies
    (doc_id%10==7 → +100000) and APPEND variants (doc_id%10==5 →
    +300000, a fixed tail appended) — re-uploads sharing their aligned
    byte prefix, the class the chunked-block probe is built to catch.
    Texts are ASCII, so the oracle mirrors byte slicing with substr."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    exact = d.where(F.col("doc_id") % 10 == 7).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    appended = d.where(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(MM_PAYLOAD_TAIL)).alias("text"),
    )
    return attach_payload(d.unionByName(exact).unionByName(appended))


def _ingest_split(
    spark: SparkSession, path: str, id_col: str, value_col: str,
    redeliver_mod: int, variant_mod: int | None = None,
    variant_offset: int = 0, variant=None,
) -> "tuple[DataFrame, DataFrame]":
    """(history, batch) of an ingest family over the (``id_col``,
    ``value_col``) columns of ``path``: history is the id%3<2 slice; the
    batch is the %3==2 slice, exact re-deliveries of the
    %10==``redeliver_mod`` slice under +100000 ids, and — unless
    ``variant_mod`` is None — the ``variant`` (a Column) of the
    %10==``variant_mod`` slice under +``variant_offset`` ids."""
    df = spark.read.parquet(path).select(id_col, value_col)
    i = F.col(id_col)
    batch = df.where(i % 3 == 2).unionByName(
        df.where(i % 10 == redeliver_mod).select(
            (i + 100000).alias(id_col), value_col
        )
    )
    if variant_mod is not None:
        batch = batch.unionByName(
            df.where(i % 10 == variant_mod).select(
                (i + variant_offset).alias(id_col), variant.alias(value_col)
            )
        )
    return df.where(i % 3 < 2), batch


def exact_ingest_split(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame]":
    """(history, batch) of the exact-digest ingest faces: the batch holds
    exact redeliveries of the %10==7 docs and no variants."""
    return _ingest_split(
        spark, f"{sf_dir}/documents.parquet", "doc_id", "text", 7
    )


def neardup_ingest_split(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame]":
    """(history, batch) of the near-dup ingest faces: exact redeliveries
    of the %10==7 docs, and the %10==3 docs with their first word dropped
    (+200000 ids)."""
    return _ingest_split(
        spark, f"{sf_dir}/documents.parquet", "doc_id", "text", 7, 3, 200000,
        F.expr("substring(text, instr(text, ' ') + 1)"),
    )


def payload_ingest_split(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame]":
    """(history, batch) of the payload ingest faces, both as
    ``attach_payload`` frames: exact re-uploads of the %10==7 docs, and
    the %10==5 docs with ``MM_PAYLOAD_TAIL`` appended (+300000 ids)."""
    from mongo_polars_reconciliation_spark.extensions.multimodal import (
        attach_payload,
    )

    hist, batch = _ingest_split(
        spark, f"{sf_dir}/documents.parquet", "doc_id", "text", 7, 5, 300000,
        F.concat(F.col("text"), F.lit(MM_PAYLOAD_TAIL)),
    )
    return attach_payload(hist), attach_payload(batch)


def semantic_ingest_split(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame]":
    """(history, batch) of the semantic ingest faces: exact re-uploads of
    the %10==1 vectors, and the %10==4 vectors with their first 8 dims
    zeroed (+200000 ids)."""
    return _ingest_split(
        spark, f"{sf_dir}/embeddings.parquet", "vec_id", "embedding",
        1, 4, 200000,
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i < 8 "
            "THEN CAST(0.0 AS FLOAT) ELSE x END)"
        ),
    )


def build_documents_xsource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents plus CROSS-source exact copies: doc_id % 10 == 7 docs are
    mirrored (doc_id + 100000) under the synthetic source ``mirror`` —
    ``build_documents_aug`` keeps the original source on its copies, so
    an inter-source overlap matrix over it would be empty (the natural
    data has no duplicate texts at all)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mirror = d.where(F.col("doc_id") % 10 == 7).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text",
        "lang",
        F.lit("mirror").alias("source"),
        "n_chars",
    )
    return d.unionByName(mirror)


def build_embeddings_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus injected near-duplicates: for vec_id % 10 == 1, a copy
    (vec_id + 100000, same label) with the first 8 dims zeroed — cosine vs the
    original ≈ sqrt(56/64) ≈ 0.93, far above the random-pair ceiling (~0.45)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    perturbed = e.where(F.col("vec_id") % 10 == 1).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i < 8 THEN CAST(0.0 AS FLOAT) ELSE x END)"
        ).alias("embedding"),
        "label",
    )
    return e.unionByName(perturbed)


def query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Fetch one embedding as the similarity-search query parameter (a
    single-row parameter lookup, not a data collect)."""
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") == vec_id)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row["embedding"]]


def build_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic reconciliation state table (FIXTURES.md §3): every 5th row
    REMANENT, the rest CONCILIATED."""
    b = load_base(spark, sf_dir)
    return b.select(
        F.col("k").cast("string").alias("_id"),
        F.when(F.col("k") % 5 == 2, F.lit("REMANENT"))
        .otherwise(F.lit("CONCILIATED"))
        .alias("conciliation_status"),
    )
