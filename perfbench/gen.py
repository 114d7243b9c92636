"""Seeded input generators and their ground truth.

Everything here is plain NumPy/PyArrow: the inputs and the expected
answers are derived from the seed alone, never from the engine under test.

Reconciliation data (``ReconData``): SALE transactions, each with a class
drawn from seeded shares, plus the VOID rows and B-only settlement rows the
classes imply.

* ``exact``    settled once, same code, amount and date;
* ``dup``      settled in 2 or 3 identical copies (the first wins, the other
               copies land in the external residual);
* ``tol_in``   settled with an amount offset inside epsilon (0.01 .. 0.90);
* ``tol_out``  settled with an offset outside epsilon (2.00 .. 50.00): the
               reduced-key (code, date) pass catches it;
* ``missing``  never settled: internal residual, REMANENT forever;
* ``voided``   cancelled by a VOID of the same amount on the same day: a
               zero-effect pair, never settled.

Orphan VOIDs (pointing at no SALE) are never settled either; B-only rows
exist only in the settlement files. In the daily form a share of ``exact``
transactions settles one or two days late.

Corpus data (``CorpusData``): a history corpus plus arriving dumps drawn
from a seeded vocabulary, each doc with a 64-d unit embedding. Dump docs
are novel, exact redeliveries, first-token-dropped variants or paraphrases
(fresh text, embedding a perturbed copy of an older doc's).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

BASE_DAY = np.datetime64("2024-03-01")

RECON_SHARES = {
    "exact": 0.60,
    "dup": 0.05,
    "tol_in": 0.08,
    "tol_out": 0.07,
    "missing": 0.10,
    "voided": 0.10,
}
ORPHAN_VOID_SHARE = 0.02
B_ONLY_SHARE = 0.04
LATE_SHARE = 0.25  # of ``exact`` transactions, daily form only


def day_str(day: int) -> str:
    return str(BASE_DAY + np.timedelta64(int(day), "D"))


def _cents_str(cents: np.ndarray) -> list[str]:
    return [f"{c // 100}.{c % 100:02d}" for c in cents.tolist()]


@dataclass
class ReconData:
    """Columnar recon inputs plus per-row facts the checks need.

    Internal (A) rows are SALEs first, then their paired VOIDs, then orphan
    VOIDs. ``a_settle_day`` is the day a row's settlement arrives (-1 if
    never); ``a_kind`` is the SALE class, "void" or "orphan"."""

    a: dict[str, np.ndarray]
    a_kind: np.ndarray
    a_cents: np.ndarray
    a_day: np.ndarray
    a_settle_day: np.ndarray
    b_code: np.ndarray
    b_cents: np.ndarray
    b_day: np.ndarray  # the fecha the settlement row carries
    b_file_day: np.ndarray  # the daily file the row lands in
    b_extra: np.ndarray  # True for losing duplicate copies and B-only rows
    days: int

    @property
    def rows(self) -> int:
        return len(self.a_kind) + len(self.b_code)


def recon_data(seed: int, n_sales: int, days: int, late: bool) -> ReconData:
    rng = np.random.default_rng([seed, 1])
    names = list(RECON_SHARES)
    kind = rng.choice(len(names), size=n_sales, p=list(RECON_SHARES.values()))
    kind = np.array(names, dtype=object)[kind]
    cents = rng.integers(10_000, 2_000_000, size=n_sales)
    day = rng.integers(0, days, size=n_sales)
    ids = np.array([f"T{seed % 1000:03d}{i:08d}" for i in range(n_sales)], dtype=object)

    lag = np.zeros(n_sales, dtype=np.int64)
    if late:
        is_late = (kind == "exact") & (rng.random(n_sales) < LATE_SHARE)
        lag[is_late] = rng.integers(1, 3, size=int(is_late.sum()))
    settled = ~np.isin(kind, ["missing", "voided"])
    settle_day = np.where(settled, day + lag, -1)

    # settlement rows: one per settled sale, extra copies for dup
    copies = np.where(kind == "dup", rng.integers(2, 4, size=n_sales), 1) * settled
    b_src = np.repeat(np.arange(n_sales), copies)
    first_copy = np.ones(len(b_src), dtype=bool)
    first_copy[1:] = b_src[1:] != b_src[:-1]
    off = np.zeros(n_sales, dtype=np.int64)
    sign = rng.choice([-1, 1], size=n_sales)
    m_in, m_out = kind == "tol_in", kind == "tol_out"
    off[m_in] = sign[m_in] * rng.integers(1, 91, size=int(m_in.sum()))
    off[m_out] = sign[m_out] * rng.integers(200, 5001, size=int(m_out.sum()))
    b_cents = cents[b_src] + off[b_src]

    n_void = int((kind == "voided").sum())
    n_orphan = int(n_sales * ORPHAN_VOID_SHARE)
    n_bonly = int(n_sales * B_ONLY_SHARE)
    voided = np.flatnonzero(kind == "voided")
    orphan_day = rng.integers(0, days, size=n_orphan)
    orphan_cents = rng.integers(100, 2_000_000, size=n_orphan)
    bonly_day = rng.integers(0, days, size=n_bonly)
    bonly_cents = rng.integers(100, 2_000_000, size=n_bonly)

    sale_ticket = np.array([f"K{s[1:]}" for s in ids], dtype=object)
    void_ids = np.array([f"V{ids[i][1:]}" for i in voided], dtype=object)
    orphan_ids = np.array([f"O{seed % 1000:03d}{i:08d}" for i in range(n_orphan)], dtype=object)
    a_ids = np.concatenate([ids, void_ids, orphan_ids])
    a_cents = np.concatenate([cents, cents[voided], orphan_cents])
    a_day = np.concatenate([day, day[voided], orphan_day])
    n_a = len(a_ids)
    a = {
        "_id": a_ids,
        "transaction_code": np.array([f"C{s[1:]}" if s[0] == "T" else f"C{s}" for s in a_ids], dtype=object),
        "amount": a_cents / 100.0,
        "trx_date": np.array([day_str(d) for d in a_day.tolist()], dtype=object),
        "transaction_type": np.array(["SALE"] * n_sales + ["VOID"] * (n_void + n_orphan), dtype=object),
        "ticket_code": np.concatenate([sale_ticket, [f"K{v}" for v in void_ids], [f"K{o}" for o in orphan_ids]]).astype(object),
        "sale_ticket_code": np.concatenate([[None] * n_sales, sale_ticket[voided], [f"X{o}" for o in orphan_ids]]).astype(object),
    }
    a_kind = np.concatenate([kind, ["void"] * n_void, ["orphan"] * n_orphan]).astype(object)
    a_settle = np.concatenate([settle_day, np.full(n_void + n_orphan, -1)])

    b_code = np.concatenate([a["transaction_code"][b_src], [f"CB{seed % 1000:03d}{i:08d}" for i in range(n_bonly)]]).astype(object)
    return ReconData(
        a=a,
        a_kind=a_kind,
        a_cents=a_cents,
        a_day=a_day,
        a_settle_day=a_settle,
        b_code=b_code,
        b_cents=np.concatenate([b_cents, bonly_cents]),
        b_day=np.concatenate([day[b_src], bonly_day]),
        b_file_day=np.concatenate([settle_day[b_src], bonly_day]),
        b_extra=np.concatenate([~first_copy, np.ones(n_bonly, dtype=bool)]),
        days=days,
    )


def write_internal(data: ReconData, path: str) -> None:
    pq.write_table(pa.table(data.a), path)


def write_settlement(data: ReconData, path: str, file_day: int | None = None) -> int:
    """Settlement CSV, all strings, ``linea`` = zero-padded file line. With
    ``file_day`` only that day's file is written. Returns rows written."""
    sel = np.arange(len(data.b_code)) if file_day is None else np.flatnonzero(data.b_file_day == file_day)
    table = pa.table(
        {
            "linea": [f"{i:09d}" for i in range(1, len(sel) + 1)],
            "codigo": data.b_code[sel].tolist(),
            "importe": _cents_str(data.b_cents[sel]),
            "fecha": [day_str(d) for d in data.b_day[sel].tolist()],
        }
    )
    pacsv.write_csv(table, path)
    return len(sel)


@dataclass(frozen=True)
class Bucket:
    n: int
    cents: int


def expected_buckets(data: ReconData, day: int | None = None) -> dict[str, Bucket]:
    """Expected persisted buckets. Batch form: ``day`` None, every
    settlement present. Daily form: the buckets of ``day`` given that
    every earlier day ran (REMANENT rows of earlier days re-enter)."""
    kind, settle = data.a_kind, data.a_settle_day
    if day is None:
        a_in = np.ones(len(kind), dtype=bool)
        matched = settle >= 0
        b_in = np.ones(len(data.b_code), dtype=bool)
    else:
        remanent_before = (data.a_day < day) & ((settle < 0) | (settle >= day)) & (kind != "voided") & (kind != "void")
        a_in = (data.a_day == day) | remanent_before
        matched = a_in & (settle == day)
        b_in = data.b_file_day == day
    ze = a_in & (kind == "voided")
    resid = a_in & ~matched & ~ze & (kind != "void")
    b_res = b_in & data.b_extra
    return {
        "a_to_b_mt": Bucket(int(matched.sum()), int(data.a_cents[matched].sum())),
        "a_to_b_nmt": Bucket(int(resid.sum()), int(data.a_cents[resid].sum())),
        "b_to_a_nmt": Bucket(int(b_res.sum()), int(data.b_cents[b_res].sum())),
        "z_eff_a": Bucket(int(ze.sum()), int(data.a_cents[ze].sum())),
    }


def expected_remanent(data: ReconData, day: int) -> int:
    """REMANENT rows in the state table after ``day`` ran."""
    kind, settle = data.a_kind, data.a_settle_day
    rem = (data.a_day <= day) & ((settle < 0) | (settle > day)) & ~np.isin(kind, ["voided", "void"])
    return int(rem.sum())


# --- corpus ------------------------------------------------------------------

DUMP_SHARES = {"novel": 0.65, "redelivery": 0.12, "variant": 0.12, "paraphrase": 0.11}
DIM = 64


@dataclass
class CorpusData:
    """History docs have ids 1..n_hist; dump k's docs follow in arrival
    order. ``src`` is the older doc a redelivery/variant/paraphrase copies
    (0 for novel and history docs)."""

    ids: np.ndarray
    texts: list[str]
    emb: np.ndarray
    kind: np.ndarray
    src: np.ndarray
    dump: np.ndarray  # -1 for history

    @property
    def n_hist(self) -> int:
        return int((self.dump < 0).sum())


def corpus_data(seed: int, n_hist: int, n_dumps: int, dump_size: int) -> CorpusData:
    rng = np.random.default_rng([seed, 2])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, size=rng.integers(3, 9))) for _ in range(4000)})
    weights = 1.0 / (np.arange(len(vocab)) + 20.0)
    weights /= weights.sum()
    vocab_arr = np.array(vocab, dtype=object)

    def fresh_text() -> str:
        return " ".join(vocab_arr[rng.choice(len(vocab), size=rng.integers(30, 70), p=weights)])

    def unit(v: np.ndarray) -> np.ndarray:
        return v / np.linalg.norm(v, axis=-1, keepdims=True)

    n = n_hist + n_dumps * dump_size
    texts = [fresh_text() for _ in range(n_hist)]
    emb = np.empty((n, DIM))
    emb[:n_hist] = unit(rng.standard_normal((n_hist, DIM)))
    kind = ["history"] * n_hist
    src = [0] * n_hist
    dump = [-1] * n_hist
    # docs an arriving doc may copy: history and novel docs of earlier dumps
    pool = list(range(1, n_hist + 1))
    names = list(DUMP_SHARES)
    for k in range(n_dumps):
        ks = rng.choice(len(names), size=dump_size, p=list(DUMP_SHARES.values()))
        new_novel = []
        for j in ks:
            i = len(texts)
            name = names[j]
            if name == "novel":
                texts.append(fresh_text())
                emb[i], s = unit(rng.standard_normal(DIM)), 0
                new_novel.append(i + 1)
            else:
                s = int(pool[rng.integers(len(pool))])
                base = texts[s - 1]
                if name == "redelivery":
                    texts.append(base)
                elif name == "variant":
                    texts.append(base.split(" ", 1)[1])
                else:
                    texts.append(fresh_text())
                emb[i] = unit(emb[s - 1] + 0.01 * rng.standard_normal(DIM))
            kind.append(name)
            src.append(s)
            dump.append(k)
        pool.extend(new_novel)
    return CorpusData(
        ids=np.arange(1, n + 1, dtype=np.int64),
        texts=texts,
        emb=emb.astype(np.float32),
        kind=np.array(kind, dtype=object),
        src=np.array(src, dtype=np.int64),
        dump=np.array(dump, dtype=np.int64),
    )


def write_docs(data: CorpusData, sel: np.ndarray, path: str) -> None:
    pq.write_table(
        pa.table({"doc_id": data.ids[sel], "text": [data.texts[i] for i in sel.tolist()]}),
        path,
    )


def write_embeddings(data: CorpusData, path: str) -> None:
    pq.write_table(
        pa.table(
            {
                "vec_id": data.ids,
                "embedding": pa.FixedSizeListArray.from_arrays(pa.array(data.emb.ravel()), DIM).cast(pa.list_(pa.float32())),
            }
        ),
        path,
    )


def write_corpus(data: CorpusData, root: str) -> dict[str, str]:
    """history.parquet, feed/dump-K.parquet (mtimes strictly increasing, so
    a file stream drains them in arrival order), embeddings.parquet."""
    feed = os.path.join(root, "feed")
    os.makedirs(feed, exist_ok=True)
    paths = {"history": os.path.join(root, "history.parquet"), "feed": feed, "embeddings": os.path.join(root, "embeddings.parquet")}
    write_docs(data, np.flatnonzero(data.dump < 0), paths["history"])
    t0 = 1_700_000_000
    for k in range(int(data.dump.max()) + 1):
        p = os.path.join(feed, f"dump-{k:02d}.parquet")
        write_docs(data, np.flatnonzero(data.dump == k), p)
        os.utime(p, (t0 + 10 * k, t0 + 10 * k))
    write_embeddings(data, paths["embeddings"])
    return paths


def expected_semantic_drops(data: CorpusData, corpus_ids: set[int]) -> set[int]:
    """Corpus docs whose embedding is a perturbed copy of an older corpus
    doc's (cosine ~0.99); the only vectors semantic dedup may drop."""
    return {
        int(i)
        for i, s in zip(data.ids.tolist(), data.src.tolist())
        if s and i in corpus_ids and s in corpus_ids
    }
