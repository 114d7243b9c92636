"""The three benchmark workloads.

Each workload generates its inputs from the seed (``__init__``), prepares
what its units start from (``prepare``), computes the ground truth that
needs the engine (``ground_truth``), then runs steps of timed units, each
step continuing where the last one stopped. A step is a nightly run
(recon_batch), a day of the day sequence (recon_daily), or one dump's
arrival, drained and then curated with the corpus admitted so far
(corpus_ingest). The first step of a run, the coldest, warms the JVM and
is left out of the metrics. Every unit's outputs are checked against the
generator's ground truth right after its clock stops.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
from mongo_polars_reconciliation_spark.config import (
    KeyPair,
    ReconConfig,
    SourceFilter,
    ToleranceRule,
    ZeroEffectRule,
)
from mongo_polars_reconciliation_spark.extensions import curation, dedup, similarity
from mongo_polars_reconciliation_spark.operators import summary as summary_ops
from mongo_polars_reconciliation_spark.plans import pipeline
from mongo_polars_reconciliation_spark.sources import external, scan, sinks, state
from mongo_polars_reconciliation_spark.streaming import corpus as corpus_stream

A_FIELDS = ["_id", "transaction_code", "amount", "trx_date", "transaction_type", "ticket_code", "sale_ticket_code"]
CFG = ReconConfig(
    keys=[
        KeyPair("transaction_code", "codigo"),
        KeyPair("amount", "importe", "double"),
        KeyPair("trx_date", "fecha"),
    ]
)
ZE_RULE = ZeroEffectRule(
    field="transaction_type",
    values=("SALE", "VOID"),
    b1_cols=("ticket_code", "amount"),
    b2_cols=("sale_ticket_code", "amount"),
)
PASSES = [
    pipeline.ExactPass(),
    pipeline.TolerancePass((ToleranceRule("importe", 1.0),)),
    pipeline.ExactPass(keys=(KeyPair("transaction_code", "codigo"), KeyPair("trx_date", "fecha"))),
]
META = {
    "execution_id": "perfbench",
    "execution_type": "scheduled",
    "execution_date": "2024-03-01",
    "processor_name": "processor-a",
    "conciliation_currency": "MXN",
}
STATE_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("trx_date", T.StringType()),
        T.StructField("conciliation_status", T.StringType()),
        T.StructField("last_day", T.IntegerType()),
    ]
)


@dataclass
class Unit:
    kind: str
    wall_s: float
    errors: list[str] = field(default_factory=list)
    work: float = 0.0  # rows or docs the unit processed

    @property
    def ok(self) -> bool:
        return not self.errors


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


def cents(table, col: str) -> int:
    """Exact money sum: every amount is a whole number of cents."""
    vals = table.column(col).to_numpy(zero_copy_only=False)
    return int(np.rint(vals * 100).astype(np.int64).sum())


def check_recon_outputs(paths: dict[str, str], expected: dict[str, gen.Bucket]) -> list[str]:
    """Re-count each persisted bucket and the persisted summary document."""
    errors = []
    amount_col = {"a_to_b_mt": "amount", "a_to_b_nmt": "amount", "b_to_a_nmt": "importe", "z_eff_a": "amount"}
    for name, want in expected.items():
        t = pq.read_table(paths[name])
        got = gen.Bucket(t.num_rows, cents(t, amount_col[name]))
        if got != want:
            errors.append(f"{name}: got {got}, expected {want}")
    doc = pq.read_table(paths["aggregated_results"]).to_pylist()
    mt, nmt = expected["a_to_b_mt"], expected["a_to_b_nmt"]
    want_doc = (mt.n, nmt.n, mt.cents, nmt.cents)
    got_doc = (
        (
            doc[0]["conciliated_transactions_number"],
            doc[0]["remanent_transactions_number"],
            round(doc[0]["conciliated_amount"] * 100),
            round(doc[0]["remanent_amount"] * 100),
        )
        if len(doc) == 1
        else None
    )
    if got_doc != want_doc:
        errors.append(f"summary document: got {got_doc}, expected {want_doc}")
    return errors


def reconcile(spark, a, b_csv: str, out_root: str) -> dict[str, str]:
    """CSV read → prepare → cascade → summary → persist. Returns the
    persisted paths."""
    b = external.prepare_external(scan.read_csv_all_string(spark, b_csv), CFG, order_by=["linea"])
    rc = pipeline.Reconciliation(CFG, a, b)
    buckets = rc.run(PASSES, zero_effect_rules=[ZE_RULE])
    rc.summary(amount_col="amount").collect()
    doc = summary_ops.summary_document(buckets["a_to_b_mt"], buckets["a_to_b_nmt"], META, amount_col="amount")
    a_cols = ("_id", "amount", "trx_date")
    paths = sinks.persist_results(
        {
            "a_to_b_mt": (buckets["a_to_b_mt"].select(*a_cols), "trx_date"),
            "a_to_b_nmt": (buckets["a_to_b_nmt"].select(*a_cols), "trx_date"),
            "b_to_a_nmt": (
                buckets["b_to_a_nmt"].select(
                    F.col(CFG.ext_row_number_col).alias("row_num"),
                    F.col("ext_codigo").alias("codigo"),
                    F.col("ext_importe").alias("importe"),
                    F.col("ext_fecha").alias("fecha"),
                ),
                "fecha",
            ),
            "z_eff_a": (buckets["z_eff_a"].select(*a_cols, "_id_right"), "trx_date"),
        },
        out_root,
        summary=doc,
    )
    rc.unpersist()
    return paths


def span(tracer, name: str):
    return tracer.span(name) if tracer else nullcontext()


class Workload:
    name = ""
    LATENCY_KIND = ""  # the unit kind behind latency_p50_s

    def __init__(self, root: str):
        self.root = root
        self.pos = 0  # steps run so far; 0 again restarts the sequence
        os.makedirs(root, exist_ok=True)

    def span_table(self, tracer) -> tuple:
        """(module, attribute, span name, after-hook) the traced run wraps."""
        return ()

    def prepare(self, spark) -> None:
        """The state the units start from; timed as part of ``setup_s``."""

    def ground_truth(self, spark) -> None:
        """Engine-side ground truth the checks need; timed apart from
        ``setup_s``."""

    def step(self, spark, tracer=None) -> list[Unit]:
        """Run the next step of the workload's sequence."""
        raise NotImplementedError

    def metrics(self, steps: list[list[Unit]]) -> dict[str, float]:
        """Median wall time of the latency units, and median over steps of
        the rows (or docs) a step took in ÷ its wall time."""
        lat = [u.wall_s for got in steps for u in got if u.kind == self.LATENCY_KIND]
        rate = [sum(u.work for u in got) / wall for got in steps if (wall := sum(u.wall_s for u in got)) > 0]
        out = {"rows_per_s": statistics.median(rate)} if rate else {}
        if lat:
            out["latency_p50_s"] = statistics.median(lat)
        return out

    def fresh(self, *parts: str) -> str:
        path = os.path.join(self.root, *parts)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def timed(self, tracer, fn):
        """Run ``fn`` and return (result, wall seconds); with a tracer the
        unit's Spark profile is recorded too."""
        lo = tracer.begin_unit() if tracer else 0
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        if tracer:
            tracer.end_unit(lo, wall)
        return out, wall


RECON_SPANS = tuple(
    (module, attr, name, None)
    for module, attr, name in (
        (scan, "read_csv_all_string", "sources.read_csv_all_string"),
        (external, "prepare_external", "sources.prepare_external"),
        (pipeline, "apply_zero_effect", "operators.apply_zero_effect"),
        (pipeline, "match_candidates", "operators.match_candidates"),
        (pipeline, "residuals_from_candidates", "operators.residuals_from_candidates"),
        (pipeline, "apply_tolerance", "operators.apply_tolerance"),
        (pipeline, "run_summary", "operators.run_summary"),
        (pipeline.Reconciliation, "run", "plans.pipeline.run"),
        (sinks, "persist_results", "sources.persist_results"),
    )
)


class ReconBatch(Workload):
    """One large nightly reconciliation of every day's transactions."""

    name = "recon_batch"
    LATENCY_KIND = "run"
    N_SALES = 500_000
    DAYS = 5

    def __init__(self, root: str, seed: int):
        super().__init__(root)
        self.data = gen.recon_data(seed, self.N_SALES, self.DAYS, late=False)
        self.a_path = os.path.join(root, "internal.parquet")
        self.b_csv = os.path.join(root, "settlement.csv")
        gen.write_internal(self.data, self.a_path)
        gen.write_settlement(self.data, self.b_csv)
        self.expected = gen.expected_buckets(self.data)
        self.sizes = {"sales": self.N_SALES, "days": self.DAYS, "rows": self.data.rows}

    def step(self, spark, tracer=None) -> list[Unit]:
        out = self.fresh("out")

        def run():
            a = scan.scan_internal(spark, self.a_path, A_FIELDS, double_fields=("amount",))
            return reconcile(spark, a, self.b_csv, out)

        paths, wall = self.timed(tracer, run)
        if tracer:
            tracer.units[-1]["sources.persist_results.mb_written"] = dir_mb(out)
        return [Unit("run", wall, check_recon_outputs(paths, self.expected), self.data.rows)]

    def span_table(self, tracer) -> tuple:
        return RECON_SPANS


class ReconDaily(Workload):
    """The incremental loop: one long-lived session runs a day sequence; each
    day reconciles its window plus the REMANENT rows of earlier days. After
    the last day the sequence starts again from the seeded state."""

    name = "recon_daily"
    LATENCY_KIND = "day"
    N_SALES = 25_000  # about 10^4 internal + settlement rows a day
    DAYS = 5

    def __init__(self, root: str, seed: int):
        super().__init__(root)
        self.data = gen.recon_data(seed, self.N_SALES, self.DAYS, late=True)
        self.a_path = os.path.join(root, "internal.parquet")
        gen.write_internal(self.data, self.a_path)
        b_rows = [gen.write_settlement(self.data, self.b_csv(d), file_day=d) for d in range(self.DAYS)]
        self.day_rows = [int((self.data.a_day == d).sum()) + b_rows[d] for d in range(self.DAYS)]
        self.sizes = {"sales": self.N_SALES, "days": self.DAYS, "rows_per_day": self.day_rows}

    def b_csv(self, day: int) -> str:
        return os.path.join(self.root, f"settlement-{day:02d}.csv")

    def seed_state(self, spark, path: str) -> None:
        """The reference's populate step: every transaction enters the state
        table PENDING, existing rows kept."""
        pending = spark.read.parquet(self.a_path).select(
            "_id",
            "trx_date",
            F.lit("PENDING").alias("conciliation_status"),
            F.lit(-1).alias("last_day"),
        )
        empty = spark.createDataFrame([], STATE_SCHEMA)
        state.merge_keep_existing(empty, pending, "_id").write.parquet(path)

    def day(self, spark, d: int, state_in: str, state_out: str, out: str, tracer=None) -> dict[str, str]:
        window = scan.scan_internal(
            spark,
            self.a_path,
            A_FIELDS,
            SourceFilter(ranges={"trx_date": (gen.day_str(d), gen.day_str(d + 1))}),
            double_fields=("amount",),
        )
        st = spark.read.parquet(state_in)
        txns = scan.scan_internal(spark, self.a_path, A_FIELDS, double_fields=("amount",))
        a = state.union_window_and_remanent(window, state.remanent_lookup(st, txns, select_cols=A_FIELDS))
        paths = reconcile(spark, a, self.b_csv(d), out)

        def status(df, id_col, value):
            return df.select(
                F.col(id_col).alias("_id"),
                F.col("trx_date"),
                F.lit(value).alias("conciliation_status"),
                F.lit(d).alias("last_day"),
            )

        mt, nmt, ze = (spark.read.parquet(paths[k]) for k in ("a_to_b_mt", "a_to_b_nmt", "z_eff_a"))
        updates = (
            status(mt, "_id", "CONCILIATED")
            .unionByName(status(nmt, "_id", "REMANENT"))
            .unionByName(status(ze, "_id", "ZERO_EFFECT"))
            .unionByName(status(ze, "_id_right", "ZERO_EFFECT"))
        )
        with span(tracer, "sources.state.merge"):
            state.merge_upsert(st, updates, "_id").write.parquet(state_out)
        return paths

    def check_day(self, d: int, paths: dict[str, str], state_out: str) -> list[str]:
        """Day ``d``'s persisted buckets and the REMANENT count of its state."""
        errors = check_recon_outputs(paths, gen.expected_buckets(self.data, day=d))
        status = pq.read_table(state_out).column("conciliation_status")
        rem = int(pc.sum(pc.equal(status, "REMANENT")).as_py() or 0)
        want = gen.expected_remanent(self.data, d)
        if rem != want:
            errors.append(f"day {d}: {rem} REMANENT rows in state, expected {want}")
        return errors

    def prepare(self, spark) -> None:
        self.seed_state(spark, os.path.join(self.root, "state-seed"))

    def step(self, spark, tracer=None) -> list[Unit]:
        """The next day; day 0 starts the sequence from the seeded state."""
        d = self.pos % self.DAYS
        self.pos += 1
        out = os.path.join(self.root, "days")
        if d == 0:
            shutil.rmtree(out, ignore_errors=True)
            shutil.copytree(os.path.join(self.root, "state-seed"), os.path.join(out, "state-00"))
        state_in, state_out = (os.path.join(out, f"state-{i:02d}") for i in (d, d + 1))
        day_out = os.path.join(out, f"day-{d:02d}")
        paths, wall = self.timed(tracer, lambda: self.day(spark, d, state_in, state_out, day_out, tracer))
        errors = self.check_day(d, paths, state_out)
        if tracer:
            tracer.units[-1]["sources.state.state_rows"] = float(pq.ParquetDataset(state_out).read(columns=["_id"]).num_rows)
            tracer.units[-1]["sources.state.mb_written"] = dir_mb(state_out)
            tracer.units[-1]["sources.persist_results.mb_written"] = dir_mb(day_out)
        shutil.rmtree(state_in, ignore_errors=True)
        return [Unit("day", wall, errors, self.day_rows[d])]

    def span_table(self, tracer) -> tuple:
        return RECON_SPANS


DOC_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())])
INGEST = "extensions.dedup.ingest_novel_neardup"
SEMANTIC = "extensions.similarity.semantic_dedup"


def _ingest_verify_counts(tracer):
    """Candidate and verified pair counts of the verifications run inside
    the near-dup admission (counted once the unit's clock has stopped)."""

    def after(args, verified):
        if not tracer.active(INGEST):
            return []
        pairs = args[0]
        return [lambda: {f"{INGEST}.candidate_pairs": float(pairs.count()), f"{INGEST}.verified_pairs": float(verified.count())}]

    return after


def _block_pairs(args, blocked):
    """Pairs the semantic-dedup block self-join scores: n(n-1)/2 per block."""
    counts = blocked.groupBy("__blk").count()
    return [lambda: {f"{SEMANTIC}.candidate_pairs": float(counts.select(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0] or 0)}]


class CorpusIngest(Workload):
    """Arriving dumps drain through the streaming near-dup admission; the
    admitted corpus is then curated and semantically deduplicated."""

    name = "corpus_ingest"
    LATENCY_KIND = "curate"
    N_HIST, N_DUMPS, DUMP_SIZE = 800, 3, 200
    NLIST = 32

    def __init__(self, root: str, seed: int):
        super().__init__(root)
        self.data = gen.corpus_data(seed, self.N_HIST, self.N_DUMPS, self.DUMP_SIZE)
        self.paths = gen.write_corpus(self.data, root)
        self.sizes = {"history_docs": self.N_HIST, "dumps": self.N_DUMPS, "dump_docs": self.DUMP_SIZE, "nlist": self.NLIST}
        self.curated: dict[int, list] = {}  # curation stats after each dump
        self.replay: set[int] = set()

    def span_table(self, tracer) -> tuple:
        return (
            (dedup, "ingest_novel_neardup", INGEST, None),
            (dedup, "jaccard_verify", "extensions.dedup.jaccard_verify", _ingest_verify_counts(tracer)),
            (similarity, "kmeans_fit", "extensions.similarity.kmeans_fit", None),
            (similarity, "probe_assignments", "extensions.similarity.probe_assignments", _block_pairs),
        )

    def prepare(self, spark) -> None:
        """The state every drain starts from: the history's persisted
        digests and band keys."""
        hist = spark.read.parquet(self.paths["history"])
        self.seed_dir = os.path.join(self.root, "seed")
        hist.select(F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias("text_hash")).distinct().write.mode(
            "overwrite"
        ).parquet(f"{self.seed_dir}/digests")
        dedup.band_state(hist).write.mode("overwrite").parquet(f"{self.seed_dir}/bands")

    def ground_truth(self, spark) -> None:
        """The one-batch replay of the concatenated dumps."""
        admitted = dedup.ingest_novel_neardup(
            spark.read.parquet(self.paths["feed"]),
            spark.read.parquet(f"{self.seed_dir}/digests"),
            spark.read.parquet(f"{self.seed_dir}/bands"),
            spark.read.parquet(self.paths["history"]),
            mis_max_iter=8,
        )
        self.replay = {r[0] for r in admitted.select("doc_id").collect()}

    def check_admitted(self, admitted: list[int], arrived: int | None = None) -> list[str]:
        """The admitted set after ``arrived`` dumps (all when None)."""
        arrived = self.N_DUMPS if arrived is None else arrived
        dump, kind = self.data.dump, self.data.kind
        seen = (dump >= 0) & (dump < arrived)
        errors = []
        got = set(admitted)
        if len(got) != len(admitted):
            errors.append(f"{len(admitted) - len(got)} docs admitted more than once")
        if got - set(self.data.ids[seen].tolist()):
            errors.append(f"{len(got - set(self.data.ids[seen].tolist()))} admitted ids never arrived")
        if arrived == self.N_DUMPS and got != self.replay:
            errors.append(f"admitted set differs from the one-batch replay: {len(got - self.replay)} extra, {len(self.replay - got)} missing")
        redelivered = got & set(self.data.ids[seen & (kind == "redelivery")].tolist())
        if redelivered:
            errors.append(f"{len(redelivered)} exact redeliveries admitted, e.g. {sorted(redelivered)[:3]}")
        missing = set(self.data.ids[seen & np.isin(kind, ["novel", "paraphrase"])].tolist()) - got
        if missing:
            errors.append(f"{len(missing)} novel docs not admitted")
        return errors

    def check_semantic(self, corpus_ids: set[int], survivors: set[int]) -> list[str]:
        want = gen.expected_semantic_drops(self.data, corpus_ids)
        dropped = corpus_ids - survivors
        errors = []
        if dropped - want:
            errors.append(f"semantic dedup dropped {len(dropped - want)} docs with no near-copy")
        if len(want - dropped) > max(2, 0.02 * len(want)):
            errors.append(f"semantic dedup kept {len(want - dropped)} of {len(want)} near-copies")
        return errors

    def drain(self, spark, feed: str, root: str) -> None:
        """Drain the dumps in ``feed`` not yet seen by the checkpoint under ``root``."""
        stream = spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(feed)
        corpus_stream.incremental_neardup_ingest(
            stream,
            spark.read.parquet(f"{self.seed_dir}/digests"),
            spark.read.parquet(f"{self.seed_dir}/bands"),
            spark.read.parquet(self.paths["history"]),
            f"{root}/state",
            f"{root}/ckpt",
            mis_max_iter=8,
        )

    def curate(self, spark, admitted: str | None, tracer=None):
        """Curation and semantic dedup of the history plus the docs admitted
        under ``admitted`` (the history alone when None)."""
        docs = spark.read.parquet(self.paths["history"])
        if admitted:
            docs = docs.unionByName(spark.read.parquet(admitted))
        bench = spark.read.parquet(self.paths["history"]).where(F.col("doc_id") % 100 == 7)
        with span(tracer, "extensions.curation.curate_corpus_v2"):
            stats = curation.curate_corpus_v2(docs, bench, max_bucket_size=1000).collect()
        emb = spark.read.parquet(self.paths["embeddings"]).join(docs.select(F.col("doc_id").alias("vec_id")), "vec_id")
        with span(tracer, SEMANTIC):
            survivors = similarity.semantic_dedup_fitted(emb, threshold=0.9, nprobe=2, nlist=self.NLIST, n_iter=2).collect()
        return sorted((r["pred_lang"], r["n_docs"], r["total_ws_tokens"]) for r in stats), {r[0] for r in survivors}

    def step(self, spark, tracer=None) -> list[Unit]:
        """The next dump arrives and is drained by its own availableNow
        query on the sequence's checkpoint; then the corpus admitted so far
        is curated. Dump 0 starts the sequence afresh. A traced step is
        profiled as one unit, drain and curation summed, so the curation
        pass's Spark profile shows in every figure."""
        k = self.pos % self.N_DUMPS
        self.pos += 1
        root = os.path.join(self.root, "sequence")
        feed = os.path.join(root, "feed")
        if k == 0:
            shutil.rmtree(root, ignore_errors=True)
            os.makedirs(feed)
        name = f"dump-{k:02d}.parquet"
        shutil.copy(os.path.join(self.paths["feed"], name), feed)
        os.utime(os.path.join(feed, name), (1_700_000_000 + 10 * k,) * 2)
        _, wall = self.timed(tracer, lambda: self.drain(spark, feed, root))
        admitted = pq.read_table(f"{root}/state/admitted").column("doc_id").to_pylist()
        units = [Unit("drain", wall, self.check_admitted(admitted, k + 1), self.DUMP_SIZE)]
        (stats, survivors), wall = self.timed(tracer, lambda: self.curate(spark, f"{root}/state/docs", tracer))
        corpus_ids = set(self.data.ids[self.data.dump < 0].tolist()) | set(admitted)
        errors = self.check_semantic(corpus_ids, survivors)
        first = self.curated.setdefault(k, stats)
        if stats != first or not 0 < sum(s[1] for s in stats) <= len(corpus_ids):
            errors.append(f"curation stats {stats} after dump {k} inconsistent (first sequence: {first})")
        units.append(Unit("curate", wall, errors))
        if tracer:
            rec = tracer.merge_last(len(units))
            rec[f"{INGEST}.verified_ratio"] = rec.pop(f"{INGEST}.verified_pairs", 0.0) / max(rec.get(f"{INGEST}.candidate_pairs", 0.0), 1.0)
            rec[f"{SEMANTIC}.dropped_ratio"] = 1.0 - len(survivors) / len(corpus_ids)
        return units


WORKLOADS = {w.name: w for w in (ReconBatch, ReconDaily, CorpusIngest)}
