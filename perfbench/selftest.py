"""Self-tests of the benchmark itself (not of the engine):

1. the same seed yields byte-identical generated files;
2. another seed yields different files whose units still pass every check;
3. deliberately corrupted outputs fail their checks (a persisted bucket row
   dropped, a REMANENT row lost from the state, a doc admitted twice, an exact
   redelivery admitted).

    python3 perfbench/selftest.py

Exits 0 when every test passes. Uses the workloads' own input sizes and one
Spark session.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import filecmp  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

import run  # noqa: E402


def files(root: str) -> list[str]:
    out = []
    for dirpath, _, names in os.walk(root):
        out += [os.path.relpath(os.path.join(dirpath, n), root) for n in names]
    return sorted(out)


def same_tree(a: str, b: str) -> bool:
    fa = files(a)
    return fa == files(b) and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in fa)


def drop_one_row(bucket_dir: str) -> None:
    """Rewrite the bucket's first non-empty part file without its first row."""
    for name in sorted(os.listdir(bucket_dir)):
        path = os.path.join(bucket_dir, name)
        if name.endswith(".parquet") and pq.read_metadata(path).num_rows:
            t = pq.read_table(path)
            pq.write_table(t.slice(1), path)
            return
    raise AssertionError(f"no rows to drop under {bucket_dir}")


def flip_one_remanent(state_dir: str) -> None:
    """Mark the first REMANENT row of the state CONCILIATED."""
    import pyarrow as pa

    for name in sorted(os.listdir(state_dir)):
        path = os.path.join(state_dir, name)
        if not name.endswith(".parquet"):
            continue
        t = pq.read_table(path)
        status = t.column("conciliation_status").to_pylist()
        if "REMANENT" in status:
            status[status.index("REMANENT")] = "CONCILIATED"
            i = t.schema.get_field_index("conciliation_status")
            pq.write_table(t.set_column(i, "conciliation_status", pa.array(status, pa.string())), path)
            return
    raise AssertionError(f"no REMANENT row under {state_dir}")


def main() -> int:
    tmp = run.ROOT / ".perfbench_run"
    run.isolate(tmp)
    from workloads import CorpusIngest, ReconDaily

    failures = []

    def expect(cond: bool, what: str) -> None:
        print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
        if not cond:
            failures.append(what)

    data = str(tmp / "data")
    a = [ReconDaily(f"{data}/d5a", 5), CorpusIngest(f"{data}/c5a", 5)]
    b = [ReconDaily(f"{data}/d5b", 5), CorpusIngest(f"{data}/c5b", 5)]
    c = [ReconDaily(f"{data}/d6", 6), CorpusIngest(f"{data}/c6", 6)]
    for x, y, z in zip(a, b, c):
        expect(same_tree(x.root, y.root), f"{x.name}: seed 5 twice gives identical files")
        expect(not same_tree(x.root, z.root), f"{x.name}: seeds 5 and 6 give different files")

    spark = run.make_session(tmp, len(os.sched_getaffinity(0)))
    try:
        daily, corpus = c
        daily.prepare(spark)
        units = [u for _ in range(daily.DAYS) for u in daily.step(spark)]
        expect(bool(units) and all(u.ok for u in units), f"recon_daily seed 6 passes: {[u.errors for u in units]}")
        corpus.prepare(spark)
        corpus.ground_truth(spark)
        units = [u for _ in range(corpus.N_DUMPS) for u in corpus.step(spark)]
        expect(bool(units) and all(u.ok for u in units), f"corpus_ingest seed 6 passes: {[u.errors for u in units]}")

        # corrupted recon outputs: re-run day 0 and damage what it persisted
        day0 = os.path.join(daily.root, "corrupt")
        daily.seed_state(spark, f"{day0}/state-00")
        paths = daily.day(spark, 0, f"{day0}/state-00", f"{day0}/state-01", f"{day0}/out")
        expect(not daily.check_day(0, paths, f"{day0}/state-01"), "intact day-0 outputs pass")
        drop_one_row(paths["a_to_b_nmt"])
        expect(bool(daily.check_day(0, paths, f"{day0}/state-01")), "a dropped bucket row fails the check")
        daily.seed_state(spark, f"{day0}/state-10")
        paths = daily.day(spark, 0, f"{day0}/state-10", f"{day0}/state-11", f"{day0}/out2")
        flip_one_remanent(f"{day0}/state-11")
        expect(bool(daily.check_day(0, paths, f"{day0}/state-11")), "a REMANENT row lost from the state fails the check")

        admitted = pq.read_table(f"{corpus.root}/sequence/state/admitted").column("doc_id").to_pylist()
        expect(not corpus.check_admitted(admitted), "intact admitted set passes")
        expect(bool(corpus.check_admitted(admitted + admitted[:1])), "a doc admitted twice fails the check")
        redelivery = next(int(i) for i, k in zip(corpus.data.ids, corpus.data.kind) if k == "redelivery")
        expect(bool(corpus.check_admitted(admitted + [redelivery])), "an admitted exact redelivery fails the check")
    finally:
        run.stop_jvm(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(failures)} failed", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
