"""Seeded end-to-end benchmark of the reconciliation and corpus-ingest engine.

    python3 perfbench/run.py --workload recon_batch --seed 1 --seconds 20 --trace 0

Run from the repository root (any working directory works). The run
generates its inputs from ``--seed`` under ``.perfbench_run/``, builds a
``local[N]`` session (N = the process's CPU affinity) and the state the
workload starts from, then runs the workload's units in a closed loop, one
client, until ``--seconds`` have passed, checking every unit's outputs
against the generator's ground truth. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``). Details go to
stderr. See perfbench/README.md for every metric's definition.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # a run must leave the source tree unchanged

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "mongo_polars_reconciliation_spark"


def metric_units(section: str) -> dict[str, str]:
    """Metric names and units of one section of BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(root: Path, skip: Path) -> str:
    """Hash of every file's path and bytes under ``root`` except ``skip``."""
    h = hashlib.blake2b(digest_size=20)
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if Path(dirpath, d) != skip)
        for name in sorted(filenames):
            p = Path(dirpath, name)
            h.update(str(p.relative_to(root)).encode())
            if p.is_file() and not p.is_symlink():
                h.update(p.read_bytes())
    return h.hexdigest()


class MemSampler(threading.Thread):
    """Peak resident memory of this process's descendants: the Spark JVM's
    own peak (``VmHWM``, kept by the kernel) plus the peak summed
    proportional set size (PSS) of the Python workers, which splits pages
    shared between forked workers so each counts once. Worker PSS is
    sampled from /proc once a second; the JVM's PSS is not sampled, because
    reading a large process's ``smaps_rollup`` walks its whole address
    space and stalls it."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._done = threading.Event()

    @staticmethod
    def descendants() -> set[int]:
        parent = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        tree, frontier = set(), {os.getpid()}
        while frontier:
            frontier = {p for p, pp in parent.items() if pp in frontier} - tree
            tree |= frontier
        return tree

    @staticmethod
    def field_kb(path: str, key: str) -> int:
        try:
            with open(path) as f:
                return next((int(line.split()[1]) for line in f if line.startswith(key)), 0)
        except OSError:
            return 0

    def sample(self) -> int:
        return sum(self.field_kb(f"/proc/{pid}/smaps_rollup", "Pss:") for pid in self.descendants() - {self.jvm_pid})

    def run(self) -> None:
        while not self._done.wait(1.0):
            self.peak_kb = max(self.peak_kb, self.sample())

    def stop(self) -> float:
        """Peak MB; call while the JVM is still running."""
        self._done.set()
        self.join()
        return (self.field_kb(f"/proc/{self.jvm_pid}/status", "VmHWM:") + self.peak_kb) / 1024.0


def isolate(tmp: Path) -> str:
    """Point every scratch, spill, warehouse and temp path of the run at
    ``tmp`` (wiped first) and return the digest of the tree outside it."""
    shutil.rmtree(tmp, ignore_errors=True)
    for sub in ("tmp", "local", "jtmp", "warehouse"):
        (tmp / sub).mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(tmp / "tmp"),
        SPARK_LOCAL_DIRS=str(tmp / "local"),
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return tree_digest(ROOT, tmp)


def make_session(tmp: Path, cpus: int):
    from mongo_polars_reconciliation_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp / 'jtmp'} -XX:-UsePerfData",
            "spark.local.dir": str(tmp / "local"),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # Python workers import the package from any working directory
            "spark.executorEnv.PYTHONPATH": str(ROOT),
            # every unit's jobs, stages and tasks stay readable
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session and wait until the JVM (and with it every Python
    worker) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_summary(names, units: list[dict], steps: list[tuple[bool, list]]) -> dict[str, float]:
    """Median over traced units of each per-layer metric (0 where the
    workload never reaches the layer). ``steps`` holds each timed step's
    (traced, units); the tracing overhead compares every traced step with
    the untraced step after it, both run after the warm-up."""
    out = {}
    for name in names:
        vals = [u[name] for u in units if name in u]
        out[name] = statistics.median(vals) if vals else 0.0
    shares = [u["spark.job_busy_s"] / u["wall_s"] for u in units if u["wall_s"] > 0]
    out["spark.job_busy_share"] = statistics.median(shares) if shares else 0.0
    walls = [(on, sum(u.wall_s for u in got)) for on, got in steps]
    ratios = [t / p - 1.0 for (on, t), (_, p) in zip(walls, walls[1:]) if on and p > 0]
    if ratios:
        out["trace.overhead_ratio"] = statistics.median(ratios)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        log(f"{ROOT / PACKAGE} not found: run from a checkout of the repository")
        return 2

    tmp = ROOT / ".perfbench_run"
    before = isolate(tmp)
    from workloads import WORKLOADS, Unit

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        shutil.rmtree(tmp, ignore_errors=True)
        return 2
    cpus = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](str(tmp / "data"), args.seed)
    gen_s = time.perf_counter() - t0

    # set-up: the cold session build (it launches the JVM) and its first
    # query, then the state the workload's units start from
    t0 = time.perf_counter()
    spark = make_session(tmp, cpus)
    spark.range(100_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare(spark)
    prep_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.ground_truth(spark)
    truth_s = time.perf_counter() - t0

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)

    def step(traced: bool) -> list[Unit]:
        if traced:
            tracer.install(wl.span_table(tracer))
        try:
            return wl.step(spark, tracer if traced else None)
        except Exception:
            log(traceback.format_exc())
            wl.pos = 0  # the sequence starts again
            return [Unit("step", 0.0, ["raised, see the traceback above"])]
        finally:
            if traced:
                tracer.uninstall()

    mem = MemSampler(spark.sparkContext._gateway.proc.pid)
    mem.start()
    # the first step warms the JVM, untraced and left out of the metrics;
    # then the sequence goes on, steps running back to back until --seconds
    # have passed. The traced run alternates traced and untraced steps,
    # starting traced and ending untraced, so every traced step is compared
    # with the one after it.
    t0 = time.perf_counter()
    warm = step(False)
    warm_s = time.perf_counter() - t0
    units, steps = [], []
    start = time.perf_counter()
    while True:
        on = tracer is not None and len(steps) % 2 == 0
        got = step(on)
        units += got
        steps.append((on, got))
        if time.perf_counter() - start >= args.seconds and (tracer is None or not on):
            break
    peak_mb = mem.stop()
    spark_version = spark.version
    t0 = time.perf_counter()
    stop_jvm(spark)
    stop_s = time.perf_counter() - t0

    failed = [u for u in warm + units if not u.ok]
    for u in failed:
        log(f"FAILED {u.kind}: {'; '.join(u.errors)}")
    shutil.rmtree(tmp, ignore_errors=True)
    unchanged = tree_digest(ROOT, tmp) == before
    if not unchanged:
        log("the run changed files in the repository tree")
    ok_steps = [got for _, got in steps if all(u.ok for u in got)]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "spark": spark_version,
        "sizes": wl.sizes,
        "gen_s": gen_s,
        "build_s": build_s,
        "prep_s": prep_s,
        "truth_s": truth_s,
        "warm_s": warm_s,
        "stop_s": stop_s,
        "warmup_units": [(u.kind, round(u.wall_s, 4)) for u in warm],
        "units": [(u.kind, round(u.wall_s, 4)) for u in units],
    }
    if tracer is not None:
        names = metric_units("per_layer")
        metrics = layer_summary(names, tracer.units, steps)
    else:
        names = metric_units("end_to_end")
        metrics = {"setup_s": build_s + prep_s, "peak_rss_mb": peak_mb}
        if ok_steps:
            metrics.update(wl.metrics(ok_steps))
    log(json.dumps(detail))
    result = {
        "correct": not failed and unchanged and len(ok_steps) > 0,
        "attempted": len(warm) + len(units),
        "failed": len(failed),
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in names.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
