"""Per-layer tracing for the traced benchmark run.

Three sources, all read from the benchmark's side of the program:

* spans: the benchmark wraps a layer's public function (``Tracer.wrap``)
  and records wall time plus the Spark jobs launched inside the call;
* Spark's status store, read per unit after the listener bus is drained;
* a ``QueryExecutionListener`` (Catalyst phase times and executed-plan node
  counts) and a ``StreamingQueryListener`` (per-trigger durations).

Nothing here runs in the untraced run that gives the end-to-end metrics.
"""

from __future__ import annotations

import functools
import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0
_PEAK = {"spark.task_skew", "spark.cached_mb"}  # merged by max, the rest by sum
_PY_EVAL = {
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
}
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def plan_nodes(plan: str) -> dict[str, int]:
    """Node counts of an executed plan's tree string."""
    counts = defaultdict(int)
    for line in plan.splitlines():
        m = _NODE.match(line)
        if m:
            counts[m.group(1)] += 1
    return {
        "plan.exchanges": counts["Exchange"],
        "plan.smj": counts["SortMergeJoin"],
        "plan.bhj": counts["BroadcastHashJoin"],
        "plan.windows": counts["Window"],
        "plan.python_eval_nodes": sum(counts[n] for n in _PY_EVAL),
    }


class _QueryListener:
    """py4j implementation of ``org.apache.spark.sql.util.QueryExecutionListener``;
    called on the listener bus after each action."""

    def __init__(self, sink: list):
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
        rec = plan_nodes(qe.executedPlan().toString())
        rec["plan.catalyst_s"] = sum(phases.get(p, 0) for p in ("analysis", "optimization", "planning")) / 1000.0
        self.sink.append(rec)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        d = event.progress.durationMs
        if event.progress.numInputRows:
            self.sink.append(
                {
                    "streaming.corpus.trigger_s": d.get("triggerExecution", 0) / 1000.0,
                    "streaming.corpus.planning_ms": float(d.get("queryPlanning", 0)),
                    "streaming.corpus.add_batch_ms": float(d.get("addBatch", 0)),
                }
            )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class SparkStatus:
    """Reads of Spark's status store. Every read first drains the listener
    bus, and a unit's job range must be complete in the store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        jvm = spark._jvm
        self.json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.json.registerModule(getattr(scala_module, "MODULE$"))
        self.gateway = spark.sparkContext._gateway
        self.jvm = jvm

    def drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        return int(self.sc.dagScheduler().nextJobId())

    def _read(self, obj):
        return json.loads(self.json.writeValueAsString(obj))

    def jobs(self, lo: int, hi: int) -> list[dict]:
        """Jobs ``lo <= id < hi``; raises if one is missing (a too-small
        ``spark.ui.retainedJobs`` would otherwise under-count silently)."""
        self.drain()
        out = []
        for job_id in range(lo, hi):
            try:
                out.append(self._read(self.store.job(job_id)))
            except Exception as e:  # py4j wraps the JVM's NoSuchElementException
                raise RuntimeError(f"job {job_id} missing from the status store") from e
        return out

    def stage_attempts(self, stage_id: int) -> list[dict]:
        empty = self.jvm.java.util.ArrayList()
        quantiles = self.gateway.new_array(self.jvm.double, 0)
        try:
            seq = self.store.stageData(stage_id, False, empty, False, quantiles)
        except Exception as e:
            raise RuntimeError(f"stage {stage_id} missing from the status store") from e
        return self._read(seq)

    def task_skew(self, stage_id: int, attempt: int) -> float:
        q = self.gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self._read(self.store.taskSummary(stage_id, attempt, q))
        if not dist:
            return 1.0
        med, mx = dist["executorRunTime"]
        return mx / med if med > 0 else 1.0

    def cached_mb(self) -> float:
        self.drain()
        return sum(r["memoryUsed"] + r["diskUsed"] for r in self._read(self.store.rddList(True))) / MB

    def unit_profile(self, lo: int, hi: int, wall_s: float) -> dict[str, float]:
        jobs = self.jobs(lo, hi)
        intervals = sorted(
            (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
            for j in jobs
            if j.get("submissionTime") and j.get("completionTime")
        )
        busy, end = 0.0, float("-inf")
        for s, e in intervals:
            if e > end:
                busy += e - max(s, end)
                end = e
        stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            stages += [a for a in self.stage_attempts(sid) if a["status"] in ("COMPLETE", "FAILED")]
        longest = max(stages, key=lambda a: a["executorRunTime"], default=None)
        return {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(a["numCompleteTasks"] + a["numFailedTasks"] for a in stages)),
            "spark.job_busy_s": busy,
            "spark.driver_gap_s": max(wall_s - busy, 0.0),
            "spark.executor_cpu_s": sum(a["executorCpuTime"] for a in stages) / 1e9,
            "spark.shuffle_write_mb": sum(a["shuffleWriteBytes"] for a in stages) / MB,
            "spark.shuffle_read_mb": sum(a["shuffleReadBytes"] for a in stages) / MB,
            "spark.spill_mb": sum(a["diskBytesSpilled"] for a in stages) / MB,
            "spark.gc_s": sum(a["jvmGcTime"] for a in stages) / 1000.0,
            "spark.task_skew": self.task_skew(longest["stageId"], longest["attemptId"]) if longest else 1.0,
            "spark.cached_mb": self.cached_mb(),
        }


class Tracer:
    """Spans and per-unit layer profiles. ``install`` wraps the layer
    functions and registers the listeners; ``uninstall`` undoes both, so a
    run can alternate traced and untraced steps."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.status = SparkStatus(spark)
        self.spark = spark
        self.queries: list[dict] = []
        self.triggers: list[dict] = []
        self._qel = _QueryListener(self.queries)
        self._stream = _StreamListener(self.triggers)
        self._patches: list[tuple[object, str, object]] = []
        self._spans: dict[str, float] = defaultdict(float)
        self._child: list[float] = [0.0]
        self._active: list[str] = []
        self._deferred: list = []
        self.units: list[dict[str, float]] = []

    def install(self, span_table) -> None:
        for module, attr, name, after in span_table:
            self.wrap(module, attr, name, after)
        self.spark._jsparkSession.listenerManager().register(self._qel)
        self.spark.streams.addListener(self._stream)

    def uninstall(self) -> None:
        for module, attr, original in reversed(self._patches):
            setattr(module, attr, original)
        self._patches.clear()
        self.status.drain()
        self.spark._jsparkSession.listenerManager().unregister(self._qel)
        self.spark.streams.removeListener(self._stream)

    @contextmanager
    def span(self, name: str):
        """Wall time and jobs launched; ``<name>.self_s`` excludes child spans."""
        lo = self.status.next_job_id()
        self._child.append(0.0)
        self._active.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._active.pop()
            children = self._child.pop()
            self._child[-1] += dt
            self._spans[f"{name}.s"] += dt
            self._spans[f"{name}.self_s"] += dt - children
            self._spans[f"{name}.jobs"] += self.status.next_job_id() - lo

    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` by a spanned call. ``after(args, result)``
        may return callables run once the unit's clock has stopped (counts
        that need their own Spark jobs)."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(name):
                result = original(*args, **kwargs)
            if after is not None:
                self._deferred.extend(after(args, result))
            return result

        setattr(module, attr, spanned)
        self._patches.append((module, attr, original))

    def active(self, name: str) -> bool:
        return name in self._active

    def begin_unit(self) -> int:
        self.status.drain()
        self._spans.clear()
        self.queries.clear()
        self.triggers.clear()
        self._deferred.clear()
        return self.status.next_job_id()

    def end_unit(self, lo: int, wall_s: float) -> dict[str, float]:
        hi = self.status.next_job_id()
        rec = self.status.unit_profile(lo, hi, wall_s)
        for q in self.queries:
            for k, v in q.items():
                rec[k] = rec.get(k, 0.0) + v
        for t in self.triggers:
            for k, v in t.items():
                rec[k] = rec.get(k, 0.0) + v
        for fn in self._deferred:
            for k, v in fn().items():
                rec[k] = rec.get(k, 0.0) + v
        rec.update(self._spans)
        rec["wall_s"] = wall_s
        self.units.append(rec)
        return rec

    def merge_last(self, n: int) -> dict[str, float]:
        """Fold the last ``n`` unit records into one: sums, except the peak
        of ``spark.task_skew`` and ``spark.cached_mb``."""
        recs, self.units[-n:] = self.units[-n:], []
        out: dict[str, float] = {}
        for rec in recs:
            for k, v in rec.items():
                out[k] = max(out.get(k, v), v) if k in _PEAK else out.get(k, 0.0) + v
        self.units.append(out)
        return out
