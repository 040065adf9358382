"""Traced mode: spans around the package's public functions, and the Spark
engine's own per-op figures.

:class:`Tracer` records spans ``[name, start, end, parent, op]`` in
memory.  Functions are wrapped at every module attribute that resolves to
them (a caller that did ``from x import f`` holds its own reference), and
``DataFrame.collect``/``DataFrameWriter.save``/``parquet`` are wrapped so
each Spark action nests under the layer that called it.  Only
driver-side functions are wrapped: code shipped to Python workers is
pickled by name and must stay the package's own.

:class:`SparkMeter` reads one op's jobs from the status store (by job
group), the JVM codegen histogram, and the Python-worker SQL metrics.
"""

from __future__ import annotations

import json
import re
import sys
import threading
import time
from contextlib import contextmanager

_now = time.perf_counter


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.ops: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._op: int | None = None
        self._restore: list[tuple[object, str, object]] = []
        self._thread = threading.get_ident()

    @contextmanager
    def span(self, name: str):
        if threading.get_ident() != self._thread:
            # a streaming query's foreachBatch runs on a callback thread:
            # its spans would interleave with the driver's op stack
            yield
            return
        t0 = _now()
        rec = [name, 0.0, 0.0, self._stack[-1] if self._stack else None, self._op]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec[1] = _now()
        in_op = self._op is not None
        if in_op:
            self.overhead_s += rec[1] - t0
        try:
            yield
        finally:
            t1 = _now()
            rec[2] = t1
            self._stack.pop()
            if in_op:
                self.overhead_s += _now() - t1

    @contextmanager
    def op(self, kind: str, rnd: int):
        """One timed op: the root span ``op.<kind>``; yields the op record."""
        rec = {"op": len(self.ops), "kind": kind, "round": rnd}
        self.ops.append(rec)
        self._op = rec["op"]
        try:
            with self.span("op." + kind):
                yield rec
        finally:
            self._op = None

    def _wrapper(self, orig, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        wrapper.__name__ = getattr(orig, "__name__", name)
        return wrapper

    def wrap_function(self, module: str, attr: str, name: str) -> None:
        """Wrap ``module.attr`` and every loaded package module attribute
        bound to the same function."""
        orig = getattr(sys.modules[module], attr)
        w = self._wrapper(orig, name)
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith("esgopeta_spark"):
                continue
            for a, v in list(vars(mod).items()):
                if v is orig:
                    self._restore.append((mod, a, v))
                    setattr(mod, a, w)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        self._restore.append((cls, attr, orig))
        setattr(cls, attr, self._wrapper(orig, name))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- analysis -------------------------------------------------------------

    def op_breakdown(self) -> list[dict]:
        """Per op: inclusive time per span name (outermost instances
        only), self time per span name, residual (the root's self time),
        and the reconciliation error |wall - Σself| against the wall the
        op's caller measured outside the root span."""
        children_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None:
                children_time[s[3]] += s[2] - s[1]
        per_op: dict[int, dict] = {}
        for i, (name, t0, t1, parent, op) in enumerate(self.spans):
            if op is None:
                continue
            d = per_op.setdefault(op, {"incl_ms": {}, "self_ms": {}, "calls": {}})
            dur = (t1 - t0) * 1e3
            self_ms = dur - children_time[i] * 1e3
            d["self_ms"][name] = d["self_ms"].get(name, 0.0) + self_ms
            d["calls"][name] = d["calls"].get(name, 0) + 1
            p, nested = parent, False
            while p is not None:
                if self.spans[p][0] == name:
                    nested = True
                    break
                p = self.spans[p][3]
            if not nested:
                d["incl_ms"][name] = d["incl_ms"].get(name, 0.0) + dur
            if parent is None:
                d["residual_ms"] = self_ms
        out = []
        for rec in self.ops:
            d = per_op.get(rec["op"], {"incl_ms": {}, "self_ms": {}, "calls": {}, "residual_ms": 0.0})
            d.update(rec)
            # wall_ms is the op's own clock, read outside the root span
            d["reconcile_err_ms"] = abs(d.get("wall_ms", 0.0) - sum(d["self_ms"].values()))
            out.append(d)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.op_breakdown()}, f)


# ---------------------------------------------------------------------------
# Spark engine figures
# ---------------------------------------------------------------------------

_PY_INIT = ("time to start Python workers", "time to initialize Python workers")
_PY_EXEC = ("time to run Python workers",)
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_TIMING_RE = re.compile(r"([\d.,]+)\s*(ms|s|min|m|h)\b")


def _timing_s(text: str) -> float:
    """Total of a formatted SQL timing metric ('20 ms', or 'total (min,
    med, max ...)\\n3.6 s (...)')."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TIMING_RE.search(line)
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "codegen_compiles", "codegen_compile_s",
    "python_init_s", "python_exec_s",
)


class SparkMeter:
    """Per-op engine figures, keyed by the op's job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._stages = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = self.sc._jvm
        self._codegen = self._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.mark()

    def _codegen_now(self) -> tuple[int, float]:
        # one py4j call for the whole sample array (a JavaArray iterates per element)
        vals = self._jvm.java.util.Arrays.toString(self._codegen.getSnapshot().getValues())
        return int(self._codegen.getCount()), float(sum(int(v) for v in vals.strip("[]").split(",") if v.strip()))

    def mark(self) -> None:
        """Start a measurement window (job, codegen and SQL-execution baselines)."""
        self._bus.waitUntilEmpty()  # earlier executions must be counted first
        self._job0 = int(self._dag.numTotalJobs())
        self._cg = self._codegen_now()
        self._exec_seen = int(self._sql.executionsCount())

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)
        self.mark()

    def end(self, group: str | None) -> dict:
        """Figures of the jobs of ``group`` since :meth:`begin`; with
        ``group=None`` of every job since :meth:`mark` (a background
        query's window)."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        tracker = self.sc.statusTracker()
        if group is None:
            jobs = range(self._job0, int(self._dag.numTotalJobs()))
        else:
            jobs = tracker.getJobIdsForGroup(group)
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                self._add_stage(out, sid)
        n, total = self._codegen_now()
        out["codegen_compiles"] = n - self._cg[0]
        # the histogram keeps every sample until 1028 compiles; past that
        # its snapshot is a sample and the delta an estimate
        out["codegen_compile_s"] = max(total - self._cg[1], 0.0) / 1e3
        self._add_python(out)
        self.sc.setJobGroup("gunbench-idle", "idle", False)
        return out

    def _add_stage(self, out: dict, sid: int) -> None:
        try:
            s = self._stages.lastStageAttempt(sid)
        except Exception:  # evicted from the store
            return
        if s.status().toString() != "COMPLETE":
            return
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks()
        out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        out["gc_s"] += s.jvmGcTime() / 1e3
        out["shuffle_read_bytes"] += s.shuffleReadBytes()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()

    def _add_python(self, out: dict) -> None:
        count = int(self._sql.executionsCount())
        if count <= self._exec_seen:
            return
        conv = self._jvm.scala.collection.JavaConverters
        execs = self._sql.executionsList(self._exec_seen, count - self._exec_seen)
        self._exec_seen = count
        it = execs.iterator()
        while it.hasNext():
            e = it.next()
            names = {}
            mi = e.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                if m.name() in _PY_INIT or m.name() in _PY_EXEC:
                    names[m.accumulatorId()] = m.name()
            if not names:
                continue
            values = conv.mapAsJavaMap(self._sql.executionMetrics(e.executionId()))
            for acc, name in names.items():
                v = values.get(acc)
                if v is not None:
                    key = "python_init_s" if name in _PY_INIT else "python_exec_s"
                    out[key] += _timing_s(v)
